"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The pure tests need no JVM. The Spark tests start one local session at
sf0.01 (the benchmark's data) and run every workload's list once.
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import run  # noqa: E402
from stats import digest, guarded_percentile, normalize, percentile  # noqa: E402
from tracing import Span, Tracer, self_times  # noqa: E402

SPEC = json.loads((HERE / "spec.json").read_text())


# -- percentile guard ------------------------------------------------------


def test_percentile_interpolates_like_statistics_inclusive():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 7.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert percentile(xs, 25) == pytest.approx(q1)
    assert percentile(xs, 50) == pytest.approx(q2)
    assert percentile(xs, 75) == pytest.approx(q3)


@pytest.mark.parametrize(
    "p, enough",
    [(90, 100), (50, 20), (80, 50), (99, 1000)],
)
def test_percentile_needs_ten_samples_beyond_it(p, enough):
    assert guarded_percentile(list(range(enough - 1)), p) is None
    assert guarded_percentile(list(range(enough)), p) == percentile(list(range(enough)), p)


# -- spans and self time ---------------------------------------------------


def _span(name, start, end, parent=None):
    return Span(name, start, end, parent, "q")


def test_self_time_subtracts_the_union_of_direct_children():
    spans = [
        _span("root", 0, 100),
        _span("a", 10, 30, 0),
        _span("b", 20, 50, 0),  # overlaps a: covered part is 10..50
        _span("c", 60, 70, 0),
        _span("a.inner", 12, 28, 1),  # a grandchild never counts against root
        _span("late", 95, 120, 0),  # clipped to the parent's interval
    ]
    assert self_times(spans) == [100 - 40 - 10 - 5, 20 - 16, 30, 10, 16, 25]


def test_tracer_records_parents_and_layer_totals():
    t = Tracer()
    t.qid = "q1"

    def leaf():
        return 1

    def mid():
        return t.span("leaf", leaf) + t.span("leaf", leaf)

    mark = t.mark()
    assert t.span("mid", mid) == 2
    mid_span, leaf1, leaf2 = t.spans
    assert (mid_span.parent, leaf1.parent, leaf2.parent) == (None, 0, 0)
    assert {s.qid for s in t.spans} == {"q1"}
    out = t.summarize(mark)
    assert out["leaf.calls"] == 2 and out["mid.calls"] == 1
    assert out["mid.total_ms"] == pytest.approx(out["mid.self_ms"] + out["leaf.total_ms"])
    # a later summary covers only what came after its own mark
    mark = t.mark()
    t.span("leaf", leaf)
    assert t.summarize(mark)["leaf.calls"] == 1


# -- output check rule ------------------------------------------------------


def _conftest():
    spec = importlib.util.spec_from_file_location("repo_conftest", ROOT / "tests" / "conftest.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_normalize_is_the_oracle_rule_of_the_test_suite():
    import datetime
    import decimal

    cols = ["B", "a", "c"]
    rows = [
        (2.00000049, "x", [1.0, None]),
        (None, "y", datetime.datetime(2020, 1, 2, 3, 4, 5, tzinfo=datetime.timezone.utc)),
        (decimal.Decimal("1.2345678"), "z", datetime.date(2021, 5, 6)),
        (float("nan"), "w", None),
    ]
    ref_cols, ref_rows = _conftest().normalize_rows([c.lower() for c in cols], rows)
    assert normalize(cols, rows) == (ref_cols, ref_rows)


def test_digest_ignores_row_and_column_order_and_int_float_spelling():
    a = normalize(["k", "v"], [(1, 2.0), (3, 4.0)])
    b = normalize(["v", "k"], [(4, 3), (2.0000001, 1)])
    assert a == b and digest(a) == digest(b)
    assert digest(a) != digest(normalize(["k", "v"], [(1, 2.0)]))


# -- BENCHMARK.json agrees with the program --------------------------------


def test_benchmark_json_names_what_run_py_prints():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in bench["workloads"]] == list(SPEC["workloads"])
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        name: unit for name, (unit, _key) in run.LAYER_METRICS.items()
    }
    spec_layer_metrics = {m for layer in SPEC["layers"].values() for m in layer["metrics"]}
    assert spec_layer_metrics == set(run.LAYER_METRICS)
    assert [m["name"] for m in bench["end_to_end"]] == ["round_s", "query_p50_ms", "setup_s"]


# -- Spark: wrappers, job groups ------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = tmp_path_factory.mktemp("perfbench")
    cwd = os.getcwd()
    os.environ.update(
        TMPDIR=str(work),
        SPARK_GRAFT_CPUS=str(min(len(os.sched_getaffinity(0)), 2)),
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    import tempfile

    tempfile.tempdir = None
    os.chdir(work)
    session = run.start_session()
    yield session
    run.stop(session)
    os.chdir(cwd)


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _run_traced(spark, names):
    """Run each op once with every wrapper installed; returns the tracer
    and the per-query Spark attribution."""
    from tracing import SparkProbe

    ops = run.load_ops(names)
    tracer, probe = Tracer(), SparkProbe(spark)
    per_query = {}
    tracer.install()
    try:
        for name in names:
            qid = f"t-{name}"
            tracer.qid = qid
            first_job = _next_job_id(spark)
            probe.begin(qid)
            df = tracer.span("queries", ops[name][0], spark, str(run.DATA))
            tracer.span("spark_exec", df.write.format("noop").mode("overwrite").save)
            q = probe.end(qid, df, 1.0)
            q["started_jobs"] = list(range(first_job, _next_job_id(spark)))
            q["group_jobs"] = probe.job_ids(qid)
            per_query[name] = q
    finally:
        tracer.uninstall()
        probe.close()
    return tracer, per_query


@pytest.fixture(scope="module")
def traced(spark):
    from calcite_spark.queries.inventory import catalog_for

    catalog_for(spark, str(run.DATA))
    return {wl: _run_traced(spark, w["queries"]) for wl, w in SPEC["workloads"].items()}


def test_job_group_holds_exactly_the_jobs_started_during_the_query(traced):
    for wl, (_tracer, per_query) in traced.items():
        for name, q in per_query.items():
            assert q["started_jobs"], (wl, name)
            assert q["group_jobs"] == q["started_jobs"], (wl, name)
            assert q["spark_exec.jobs"] == len(q["started_jobs"])


def _fired_layers(tracer, per_query) -> set:
    fired = {s.name for s in tracer.spans}
    if all(q.get("catalyst.optimization_ms", 0) > 0 for q in per_query.values()):
        fired.add("catalyst")
    if all(q.get("spark_exec.tasks", 0) > 0 for q in per_query.values()):
        fired.add("spark_exec")
    return fired


def test_every_layer_fires_on_the_workloads_it_is_assigned_to(traced):
    layer_of_span = {"catalog.open": "catalog", "catalog.table": "catalog"}
    for layer, row in SPEC["layers"].items():
        if layer == "host":
            continue
        for wl in traced:
            if wl not in row["mostly_on"]:
                continue
            tracer, per_query = traced[wl]
            fired = {layer_of_span.get(n, n) for n in _fired_layers(tracer, per_query)}
            assert layer in fired, (layer, wl, sorted(fired))
    # mv_dml reaches DDL, MERGE / UPDATE / DELETE, the join-MV refresh and
    # the lattice suggester
    mv_tracer, _ = traced["mv_dml"]
    assert {"sql.ddl", "sources.modify", "sql.frontend", "catalog.open"} <= {s.name for s in mv_tracer.spans}
    hits = {site.rsplit(".", 1)[-1] for site in mv_tracer.hits}
    assert {"merge_into", "update_set", "delete_where", "incremental_refresh", "suggest", "auto_build"} <= hits


def test_wrappers_are_patched_where_callers_look_them_up_and_restored():
    from calcite_spark import catalog
    from calcite_spark.plans import rewrite
    from calcite_spark.queries import inventory
    from calcite_spark.sources import modify

    before = (inventory.open_catalog, catalog.Catalog.table, modify.merge_into, rewrite.DEFAULT_RULES[0].transform)
    t = Tracer()
    t.install()
    try:
        assert inventory.open_catalog is catalog.open_catalog
        assert inventory.open_catalog.__perfbench_original__ is before[0]
        assert modify.merge_into.__perfbench_original__ is before[2]
        assert rewrite.DEFAULT_RULES[0].transform.__perfbench_original__ is before[3]
    finally:
        t.uninstall()
    after = (inventory.open_catalog, catalog.Catalog.table, modify.merge_into, rewrite.DEFAULT_RULES[0].transform)
    assert all(a is b for a, b in zip(after, before))
