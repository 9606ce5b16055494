"""Closed-loop benchmark of spark-graft: one client, one query in flight.

    python3 perfbench/run.py --workload mv_dml --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. Workloads, their query lists and the
layer map are in perfbench/spec.json. Each round builds and fully
executes every query of the workload's list, in an order permuted by
``--seed``, into Spark's noop sink.

Before the timed rounds the run sets up ``SETUPS`` times, as a new
client would: a fresh SparkSession on the running JVM, a catalog opened
on it, and one pass that collects every result. ``setup_s`` is the
median of these set-ups. Every collected result is compared with the
registry's DuckDB oracle by the rule of tests/conftest.py, outside the
timed rounds. ``WARMUP_PASSES`` untimed passes follow the set-ups.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced rounds in one JVM and prints the per-layer metrics,
the tracing overhead and a per-query reconciliation of build + execute
against the untraced latency. The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. The traced
run also writes its spans to ``.perfbench_traces/``.

Each run gets its own TMPDIR, SPARK_LOCAL_DIRS and working directory
under ``.perfbench_run/`` in the checkout; all are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import Counter, defaultdict
from pathlib import Path

T_START = time.perf_counter()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data" / "sf0.01"
RUNS = ROOT / ".perfbench_run"
TRACES = ROOT / ".perfbench_traces"

sys.path[:0] = [str(HERE), str(ROOT)]

from stats import digest, guarded_percentile, normalize  # noqa: E402

# local[min(cores, 4)] and a 2 GB heap: enough for sf0.01, and small on
# a host shared with other work
MAX_CPUS = 4
DRIVER_MEM = "2g"
# Set-ups per run; the first runs on a cold JVM, so the median is that
# of a set-up on a running one.
SETUPS = 3
# The JVM keeps compiling for several passes: after the three set-up
# passes alone, mv_dml's rounds still sped up by 10-15% within a run
# (llm_fold's by 20-30% after two passes); after five passes in all, the
# rounds of both were flat.
WARMUP_PASSES = 2

# per-layer metric -> (unit, key in one round's totals; None = derived)
LAYER_METRICS = {
    "queries.build_ms": ("ms", "queries.total_ms"),
    "plans.rewrite.self_ms": ("ms", "plans.rewrite.self_ms"),
    "plans.rewrite.rule_calls": ("count", "plans.rewrite.rule_calls"),
    "plans.rewrite.rule_fires": ("count", "plans.rewrite.rule_fires"),
    "plans.rewrite.fire_ratio": ("ratio", None),
    "plans.rewrite.mv_substitutions": ("count", "plans.rewrite.mv_substitutions"),
    "plans.rewrite.lowerings": ("count", "plans.rewrite.lowerings"),
    "plans.ir.lower_ms": ("ms", "plans.ir.self_ms"),
    "plans.ir.lower_calls": ("count", "plans.ir.calls"),
    "plans.materialize.self_ms": ("ms", "plans.materialize.self_ms"),
    "plans.materialize.calls": ("count", "plans.materialize.calls"),
    "catalog.open_ms": ("ms", "catalog.open.self_ms"),
    "catalog.open_calls": ("count", "catalog.open.calls"),
    "catalog.table_ms": ("ms", "catalog.table.self_ms"),
    "catalog.table_calls": ("count", "catalog.table.calls"),
    "sources.modify.self_ms": ("ms", "sources.modify.self_ms"),
    "sources.modify.calls": ("count", "sources.modify.calls"),
    "sql.ddl.self_ms": ("ms", "sql.ddl.self_ms"),
    "sql.ddl.calls": ("count", "sql.ddl.calls"),
    "sql.frontend.parse_ms": ("ms", "sql.frontend.self_ms"),
    "sql.frontend.parse_calls": ("count", "sql.frontend.calls"),
    "catalyst.analysis_ms": ("ms", "catalyst.analysis_ms"),
    "catalyst.optimization_ms": ("ms", "catalyst.optimization_ms"),
    "catalyst.planning_ms": ("ms", "catalyst.planning_ms"),
    "spark_exec.ms": ("ms", "spark_exec.ms"),
    "spark_exec.jobs": ("count", "spark_exec.jobs"),
    "spark_exec.stages": ("count", "spark_exec.stages"),
    "spark_exec.stages_skipped": ("count", "spark_exec.stages_skipped"),
    "spark_exec.tasks": ("count", "spark_exec.tasks"),
    "spark_exec.shuffle_read_bytes": ("bytes", "spark_exec.shuffle_read_bytes"),
    "spark_exec.shuffle_write_bytes": ("bytes", "spark_exec.shuffle_write_bytes"),
    "spark_exec.executor_run_ms": ("ms", "spark_exec.executor_run_ms"),
    "spark_exec.executor_cpu_ms": ("ms", "spark_exec.executor_cpu_ms"),
    "spark_exec.gc_ms": ("ms", "spark_exec.gc_ms"),
    "spark_exec.python_ops": ("count", "spark_exec.python_ops"),
    "spark_exec.slot_busy_ratio": ("ratio", None),
    "host.cpu_s": ("s", "host.cpu_s"),
    "host.peak_rss_mb": ("MB", None),
    "host.loadavg": ("load", "host.loadavg"),
}


def log(msg: str) -> None:
    print(msg, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def hermetic_env(run_dir: Path) -> int:
    """Private temp, Spark local and working dirs; session pinned to the
    host. Returns the number of cores the session uses."""
    cpus = min(len(os.sched_getaffinity(0)), MAX_CPUS)
    for sub in ("tmp", "local", "cwd"):
        (run_dir / sub).mkdir(parents=True)
    os.environ.update(
        TMPDIR=str(run_dir / "tmp"),
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    )
    tempfile.tempdir = None
    os.chdir(run_dir / "cwd")
    return cpus


def host_facts(spark) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    import pyspark

    jvm = spark.sparkContext._jvm.System
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "pyspark": pyspark.__version__,
        "java": f"{jvm.getProperty('java.vm.name')} {jvm.getProperty('java.version')}",
        "python": platform.python_version(),
    }


def load_ops(names):
    """name -> (callable(spark, sf_dir) -> DataFrame, oracle)."""
    from calcite_spark.queries.inventory import oracle_sql, queries
    from ops import OPS

    reg, oracles = queries(), oracle_sql()
    out = {}
    for name in names:
        if name.startswith("perfbench."):
            out[name] = OPS[name.split(".", 1)[1]]
        else:
            out[name] = (reg[name], oracles[name])
    return out


def oracle_result(con, oracle):
    if callable(oracle):
        return oracle(con)
    rel = con.sql(oracle)
    return list(rel.columns), rel.fetchall()


def summarize_round(totals: Counter, round_ms: float, slots: int) -> dict:
    out = {}
    for name, (_unit, key) in LAYER_METRICS.items():
        if key is not None:
            out[name] = float(totals.get(key, 0.0))
    calls = totals.get("plans.rewrite.rule_calls", 0)
    out["plans.rewrite.fire_ratio"] = totals.get("plans.rewrite.rule_fires", 0) / calls if calls else 0.0
    out["spark_exec.slot_busy_ratio"] = totals.get("spark_exec.executor_run_ms", 0.0) / (round_ms * slots)
    return out


def start_session():
    from calcite_spark.session import get_spark

    spark = get_spark("perfbench", {"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(spark, names, ops, sf):
    """``SETUPS`` set-ups, each a fresh session on the running JVM with
    its own catalog and one pass that collects every result. Returns
    (last session, set-up seconds, attempted, failed, one {name:
    normalized result} per set-up)."""
    from calcite_spark.queries.inventory import catalog_for

    sessions, times, outputs = [], [], []
    attempted = failed = 0
    for _ in range(SETUPS):
        t = time.perf_counter()
        session = spark.newSession()
        sessions.append(session)  # alive, so that no id (catalog_for's key) is reused
        catalog_for(session, sf)
        results = {}
        for name in names:
            attempted += 1
            try:
                df = ops[name][0](session, sf)
                results[name] = normalize(df.columns, df.collect())
            except Exception:
                failed += 1
                log(f"FAILED set-up {len(times) + 1} {name}:\n{traceback.format_exc()}")
        times.append(time.perf_counter() - t)
        outputs.append(results)
        log(f"set-up {len(times)}: {times[-1]:.3f} s")
    return sessions[-1], times, attempted, failed, outputs


def warm_up(spark, names, ops, sf, passes: int):
    """Untimed passes run as the timed rounds are. Returns (attempted,
    failed)."""
    attempted = failed = 0
    for _ in range(passes):
        for name in names:
            attempted += 1
            try:
                ops[name][0](spark, sf).write.format("noop").mode("overwrite").save()
            except Exception:
                failed += 1
                log(f"FAILED warm-up {name}:\n{traceback.format_exc()}")
    return attempted, failed


def check_outputs(names, ops, outputs) -> int:
    """Compare every collected result with its DuckDB oracle; returns the
    number of mismatches (a query that failed to run is counted already)."""
    import duckdb

    con = duckdb.connect()
    for p in sorted(DATA.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    bad = 0
    for name in names:
        want = None
        try:
            want = normalize(*oracle_result(con, ops[name][1]))
        except Exception:
            log(f"FAILED oracle {name}:\n{traceback.format_exc()}")
        for i, results in enumerate(outputs, 1):
            if name not in results:
                continue
            got = results[name]
            ok = got == want
            bad += not ok
            log(
                f"check set-up {i} {name}: {'ok' if ok else 'MISMATCH'} spark={digest(got)}"
                + ("" if ok or want is None else f" oracle={digest(want)}")
            )
    con.close()
    return bad


class Rounds:
    """The timed closed loop: rounds over the permuted list until the
    time is up. With tracing, every second round is traced."""

    def __init__(self, spark, names, ops, sf, cpus, seed: int, trace: bool):
        from tracing import HostProbe, SparkProbe, Tracer

        self.spark, self.names, self.ops, self.sf, self.cpus = spark, names, ops, sf, cpus
        self.rng = random.Random(seed)
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        self.host = HostProbe(proc.pid if proc else None)
        self.tracer = Tracer() if trace else None
        self.probe = SparkProbe(spark) if trace else None
        self.rounds: list[dict] = []  # traced, round_s, loadavg, cpu_s, lat, layers
        self.samples = 0  # untraced executions
        self.attempted = self.failed = 0

    def run_for(self, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            self.one_round(traced=self.tracer is not None and len(self.rounds) % 2 == 1)
        if self.probe is not None:
            self.probe.close()

    def one_round(self, traced: bool) -> None:
        order = list(self.names)
        self.rng.shuffle(order)
        cpu0, t0 = self.host.cpu_s(), time.perf_counter()
        totals: Counter = Counter()
        lat, split = {}, {}
        if traced:
            self.tracer.install()
        try:
            for i, name in enumerate(order):
                self.attempted += 1
                qid = f"r{len(self.rounds)}-{i}-{name}"
                try:
                    if traced:
                        split[name] = self.traced_query(qid, name, totals)
                        lat[name] = sum(split[name])
                    else:
                        lat[name] = self.query(name)
                        self.samples += 1
                except Exception:
                    self.failed += 1
                    log(f"FAILED {qid}:\n{traceback.format_exc()}")
        finally:
            if traced:
                self.tracer.uninstall()
                self.tracer.qid = None
        r = {
            "traced": traced,
            "round_s": time.perf_counter() - t0,
            "loadavg": os.getloadavg()[0],
            "cpu_s": self.host.cpu_s() - cpu0,
            "lat": lat,
            "split": split,
        }
        if traced:
            totals["host.cpu_s"] = r["cpu_s"]
            totals["host.loadavg"] = r["loadavg"]
            r["layers"] = summarize_round(totals, r["round_s"] * 1e3, self.cpus)
        self.rounds.append(r)
        log(
            f"round {len(self.rounds):3d} {'traced  ' if traced else 'untraced'} "
            f"{r['round_s']:8.3f} s  host.cpu_s {r['cpu_s']:7.2f}  host.loadavg {r['loadavg']:5.2f}"
        )

    def query(self, name) -> float:
        a = time.perf_counter()
        self.ops[name][0](self.spark, self.sf).write.format("noop").mode("overwrite").save()
        return (time.perf_counter() - a) * 1e3

    def traced_query(self, qid, name, totals: Counter) -> tuple[float, float]:
        """Returns (build ms, spark_exec ms)."""
        tracer, probe = self.tracer, self.probe
        mark = tracer.mark()
        tracer.qid = qid
        probe.begin(qid)
        a = time.perf_counter()
        df = tracer.span("queries", self.ops[name][0], self.spark, self.sf)
        b = time.perf_counter()
        tracer.span("spark_exec", df.write.format("noop").mode("overwrite").save)
        c = time.perf_counter()
        totals.update(tracer.summarize(mark))
        totals.update(probe.end(qid, df, (c - b) * 1e3))
        return (b - a) * 1e3, (c - b) * 1e3


def end_to_end(rounds: list[dict], setup_s: float) -> dict:
    untraced = [r for r in rounds if not r["traced"]]
    samples = [ms for r in untraced for ms in r["lat"].values()]
    if not samples:
        raise RuntimeError("no complete untraced round in the measured time")
    metrics = {
        "round_s": (statistics.median(r["round_s"] for r in untraced), "s"),
        "query_p50_ms": (statistics.median(samples), "ms"),
        "setup_s": (setup_s, "s"),
    }
    for k, (v, unit) in metrics.items():
        log(f"{k}: {v:.4f} {unit}")
    p90 = guarded_percentile(samples, 90)
    log(
        "query_p90_ms: "
        + (f"{p90:.4f} ms" if p90 is not None else "not reported (needs >= 100 samples)")
        + f"  samples: {len(samples)}"
    )
    return metrics


def per_layer(loop: Rounds) -> dict:
    traced = [r for r in loop.rounds if r["traced"]]
    if not traced:
        raise RuntimeError("no complete traced round in the measured time")
    metrics = {}
    for name, (unit, _key) in LAYER_METRICS.items():
        if name == "host.peak_rss_mb":
            v = loop.host.peak_rss_mb()
        else:
            v = statistics.fmean(r["layers"][name] for r in traced)
        log(f"{name}: {v:.4f} {unit}")
        metrics[name] = (v, unit)
    # Each traced round is compared with the untraced rounds on either side
    # of it, so that rounds still speeding up do not bias the comparison.
    ratios, pairs = [], defaultdict(list)  # name -> (untraced, build, spark_exec)
    for i, r in enumerate(loop.rounds):
        if not r["traced"]:
            continue
        near = [n for n in loop.rounds[max(i - 1, 0) : i + 2] if not n["traced"]]
        ratios.append(r["round_s"] / statistics.fmean(n["round_s"] for n in near))
        for name, (build, exec_ms) in r["split"].items():
            base = [n["lat"][name] for n in near if name in n["lat"]]
            if base:
                pairs[name].append((statistics.fmean(base), build, exec_ms))
    if ratios:
        log(f"tracing overhead: {(statistics.median(ratios) - 1) * 100:+.1f}% of round time")
    log("per query (medians, ms): untraced latency | traced build + spark_exec = sum | diff")
    for name in loop.names:
        if pairs[name]:
            lu, bt, et = (statistics.median(x[k] for x in pairs[name]) for k in range(3))
            log(f"  {name:32s} {lu:9.1f} | {bt:8.1f} + {et:8.1f} = {bt + et:9.1f} | {(bt + et) / lu - 1:+7.1%}")
    return metrics


def run(args, wl, spark, cpus) -> dict:
    sf = str(DATA)
    names = wl["queries"]
    ops = load_ops(names)
    facts = host_facts(spark)
    facts.update(workload=args.workload, sf=wl["sf"], seed=args.seed, cpus=cpus, driver_mem=DRIVER_MEM)
    log("env " + json.dumps(facts))
    log(f"start to session: {time.perf_counter() - T_START:.3f} s")
    session, setups, attempted, failed, outputs = set_up(spark, names, ops, sf)
    setup_s = statistics.median(setups)
    a, f = warm_up(session, names, ops, sf, WARMUP_PASSES)
    attempted, failed = attempted + a, failed + f
    log(f"start to first timed round: {time.perf_counter() - T_START:.3f} s ({WARMUP_PASSES} warm-up passes)")

    loop = Rounds(session, names, ops, sf, cpus, args.seed, bool(args.trace))
    loop.run_for(args.seconds)
    attempted += loop.attempted
    failed += loop.failed + check_outputs(names, ops, outputs)
    log(f"ops {attempted}  ops_failed {failed}  rounds {len(loop.rounds)}  samples {loop.samples}")

    if args.trace:
        metrics = per_layer(loop)
        write_spans(loop.tracer, args)
    else:
        metrics = end_to_end(loop.rounds, setup_s)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def write_spans(tracer, args) -> None:
    from tracing import self_times

    TRACES.mkdir(exist_ok=True)
    path = TRACES / f"spans_{args.workload}_seed{args.seed}.jsonl"
    with open(path, "w") as f:
        for s, own in zip(tracer.spans, self_times(tracer.spans)):
            f.write(
                json.dumps(
                    {"name": s.name, "start_ns": s.start, "end_ns": s.end, "parent": s.parent, "qid": s.qid, "self_ns": own}
                )
                + "\n"
            )
    log(f"spans: {len(tracer.spans)} written to {path.relative_to(ROOT)}")


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to end:
    the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    spec = json.loads((HERE / "spec.json").read_text())
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload!r}; known: {sorted(spec['workloads'])}", file=sys.stderr)
        return 2
    wl = spec["workloads"][args.workload]
    try:
        import calcite_spark  # noqa: F401  (the program under test, from the checkout)
    except ImportError as e:
        print(f"cannot import calcite_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    run_dir = RUNS / f"{os.getpid()}-{time.time_ns()}"
    cwd = os.getcwd()
    spark = None
    try:
        cpus = hermetic_env(run_dir)
        spark = start_session()
        result = run(args, wl, spark, cpus)
    finally:
        try:
            if spark is not None:
                stop(spark)
        finally:
            os.chdir(cwd)
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                RUNS.rmdir()
            except OSError:
                pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
