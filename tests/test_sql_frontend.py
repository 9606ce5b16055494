"""SQL front end tests: Calcite-only syntax → Spark SQL macro expansion
(SELECT STREAM, FOR SYSTEM_TIME AS OF, windowing TVFs, SIMILAR TO) —
each checked end-to-end against the equivalent batch/DuckDB answer.
"""

from __future__ import annotations

import pytest

from calcite_spark.queries.inventory import catalog_for
from calcite_spark.sql.frontend import SqlFrontend, similar_to_regex
from tests.conftest import SF_DIR, assert_matches_oracle


@pytest.fixture(scope="module")
def fe(spark):
    cat = catalog_for(spark, SF_DIR)
    fe = SqlFrontend(cat)
    fe.register_temporal("orders", key="o_custkey", version_col="o_orderdate",
                         tiebreaker="o_orderkey DESC")
    return fe


def test_similar_to_regex():
    assert similar_to_regex("ab%") == "^(ab.*)$"
    assert similar_to_regex("a_c") == "^(a.c)$"
    assert similar_to_regex("x[0-9]+") == "^(x[0-9]+)$"
    assert similar_to_regex("a.b") == "^(a\\.b)$"
    assert similar_to_regex("(ab|cd)%") == "^((ab|cd).*)$"


def test_similar_to_e2e(fe, duck):
    df = fe.sql(
        "SELECT p_partkey FROM part "
        "WHERE p_brand SIMILAR TO 'Brand#(1|2)_' ORDER BY p_partkey"
    )
    # DuckDB's SIMILAR TO is raw regex (`_` literal); SQL standard (and
    # Calcite, runtime/SqlFunctions.similar) treats `_` as any-char —
    # oracle uses the explicitly translated regex.
    assert_matches_oracle(
        df,
        duck,
        "SELECT p_partkey FROM part "
        "WHERE regexp_matches(p_brand, '^(Brand#(1|2).)$') ORDER BY p_partkey",
    )


def test_system_time_as_of(fe, duck):
    df = fe.sql(
        "SELECT o_custkey, o_orderkey, o_totalprice "
        "FROM orders FOR SYSTEM_TIME AS OF TIMESTAMP '1995-06-30 00:00:00' "
        "WHERE o_custkey <= 100 ORDER BY o_custkey"
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT o_custkey, o_orderkey, o_totalprice FROM (
          SELECT *, row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders WHERE o_orderdate <= TIMESTAMP '1995-06-30 00:00:00'
        ) WHERE rn = 1 AND o_custkey <= 100 ORDER BY o_custkey
        """,
    )


def test_tumble_tvf_sql(fe, duck):
    df = fe.sql(
        "SELECT window_start, COUNT(*) AS n, ROUND(SUM(value), 3) AS v "
        "FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' DAY)) "
        "GROUP BY window_start ORDER BY window_start"
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
               COUNT(*) AS n, ROUND(SUM(value), 3) AS v
        FROM events GROUP BY window_start ORDER BY window_start
        """,
    )


def test_hop_tvf_sql(fe, duck):
    df = fe.sql(
        "SELECT window_start, COUNT(*) AS n "
        "FROM TABLE(HOP(TABLE events, DESCRIPTOR(ts), INTERVAL '1' DAY, INTERVAL '2' DAY)) "
        "GROUP BY window_start ORDER BY window_start"
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT ws AS window_start, COUNT(*) AS n FROM (
          SELECT time_bucket(INTERVAL '1 day', ts) - k * INTERVAL '1 day' AS ws
          FROM events, (VALUES (0), (1)) AS shifts(k)
        ) GROUP BY ws ORDER BY window_start
        """,
    )


def test_tvf_ntz_column_pinned(fe, spark, tmp_path):
    """Regression pin for the r4 break: Spark 4.1 infers parquet
    timestamp[us] as TIMESTAMP_NTZ (inferTimestampNTZ default) and
    unix_micros() rejects NTZ — the TVF macros must lower NTZ-safely.
    Assert events.ts IS NTZ (so the other TVF tests genuinely exercise
    the NTZ path on this Spark), then run TUMBLE over an explicitly
    NTZ-typed parquet fixture so version drift can't silently re-break."""
    ts_type = dict(spark.table("events").dtypes)["ts"]
    assert ts_type == "timestamp_ntz", ts_type
    p = str(tmp_path / "ntz_events")
    spark.sql(
        "SELECT CAST(ts AS TIMESTAMP_NTZ) AS ts, value FROM events"
    ).write.mode("overwrite").parquet(p)
    spark.read.parquet(p).createOrReplaceTempView("ntz_events")
    df = fe.sql(
        "SELECT window_start, COUNT(*) AS n "
        "FROM TABLE(TUMBLE(TABLE ntz_events, DESCRIPTOR(ts), INTERVAL '1' DAY)) "
        "GROUP BY window_start"
    )
    assert df.count() == spark.sql(
        "SELECT COUNT(DISTINCT date_trunc('DAY', ts)) AS n FROM ntz_events"
    ).collect()[0].n


def test_select_stream(fe, spark):
    """SELECT STREAM returns an unbounded DataFrame (Delta semantics);
    driving it through a memory sink must reproduce the batch answer."""
    sdf = fe.sql("SELECT STREAM event_type, value FROM events WHERE value > 90")
    assert sdf.isStreaming
    q = sdf.writeStream.outputMode("append").format("memory").queryName("fe_stream").start()
    try:
        q.processAllAvailable()
        n_stream = spark.sql("SELECT COUNT(*) AS n FROM fe_stream").collect()[0].n
    finally:
        q.stop()
    n_batch = fe.sql("SELECT event_type, value FROM events WHERE value > 90").count()
    assert n_stream == n_batch > 0


def test_passthrough_plain_sql(fe, duck):
    df = fe.sql("SELECT COUNT(*) AS n FROM lineitem WHERE l_quantity < 10")
    assert_matches_oracle(df, duck, "SELECT COUNT(*) AS n FROM lineitem WHERE l_quantity < 10")


def test_session_tvf_sql(fe, spark):
    """SESSION TVF must MERGE gap-adjacent rows (the naive per-row
    session_window projection does not — regression test). Global
    (key-less) form is opt-in: it is a one-task window at scale."""
    fe.allow_global_session = True
    df = fe.sql(
        "SELECT window_start, COUNT(*) AS n "
        "FROM TABLE(SESSION(TABLE events, DESCRIPTOR(ts), INTERVAL '30' MINUTE)) "
        "GROUP BY window_start"
    )
    fe.allow_global_session = False
    n_tvf = df.count()
    correct = spark.sql(
        """
        SELECT MIN(ts) AS session_start, COUNT(*) AS n FROM (
          SELECT ts, SUM(newsess) OVER (ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM (SELECT ts, CASE WHEN ts - lag(ts)
                OVER (ORDER BY ts) > INTERVAL '30' MINUTE THEN 1 ELSE 0 END AS newsess
                FROM events)
        ) GROUP BY sid
        """
    ).count()
    assert n_tvf == correct > 0


def test_session_tvf_partitioned(fe, spark, duck):
    """SESSION with the optional key DESCRIPTOR
    (SqlSessionTableFunction.java:27-35, stream.iq:248) sessionizes per
    key; the expanded SQL must carry PARTITION BY into every window so
    the plan parallelizes by key at scale."""
    sql = (
        "SELECT user_id, window_start, COUNT(*) AS n "
        "FROM TABLE(SESSION(TABLE events, DESCRIPTOR(ts), DESCRIPTOR(user_id), "
        "INTERVAL '30' MINUTE)) "
        "GROUP BY user_id, window_start ORDER BY user_id, window_start"
    )
    expanded, _ = fe.parse(sql)
    assert expanded.count("PARTITION BY user_id") >= 2, expanded
    df = fe.sql(sql)
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS window_start, COUNT(*) AS n FROM (
          SELECT user_id, ts, SUM(newsess) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM (SELECT user_id, ts, CASE WHEN ts - lag(ts)
                OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL '30 minutes'
                THEN 1 ELSE 0 END AS newsess
                FROM events)
        ) GROUP BY user_id, sid ORDER BY user_id, window_start
        """,
    )


def test_session_tvf_global_refused(fe):
    """Key-less SESSION without opt-in must refuse (scale guard)."""
    assert not fe.allow_global_session
    with pytest.raises(ValueError, match="global window"):
        fe.parse(
            "SELECT * FROM TABLE(SESSION(TABLE events, DESCRIPTOR(ts), "
            "INTERVAL '30' MINUTE))"
        )


def test_cast_format_parse_direction(fe, spark):
    """cast-with-format.iq:36 — shuffled date parsed by the FORMAT
    clause: CAST('12-2010-05' AS TIMESTAMP FORMAT 'DD-YYYY-MM')."""
    df = fe.sql(
        "SELECT CAST('12-2010-05' AS TIMESTAMP FORMAT 'DD-YYYY-MM') AS ts"
    )
    assert str(df.collect()[0].ts) == "2010-05-12 00:00:00"
    df = fe.sql("SELECT CAST('05/01/2017' AS DATE FORMAT 'MM/DD/YYYY') AS d")
    assert str(df.collect()[0].d) == "2017-05-01"


def test_cast_format_render_direction(fe, spark):
    """cast-with-format.iq:212 — ISO-8601 render with literal T/Z:
    CAST(ts AS VARCHAR FORMAT 'YYYY-MM-DDTHH24:MI:SSZ')."""
    df = fe.sql(
        "SELECT CAST(TIMESTAMP '2018-11-10 15:11:04' AS VARCHAR "
        "FORMAT 'YYYY-MM-DDTHH24:MI:SSZ') AS s"
    )
    assert df.collect()[0].s == "2018-11-10T15:11:04Z"
    df = fe.sql(
        "SELECT CAST(TIMESTAMP '2012-11-04 14:01:59' AS VARCHAR "
        "FORMAT 'DD-MM-YYYY HH12:MI:SS AM') AS s"
    )
    assert df.collect()[0].s == "04-11-2012 02:01:59 PM"


def test_cast_format_on_table_column(fe, duck):
    df = fe.sql(
        "SELECT o_orderkey, CAST(o_orderdate AS VARCHAR FORMAT 'YYYY/MM') AS ym "
        "FROM orders WHERE o_orderkey <= 50 ORDER BY o_orderkey"
    )
    assert_matches_oracle(
        df,
        duck,
        "SELECT o_orderkey, strftime(o_orderdate, '%Y/%m') AS ym "
        "FROM orders WHERE o_orderkey <= 50 ORDER BY o_orderkey",
    )


def test_cast_format_refuses_inexact_elements(fe):
    """Refuse-over-wrong: elements java.time cannot reproduce exactly
    raise instead of emitting an approximation. r9 narrowed the refusal
    set: SSSSS/RR/D/name-case variants now RENDER via composed
    expressions (cast-with-format.iq:1195-1224,1378 — see
    test_cast_format_iq_parity), so the remaining refusals are zone
    offsets, W/WW (semantics unpinned, reference keeps them behind the
    disabled CALCITE-6375 flag), weekday-name parse, and numerics."""
    from calcite_spark.functions.format_clause import UnsupportedFormatElement
    import pytest as _pytest

    # render-side refusals
    for fmt in ("HH24:MI TZH:TZM", "YYYY-WW-DD", "YYYY-W-DD"):
        with _pytest.raises(UnsupportedFormatElement):
            fe.parse(f"SELECT CAST(x AS VARCHAR FORMAT '{fmt}') FROM t")
    # parse-side refusals (render-only expressions can't run backwards;
    # Spark's parser rejects weekday-name letters)
    for fmt in ("SSSSS", "RR-MM-DD", "YYYY-DAY-MM", "IYYY/IW/ID", "YYYY-Q"):
        with _pytest.raises(UnsupportedFormatElement):
            fe.parse(f"SELECT CAST(x AS TIMESTAMP FORMAT '{fmt}') FROM t")
    # numeric format models refuse too
    with _pytest.raises(UnsupportedFormatElement):
        fe.parse("SELECT CAST(x AS DECIMAL(9,2) FORMAT '999.99') FROM t")


def test_cast_format_iq_parity(fe):
    """cast-with-format.iq value parity (r9): name-case rendering,
    SSSSS, the big composite row, case-insensitive month-name parse,
    dotted-meridian case, ISO-week rendering. Line cites are the
    reference iq; the DAY-case row was a silent wrong value before r9
    (the case-insensitive matcher rendered 'Wednesday' for all six)."""
    one = lambda sql: fe.sql(sql).collect()[0][0]
    # iq:1195-1199
    got = one("SELECT CAST(DATE '2019-11-13' AS VARCHAR FORMAT 'DAY Day day DY Dy dy') AS s")
    assert got == "WEDNESDAY Wednesday wednesday WED Wed wed"
    # iq:152-156 (composite render incl. A.M./FF9/DDD/SSSSS)
    got = one(
        "SELECT CAST(CAST('2012-11-04 13:02:59.123456' AS TIMESTAMP) AS VARCHAR "
        "FORMAT 'DD-MM-YYYY MI:HH12:SS A.M. FF9 DDD SSSSS HH12 HH24') AS s"
    )
    assert got == "04-11-2012 02:01:59 P.M. 123456000 309 46979 01 13"
    # iq:413-465 — month-name parse is case-insensitive
    for lit, fmt, want in [
        ("2010-February-11", "YYYY-MONTH-DD", "2010-02-11"),
        ("2010-march-12", "YYYY-MONTH-DD", "2010-03-12"),
        ("APRIL 13 2010", "MONTH DD YYYY", "2010-04-13"),
        ("2010 14 NOVEMBER", "YYYY DD month", "2010-11-14"),
    ]:
        got = one(f"SELECT CAST('{lit}' AS DATE FORMAT '{fmt}') AS d")
        assert str(got) == want, (lit, fmt, got)
    # iq:1570-1591 — meridian case follows the ELEMENT's case
    got = one(
        "SELECT CAST(CAST('2019-01-01 00:15:10' AS TIMESTAMP) AS VARCHAR "
        "FORMAT 'HH12 P.M.') AS s"
    )
    assert got == "12 A.M."
    got = one(
        "SELECT CAST(CAST('2019-01-01 13:15:10' AS TIMESTAMP) AS VARCHAR "
        "FORMAT 'HH12 a.m.') AS s"
    )
    assert got == "01 p.m."
    # iq:2081-2084 — ISO-week rendering at the calendar extremes
    got = one("SELECT CAST(DATE '0001-01-01' AS VARCHAR FORMAT 'IYYY/IW/ID') AS s")
    assert got == "0001/01/01"
    got = one("SELECT CAST(DATE '9999-12-31' AS VARCHAR FORMAT 'IYYY/IW/ID') AS s")
    assert got == "9999/52/05"
    # FM modifier: unpadded numeric forms (iq FM blocks)
    got = one(
        "SELECT CAST(CAST('2012-03-04 05:06:07' AS TIMESTAMP) AS VARCHAR "
        "FORMAT 'FMDD-FMMM-YYYY FMHH24:FMMI:FMSS') AS s"
    )
    assert got == "4-3-2012 5:6:7"


# -- MATCH_RECOGNIZE SQL surface (≈ SqlMatchRecognize → rel/core/Match,
# spec core/src/test/resources/sql/match.iq) --------------------------

MR_SQL = """
SELECT user_id, mn, n_down, bottom
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts
  MEASURES MATCH_NUMBER() AS mn,
           COUNT(DOWN.*) AS n_down,
           FINAL LAST(DOWN.value) AS bottom
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (STRT DOWN+ UP+)
  DEFINE DOWN AS DOWN.value < PREV(DOWN.value),
         UP AS UP.value > PREV(UP.value)
)
WHERE user_id <= 10
ORDER BY user_id, mn
"""


def test_match_recognize_sql_equals_operator_api(fe, spark):
    from calcite_spark.operators.match_recognize import match_recognize

    got = fe.sql(MR_SQL).collect()
    api = (
        match_recognize(
            fe.catalog.table("events"),
            partition_by=["user_id"],
            order_by=["ts"],
            pattern="STRT DOWN+ UP+",
            define={
                "DOWN": "value < PREV(value)",
                "UP": "value > PREV(value)",
            },
            measures={
                "mn": "MATCH_NUMBER()",
                "n_down": "COUNT(DOWN.*)",
                "bottom": "LAST(DOWN.value)",
            },
        )
        .where("user_id <= 10")
        .selectExpr("user_id", "mn", "n_down", "bottom")
        .orderBy("user_id", "mn")
        .collect()
    )
    assert got == api and len(got) > 0


def test_match_recognize_sql_subset_and_within(fe):
    df = fe.sql("""
    SELECT user_id, span_rows
    FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts
      MEASURES COUNT(U.*) AS span_rows
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B)
      WITHIN INTERVAL '2' DAY
      SUBSET U = (A, B)
      DEFINE A AS A.value > 100, B AS B.value > 100
    )
    WHERE user_id <= 5
    """)
    rows = df.collect()
    assert all(r.span_rows == 2 for r in rows)


def test_match_recognize_stream_refused(fe):
    with pytest.raises(ValueError, match="batch-only"):
        fe.sql("SELECT STREAM * FROM events MATCH_RECOGNIZE (PATTERN (A) DEFINE A AS true)")


def test_match_recognize_malformed_refused(fe):
    with pytest.raises(ValueError, match="PATTERN"):
        fe.sql("SELECT * FROM events MATCH_RECOGNIZE (DEFINE A AS true)")


# -- ASOF JOIN SQL surface (≈ SqlAsofJoin, asof.iq) --------------------


def test_asof_join_sql_equals_operator_api(fe, spark):
    from calcite_spark.operators.asof import asof_join

    got = fe.sql("""
    SELECT event_id, user_id, ts, o_orderkey, o_totalprice
    FROM events e LEFT ASOF JOIN orders o
    MATCH_CONDITION o.o_orderdate <= e.ts
    ON e.user_id = o.o_custkey
    WHERE user_id <= 5
    ORDER BY event_id
    """).collect()
    api = (
        asof_join(
            fe.catalog.table("events"),
            fe.catalog.table("orders"),
            on=[("user_id", "o_custkey")],
            left_ts="ts",
            right_ts="o_orderdate",
            direction="backward",
            strict=False,
            join_type="LEFT_ASOF",
        )
        .where("user_id <= 5")
        .selectExpr("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")
        .orderBy("event_id")
        .collect()
    )
    assert got == api and len(got) > 0


def test_asof_join_sql_flipped_condition_is_forward_strict(fe):
    """`o.o_orderdate < e.ts` with orders on the LEFT normalizes to
    right > left: FORWARD and STRICT — the first event strictly after
    each order (all events postdate the TPC-H order dates, so matches
    exist)."""
    rows = fe.sql("""
    SELECT o_orderkey, o_orderdate, ts
    FROM orders o ASOF JOIN events e
    MATCH_CONDITION o.o_orderdate < e.ts
    ON o.o_custkey = e.user_id
    WHERE o_custkey <= 3
    ORDER BY o_orderkey LIMIT 20
    """).collect()
    assert rows, "forward asof produced no rows"
    assert all(r.ts > r.o_orderdate for r in rows)
    # forward picks the EARLIEST qualifying event per order
    first_ev = fe.sql(
        "SELECT user_id, MIN(ts) AS first_ts FROM events WHERE user_id <= 3 GROUP BY user_id"
    ).collect()
    first_by_user = {r.user_id: r.first_ts for r in first_ev}
    got = fe.sql("""
    SELECT o_custkey, ts
    FROM orders o ASOF JOIN events e
    MATCH_CONDITION o.o_orderdate < e.ts
    ON o.o_custkey = e.user_id
    WHERE o_custkey <= 3
    """).collect()
    assert got and all(r.ts == first_by_user[r.o_custkey] for r in got)


def test_asof_join_sql_refusals(fe):
    with pytest.raises(ValueError, match="MATCH_CONDITION"):
        fe.sql("""
        SELECT * FROM events e ASOF JOIN orders o
        MATCH_CONDITION o.o_orderdate + 1 <= e.ts
        ON e.user_id = o.o_custkey
        """)
    with pytest.raises(ValueError, match="equi conjuncts"):
        fe.sql("""
        SELECT * FROM events e ASOF JOIN orders o
        MATCH_CONDITION o.o_orderdate <= e.ts
        ON e.user_id < o.o_custkey
        """)


def test_qualify_lowering(spark, fe):
    """QUALIFY ≈ SqlQualify / qualify.iq: windows over NON-projected
    columns work (predicate injected into the base scope), select-list
    aliases resolve, and the clause composes with WHERE/ORDER/LIMIT."""
    rows = fe.sql(
        "SELECT s_suppkey, s_nationkey FROM supplier "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY s_nationkey "
        "ORDER BY s_acctbal DESC, s_suppkey) = 1 "
        "ORDER BY s_nationkey"
    ).collect()
    assert rows and len({r.s_nationkey for r in rows}) == len(rows)
    assert set(rows[0].asDict()) == {"s_suppkey", "s_nationkey"}  # no __q

    # alias reference in the predicate
    rn = fe.sql(
        "SELECT o_custkey, ROW_NUMBER() OVER (PARTITION BY o_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders "
        "QUALIFY rn <= 2"
    ).collect()
    assert rn and all(r.rn <= 2 for r in rn)


def test_qualify_refusals(fe):
    import pytest

    with pytest.raises(Exception, match="DISTINCT"):
        fe.sql(
            "SELECT DISTINCT s_nationkey FROM supplier "
            "QUALIFY ROW_NUMBER() OVER (ORDER BY s_nationkey) = 1"
        )
    with pytest.raises(ValueError, match="predicate"):
        fe.parse("SELECT s_suppkey FROM supplier QUALIFY ")


# -- quantified comparisons (some.iq tier) ----------------------------


def test_quantified_lowering_shapes(fe):
    """= SOME -> IN, <> ALL -> NOT IN; ordering quantifiers -> one
    MIN/MAX/COUNT aggregate + 3-valued CASE (values cross-checked vs
    native DuckDB quantifiers in tests/iq/some.iq)."""
    # = SOME keeps IN as the membership witness but wraps it in the
    # 3-valued CASE — Spark's IN-subquery collapses UNKNOWN to FALSE
    # in projection context (fuzz-found), so bare IN would be wrong
    t, _ = fe.parse("SELECT 1 WHERE 5 = SOME (SELECT x FROM t)")
    assert "IN (SELECT x FROM t)" in t and "CASE WHEN" in t and ".d <" in t
    t, _ = fe.parse("SELECT 1 WHERE 5 <> ALL (SELECT x FROM t)")
    assert "IN (SELECT x FROM t)" in t and "THEN FALSE" in t
    t, _ = fe.parse("SELECT 1 WHERE 5 > ALL (SELECT x FROM t)")
    assert "named_struct" in t and "CASE WHEN" in t and "mx" in t
    # every branch repeats the IDENTICAL subquery text, array-wrapped
    # so Catalyst can't split per-field subquery copies — ReuseSubquery
    # then collapses them to one execution (plan-asserted in
    # test_plan_quality.py)
    frag = "(SELECT x FROM t) AS __qt(__qc))[0]"
    assert t.count(frag) >= 3 and "array(named_struct" in t
    t, _ = fe.parse("SELECT 1 WHERE 5 < ANY (SELECT x FROM t)")
    assert ".mx" in t  # ANY == SOME; witness for < sits at MAX


def test_quantified_requires_subquery(fe):
    import pytest

    with pytest.raises(ValueError, match="subquery"):
        fe.parse("SELECT 1 WHERE 5 > ALL (1, 2, 3)")


def test_quantified_compound_lhs_refused(fe):
    """ADVICE r6 (medium): a compound LHS must refuse loudly, never
    rewrite just the trailing term — `c1 || c2 = SOME (s)` would
    otherwise become c1 || (CASE...), which Spark silently coerces to a
    string concat of a boolean. Unary minus stays allowed."""
    import pytest

    for bad in (
        "SELECT 1 WHERE 'a' || 'b' = SOME (SELECT x FROM t)",
        "SELECT 1 WHERE a + 1 > ALL (SELECT x FROM t)",
        "SELECT 1 WHERE 3-1 = SOME (SELECT x FROM t)",
        "SELECT 1 WHERE a - 1 = SOME (SELECT x FROM t)",
    ):
        with pytest.raises(ValueError, match="parenthesize"):
            fe.parse(bad)
    # unary minus after a keyword or at a clause head is NOT compound
    t, _ = fe.parse("SELECT 1 WHERE -1 = SOME (SELECT x FROM t)")
    assert "CASE WHEN" in t
    t, _ = fe.parse("SELECT -a = SOME (SELECT x FROM t) AS m FROM u")
    assert "CASE WHEN" in t
    # parenthesized compound LHS goes through
    t, _ = fe.parse("SELECT 1 WHERE (a + 1) > ALL (SELECT x FROM t)")
    assert "CASE WHEN" in t


# -- WITHIN DISTINCT (within-distinct.iq tier) ------------------------


def test_within_distinct_two_level_shape(fe):
    t, _ = fe.parse(
        "SELECT o_orderstatus, SUM(year(o_orderdate)) WITHIN DISTINCT "
        "(o_orderdate) AS s FROM orders GROUP BY o_orderstatus"
    )
    assert "MIN(year(o_orderdate))" in t and "MAX(year(o_orderdate))" in t
    assert "GROUP BY o_orderstatus, o_orderdate" in t  # inner grain
    assert "raise_error" in t  # uniformity assertion (Calcite's THROW)


def test_within_distinct_refusals(fe):
    import pytest

    with pytest.raises(ValueError, match="one distinct-key set"):
        fe.parse(
            "SELECT SUM(a) WITHIN DISTINCT (x) AS a, "
            "SUM(b) WITHIN DISTINCT (y) AS b FROM t"
        )
    with pytest.raises(ValueError, match="GROUP BY key"):
        fe.parse(
            "SELECT o_custkey, SUM(a) WITHIN DISTINCT (x) AS a FROM t "
            "GROUP BY o_orderstatus"
        )
    with pytest.raises(ValueError, match="HAVING"):
        fe.parse(
            "SELECT SUM(a) WITHIN DISTINCT (x) AS a FROM t "
            "GROUP BY k HAVING SUM(a) > 0"
        )


# -- UNSIGNED widening (unsigned.iq tier) -----------------------------


def test_unsigned_widening_map(fe):
    t, _ = fe.parse("SELECT CAST(x AS TINYINT UNSIGNED) FROM t")
    assert "BETWEEN 0 AND 255" in t and "AS SMALLINT)" in t
    t, _ = fe.parse("SELECT CAST(x AS BIGINT UNSIGNED) FROM t")
    assert ">= 0" in t and "DECIMAL(20,0)" in t
    # literals fold (keeps VALUES inline tables foldable)
    t, _ = fe.parse("SELECT CAST(200 AS INT UNSIGNED)")
    assert t == "SELECT CAST(200 AS BIGINT)"
    import pytest

    with pytest.raises(ValueError, match="out of range"):
        fe.parse("SELECT CAST(-1 AS INT UNSIGNED)")
    with pytest.raises(ValueError, match="UNSIGNED base"):
        fe.parse("SELECT CAST(x AS VARCHAR UNSIGNED) FROM t")


# -- sequences (sequence.iq tier) -------------------------------------


def test_sequence_allocation_and_state(fe, spark, tmp_path):
    from calcite_spark.sql.ddl import DdlExecutor

    ddl = DdlExecutor(fe, str(tmp_path / "wh"))
    ddl.execute("CREATE SEQUENCE fe_seq START WITH 100 INCREMENT BY 10")
    vals = [r.c for r in fe.sql(
        "SELECT NEXT VALUE FOR fe_seq AS c FROM (VALUES (1),(2),(3)) t(x)"
    ).collect()]
    assert sorted(vals) == [100, 110, 120]  # unique+dense; order engine-defined
    assert fe.sql("SELECT CURRENT VALUE FOR fe_seq AS c").collect()[0].c == 120
    # numbering continues across statements
    vals2 = [r.c for r in fe.sql(
        "SELECT NEXT VALUE FOR fe_seq AS c FROM (VALUES (1)) t(x)"
    ).collect()]
    assert vals2 == [130]
    # refusals
    import pytest

    with pytest.raises(ValueError, match="unknown sequence"):
        fe.sql("SELECT NEXT VALUE FOR missing_seq AS c")
    with pytest.raises(ValueError, match="already exists"):
        ddl.execute("CREATE SEQUENCE fe_seq")
    ddl.execute("CREATE SEQUENCE IF NOT EXISTS fe_seq")  # idempotent form
    with pytest.raises(ValueError, match="same sequence"):
        fe.sql("SELECT NEXT VALUE FOR fe_seq AS a, NEXT VALUE FOR fe_seq AS b")
    ddl.execute("DROP SEQUENCE fe_seq")
    with pytest.raises(ValueError, match="does not exist"):
        ddl.execute("DROP SEQUENCE fe_seq")


def test_row_constructor_and_dual(fe):
    t, _ = fe.parse("SELECT ROW(x, y) AS r FROM t GROUP BY ROW(x, y)")
    assert t == "SELECT struct(x, y) AS r FROM t GROUP BY struct(x, y)"
    # ROWS BETWEEN / CURRENT ROW never rewritten (not call-shaped)
    t, _ = fe.parse(
        "SELECT SUM(x) OVER (ORDER BY y ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t"
    )
    assert "ROWS BETWEEN" in t and "CURRENT ROW" in t and "struct" not in t
    # 'ROW(' inside a string literal stays opaque
    t, _ = fe.parse("SELECT 'ROW(1)' AS s FROM DUAL")
    assert t == "SELECT 'ROW(1)' AS s"
    assert fe.sql("SELECT * FROM DUAL").collect()[0].DUMMY == "X"
    assert fe.sql("SELECT 1 + 1 AS v FROM DUAL").collect()[0].v == 2


def test_pg_cast_shorthand(fe):
    """`expr::type` ≈ the babel tier (postgresql.iq fixtures)."""
    t, _ = fe.parse("SELECT 123.456::decimal(8,4) AS d")
    assert t == "SELECT CAST(123.456 AS decimal(8,4)) AS d"
    t, _ = fe.parse("SELECT '5'::int::string AS s")
    assert t == "SELECT CAST(CAST('5' AS int) AS string) AS s"
    t, _ = fe.parse("SELECT 'a::b' AS s")  # literals stay opaque
    assert t == "SELECT 'a::b' AS s"
    t, _ = fe.parse("SELECT (1 + 2)::string AS s")
    assert t == "SELECT CAST((1 + 2) AS string) AS s"
    assert fe.sql("SELECT -1::int AS v").collect()[0].v == -1
    # r12 (batch-17 find): PG type names Spark lacks normalize —
    # `::text`, PG's most common cast, previously produced
    # CAST(x AS text) which Spark's parser rejects outright
    t, _ = fe.parse("SELECT 5::text AS s")
    assert t == "SELECT CAST(5 AS STRING) AS s"
    t, _ = fe.parse("SELECT '7'::int8 AS v, 1::float8 AS f, 't'::bool AS b")
    assert t == (
        "SELECT CAST('7' AS BIGINT) AS v, CAST(1 AS DOUBLE) AS f, "
        "CAST('t' AS BOOLEAN) AS b"
    )
    t, _ = fe.parse("SELECT 1.5::numeric(8,2) AS d, 'x'::varchar(5) AS vc")
    assert t == (
        "SELECT CAST(1.5 AS DECIMAL(8,2)) AS d, "
        "CAST('x' AS varchar(5)) AS vc"
    )
    # bpchar maps bare→STRING and length-suffixed→CHAR(n) (r12 review:
    # reverting bpchar(5) to the PG spelling crashed Spark's parser)
    t, _ = fe.parse("SELECT 'ab'::bpchar AS b, 'ab'::bpchar(5) AS b5")
    assert t == (
        "SELECT CAST('ab' AS STRING) AS b, CAST('ab' AS CHAR(5)) AS b5"
    )
    row = fe.sql(
        "SELECT 5::text AS s, '7'::int8 AS v, 2.5::numeric(8,2) AS d, "
        "'xy'::bpchar(4) AS bp"
    ).collect()[0]
    assert row.s == "5" and row.v == 7 and float(row.d) == 2.5
    assert row.bp.rstrip() == "xy"


def test_pg_regex_operators(fe):
    t, _ = fe.parse("SELECT x ~ 'a.c' AS m FROM t")
    assert t == "SELECT (x RLIKE 'a.c') AS m FROM t"
    t, _ = fe.parse("SELECT x ~* 'a.c' AS m FROM t")
    assert t == "SELECT (x RLIKE '(?i)a.c') AS m FROM t"
    t, _ = fe.parse("SELECT x !~ 'a' AS m FROM t")
    assert t == "SELECT NOT (x RLIKE 'a') AS m FROM t"
    # unary bitwise NOT untouched; literals opaque
    t, _ = fe.parse("SELECT 12 & ~5 AS v, '~' AS tilde")
    assert t == "SELECT 12 & ~5 AS v, '~' AS tilde"


def test_within_distinct_plain_agg_refusals(fe):
    """DISTINCT / FILTER plain aggregates cannot share a query with
    WITHIN DISTINCT calls — their partials are not re-aggregable, so
    the lowering refuses instead of silently overcounting."""
    with pytest.raises(ValueError, match="DISTINCT aggregate"):
        fe.parse(
            "SELECT COUNT(DISTINCT x) AS a, SUM(y) WITHIN DISTINCT (d) AS b "
            "FROM t GROUP BY g"
        )
    with pytest.raises(ValueError, match="FILTER"):
        fe.parse(
            "SELECT COUNT(x) FILTER (WHERE x > 0) AS a, "
            "SUM(y) WITHIN DISTINCT (d) AS b FROM t GROUP BY g"
        )


def test_sequence_keywords_opaque_in_literals(fe):
    """'NEXT VALUE FOR x' inside a string literal is data, not a
    sequence reference."""
    rows = fe.sql("SELECT 'NEXT VALUE FOR my_seq' AS s").collect()
    assert rows[0].s == "NEXT VALUE FOR my_seq"


def test_review_r6_macro_regressions(fe):
    """Pins for the round-6 review findings."""
    # 1: quantifier-shaped text inside a literal stays data
    t, _ = fe.parse("SELECT 'score > ALL (SELECT max(s) FROM t)' AS note FROM docs")
    assert t == "SELECT 'score > ALL (SELECT max(s) FROM t)' AS note FROM docs"
    # 4: :: operand on a quantified comparison expands cast-first
    t, _ = fe.parse("SELECT o_totalprice::int > ALL (SELECT 1) AS v FROM orders")
    assert "CAST(o_totalprice AS int)" in t and "::" not in t
    # 6: qualified-key unqualification is word-bounded
    t, _ = fe.parse(
        "SELECT o.c, SUM(x.foo_c) WITHIN DISTINCT (d.k) AS s "
        "FROM t GROUP BY o.c"
    )
    assert "foo_c" in t  # not corrupted by the o.c -> c rewrite
    # 9: FROM DUAL in a literal / multi-table list stays untouched
    t, _ = fe.parse("SELECT 'pulled FROM DUAL source' AS note")
    assert t == "SELECT 'pulled FROM DUAL source' AS note"
    t, _ = fe.parse("SELECT 1 FROM DUAL, t")
    assert "DUAL, t" in t


def test_review_r6_sequence_refusals(fe, spark, tmp_path):
    from calcite_spark.sql.ddl import DdlExecutor

    ddl = DdlExecutor(fe, str(tmp_path / "wh"))
    ddl.execute("CREATE SEQUENCE IF NOT EXISTS rev_seq")
    # 3: subquery / LIMIT shapes refuse instead of re-issuing values
    with pytest.raises(ValueError, match="outermost"):
        fe.sql(
            "SELECT * FROM (SELECT NEXT VALUE FOR rev_seq AS id "
            "FROM (VALUES (1),(2)) t(x)) WHERE id > 0"
        )
    with pytest.raises(ValueError, match="LIMIT"):
        fe.sql(
            "SELECT NEXT VALUE FOR rev_seq AS id FROM orders LIMIT 5"
        )


# -- r7 babel batch 2 -------------------------------------------------


def test_distinct_on_lowering_and_guards(fe):
    """DISTINCT ON (PG; babel select.iq:335 / CALCITE-5406) lowers to
    the row_number window; PG's leading-ORDER-BY rule is enforced."""
    import pytest

    t, _ = fe.parse(
        "SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name AS nm "
        "FROM nation ORDER BY n_regionkey, n_name"
    )
    assert "row_number() OVER (PARTITION BY n_regionkey" in t
    assert "__don_rn = 1" in t
    with pytest.raises(ValueError, match="ORDER BY"):
        fe.parse("SELECT DISTINCT ON (a) a, b AS bb FROM t")
    with pytest.raises(ValueError, match="must match"):
        fe.parse("SELECT DISTINCT ON (a) a, b AS bb FROM t ORDER BY b")
    with pytest.raises(ValueError, match="outermost"):
        fe.parse(
            "SELECT * FROM (SELECT DISTINCT ON (a) a FROM t ORDER BY a) q"
        )
    with pytest.raises(ValueError, match="AS alias"):
        fe.parse(
            "SELECT DISTINCT ON (a) a + 1 FROM t ORDER BY a"
        )


def test_array_literal_and_containment_lowering(fe):
    t, _ = fe.parse("SELECT ARRAY[1, ARRAY[2, 3]] AS a")
    assert "array(1, array(2, 3))" in t
    t, _ = fe.parse("SELECT (ARRAY[1,2] @> ARRAY[1]) AS c")
    assert "forall(" in t and "array_contains(" in t
    # <@ swaps needle and haystack
    t, _ = fe.parse("SELECT (x <@ y) AS c FROM t")
    assert "forall(filter(x" in t and "array_contains(filter(y" in t
    # literal 'a @> b' inside a string stays opaque
    t, _ = fe.parse("SELECT 'x @> y' AS s")
    assert "'x @> y'" in t
    import pytest

    with pytest.raises(ValueError, match="parenthesize"):
        fe.parse("SELECT (a || b @> c) AS v FROM t")


def test_null_postfix_and_like_operators(fe):
    t, _ = fe.parse("SELECT 1 FROM t WHERE x ISNULL")
    assert "(x IS NULL)" in t
    t, _ = fe.parse("SELECT 1 FROM t WHERE x NOTNULL")
    assert "(x IS NOT NULL)" in t
    # call-shaped ISNULL(x) stays out of scope
    t, _ = fe.parse("SELECT ISNULL(x) FROM t")
    assert "ISNULL(x)" in t
    t, _ = fe.parse("SELECT 1 FROM t WHERE a ~~ 'x%'")
    assert "(a LIKE 'x%')" in t
    t, _ = fe.parse("SELECT 1 FROM t WHERE a ~~* 'x%'")
    assert "(a ILIKE 'x%')" in t
    t, _ = fe.parse("SELECT 1 FROM t WHERE a !~~ 'x%'")
    assert "NOT (a LIKE 'x%')" in t
    t, _ = fe.parse("SELECT 1 FROM t WHERE a !~~* 'x%'")
    assert "NOT (a ILIKE 'x%')" in t
    # plain regex ops unaffected by the longer alternatives
    t, _ = fe.parse("SELECT 1 FROM t WHERE a ~ 'x.*'")
    assert "RLIKE 'x.*'" in t


def test_r7_review_babel_fixes(fe, duck):
    """Round-7 code-review regression pins for the babel batch-2 passes:
    (a) :: expands BEFORE ISNULL/containment so `x::int ISNULL` never
    captures the bare type name; (b) DISTINCT ON carries a trailing
    LIMIT/OFFSET to the OUTER query instead of corrupting the window's
    ORDER BY; (c) the ARRAY[...] span scan is quote- and depth-aware
    (']' in a string literal is content, subscripts nest); (d) a
    compound containment RHS refuses (PG's || binds tighter); (e) the
    phrase 'DISTINCT ON (' inside a string literal is data."""
    import pytest

    t, _ = fe.parse("SELECT (x::int ISNULL) AS v FROM t")
    assert "(CAST(x AS int) IS NULL)" in t

    sql = ("SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name AS nm "
           "FROM nation ORDER BY n_regionkey, n_name LIMIT 3")
    got = [tuple(r) for r in fe.sql(sql).collect()]
    assert got == duck.execute(sql).fetchall() and len(got) == 3

    sql = ("SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name AS nm "
           "FROM nation ORDER BY n_regionkey, n_name LIMIT 2 OFFSET 1")
    got = [tuple(r) for r in fe.sql(sql).collect()]
    assert got == duck.execute(sql).fetchall() and len(got) == 2

    assert fe.sql("SELECT ARRAY['a]b'][0] AS v").collect()[0].v == "a]b"
    assert fe.sql("SELECT ARRAY[ARRAY[1,2][1], 5] AS v").collect()[0].v == [2, 5]

    with pytest.raises(ValueError, match="RHS"):
        fe.parse("SELECT (x @> y || z) AS v FROM t")

    got = fe.sql("SELECT 'use DISTINCT ON (g)' AS h").collect()[0].h
    assert got == "use DISTINCT ON (g)"


def test_r8_advice_babel_fixes(fe, duck):
    """Round-8 ADVICE regression pins:
    (a, medium) a trailing ORDER BY key naming a select alias resolves
    to the alias's SOURCE expression — PG's output-column rule — instead
    of silently ordering by a same-named input column (the window runs
    over the base table, where the alias is out of scope);
    (b) non-shadowing aliases in trailing keys work too (previously a
    cryptic LATERAL_COLUMN_ALIAS_IN_WINDOW AnalysisException);
    (c, low) LIMIT ALL / FETCH FIRST / expression limits refuse by name;
    (d, low) a trailing line comment after a containment RHS is not a
    compound-RHS refusal."""
    import pytest

    vals = "(VALUES (1, 10), (1, 20), (2, 5)) AS tt(g, v)"
    # (a) alias v shadows input column v: PG orders by -v, so the
    # picked row per group is the LARGEST v (smallest -v). DuckDB runs
    # DISTINCT ON natively — identical statement both sides.
    sql = f"SELECT DISTINCT ON (g) g, -v AS v FROM {vals} ORDER BY g, v"
    got = sorted(tuple(r) for r in fe.sql(sql).collect())
    want = sorted(duck.execute(sql).fetchall())
    assert got == want == [(1, -20), (2, -5)]
    # (b) non-shadowing alias resolves instead of raising
    sql = f"SELECT DISTINCT ON (g) g, -v AS w FROM {vals} ORDER BY g, w"
    got = sorted(tuple(r) for r in fe.sql(sql).collect())
    assert got == sorted(duck.execute(sql).fetchall()) == [(1, -20), (2, -5)]
    # ASC/DESC suffix on the substituted trailing key is preserved
    sql = f"SELECT DISTINCT ON (g) g, -v AS w FROM {vals} ORDER BY g, w DESC"
    got = sorted(tuple(r) for r in fe.sql(sql).collect())
    assert got == sorted(duck.execute(sql).fetchall()) == [(1, -10), (2, -5)]

    # (c) unconsumed LIMIT/OFFSET/FETCH forms refuse with a named error
    for tail in ("LIMIT ALL", "FETCH FIRST 3 ROWS ONLY", "LIMIT 1+2"):
        with pytest.raises(ValueError, match="unsupported"):
            fe.parse(
                "SELECT DISTINCT ON (a) a, b AS bb FROM t "
                f"ORDER BY a, b {tail}"
            )

    # (d) '--' starts a comment, not a subtraction
    t, _ = fe.parse("SELECT 1 FROM t WHERE tags @> arr -- note")
    assert "forall(" in t
    with pytest.raises(ValueError, match="RHS"):
        fe.parse("SELECT 1 FROM t WHERE tags @> arr - 1")


def test_r8_pg_regexp_replace_flags_dispatch(fe, duck):
    """4-arg REGEXP_REPLACE operand-type dispatch (r8): a string-literal
    4th operand is PG's flags form and lowers via functions/pg_regex;
    3-arg calls and integer 4th operands (the standard position form)
    pass through untouched."""
    # flags form: identical text runs natively on DuckDB
    sql = "SELECT regexp_replace('ABC def', '[a-z]+', 'X', 'i') AS x"
    assert fe.sql(sql).collect()[0].x == duck.execute(sql).fetchone()[0] == "X def"
    t, _ = fe.parse(sql)
    assert "(?i)^((?s:.*?))" in t
    # 3-arg: untouched (Spark builtin replace-all = REGEXP_REPLACE_3)
    t, _ = fe.parse("SELECT regexp_replace(a, 'x', 'y') FROM t")
    assert "regexp_replace(a, 'x', 'y')" in t
    # integer 4th operand = standard position form, not PG flags
    t, _ = fe.parse("SELECT regexp_replace(a, 'x', 'y', 2) FROM t")
    assert "regexp_replace(a, 'x', 'y', 2)" in t
    # nested in the source operand expands too
    t, _ = fe.parse(
        "SELECT regexp_replace(regexp_replace(a, 'x', 'y', 'g'), 'z', 'w', 'g') FROM t"
    )
    assert t.count("regexp_replace(") == 2 and "'g'" not in t
    # inside a string literal: data, not syntax
    t, _ = fe.parse("SELECT 'use regexp_replace(a, b, c, ''g'')' AS h")
    assert "''g''" in t


def test_r8_advice_ajt_hint_literal_strip(spark):
    """ADVICE r8 (low): a WHERE conjunct whose STRING LITERAL mentions a
    right-side column name must still resolve to the left side —
    identifiers are extracted from the conjunct with literals stripped."""
    from calcite_spark.catalog import Catalog
    from calcite_spark.sql.frontend import SqlFrontend

    cat = Catalog(spark).register_parquet_dir(SF_DIR)
    fe2 = SqlFrontend(cat)
    df = fe2.sql(
        "/*+ AGGREGATE_JOIN_TRANSPOSE */ "
        "SELECT o_orderpriority, COUNT(*) AS n FROM orders "
        "JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE o_orderpriority <> 'see l_quantity' "
        "GROUP BY o_orderpriority"
    )
    assert df.count() > 0


@pytest.mark.parametrize(
    "hint, sql",
    [
        (
            "AGGREGATE_JOIN_TRANSPOSE",
            "SELECT o_orderpriority, COUNT(*) AS n FROM orders "
            "JOIN lineitem ON o_orderkey = l_orderkey "
            "WHERE o_orderpriority <> 'x GROUP BY y' "
            "GROUP BY o_orderpriority",
        ),
        (
            "AGGREGATE_UNION_TRANSPOSE",
            "SELECT o_orderpriority, COUNT(*) AS n FROM ("
            "SELECT * FROM orders WHERE o_orderpriority <> 'a UNION ALL b' "
            "UNION ALL SELECT * FROM orders WHERE o_orderstatus = 'F') "
            "GROUP BY o_orderpriority",
        ),
    ],
)
def test_transpose_hint_clauses_read_past_literals(spark, hint, sql):
    """The hinted statement is split into clauses on the lexer mask: a
    GROUP BY or UNION ALL inside a string literal is data, so the
    hinted statement answers like the unhinted one."""
    from calcite_spark.catalog import Catalog

    fe2 = SqlFrontend(Catalog(spark).register_parquet_dir(SF_DIR))
    want = sorted(tuple(r) for r in fe2.sql(sql).collect())
    got = sorted(tuple(r) for r in fe2.sql(f"/*+ {hint} */ {sql}").collect())
    assert want and got == want


# -- star EXCLUDE / REPLACE (babel select.iq sweep, r8 batch 4) --------


def test_star_exclude(fe, duck):
    """`* EXCLUDE(cols)` ≈ [CALCITE-7310] — an alias for star-EXCEPT
    (Spark-native); the reference tolerates duplicate columns in the
    list where Spark raises, so the macro dedups."""
    df = fe.sql("SELECT * EXCLUDE(n_name) FROM nation ORDER BY n_nationkey")
    assert df.columns == ["n_nationkey", "n_regionkey"]
    dk = duck.execute(
        "SELECT n_nationkey, n_regionkey FROM nation ORDER BY n_nationkey"
    ).fetchall()
    assert [tuple(r) for r in df.collect()] == dk
    # duplicate column tolerated (select.iq:121 `exclude(..., mgr, mgr)`)
    df = fe.sql(
        "SELECT * EXCLUDE(n_name, n_name) FROM nation ORDER BY n_nationkey"
    )
    assert df.columns == ["n_nationkey", "n_regionkey"]
    # qualified alias star (select.iq:141)
    df = fe.sql(
        "SELECT n.* EXCLUDE(n.n_name) FROM nation n ORDER BY n_nationkey"
    )
    assert df.columns == ["n_nationkey", "n_regionkey"]
    # EXCLUDE-shaped text inside a string literal is data
    df = fe.sql("SELECT ' * EXCLUDE(' AS lit FROM region LIMIT 1")
    assert df.collect()[0].lit == " * EXCLUDE("


def test_star_replace(fe, duck):
    """`* REPLACE(expr AS col, ...)` (select.iq:283-300) — expands the
    star against the catalog schema with replaced columns substituted
    IN PLACE; strict single-table shape, loud refusals."""
    df = fe.sql(
        "SELECT * REPLACE(n_nationkey + 100 AS n_nationkey) FROM nation "
        "WHERE n_nationkey = 3"
    )
    assert df.columns == ["n_nationkey", "n_name", "n_regionkey"]
    row = df.collect()[0]
    base = duck.execute(
        "SELECT n_nationkey + 100, n_name, n_regionkey FROM nation "
        "WHERE n_nationkey = 3"
    ).fetchone()
    assert tuple(row) == base
    # two replacements, order preserved (select.iq:294)
    df = fe.sql(
        "SELECT * REPLACE(upper(n_name) AS n_name, n_regionkey * 2 AS "
        "n_regionkey) FROM nation WHERE n_nationkey = 3"
    )
    assert df.columns == ["n_nationkey", "n_name", "n_regionkey"]
    # multiplication by the REPLACE() FUNCTION is not star-replace
    df = fe.sql(
        "SELECT n_regionkey * length(REPLACE(n_name, 'A', '')) AS x "
        "FROM nation WHERE n_nationkey = 3"
    )
    assert df.columns == ["x"]
    import pytest as _pt

    with _pt.raises(ValueError, match="unknown column"):
        fe.sql("SELECT * REPLACE(n_nationkey AS nope) FROM nation")
    with _pt.raises(ValueError, match="expr AS column"):
        fe.sql("SELECT * REPLACE(n_nationkey) FROM nation")


# -- star-macro fuzz vs DuckDB NATIVE EXCLUDE/REPLACE ------------------
# DuckDB parses the same Snowflake-style star modifiers natively, so
# identical statement text runs on both engines — the established
# native-twin method for every new frontend macro.

_ORD_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
             "o_orderpriority"]


def test_star_macro_fuzz_native_twin(fe, duck):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=20, deadline=None)
    @given(
        excl=st.sets(st.sampled_from(_ORD_COLS), min_size=1, max_size=4),
        key=st.integers(min_value=1, max_value=50),
    )
    def run_exclude(excl, key):
        cols = ", ".join(sorted(excl))
        q = (f"SELECT * EXCLUDE({cols}) FROM orders "
             f"WHERE o_orderkey = {key}")
        got = [tuple(r) for r in fe.sql(q).collect()]
        want = duck.execute(q).fetchall()
        srt = lambda rows: sorted(
            tuple(str(c) for c in r) for r in rows
        )
        assert srt(got) == srt(want), q

    @settings(max_examples=20, deadline=None)
    @given(
        delta=st.integers(min_value=-5, max_value=5),
        upper=st.booleans(),
        key=st.integers(min_value=1, max_value=50),
    )
    def run_replace(delta, upper, key):
        items = [f"o_custkey + {delta} AS o_custkey"]
        if upper:
            items.append("lower(o_orderpriority) AS o_orderpriority")
        q = (f"SELECT * REPLACE({', '.join(items)}) FROM orders "
             f"WHERE o_orderkey = {key}")
        got = [tuple(r) for r in fe.sql(q).collect()]
        want = duck.execute(q).fetchall()
        srt = lambda rows: sorted(
            tuple(str(c) for c in r) for r in rows
        )
        assert srt(got) == srt(want), q

    run_exclude()
    run_replace()


def test_star_replace_join_refused(fe):
    """A multi-table FROM would expand * to the FIRST table's columns
    only — refused loudly (review r8)."""
    import pytest as _pt

    with _pt.raises(ValueError, match="single-table FROM"):
        fe.sql(
            "SELECT * REPLACE(upper(n_name) AS n_name) FROM nation "
            "JOIN region ON n_regionkey = r_regionkey"
        )
    with _pt.raises(ValueError, match="single-table FROM"):
        fe.sql(
            "SELECT * REPLACE(upper(n_name) AS n_name) FROM nation n "
            "JOIN region r ON n.n_regionkey = r.r_regionkey"
        )


def test_insert_unparseable_forms_fall_back(fe, spark, tmp_path):
    """INSERT forms the DDL executor cannot parse keep the native path
    for modifier-less targets, and refuse loudly for tables WITH
    column modifiers (review r8)."""
    import pytest as _pt

    from calcite_spark.sql.ddl import DdlExecutor

    ddl = DdlExecutor(fe, str(tmp_path / "wh"))
    ddl.execute("create table plainb (a int)")
    # parenthesized-SELECT body: not _INSERT-parseable → native path
    fe.sql("INSERT INTO plainb (SELECT CAST(5 AS INT))")
    assert [r.a for r in fe.sql("SELECT a FROM plainb").collect()] == [5]
    ddl.execute("create table modded (a int, b int default 9)")
    with _pt.raises(ValueError, match="column modifiers"):
        fe.sql("INSERT INTO modded (SELECT CAST(1 AS INT), CAST(2 AS INT))")


def test_quantified_array_value_forms(fe):
    """PG's array quantifiers (babel r11): `x = ANY(arr)` / `x <> ALL
    (arr)` over an array VALUE lower to array_contains with PG's exact
    three-valued contract; ordering operators over arrays refuse
    loudly (only subqueries carry MIN/MAX witnesses)."""
    row = fe.sql(
        "SELECT 2 = ANY(ARRAY[1, 2, 3]) AS hit,"
        "       5 = ANY(ARRAY[1, 2, 3]) AS miss,"
        "       5 = ANY(ARRAY[1, NULL, 3]) AS unk,"
        "       CAST(NULL AS INT) = ANY(ARRAY[1]) AS null_x,"
        "       5 = SOME(ARRAY[]) AS empty,"
        "       2 <> ALL(ARRAY[3, 4]) AS all_hit,"
        "       2 <> ALL(ARRAY[2, 4]) AS all_miss,"
        "       2 <> ALL(ARRAY[NULL, 4]) AS all_unk,"
        "       2 <> ALL(ARRAY[]) AS all_empty,"
        # ADVICE r11: NULL operand + EMPTY array COMBINED — PG decides
        # the quantifier from the (absent) elements before looking at
        # the operand: FALSE for = ANY, TRUE for <> ALL, never NULL
        "       CAST(NULL AS INT) = ANY(ARRAY[]) AS null_x_empty,"
        "       CAST(NULL AS INT) <> ALL(ARRAY[]) AS null_all_empty,"
        # and a NULL ARRAY stays NULL on both engines, operand or not
        "       2 = ANY(CAST(NULL AS ARRAY<INT>)) AS null_arr,"
        "       2 <> ALL(CAST(NULL AS ARRAY<INT>)) AS null_arr_all"
    ).collect()[0]
    assert row.hit is True and row.miss is False
    assert row.unk is None and row.null_x is None
    assert row.empty is False
    assert row.all_hit is True and row.all_miss is False
    assert row.all_unk is None and row.all_empty is True
    assert row.null_x_empty is False and row.null_all_empty is True
    assert row.null_arr is None and row.null_arr_all is None
    with pytest.raises(ValueError, match="subquery operand"):
        fe.sql("SELECT 2 > ANY(ARRAY[1, 2]) AS bad")


def test_gb_empty_requires_all_aggregate_select(fe):
    """ADVICE r13: `GROUP BY ()` is dropped (SQL:1999 empty grouping
    set = ungrouped aggregate) ONLY when the owning SELECT list is
    provably all-aggregate. A non-aggregated column keeps the clause
    so Spark rejects the raw text loudly — PG/DuckDB error on that
    shape too (refuse-over-guess, never silently return every row)."""
    # aggregate-only: lowered, one grand-total row even on empty input
    row = fe.sql(
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderkey < 0 GROUP BY ()"
    ).collect()
    assert len(row) == 1 and row[0].n == 0
    # mixed literal + aggregate still qualifies (PG accepts it)
    row = fe.sql(
        "SELECT 1 AS one, COUNT(*) AS n FROM nation GROUP BY ()"
    ).collect()[0]
    assert row.one == 1 and row.n == 25
    # non-aggregate select item: the clause is left in place and the
    # whole statement fails loudly (Spark's parser lacks GROUP BY ())
    with pytest.raises(Exception):
        fe.sql("SELECT o_orderkey FROM orders GROUP BY ()").collect()
    # a bare literal alone is NOT legalized either (dropping would
    # return one row per input row where PG returns exactly one)
    with pytest.raises(Exception):
        fe.sql("SELECT 1 FROM orders GROUP BY ()").collect()
    # an aggregate inside a scalar subquery does not count
    with pytest.raises(Exception):
        fe.sql(
            "SELECT (SELECT COUNT(*) FROM nation) FROM orders GROUP BY ()"
        ).collect()
