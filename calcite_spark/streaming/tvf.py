"""Windowing table-valued functions ≈ Calcite TUMBLE/HOP/SESSION TVFs
(SqlStdOperatorTable TUMBLE:2606, HOP:2609, SESSION:2612;
sql/SqlTumbleTableFunction.java, SqlHopTableFunction.java,
SqlSessionTableFunction.java; tests core/src/test/resources/sql/stream.iq).

Calcite models these as table functions that append window_start /
window_end columns; grouping is then an ordinary GROUP BY. The same
contract here: each helper takes a (batch OR streaming) DataFrame and
appends the window columns via Spark's native `window()` /
`session_window()` — so the identical query text works on
`spark.read` and `spark.readStream` inputs (stream-table duality,
rel/stream/Delta.java:38).

`with_watermark` is the one thing Calcite core leaves to the runtime
(no watermark in core — SURVEY.md §2.8): Spark requires it for stateful
streaming aggs, so we surface it explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _expand(df: DataFrame, win_col) -> DataFrame:
    return (
        df.withColumn("__w", win_col)
        .withColumn("window_start", F.col("__w.start"))
        .withColumn("window_end", F.col("__w.end"))
        .drop("__w")
    )


def tumble(df: DataFrame, ts_col: str, size: str) -> DataFrame:
    """TUMBLE(data, DESCRIPTOR(ts), size): one aligned window per row."""
    return _expand(df, F.window(ts_col, size))


def hop(df: DataFrame, ts_col: str, size: str, slide: str) -> DataFrame:
    """HOP(data, DESCRIPTOR(ts), slide, size): size/slide windows per row."""
    return _expand(df, F.window(ts_col, size, slide))


def session(df: DataFrame, ts_col: str, gap: str, partition_keys=()):
    """SESSION(data, DESCRIPTOR(ts), gap): gap-merged per-key sessions.

    In batch, `session_window` merges rows whose gaps are < gap exactly
    like the lag/cumsum sessionization idiom; in streaming it is
    state-store backed. Spark requires the session_window expression in
    the groupBy clause itself, so this returns GroupedData ready for
    `.agg(...)`; the grouping column is named `session_window`.
    """
    return df.groupBy(
        F.session_window(F.col(ts_col), gap).alias("session_window"), *partition_keys
    )


def tumble_grouped(df: DataFrame, ts_col: str, size: str, partition_keys=()):
    """TUMBLE for streaming APPEND mode: the watermark's event-time
    metadata lives on the `window` struct column, so append-mode
    aggregation must group on the struct itself — extracting
    window_start first (the batch TVF contract) severs it. Returns
    GroupedData (grouping column `window`), mirroring `session`."""
    return df.groupBy(F.window(F.col(ts_col), size).alias("window"), *partition_keys)


def with_watermark(df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """Late-data bound for streaming inputs (no-op on batch frames).

    Spark's watermark machinery requires TIMESTAMP (LTZ) event time and
    rejects TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) — and
    Spark 4.1 infers parquet timestamp[us] as NTZ by default. Session TZ
    is pinned UTC (session.py), so the NTZ→LTZ cast is value-preserving.
    """
    if df.isStreaming:
        if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
            df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp_ltz"))
        return df.withWatermark(ts_col, delay)
    return df
