"""Benchmark decontamination: flag training documents sharing word
n-grams with an evaluation/benchmark set — the standard pre-training
hygiene pass (public method: GPT-3 appendix C 13-gram filtering; the
Dolma/RedPajama decontamination recipes). Not a reference-repo
operator: part of this repo's LLM-pipeline tier.

Scale shape (the part that matters at 100 TB):
  * the BENCHMARK side is small (eval suites are MBs) — its distinct
    n-gram digests broadcast, so the probe join is map-side with zero
    shuffle of the corpus;
  * the corpus side is a narrow map (split → slide → digest) + explode,
    then ONE groupBy(doc_id) shuffle for the per-doc overlap count.
    The left join keeps every (doc_id, digest) row, but the groupBy's
    MAP-SIDE partial aggregation collapses them to ~one row per doc
    per partition before the exchange — the shuffle carries per-doc
    partial counts, not the exploded gram stream;
  * digests are md5 strings rather than raw n-grams so shuffled rows
    stay fixed-width — and md5 exists in BOTH engines, keeping the
    whole pipeline DuckDB-oracle-exact; digest="xxhash64" swaps in the
    production hash (Spark-only, 8-byte longs on the wire) when oracle
    parity is not needed — both digests yield identical overlap counts
    (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from calcite_spark.llm.textstats import ngrams, words


def _gram_expr(text_col: str, n: int, digest: str = "md5") -> str:
    """Word n-gram digests of `text_col` as an array expression.
    Tokenization is textstats.words; a doc with fewer than n words
    yields an empty array.
    digest="md5" (default) is replayable in DuckDB for the oracle path;
    digest="xxhash64" is the production path — a JVM 64-bit hash that
    skips hex-string materialization and shuffles 8-byte longs instead
    of 32-char strings. Measured A/B (SCALE.md r6): 1.5x on a per-row
    digest, but only ~1.03x on this gram stream locally — tokenize/
    slice/concat dominate the stage, so the local win is small; the
    real xxhash64 payoff at 100 TB is the 4x-narrower shuffle rows
    (network-bound there, CPU-bound here)."""
    if digest not in ("md5", "xxhash64"):
        raise ValueError(f"unknown digest {digest!r}")
    return ngrams(words(text_col), n, whole_if_short=False, digest=digest)


def ngram_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    min_overlap: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    digest: str = "md5",
) -> DataFrame:
    """Per training document: how many of its DISTINCT word n-grams
    appear anywhere in `benchmark`, and a contaminated flag when that
    count reaches `min_overlap`. Documents with no overlapping n-grams
    are kept (flag false, n_overlap 0) via the left join — filtering is
    the caller's `.filter(~contaminated)`."""
    from calcite_spark.exec import parallelize_input

    bench_grams = (
        benchmark.selectExpr(f"explode({_gram_expr(text_col, n, digest)}) AS g")
        .distinct()
    )
    # r14: tokenization + n-gram hashing is the expensive narrow map —
    # parallelism insurance for single-file local inputs (no-op when the
    # scan reads >= cores files, the 100 TB case)
    doc_grams = parallelize_input(docs).selectExpr(
        id_col,
        f"explode_outer(array_distinct({_gram_expr(text_col, n, digest)})) AS g",
    )
    overlap = (
        doc_grams.join(
            F.broadcast(bench_grams.withColumn("hit", F.lit(1))), "g", "left"
        )
        .groupBy(id_col)
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_overlap"))
    )
    return overlap.selectExpr(
        id_col,
        "CAST(n_overlap AS BIGINT) AS n_overlap",
        f"n_overlap >= {min_overlap} AS contaminated",
    )
