"""Composed training-data pipeline: the individual LLM ops
(quality scoring, language ID, exact dedup, token accounting) chained
as ONE declarative DataFrame DAG — the shape a real corpus build runs
nightly. Mirrors how the standalone ops compose rather than introducing
new semantics: every stage is the same public-rule logic as its
standalone module (textstats.quality_score / lang_id, dedup.exact_dedup),
inlined so Catalyst fuses the narrow maps into one codegen stage.

100 TB shape: stages 1-3 are narrow maps (zero shuffle); dedup is ONE
hash shuffle on the 128-bit content digest (window keep-first — the
same map-side-combinable pattern as exact_dedup, but keeping the text
columns alongside without a self-join back); the report is one
map-side-combinable aggregate over the deduped survivors. Total: two
shuffles for the whole pipeline, both on compact keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from calcite_spark.exec import sort_result
from calcite_spark.llm.dedup import normalize_text
from calcite_spark.llm.textstats import lang_votes_expr


def training_pipeline(
    docs: DataFrame, min_quality: float = 0.2
) -> DataFrame:
    """Quality-gate → language-ID → exact-dedup (keep lowest doc_id per
    content hash) → per-language corpus report: documents kept,
    duplicates dropped, whitespace-token budget, mean quality. Returns
    one row per predicted language, the corpus card a data curator
    reads before a training run."""
    toks = "split(trim(text), '\\\\s+')"
    quality = (
        "ROUND(LEAST(1.0, length(text) / 500.0) * "
        "(1.0 - LEAST(1.0, 2.0 * length(regexp_replace(text, "
        "'[^!?#*=<>{}|\\\\\\\\]', '')) / "
        "CAST(GREATEST(length(text), 1) AS DOUBLE))), 6)"
    )
    votes = lang_votes_expr()
    langs = list(votes)
    vote_cols = [f"({v}) AS votes_{lang}" for lang, v in votes.items()]
    arr = "array(" + ", ".join(f"votes_{lang}" for lang in langs) + ")"
    names = "array(" + ", ".join(f"'{lang}'" for lang in langs) + ")"
    scored = (
        docs.selectExpr(
            "doc_id",
            "text",
            f"{quality} AS quality",
            f"CAST(size({toks}) AS BIGINT) AS n_tokens_ws",
        )
        .filter(f"quality >= {min_quality}")
        .selectExpr(
            "doc_id",
            "quality",
            "n_tokens_ws",
            f"{normalize_text('text')} AS __norm",
            "split(lower(text), '[^a-z]+') AS __toks",
        )
        .selectExpr(
            "doc_id", "quality", "n_tokens_ws", "md5(__norm) AS content_hash",
            *vote_cols,
        )
        .selectExpr(
            "doc_id",
            "quality",
            "n_tokens_ws",
            "content_hash",
            f"CASE WHEN array_max({arr}) = 0 THEN 'und' "
            f"ELSE element_at({names}, CAST(array_position({arr}, "
            f"array_max({arr})) AS INT)) END AS lang_pred",
        )
    )
    # keep-first dedup WITHOUT a join back: one window shuffle on the
    # digest carries the survivor decision alongside the row
    deduped = scored.selectExpr(
        "*",
        "row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS __rn",
    )
    report = (
        deduped.groupBy("lang_pred")
        .agg(
            # survivors vs duplicates from the SAME pass — the report
            # shows what dedup dropped without a second scan
            F.expr(
                "CAST(SUM(CASE WHEN __rn = 1 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_docs_kept"),
            F.expr(
                "CAST(SUM(CASE WHEN __rn > 1 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_dupes_dropped"),
            F.expr(
                "CAST(SUM(CASE WHEN __rn = 1 THEN n_tokens_ws ELSE 0 END) "
                "AS BIGINT)"
            ).alias("tokens_ws"),
            F.expr(
                "ROUND(AVG(CASE WHEN __rn = 1 THEN quality END), 6)"
            ).alias("mean_quality"),
        )
    )
    return sort_result(report, "lang_pred")
