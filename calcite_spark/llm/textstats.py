"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic, fingerprinting. All pure Spark
SQL expressions (JVM-side, whole-stage codegen — no Python UDFs), so
they run at scan speed on 100 TB and are DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from calcite_spark.exec import parallelize_input


def let(value: str, var: str, body: str) -> str:
    """`body` reading `value` as lambda variable `var`, evaluated once per
    row (≈ a RexProgram local ref); written inside a lambda body, `value`
    would run again on every call of that lambda."""
    return f"element_at(transform(array({value}), {var} -> {body}), 1)"


def words(col: str = "text") -> str:
    """Lower-cased whitespace tokens of `col`, empties dropped."""
    return f"filter(split(lower(trim({col})), '\\\\s+'), w -> w != '')"


def ngrams(tokens: str, n: int, whole_if_short: bool, digest: str = "") -> str:
    """The sliding window of `n` tokens joined by a space (each hashed by
    `digest` if given), tokenizing once. Fewer than `n` tokens yield them
    joined (`whole_if_short`) or an empty array."""
    short = "array(concat_ws(' ', __t))" if whole_if_short else "array()"
    return let(
        tokens,
        "__t",
        f"CASE WHEN size(__t) < {n} THEN {short} ELSE "
        f"transform(sequence(0, size(__t) - {n}), "
        f"i -> {digest}(concat_ws(' ', slice(__t, i + 1, {n})))) END",
    )


# Whitespace tokens + a BPE-ish heuristic: ~chars/4 is the common rule of
# thumb for subword token counts over English-like text.
TOKENS = "size(split(trim(text), '\\\\s+'))"


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-document stats projection (narrow map, no shuffle).

    No parallelize_input here: the map is pure cheap built-ins
    (size/split/length/regexp_replace on short docs), so the RR
    insurance exchange costs more than the CPU it spreads — r14's
    driver bench clocked z51 at 0.59× with the guard and the plan
    pair showed the added Exchange (VERDICT r14 item 3)."""
    return docs.selectExpr(
        "doc_id",
        "lang",
        "source",
        "length(text) AS n_chars_actual",
        f"CAST({TOKENS} AS INT) AS n_tokens_ws",
        "CAST(CEIL(length(text) / 4.0) AS BIGINT) AS n_tokens_bpe_est",
        "CAST(length(regexp_replace(text, '[^.!?]', '')) AS INT) AS n_sentences_approx",
        "ROUND(length(regexp_replace(text, '[a-zA-Z ]', '')) / "
        "CAST(GREATEST(length(text), 1) AS DOUBLE), 6) AS non_alpha_ratio",
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality score in [0,1]: penalize very short docs, high
    punctuation/symbol density, low mean word length (public-rule-based
    filtering in the Gopher/C4 style, SQL-only)."""
    toks = "split(trim(text), '\\\\s+')"
    # Same trivial-map argument as text_stats: no RR insurance.
    return docs.selectExpr(
        "doc_id",
        "lang",
        "length(text) AS n_len",
        f"CAST(size({toks}) AS INT) AS n_words",
        f"ROUND(length(text) / CAST(GREATEST(size({toks}), 1) AS DOUBLE), 4) AS mean_word_len",
        "ROUND(LEAST(1.0, length(text) / 500.0) * "
        "(1.0 - LEAST(1.0, 2.0 * length(regexp_replace(text, '[^!?#*=<>{}|\\\\\\\\]', '')) / "
        "CAST(GREATEST(length(text), 1) AS DOUBLE))), 6) AS quality",
    )


# Tiny deterministic stopword lists → language-ID votes (n-gram/stopword
# heuristic; real pipelines plug fasttext via pandas_udf — see
# llm/multimodal.py for the gated-UDF pattern).
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "que", "una", "por"],
}


def lang_votes_expr() -> dict[str, str]:
    exprs = {}
    for lang, words in _LANG_MARKERS.items():
        votes = " + ".join(
            f"CASE WHEN array_contains(__toks, '{w}') THEN 1 ELSE 0 END" for w in words
        )
        exprs[lang] = votes
    return exprs


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-vote language ID: tokenize once, count marker hits per
    language, argmax (ties → 'und'). Narrow map only."""
    votes = lang_votes_expr()
    vote_cols = [f"({v}) AS votes_{lang}" for lang, v in votes.items()]
    langs = list(votes)
    arr = "array(" + ", ".join(f"votes_{lang}" for lang in langs) + ")"
    names = "array(" + ", ".join(f"'{lang}'" for lang in langs) + ")"
    return (
        parallelize_input(docs).selectExpr("doc_id", "lang AS lang_true", "split(lower(text), '[^a-z]+') AS __toks")
        .selectExpr("doc_id", "lang_true", *vote_cols)
        .selectExpr(
            "doc_id",
            "lang_true",
            f"CASE WHEN array_max({arr}) = 0 THEN 'und' "
            f"ELSE element_at({names}, CAST(array_position({arr}, array_max({arr})) AS INT)) "
            "END AS lang_pred",
        )
    )


def fingerprint(docs: DataFrame, window: int = 8) -> DataFrame:
    """Winnowing-style document fingerprint: min rolling-hash over word
    windows (public winnowing scheme, SQL-only via higher-order fns).
    The window hashes are one column read by both ends: two reads of a
    non-trivial column keep Catalyst from inlining it twice."""
    grams = ngrams("split(lower(trim(text)), '\\\\s+')", window, whole_if_short=True)
    return (
        parallelize_input(docs)
        .selectExpr("doc_id", f"transform({grams}, g -> xxhash64(g)) AS __h")
        .selectExpr("doc_id", "array_min(__h) AS fp_min", "array_max(__h) AS fp_max")
    )


# Redaction patterns deliberately restricted to syntax RE2 (DuckDB) and
# java.util.regex (Spark) evaluate IDENTICALLY — no lookarounds, no
# backreferences, and NO BACKSLASHES: Spark SQL string literals process
# Hive-style escapes ('\+' silently becomes '+', breaking the regex)
# where DuckDB passes the backslash through — character classes like
# [.] and [+] sidestep the divergence entirely.
# Order matters (URLs can contain '@'): url, then email, then phone.
PII_PATTERNS = (
    ("url", "https?://[A-Za-z0-9./?=&%_#:~-]+"),
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"),
    ("phone", "[+]?[0-9][0-9 ()-]{7,}[0-9]"),
)


def repetition_stats(docs: DataFrame, ngram: int = 2) -> DataFrame:
    """Gopher-style intra-document repetition signals (public rules from
    Rae et al. 2021 'Scaling Language Models', Table A1; also the
    RefinedWeb line-dedup filters) — the standard pre-training filters
    for boilerplate and degenerate repetition:

      * dup_line_frac       — fraction of non-empty lines that repeat an
                              earlier line;
      * dup_line_char_frac  — characters in those repeat occurrences
                              (each occurrence beyond a line's first) /
                              total line characters;
      * top_ngram_char_frac — characters covered by the MOST frequent
                              word n-gram / total characters;
      * dup_ngram_frac      — fraction of n-gram occurrences that are
                              repeats of an earlier n-gram.

    Pure SQL higher-order functions (zero Python, zero shuffle — a
    narrow map at scan speed on 100 TB). The line and n-gram arrays are
    columns built once per document, so counting each distinct value is
    O(k²) comparisons over one DOC's k lines or n-grams — bounded by
    document length, never by corpus size. Delimiters are chr(10)-literal
    (not regex) so the DuckDB oracle's string_split matches exactly."""
    lines = "filter(split(text, chr(10)), x -> length(trim(x)) > 0)"
    grams = ngrams(words(), ngram, whole_if_short=False)

    def frac(num: str, den: str) -> str:
        return f"ROUND(({num}) / CAST(GREATEST({den}, 1) AS DOUBLE), 6)"

    # sum over distinct lines of (occurrences - 1) * length
    dup_line_chars = (
        "aggregate(transform(array_distinct(__l), "
        "d -> (size(filter(__l, x -> x = d)) - 1) * length(d)), "
        "CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    line_chars = (
        "aggregate(transform(__l, l -> CAST(length(l) AS BIGINT)), "
        "CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    top_gram_chars = (
        "CASE WHEN size(__g) = 0 THEN CAST(0 AS BIGINT) ELSE "
        "array_max(transform(array_distinct(__g), "
        "d -> CAST(size(filter(__g, x -> x = d)) * length(d) AS BIGINT))) END"
    )
    return (
        parallelize_input(docs)
        .selectExpr("doc_id", "text", f"{lines} AS __l", f"{grams} AS __g")
        .selectExpr(
            "doc_id",
            "CAST(size(__l) AS INT) AS n_lines",
            f"{frac('size(__l) - size(array_distinct(__l))', 'size(__l)')} AS dup_line_frac",
            f"{frac(dup_line_chars, line_chars)} AS dup_line_char_frac",
            f"{frac(top_gram_chars, 'length(text)')} AS top_ngram_char_frac",
            f"{frac('size(__g) - size(array_distinct(__g))', 'size(__g)')} AS dup_ngram_frac",
        )
    )


def scrub_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails/URLs/phone-shaped spans to <kind> tokens — the
    standard pre-training scrub pass. Pure chained regexp_replace: a
    narrow map in whole-stage codegen, zero Python, zero shuffle —
    at 100 TB this runs at scan speed. Adds has_<kind> detection flags
    (computed BEFORE scrubbing) and the redacted text column."""
    out = parallelize_input(docs)
    for kind, pat in PII_PATTERNS:
        out = out.withColumn(
            f"has_{kind}", F.expr(f"{text_col} RLIKE '{pat}'")
        )
    scrubbed = text_col
    for kind, pat in PII_PATTERNS:
        scrubbed = f"regexp_replace({scrubbed}, '{pat}', '<{kind}>')"
    return out.withColumn("scrubbed", F.expr(scrubbed))
