"""Deduplication operators for large-scale training-data pipelines.

No Calcite counterpart (Calcite stops at DISTINCT); designed from public
dedup literature (MinHash/LSH à la Broder; SimHash à la Charikar) as
Spark-first plans:

* exact_dedup       — hash-groupBy on a content digest (one shuffle).
* minhash_lsh_dups  — shingle → K minhashes → B bands → self-join on
                      (band, band-signature). The ONLY join is on band
                      buckets, so candidate generation is linear-ish, not
                      the quadratic all-pairs: the classic scale path.
* simhash_dups      — 64-bit SimHash; exact-hash match is the
                      deterministic, oracle-checkable core.
* simhash_near_dups — Hamming-distance-k matching via bit-flip banding
                      (k+1 pigeonhole bands → equi-join, recall 1.0).

All hashing is built on Spark SQL's built-in `md5`/`crc32`/`xxhash64`
(JVM-side, codegen'd — no Python in the hot path). Determinism matters:
md5 gives identical digests in DuckDB, making the dedup queries
oracle-checkable, which a seeded-random minhash would not be.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from calcite_spark.exec import parallelize_input
from calcite_spark.llm.textstats import ngrams

# Fixed salts make the K hash functions h_i(x) = md5(i || x) deterministic
# and reproducible in any engine with md5 (DuckDB oracle included).
DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4


def normalize_text(col: str = "text"):
    """Canonical form for content hashing: lowercase, collapse whitespace."""
    return f"regexp_replace(lower(trim({col})), '\\\\s+', ' ')"


def exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    digest: str = "md5",
) -> DataFrame:
    """Exact dedup: digest(normalized text) → keep min id per digest.
    One hash-shuffle on the digest; at 100 TB the digest groupBy is the
    canonical map-side-combinable pattern (partial min per partition).
    digest="md5" (default) keeps the pipeline DuckDB-oracle-replayable
    (z50); digest="xxhash64" is the production path — 8-byte longs on
    the shuffle instead of 32-char hex strings. NOTE: a 64-bit digest
    has birthday collisions around ~4B distinct documents; at that
    corpus size prefer md5 (128-bit) or rerank within groups.

    No RR parallelize-insurance here (unlike the HOF-heavy minhash /
    simhash stages): the map is one md5 + one regexp pass — plain
    cheap built-ins, the z51 class. r15 A/B at sf0.1
    (scripts/dedup_rr_ab.py, interleaved, noop min-of-7): with RR
    0.879 s vs without 0.317 s — the insurance shuffle is 2.8× pure
    cost; the same probe measured RR 8-10× FASTER for the minhash
    signature and simhash folds, so those keep it."""
    if digest not in ("md5", "xxhash64"):
        raise ValueError(f"unknown digest {digest!r}")
    digest = f"{digest}({normalize_text(text_col)})"
    return (
        docs.selectExpr(f"{digest} AS content_hash", id_col)
        .groupBy("content_hash")
        .agg(
            F.expr(f"MIN({id_col})").alias("keep_id"),
            F.expr("COUNT(*)").alias("n_copies"),
        )
    )


def shingles(text_expr: str, n: int = 5) -> str:
    """Word n-gram shingle array (SQL expression, JVM-side) over the
    space-split `text_expr`; a shorter text is one shingle."""
    return ngrams(f"split({text_expr}, ' ')", n, whole_if_short=True)


def minhash_signature(shingle_array_expr: str, num_hashes: int = DEFAULT_NUM_HASHES) -> str:
    """K deterministic minhashes as ONE fold over the shingles.

    Expression-shape matters: the shingle array appears exactly ONCE, so
    even after Catalyst's CollapseProject inlines stacked projections the
    tokenize/shingle pipeline is evaluated once per row — a nested
    `transform(sequence(0,K), i -> ...shingles...)` form re-evaluates it
    K times (measured 16× slower). Inner loop is zip_with over a
    K-element accumulator: h_i = xxhash64(xxhash64(shingle), i), i.e. one
    string hash per shingle + K cheap long hashes."""
    long_max = 9223372036854775807
    return (
        f"aggregate(transform({shingle_array_expr}, s -> xxhash64(s)), "
        f"array_repeat(CAST({long_max} AS BIGINT), {num_hashes}), "
        f"(acc, h) -> transform(acc, (m, i) -> least(m, xxhash64(h, i))))"
    )


def minhash_lsh_dups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 5,
) -> DataFrame:
    """Near-dup candidate pairs via MinHash + LSH banding.

    Plan shape (100 TB): signature computation is a narrow map; the
    explode to (doc, band) multiplies rows by `bands` (small constant);
    the self-join shuffles on (band_id, band_sig) — only docs agreeing on
    a full band collide, so the shuffle is keyed by high-selectivity
    buckets. Output: (a_id < b_id) candidate pairs with band vote count.
    """
    rows_per_band = num_hashes // bands
    norm = normalize_text(text_col)
    staged = parallelize_input(docs).selectExpr(
        f"{id_col} AS __id",
        f"{minhash_signature(shingles(norm, shingle_n), num_hashes)} AS __sig",
    )
    banded = staged.selectExpr(
        "__id",
        f"posexplode(transform(sequence(0, {bands - 1}), "
        f"b -> concat_ws(',', slice(__sig, b * {rows_per_band} + 1, {rows_per_band})))) "
        "AS (band_id, band_sig)",
    )
    # shuffle on the bucket key BEFORE the self-join: both join sides read
    # the SAME exchange (Spark ReuseExchange), so signatures are computed
    # once, not twice — and the join itself is then co-partitioned.
    banded = banded.repartition("band_id", "band_sig")
    a = banded.toDF("a_id", "band_id", "band_sig")
    b = banded.toDF("b_id", "band_id", "band_sig")
    return (
        a.join(b, on=["band_id", "band_sig"])
        .filter("a_id < b_id")
        .groupBy("a_id", "b_id")
        .agg(F.expr("COUNT(*)").alias("n_bands_agree"))
    )


def jaccard_ngram_sim(docs_a: DataFrame, pairs: DataFrame, text_col="text") -> DataFrame:
    """Verify candidate pairs with exact n-gram Jaccard (array_intersect /
    array_union over shingle sets) — the rerank step after LSH."""
    norm = normalize_text(text_col)
    sh = docs_a.selectExpr("doc_id", f"array_distinct({shingles(norm)}) AS sh")
    j = (
        pairs.join(sh.toDF("a_id", "sh_a"), on="a_id")
        .join(sh.toDF("b_id", "sh_b"), on="b_id")
        .selectExpr(
            "a_id",
            "b_id",
            "ROUND(size(array_intersect(sh_a, sh_b)) / "
            "CAST(size(array_union(sh_a, sh_b)) AS DOUBLE), 6) AS jaccard",
        )
    )
    return j


def simhash64(text_expr: str, ngram: int = 3) -> str:
    """64-bit SimHash over word n-grams, pure SQL: per bit, sum +1/-1
    votes of each shingle's xxhash64 bit, take sign. Single fold over the
    shingles (the shingle expr appears once — see minhash_signature note
    on CollapseProject), accumulating 64 vote counters indexed by bit,
    then one final pass folds the sign bits into a long."""
    sh = shingles(text_expr, ngram)
    votes = (
        f"aggregate(transform({sh}, s -> xxhash64(s)), "
        "array_repeat(CAST(0 AS BIGINT), 64), "
        "(acc, h) -> transform(acc, "
        "(v, b) -> v + CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1 ELSE -1 END))"
    )
    return (
        f"aggregate(transform({votes}, "
        "(v, b) -> CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), b) "
        "ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def simhash_dups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Documents sharing an identical 64-bit SimHash (strong near-dup
    signal for short docs). GroupBy on the hash — one shuffle."""
    return (
        parallelize_input(docs)
        .selectExpr(f"{simhash64(normalize_text(text_col))} AS simhash", id_col)
        .groupBy("simhash")
        .agg(
            F.expr(f"MIN({id_col})").alias("keep_id"),
            F.expr("COUNT(*)").alias("n_copies"),
        )
        .filter("n_copies > 1")
    )


def simhash_near_dups(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-dups within Hamming distance k (the bit-flip banding
    the exact-match simhash_dups defers to): split the 64-bit hash into
    k+1 bands — two hashes within distance k must agree on at least one
    FULL band (pigeonhole), so candidate generation is a band-bucket
    equi-join with guaranteed recall 1.0, then the exact popcount(XOR)
    rerank filters to true <= k pairs. Same single-exchange self-join
    shape as minhash_lsh_dups; no all-pairs anywhere.

    Output: (a_id, b_id, hamming) with a_id < b_id, hamming <= k.
    """
    n_bands = k + 1
    width = 64 // n_bands
    sigs = parallelize_input(docs).selectExpr(
        f"{id_col} AS __id",
        f"{simhash64(normalize_text(text_col))} AS __sim",
    )
    # band b = bits [b*width, (b+1)*width); the LAST band absorbs the
    # 64 % n_bands remainder so every bit is covered by some band
    # coalesce(-1): band_val is null only when __sim is (null text). A
    # provably non-null join key stops the optimizer pushing an
    # isnotnull(band_val) filter below the projection, which re-inlined
    # and re-evaluated the ENTIRE 64-step simhash fold per row (r15
    # plan check). Two null-text rows now meet at band_val -1, but
    # their hamming = bit_count(NULL ^ NULL) is NULL, which the
    # `hamming <= k` rerank drops — output identical for every input.
    banded = sigs.selectExpr(
        "__id",
        "__sim",
        f"explode(sequence(0, {n_bands - 1})) AS band_id",
    ).selectExpr(
        "__id",
        "__sim",
        "band_id",
        f"coalesce(CASE WHEN band_id = {n_bands - 1} THEN shiftright(__sim, band_id * {width}) "
        f"ELSE shiftright(__sim, band_id * {width}) & {(1 << width) - 1} END, -1) AS band_val",
    )
    banded = banded.repartition("band_id", "band_val")  # ReuseExchange
    a = banded.toDF("a_id", "a_sim", "band_id", "band_val")
    b = banded.toDF("b_id", "b_sim", "band_id", "band_val")
    # the rerank keeps hamming <= k; spelled with a coalesce so a NULL
    # hamming (null-text pair meeting at the -1 sentinel band) is
    # dropped WITHOUT letting InferFiltersFromConstraints derive
    # isnotnull(__sim) — that inferred filter re-evaluated the whole
    # 64-step simhash fold per row below the join (r15 plan check;
    # survivors always have non-null hamming, so output is identical)
    return (
        a.join(b, on=["band_id", "band_val"])
        .filter("a_id < b_id")
        .select("a_id", "b_id", F.expr("bit_count(a_sim ^ b_sim)").alias("hamming"))
        .filter(f"coalesce(hamming, {k + 1}) <= {k}")
        .distinct()
    )


def embedding_cosine_dups(
    vectors: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int = 16,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine >= threshold).

    Scale path (default): L independent hyperplane-LSH tables (explode
    over table id; each table's planes are salted by the table index via
    the deterministic xxhash weights) → self-join on (table, bucket) →
    exact cosine rerank. Recall grows with n_tables (union of L bucket
    collisions), cost stays linear-ish in rows; no all-pairs join.

    exact=True runs the O(n^2) all-pairs form — the oracle/validation
    baseline ONLY (it is the plan LSH exists to avoid at 100 TB).

    Output: (a_id, b_id, cosine_sim) with a_id < b_id.
    """
    from calcite_spark.llm.similarity import _cos_pre, _norm, hyperplane_bucket_expr

    # norms hoisted to a per-row projection (r14): _cos re-ran both norm
    # folds per PAIR; hoisting is bit-identical (same folds, same
    # multiply/divide order) and the 8-byte norm rides the exchange
    # instead of two 64-element folds per candidate pair
    cos = f"ROUND({_cos_pre('a_vec', 'b_vec', 'a_nrm', 'b_nrm')}, 6)"
    if exact:
        a = vectors.selectExpr(
            f"{id_col} AS a_id", f"{vec_col} AS a_vec", f"{_norm(vec_col)} AS a_nrm"
        )
        b = vectors.selectExpr(
            f"{id_col} AS b_id", f"{vec_col} AS b_vec", f"{_norm(vec_col)} AS b_nrm"
        )
        return (
            a.join(b, F.expr("a_id < b_id"))
            .selectExpr("a_id", "b_id", f"{cos} AS cosine_sim")
            .filter(f"cosine_sim >= {threshold}")
        )
    # table t uses planes [t*n_planes, (t+1)*n_planes): a parameterized
    # plane_expr, not post-hoc string surgery (ADVICE r2). Buckets are
    # computed over the RENAMED column (__vec) — the original vec_col is
    # out of scope after the projection below.
    bexpr = hyperplane_bucket_expr(
        "__vec", n_planes, dim, plane_expr=f"tbl * {n_planes} + p"
    )
    # coalesce(-1): same argument as simhash_near_dups' band_val — the
    # non-null key removes the pushed isnotnull(bucket) filter that
    # re-evaluated the whole hyperplane fold per row. A null vector
    # buckets to 0, not NULL (its NULL plane sums fail `> 0`); its pairs
    # have a NULL cosine, which the `cosine_sim >= threshold` rerank drops.
    bucketed = parallelize_input(vectors).selectExpr(
        f"{id_col} AS __id",
        f"{vec_col} AS __vec",
        f"{_norm(vec_col)} AS __nrm",
        f"explode(sequence(0, {n_tables - 1})) AS tbl",
    ).selectExpr("__id", "__vec", "__nrm", "tbl", f"coalesce({bexpr}, -1) AS bucket")
    bucketed = bucketed.repartition("tbl", "bucket")  # ReuseExchange
    a = bucketed.toDF("a_id", "a_vec", "a_nrm", "tbl", "bucket")
    b = bucketed.toDF("b_id", "b_vec", "b_nrm", "tbl", "bucket")
    return (
        a.join(b, on=["tbl", "bucket"])
        .filter("a_id < b_id")
        .selectExpr("a_id", "b_id", f"{cos} AS cosine_sim")
        .distinct()  # pair may collide in several tables; cosine is a
        # pure function of the pair, so distinct on the 3 scalar
        # columns dedups without shuffling the vectors themselves
        .filter(f"cosine_sim >= {threshold}")
    )


def streaming_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    within_watermark: bool = True,
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each content digest
    passes, later copies are dropped while their digest is in state.

    Same digest as the batch `exact_dedup` (md5 over normalized text) so
    a pipeline can mix batch backfill and streaming ingest and agree on
    what "duplicate" means.

    Scale posture: `within_watermark=True` (the default) uses
    `dropDuplicatesWithinWatermark`, whose per-key state is EVICTED once
    the watermark passes a key's last-seen event time — state stays
    O(distinct keys per watermark window), the only shape that survives
    an unbounded 100 TB/day stream. `within_watermark=False` is classic
    `dropDuplicates` (exact global dedup, state grows with total
    distinct keys forever) — kept for bounded replay jobs, caveat
    documented here rather than hidden.
    """
    hashed = stream.selectExpr(
        "*", f"md5({normalize_text(text_col)}) AS content_hash"
    ).withWatermark(ts_col, watermark)
    if within_watermark:
        return hashed.dropDuplicatesWithinWatermark(["content_hash"])
    return hashed.dropDuplicates(["content_hash"])
