"""Similarity search over embedding columns (array<float>).

Two tiers, as a 100 TB design requires:

* brute_force_topk — exact cosine top-k: broadcast the (small) query set,
  score every row with JVM-side higher-order functions
  (aggregate/zip_with — NO Python in the loop), per-partition top-k via
  window rank. Cost: one pass over the corpus per query batch; this is
  the correctness baseline and already the right plan when the query set
  is small (the scan dominates, no shuffle of the corpus).

* lsh_bucketed_topk — approximate: random-hyperplane signs (deterministic
  seeded planes via xxhash64) bucket vectors; candidates only within the
  query's bucket (+ optional neighbor probes). Turns the all-pairs score
  into a bucket-equi-join — the scale path when queries are many.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "q_id",
    query_vec: str = "q_vec",
) -> DataFrame:
    """Exact top-k neighbors per query vector by cosine similarity."""
    corpus = corpus.selectExpr(
        corpus_id, corpus_vec, f"{_norm(corpus_vec)} AS __cn"
    )
    queries = queries.selectExpr(query_id, query_vec, f"{_norm(query_vec)} AS __qn")
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .selectExpr(
            query_id,
            corpus_id,
            f"ROUND({_cos_pre(corpus_vec, query_vec, '__cn', '__qn')}, 6) AS cosine_sim",
        )
        .selectExpr(
            query_id,
            corpus_id,
            "cosine_sim",
            f"row_number() OVER (PARTITION BY {query_id} "
            f"ORDER BY cosine_sim DESC, {corpus_id}) AS rk",
        )
        .filter(f"rk <= {k}")
    )
    return scored


def _dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm(a: str) -> str:
    return (
        f"SQRT(aggregate({a}, CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )


def _cos(a: str, b: str) -> str:
    return f"({_dot(a, b)} / ({_norm(a)} * {_norm(b)}))"


def _cos_pre(a: str, b: str, a_norm: str, b_norm: str) -> str:
    """Cosine with PRE-COMPUTED norms (r14): the higher-order-function
    folds are interpreted per element, and _cos paid both norm folds per
    PAIR — ~2/3 of the per-pair work for values that depend on one side
    only. Hoisting them to a per-row projection before the join keeps
    the arithmetic bit-identical (same folds, same multiply/divide
    order — snapshot oracles unaffected) and leaves only the dot per
    pair."""
    return f"({_dot(a, b)} / ({a_norm} * {b_norm}))"


def hyperplane_bucket_expr(
    vec: str, n_planes: int = 8, dim: int = 16, plane_expr: str = "p"
) -> str:
    """Deterministic random-hyperplane LSH bucket id (0..2^n_planes-1):
    plane p's weight for dimension d = a fixed pseudo-random ±1 from
    xxhash64(p, d) — reproducible across runs and engines.

    plane_expr selects which GLOBAL plane index plane p maps to (default
    the local index itself). Multi-table LSH passes e.g.
    'tbl * n_planes + p' so each table draws an independent plane family
    from the same hash stream — a parameter, not string surgery on the
    returned SQL (ADVICE r2)."""
    # sign bit for plane p: sum_d vec[d] * (hash(plane,d) bit ? +1 : -1) > 0
    plane_bit = (
        f"CASE WHEN aggregate(sequence(0, {dim - 1}), CAST(0.0 AS DOUBLE), "
        f"(acc, d) -> acc + CAST(element_at({vec}, d + 1) AS DOUBLE) * "
        f"CASE WHEN ((xxhash64(({plane_expr}) * 1024 + d) >> 3) & 1) = 1 THEN 1.0 ELSE -1.0 END) > 0 "
        "THEN shiftleft(CAST(1 AS BIGINT), p) ELSE CAST(0 AS BIGINT) END"
    )
    return (
        f"aggregate(sequence(0, {n_planes - 1}), CAST(0 AS BIGINT), "
        f"(bacc, p) -> bacc + {plane_bit})"
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 16,
) -> DataFrame:
    """Approximate top-k: bucket corpus and queries by hyperplane LSH,
    equi-join on bucket, exact cosine rerank within bucket."""
    bexpr = hyperplane_bucket_expr("embedding", n_planes, dim)
    qexpr = hyperplane_bucket_expr("q_vec", n_planes, dim)
    # DISTINCT per-side null sentinels (-1 corpus, -2 query): a NULL
    # bucket (null/short vector) used to be dropped by the inner join's
    # null semantics; a sentinel that exists on only ONE side matches
    # nothing, so the result is identical for every input — and the
    # now provably non-null key stops the optimizer pushing an
    # isnotnull(bucket) filter below the projection, which re-evaluated
    # the whole 8-plane bucket fold per row on BOTH sides (r15 plan
    # check: q80 had the duplicated fold in both scan-side Filters).
    c = corpus.selectExpr(
        "vec_id",
        "embedding",
        f"coalesce({bexpr}, -1) AS bucket",
        f"{_norm('embedding')} AS __cn",
    )
    q = queries.selectExpr(
        "q_id",
        "q_vec",
        f"coalesce({qexpr}, -2) AS bucket",
        f"{_norm('q_vec')} AS __qn",
    )
    return (
        c.join(F.broadcast(q), on="bucket")
        .selectExpr(
            "q_id",
            "vec_id",
            f"ROUND({_cos_pre('embedding', 'q_vec', '__cn', '__qn')}, 6) AS cosine_sim",
        )
        .selectExpr(
            "q_id",
            "vec_id",
            "cosine_sim",
            "row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, vec_id) AS rk",
        )
        .filter(f"rk <= {k}")
    )


def _centroid_argmax_expr(vec: str, centroids: list, vec_norm: str | None = None) -> str:
    """SQL expression assigning a row's vector to its nearest centroid by
    cosine — a pure narrow map (centroids inlined as literals), so IVF
    assignment costs ZERO shuffle at any scale. Ties break to the lowest
    cluster index (strict > keeps the first maximum).

    r15 shape (verdict recorded in OPTIMIZATION_r15.md and VERDICT.md;
    assignments asserted identical per row): each centroid's sim is computed ONCE (the old fold
    evaluated the full cosine twice per centroid — IF condition + result),
    each centroid's norm is a Python-computed literal (bit-identical:
    the same left-fold over the same doubles + IEEE sqrt — the same
    argument as ivf_topk's driver-side probe ranking), and the row norm
    is read from `vec_norm` when the caller pre-projects it. The sims
    are an UNROLLED array literal, not a transform over a centroid
    array: with `vec_norm` referenced once per centroid (16×),
    CollapseProject keeps the norm fold in its own projection instead
    of inlining it into a lambda evaluated per centroid. A(old) 0.527 s
    → 0.315 s noop min-of-7 at sf0.1."""
    import math

    nvec = vec_norm if vec_norm is not None else _norm(vec)
    cells = []
    for i, c in enumerate(centroids):
        v = "array(" + ",".join(f"CAST({x} AS DOUBLE)" for x in c) + ")"
        n = math.sqrt(sum(float(x) * float(x) for x in c))
        cells.append(
            f"named_struct('i', {i}, 's', "
            f"({_dot(vec, v)} / ({nvec} * CAST({n!r} AS DOUBLE))))"
        )
    arr = "array(" + ",".join(cells) + ")"
    # coalesce(..., -1): the argmax is null only for a NULL vector, and
    # -1 is already the unassignable marker (an all-NaN sim row keeps
    # the init struct's i = -1), so folding NULL into -1 is the same
    # contract — and a provably NON-NULL cluster means the downstream
    # equi-join no longer pushes an isnotnull(cluster) filter below
    # this projection. That filter DUPLICATED the whole argmax
    # (16 dot folds + 16 re-inlined norm folds) per row — the r15
    # qx17 plan pair shows the Filter gone; -1 never equals a probe's
    # centroid index, so join results are unchanged either way.
    return (
        f"coalesce(aggregate({arr}, "
        f"named_struct('i', -1, 's', CAST(-2.0 AS DOUBLE)), "
        f"(acc, c) -> IF(c.s > acc.s, c, acc)).i, -1)"
    )


def ivf_build_deterministic(
    corpus: DataFrame,
    n_clusters: int = 16,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
):
    """IVF index with DETERMINISTIC seed centroids: the first n_clusters
    corpus vectors (by id) are the centroids and rows Voronoi-assign to
    the nearest one — i.e. k-means with zero Lloyd iterations. Unlike
    `ivf_build` (pyspark.ml KMeans), results are bit-stable across
    session configs/partitionings (each row's assignment is an
    independent row-local computation — no cross-partition float
    accumulation), which the snapshot-oracle evidence path requires.
    Returns (assigned_corpus, centroids); same contract as ivf_build."""
    # first-by-id via sort+limit: ids may be sparse or offset (post-dedup
    # corpora rarely stay dense 0-based) — a `< n_clusters` filter would
    # silently yield an undersized or empty centroid list
    seeds = corpus.orderBy(corpus_id).limit(n_clusters).collect()
    centroids = [list(map(float, r[corpus_vec])) for r in seeds]  # bounded: n_clusters rows
    # row norm pre-projected once; the argmax references it per centroid
    # (see _centroid_argmax_expr on why that keeps the fold hoisted)
    pre = corpus.selectExpr(corpus_id, corpus_vec, f"{_norm(corpus_vec)} AS __vn")
    assigned = pre.selectExpr(
        corpus_id,
        corpus_vec,
        f"{_centroid_argmax_expr(corpus_vec, centroids, vec_norm='__vn')} AS cluster",
    )
    return assigned, centroids


def ivf_build(corpus: DataFrame, n_clusters: int = 16, seed: int = 42):
    """IVF index: k-means (pyspark.ml, JVM-side) partitions the corpus
    into inverted lists. Returns (assigned_corpus, centroids) where
    assigned_corpus has a `cluster` column — persist it partitioned by
    cluster at scale so a probe reads only its lists' files.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    vecs = corpus.withColumn("__v", array_to_vector("embedding"))
    model = KMeans(k=n_clusters, seed=seed, featuresCol="__v", predictionCol="cluster").fit(vecs)
    assigned = model.transform(vecs).drop("__v")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_topk(
    assigned: DataFrame,
    centroids: list,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Probe the n_probe nearest inverted lists per query, exact cosine
    rerank inside them. Plan: queries×centroids is driver-side tiny math
    (the centroid table is small by construction); the corpus side is hit
    with `cluster IN (...)` — partition pruning when the index is stored
    partitioned by cluster."""
    import math

    q_rows = queries.collect()  # query set is small by contract (broadcast side)
    spark = assigned.sparkSession
    probe_rows = []
    for r in q_rows:
        qv = list(map(float, r.q_vec))
        qn = math.sqrt(sum(x * x for x in qv)) or 1.0
        sims = []
        for ci, c in enumerate(centroids):
            cn = math.sqrt(sum(x * x for x in c)) or 1.0
            dot = sum(a * b for a, b in zip(qv, c))
            sims.append((dot / (qn * cn), ci))
        sims.sort(reverse=True)
        for _, ci in sims[:n_probe]:
            probe_rows.append((r.q_id, ci, qv))
    probes = spark.createDataFrame(
        probe_rows, "q_id bigint, cluster int, q_vec array<double>"
    )
    assigned = assigned.selectExpr("*", f"{_norm('embedding')} AS __cn")
    probes = probes.selectExpr("*", f"{_norm('q_vec')} AS __qn")
    return (
        assigned.join(F.broadcast(probes), on="cluster")
        .selectExpr(
            "q_id",
            "vec_id",
            f"ROUND({_cos_pre('embedding', 'q_vec', '__cn', '__qn')}, 6) AS cosine_sim",
        )
        .selectExpr(
            "q_id",
            "vec_id",
            "cosine_sim",
            "row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, vec_id) AS rk",
        )
        .filter(f"rk <= {k}")
    )


# ---------------------------------------------------------------------
# int8 quantization tier (r5)
# ---------------------------------------------------------------------


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: q = round(x * 127 / max|x|),
    stored with the per-vector scale (max|x| / 127). 4x memory and scan
    bandwidth vs float32 — at 100 TB the embedding column IS the scan
    cost, and the narrow-map quantize/dequantize stays in whole-stage
    codegen (zero Python, zero shuffle).

    Rounding is floor(v + 0.5) (HALF_UP) rather than round(): floor is
    bit-identical across engines on IEEE doubles, so the DuckDB oracle
    can replay the quantizer exactly. Cosine similarity is INVARIANT to
    the per-vector scale (it cancels), so quantized cosine ==
    dequantized cosine by construction.
    """
    mx = (
        f"aggregate({vec_col}, CAST(0.0 AS DOUBLE), "
        f"(m, x) -> greatest(m, abs(CAST(x AS DOUBLE))))"
    )
    return df.selectExpr(
        id_col,
        f"CAST({mx} / 127.0 AS DOUBLE) AS q_scale",
        f"transform({vec_col}, x -> CAST(floor("
        f"CAST(x AS DOUBLE) * 127.0 / greatest({mx}, 1e-30) + 0.5) "
        f"AS TINYINT)) AS q_vec",
    )


def dequantize_int8(
    df: DataFrame, id_col: str = "vec_id", out_col: str = "embedding"
) -> DataFrame:
    """(id, q_scale, q_vec) -> (id, double-array embedding)."""
    return df.selectExpr(
        id_col,
        f"transform(q_vec, v -> CAST(v AS DOUBLE) * q_scale) AS {out_col}",
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k over the int8-quantized corpus (full-precision
    queries): quantize -> dequantize -> brute-force cosine. Same plan
    shape as brute_force_topk; the quantization error only perturbs
    near-ties."""
    deq = dequantize_int8(
        quantize_int8(corpus, corpus_vec, corpus_id), corpus_id, corpus_vec
    )
    return brute_force_topk(deq, queries, k=k, corpus_id=corpus_id, corpus_vec=corpus_vec)
