"""Quality bounds for approximate operators: approximation is only
useful if its error is bounded — these tests pin recall/error envelopes
on the driver testdata (deterministic hash families → stable numbers).
"""

from __future__ import annotations

import re

import pytest

from calcite_spark.llm.dedup import jaccard_ngram_sim, minhash_lsh_dups
from calcite_spark.llm.similarity import brute_force_topk, lsh_bucketed_topk
from calcite_spark.queries.inventory import catalog_for
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def cat(spark):
    return catalog_for(spark, SF_DIR)


def test_lsh_knn_recall_vs_bruteforce(spark, cat):
    emb = cat.table("embeddings").select("vec_id", "embedding")
    queries = emb.filter("vec_id < 10").selectExpr("vec_id AS q_id", "embedding AS q_vec")
    dim = len(emb.select("embedding").first()[0])
    exact = {
        (r.q_id, r.vec_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.q_id, r.vec_id)
        for r in lsh_bucketed_topk(emb, queries, k=5, n_planes=4, dim=dim).collect()
    }
    # the query vector itself (cos=1) must always be found: it shares its
    # own bucket by construction
    self_hits = {(q, q) for q in range(10)}
    assert self_hits <= approx
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"LSH recall collapsed: {recall}"


def test_approx_count_distinct_error(spark, cat):
    orders = cat.table("orders")
    got = orders.selectExpr(
        "approx_count_distinct(o_custkey) AS approx",
        "COUNT(DISTINCT o_custkey) AS exact",
    ).collect()[0]
    assert abs(got.approx - got.exact) / got.exact < 0.05


def test_minhash_candidates_are_actually_similar(spark, cat):
    docs = cat.table("documents")
    pairs = minhash_lsh_dups(docs)
    verified = jaccard_ngram_sim(docs, pairs)
    rows = verified.collect()
    if not rows:
        pytest.skip("no near-dup candidates at this SF")
    sims = [r.jaccard for r in rows]
    # banding with 4 bands of 4 hashes targets ~J>0.7 pairs; candidates
    # must skew high-similarity (precision, not an exact threshold)
    frac_good = sum(s >= 0.5 for s in sims) / len(sims)
    assert frac_good >= 0.8, f"minhash candidate precision too low: {frac_good}"


@pytest.fixture(scope="module")
def planted_docs(spark, cat):
    """Driver testdata has no exact dups at small SFs (r1/r2 tests
    silently skipped) — union locally planted duplicates so dedup
    quality tests always exercise the positive path: doc 9001 is a
    byte-copy of doc 1, doc 9002 a whitespace/case variant of doc 2
    (same normalized form), doc 9003 a near-copy of doc 3 (one word
    swapped — NOT an exact dup)."""
    docs = cat.table("documents").select("doc_id", "text", "lang")
    base = {r.doc_id: r for r in docs.filter("doc_id IN (1, 2, 3)").collect()}
    near = " ".join(
        w if i != 3 else "zzz" for i, w in enumerate(base[3].text.split(" "))
    )
    planted = spark.createDataFrame(
        [
            (9001, base[1].text, base[1].lang),
            (9002, "  " + base[2].text.upper() + "  ", base[2].lang),
            (9003, near, base[3].lang),
        ],
        "doc_id bigint, text string, lang string",
    )
    return docs.unionByName(planted)


def test_exact_dedup_finds_planted_dups(spark, planted_docs):
    """Exact dedup must find the byte-copy AND the normalization variant
    (lowercase + whitespace collapse), must NOT merge the one-word edit,
    and every multi-copy group verifies as identical normalized text."""
    from calcite_spark.llm.dedup import exact_dedup, normalize_text

    groups = exact_dedup(planted_docs)
    dups = {r.keep_id: r.n_copies for r in groups.filter("n_copies > 1").collect()}
    assert dups.get(1) == 2, dups  # 1 + byte-copy 9001
    assert dups.get(2) == 2, dups  # 2 + case/whitespace variant 9002
    assert 3 not in dups  # one-word edit is NOT an exact dup
    # verify a group end-to-end: identical normalized text
    h = (
        groups.filter("keep_id = 2").first().content_hash
    )
    texts = (
        planted_docs.selectExpr(
            f"{normalize_text()} AS t", f"md5({normalize_text()}) AS h"
        )
        .filter(f"h = '{h}'")
        .collect()
    )
    assert len(texts) == 2 and len({r.t for r in texts}) == 1


def test_simhash_near_dups_planted(spark, planted_docs):
    """simhash_near_dups must equal the brute-force answer EXACTLY:
    banding is pigeonhole-complete (recall 1.0 for hamming <= k) and the
    popcount rerank kills every false candidate (precision 1.0). The
    planted byte-copies guarantee the positive path is exercised
    (hamming 0 pairs exist by construction)."""
    from calcite_spark.llm.dedup import normalize_text, simhash64, simhash_near_dups

    k = 3
    got = {(r.a_id, r.b_id): r.hamming for r in simhash_near_dups(planted_docs, k=k).collect()}
    assert got.get((1, 9001)) == 0, got  # planted byte-copy found
    assert got.get((2, 9002)) == 0, got  # planted normalization variant found
    # brute-force oracle over all pairs, driver-side
    hashes = [
        (r.doc_id, r.h & ((1 << 64) - 1))
        for r in planted_docs.selectExpr(
            "doc_id", f"{simhash64(normalize_text('text'))} AS h"
        ).collect()
    ]
    expected = {}
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            (ia, ha), (ib, hb) = hashes[i], hashes[j]
            d = bin(ha ^ hb).count("1")
            if d <= k:
                expected[(min(ia, ib), max(ia, ib))] = d
    assert got == expected


def test_embedding_cosine_dups_planted(spark, cat):
    """embedding_cosine_dups: a planted near-identical vector pair must
    be found by BOTH the exact baseline and the multi-table LSH path
    (cos≈1 ⇒ per-plane agreement ≈1 ⇒ table recall ≈1), and the LSH
    candidate set must stay a subset of the exact answer."""
    from calcite_spark.llm.dedup import embedding_cosine_dups

    emb = cat.table("embeddings").select("vec_id", "embedding")
    first = emb.first()
    tweaked = [float(x) + (0.001 if i == 0 else 0.0) for i, x in enumerate(first.embedding)]
    planted = spark.createDataFrame(
        [(99001, tweaked)], "vec_id bigint, embedding array<double>"
    )
    vecs = emb.selectExpr("vec_id", "CAST(embedding AS array<double>) AS embedding").unionByName(
        planted
    )
    kw = dict(threshold=0.9, dim=64, n_planes=3, n_tables=8)
    lsh = {(r.a_id, r.b_id) for r in embedding_cosine_dups(vecs, **kw).collect()}
    exact = {
        (r.a_id, r.b_id)
        for r in embedding_cosine_dups(vecs, threshold=0.9, exact=True).collect()
    }
    assert (first.vec_id, 99001) in exact
    assert (first.vec_id, 99001) in lsh
    assert lsh <= exact  # rerank keeps only true >= threshold pairs


def test_ivf_topk_recall(spark, cat):
    from calcite_spark.llm.similarity import brute_force_topk, ivf_build, ivf_topk

    emb = cat.table("embeddings").select("vec_id", "embedding")
    queries = emb.filter("vec_id < 10").selectExpr("vec_id AS q_id", "embedding AS q_vec")
    assigned, centroids = ivf_build(emb, n_clusters=8)
    exact = {(r.q_id, r.vec_id) for r in brute_force_topk(emb, queries, k=5).collect()}
    approx = {
        (r.q_id, r.vec_id)
        for r in ivf_topk(assigned, centroids, queries, k=5, n_probe=4).collect()
    }
    # probing half the lists must recover most true neighbors, and the
    # query vector itself (its own list is always the nearest centroid)
    assert {(q, q) for q in range(10)} <= approx
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_ivf_deterministic_recall_and_stability(spark, cat):
    """The snapshot-oracle tier (qx17): deterministic seed-centroid IVF
    must (a) recover most true neighbors at n_probe=4/16, (b) always find
    the query itself, and (c) be run-to-run identical — the property the
    driver snapshot relies on."""
    from calcite_spark.llm.similarity import (
        brute_force_topk,
        ivf_build_deterministic,
        ivf_topk,
    )

    emb = cat.table("embeddings").select("vec_id", "embedding")
    queries = emb.filter("vec_id < 10").selectExpr("vec_id AS q_id", "embedding AS q_vec")
    assigned, centroids = ivf_build_deterministic(emb, n_clusters=16)
    exact = {(r.q_id, r.vec_id) for r in brute_force_topk(emb, queries, k=5).collect()}
    run1 = sorted(
        (r.q_id, r.vec_id, r.cosine_sim, r.rk)
        for r in ivf_topk(assigned, centroids, queries, k=5, n_probe=4).collect()
    )
    approx = {(q, v) for q, v, _, _ in run1}
    assert {(q, q) for q in range(10)} <= approx
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"deterministic IVF recall too low: {recall}"
    assigned2, centroids2 = ivf_build_deterministic(
        emb.repartition(7), n_clusters=16
    )
    assert centroids2 == centroids
    run2 = sorted(
        (r.q_id, r.vec_id, r.cosine_sim, r.rk)
        for r in ivf_topk(assigned2, centroids2, queries, k=5, n_probe=4).collect()
    )
    assert run1 == run2  # bit-stable under a different partitioning


def test_int8_quantization_error_and_recall(spark, cat):
    from calcite_spark.llm.similarity import (
        dequantize_int8,
        quantize_int8,
        quantized_topk,
    )

    emb = cat.table("embeddings").select("vec_id", "embedding")
    quant = quantize_int8(emb)
    # codes stay in the symmetric int8 range
    bad = quant.selectExpr(
        "exists(q_vec, v -> v > 127 OR v < -127) AS oob"
    ).filter("oob").count()
    assert bad == 0
    # round-trip error per element is bounded by half a quantization step
    deq = dequantize_int8(quant).withColumnRenamed("embedding", "dq")
    joined = emb.join(deq, "vec_id").join(quant.select("vec_id", "q_scale"), "vec_id")
    max_err = joined.selectExpr(
        "aggregate(zip_with(embedding, dq, (x, y) -> abs(CAST(x AS DOUBLE) - y)), "
        "CAST(0.0 AS DOUBLE), (m, v) -> greatest(m, v)) / q_scale AS steps"
    ).agg({"steps": "max"}).collect()[0][0]
    assert max_err <= 0.5 + 1e-9

    # top-5 recall vs exact brute force: int8 perturbs only near-ties
    queries = emb.filter("vec_id < 10").selectExpr(
        "vec_id AS q_id", "embedding AS q_vec"
    )
    exact = {(r.q_id, r.vec_id) for r in brute_force_topk(emb, queries, k=5).collect()}
    quantized = {
        (r.q_id, r.vec_id) for r in quantized_topk(emb, queries, k=5).collect()
    }
    recall = len(exact & quantized) / len(exact)
    assert recall >= 0.8, f"int8 recall too low: {recall}"


def test_scrub_pii_planted(spark):
    from calcite_spark.llm.textstats import scrub_pii

    docs = spark.createDataFrame(
        [
            (1, "contact me at jane.doe@example.com or +1 555 123-4567 today"),
            (2, "see https://example.com/a?b=c#frag for details"),
            (3, "clean text with no identifiers at all"),
        ],
        "doc_id BIGINT, text STRING",
    )
    out = {r.doc_id: r for r in scrub_pii(docs).collect()}
    assert "<email>" in out[1].scrubbed and "<phone>" in out[1].scrubbed
    assert "jane.doe" not in out[1].scrubbed and "555" not in out[1].scrubbed
    assert out[1].has_email and out[1].has_phone and not out[1].has_url
    assert out[2].scrubbed == "see <url> for details"
    assert out[3].scrubbed == out[3].text
    assert not (out[3].has_email or out[3].has_url or out[3].has_phone)


def test_repetition_stats_planted(spark):
    """Hand-computed Gopher repetition fractions on planted docs."""
    from calcite_spark.llm.textstats import repetition_stats

    docs = spark.createDataFrame(
        [
            # 4 lines, 'dup line' repeats 3x: dup_line_frac = 2/4;
            # repeat chars = 2*8, line chars = 3*8 + 6 = 30
            (1, "dup line\ndup line\ndup line\nunique"),
            # all lines distinct, but 'a b' bigram dominates:
            # words = a b a b a -> bigrams [a b, b a, a b, b a]
            # top gram 'a b' 2 occurrences * 3 chars = 6 over 9 chars;
            # dup_ngram_frac = (4 - 2) / 4
            (2, "a b a b a"),
            # degenerate: single word, no bigrams, one line
            (3, "solo"),
            # empty-ish: whitespace only -> zero lines, all fracs 0
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(docs, ngram=2).collect()}
    r1 = rows[1]
    assert r1.n_lines == 4
    assert r1.dup_line_frac == pytest.approx(0.5)
    assert r1.dup_line_char_frac == pytest.approx(16 / 30, abs=1e-6)
    r2 = rows[2]
    assert r2.dup_line_frac == 0.0
    assert r2.top_ngram_char_frac == pytest.approx(6 / 9, abs=1e-6)
    assert r2.dup_ngram_frac == pytest.approx(0.5)
    r3 = rows[3]
    assert (r3.n_lines, r3.dup_ngram_frac, r3.top_ngram_char_frac) == (1, 0.0, 0.0)
    r4 = rows[4]
    assert (r4.n_lines, r4.dup_line_frac, r4.dup_line_char_frac) == (0, 0.0, 0.0)


def test_ngram_decontaminate_planted(spark):
    """A doc sharing a 5-gram run with the benchmark is flagged; the
    overlap count equals the number of DISTINCT shared 5-grams; clean
    docs survive with n_overlap 0."""
    from calcite_spark.llm.decontam import ngram_decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            # contains 'quick brown fox jumps over' and the next two
            # shifted 5-grams -> 3 distinct shared grams
            (1, "he said quick brown fox jumps over the lazy cat"),
            # no 5-gram in common
            (2, "completely different words in this training document"),
            # shorter than 5 words -> empty gram set, kept
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in ngram_decontaminate(docs, bench, n=5, min_overlap=2).collect()
    }
    assert out[1].n_overlap == 3 and out[1].contaminated
    assert out[2].n_overlap == 0 and not out[2].contaminated
    assert out[3].n_overlap == 0 and not out[3].contaminated


def test_decontaminate_xxhash64_digest_matches_md5(spark):
    """The production digest (xxhash64 longs) flags exactly the same
    documents with the same overlap counts as the oracle digest (md5
    hex): the digest only names n-grams, it never changes set
    membership."""
    from calcite_spark.llm.decontam import ngram_decontaminate

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.where("doc_id % 20 != 0")
    bench = docs.where("doc_id % 20 = 0")
    a = ngram_decontaminate(corpus, bench, n=5, min_overlap=3).orderBy("doc_id")
    b = ngram_decontaminate(
        corpus, bench, n=5, min_overlap=3, digest="xxhash64"
    ).orderBy("doc_id")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="digest"):
        ngram_decontaminate(corpus, bench, digest="sha1")


def test_exact_dedup_xxhash64_digest_matches_md5(spark):
    from calcite_spark.llm.dedup import exact_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = sorted(
        (r.keep_id, r.n_copies) for r in exact_dedup(docs).collect()
    )
    b = sorted(
        (r.keep_id, r.n_copies)
        for r in exact_dedup(docs, digest="xxhash64").collect()
    )
    assert a == b


# NULL, empty, whitespace-only, fewer-than-n, exactly-n (n = 2, 3, 5, 8)
# and whitespace-run texts; \s is ASCII in both Java and re.ASCII
_GRAM_TEXTS = [
    None, "", " ", "   ", "\t", " \t\n ", "solo", "Alpha beta", "x y z",
    "one two three four", "one two three four five", "a b c d e f g h",
    "one  two\tthree\n\nfour five six", "  Lead  and  TRAIL  ",
    "w w w w w w w w w", "a b a b a b a b a b a b",
]


def _split(s, regex):
    # Spark's split(s, regex) is Java's String.split(regex, -1)
    return re.split(regex, s, flags=re.ASCII)


def _windows(toks, n, whole_if_short):
    if len(toks) < n:
        return [" ".join(toks)] if whole_if_short else []
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def test_ngram_builder_matches_a_python_sliding_window(spark):
    """Each call site of the one n-gram builder, with its own tokenizer
    and short-document branch, yields exactly the sliding window a plain
    Python loop yields: dedup.shingles (normalize, split on ' ', short
    text = one shingle), decontam's digests (words, short = empty),
    fingerprint (split on \\s+, short = one gram) and repetition_stats
    (words, short = empty)."""
    import hashlib

    from calcite_spark.llm.decontam import _gram_expr
    from calcite_spark.llm.dedup import normalize_text, shingles
    from calcite_spark.llm.textstats import fingerprint, repetition_stats

    docs = spark.createDataFrame(list(enumerate(_GRAM_TEXTS)), "doc_id long, text string")
    texts = dict(enumerate(_GRAM_TEXTS))
    # size(NULL) is NULL under ANSI (a NULL document then has NULL
    # grams) and -1 otherwise (the short branch over no tokens)
    null_is_short = spark.sql("SELECT size(CAST(NULL AS ARRAY<STRING>))").first()[0] is not None

    def trim(s):
        return s.strip(" ")  # Spark's trim strips spaces only

    def shingle_toks(s):
        return _split(re.sub(r"\s+", " ", trim(s).lower(), flags=re.ASCII), " ")

    def words(s):
        return [w for w in _split(trim(s).lower(), r"\s+") if w != ""]

    def fp_toks(s):
        return _split(trim(s).lower(), r"\s+")

    def expect(tokenize, n, whole_if_short):
        return {
            i: None if t is None and not null_is_short
            else _windows([] if t is None else tokenize(t), n, whole_if_short)
            for i, t in texts.items()
        }

    def column(expr):
        return {r[0]: r[1] for r in docs.selectExpr("doc_id", f"{expr} AS g").collect()}

    def xxhash(grams):
        df = spark.createDataFrame(list(grams.items()), "doc_id long, g array<string>")
        return {r[0]: r[1] for r in df.selectExpr("doc_id", "transform(g, w -> xxhash64(w))").collect()}

    for n in (3, 5):
        assert column(shingles(normalize_text("text"), n)) == expect(shingle_toks, n, True), n
    for n in (2, 5):
        want = expect(words, n, False)
        assert column(_gram_expr("text", n, "md5")) == {
            i: None if g is None else [hashlib.md5(w.encode()).hexdigest() for w in g]
            for i, g in want.items()
        }, n
        assert column(_gram_expr("text", n, "xxhash64")) == xxhash(want), n
    for window in (3, 8):
        hashes = xxhash(expect(fp_toks, window, True))
        got = {r.doc_id: (r.fp_min, r.fp_max) for r in fingerprint(docs, window).collect()}
        assert got == {
            i: (None, None) if h is None else (min(h), max(h)) for i, h in hashes.items()
        }, window
    for n in (2, 3):
        got = {
            r.doc_id: (r.top_ngram_char_frac, r.dup_ngram_frac)
            for r in repetition_stats(docs, ngram=n).collect()
        }
        for i, g in expect(words, n, False).items():
            if g is None:
                assert got[i] == (None, None), i
                continue
            top = max((g.count(d) * len(d) for d in set(g)), default=0)
            assert got[i] == (
                pytest.approx(top / max(len(texts[i] or ""), 1), abs=1e-6),
                pytest.approx((len(g) - len(set(g))) / max(len(g), 1), abs=1e-6),
            ), (i, n)


def test_lsh_topk_drops_null_vectors(spark):
    """A NULL vector lands in hyperplane bucket 0 with a NULL cosine; it
    must not take a top-k slot when its bucket is thin."""
    import itertools

    from calcite_spark.llm.similarity import hyperplane_bucket_expr

    planes, dim = 2, 4
    candidates = spark.createDataFrame(
        [([float(x) for x in v],) for v in itertools.product((-1, 1, 2), repeat=dim)],
        "v array<double>",
    )
    v = candidates.filter(f"{hyperplane_bucket_expr('v', planes, dim)} = 0").first().v
    corpus = spark.createDataFrame(
        [(1, None), (2, v)], "vec_id int, embedding array<double>"
    )
    queries = spark.createDataFrame([(0, v)], "q_id int, q_vec array<double>")
    got = lsh_bucketed_topk(corpus, queries, k=5, n_planes=planes, dim=dim)
    assert [tuple(r) for r in got.collect()] == [(0, 2, 1.0, 1)]
