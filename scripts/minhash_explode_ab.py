"""A/B: minhash signature via interpreted HOF fold (current form A) vs
explode + codegen'd min aggregates (form C). Form C must produce
BIT-IDENTICAL signatures (asserted on every row) — it computes the same
xxhash64(xxhash64(s), i) family, just as 16 declarative MIN aggregates
over exploded shingle-hash rows instead of a per-row lambda fold.

Usage: python scripts/minhash_explode_ab.py [n_reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from calcite_spark.catalog import open_catalog
from calcite_spark.exec import parallelize_input
from calcite_spark.llm.dedup import (
    DEFAULT_BANDS,
    DEFAULT_NUM_HASHES,
    minhash_lsh_dups,
    minhash_signature,
    normalize_text,
    shingles,
)
from calcite_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
K = DEFAULT_NUM_HASHES
B = DEFAULT_BANDS
R = K // B


def sig_a(docs):
    """Current form: one HOF fold, K-array accumulator."""
    norm = normalize_text("text")
    return parallelize_input(docs).selectExpr(
        "doc_id AS __id",
        f"{minhash_signature(shingles(norm, 5), K)} AS __sig",
    )


def sig_c(docs):
    """Explode form: shingle hashes as rows, K codegen'd MIN aggregates."""
    norm = normalize_text("text")
    ex = parallelize_input(docs).selectExpr(
        "doc_id AS __id",
        f"explode(transform({shingles(norm, 5)}, s -> xxhash64(s))) AS __h",
    )
    return ex.groupBy("__id").agg(
        *[F.expr(f"min(xxhash64(__h, {i}))").alias(f"__s{i}") for i in range(K)]
    )


def pairs_c(docs):
    """Full z55 pipeline on top of form C signatures."""
    sig = sig_c(docs)
    band_cols = ", ".join(
        "concat_ws(',', " + ", ".join(f"__s{b * R + j}" for j in range(R)) + ")"
        for b in range(B)
    )
    banded = sig.selectExpr(
        "__id", f"posexplode(array({band_cols})) AS (band_id, band_sig)"
    )
    banded = banded.repartition("band_id", "band_sig")
    a = banded.toDF("a_id", "band_id", "band_sig")
    b = banded.toDF("b_id", "band_id", "band_sig")
    return (
        a.join(b, on=["band_id", "band_sig"])
        .filter("a_id < b_id")
        .groupBy("a_id", "b_id")
        .agg(F.expr("COUNT(*)").alias("n_bands_agree"))
    )


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    spark = get_spark("minhash_explode_ab")
    cat = open_catalog(spark, SF_DIR)
    docs = cat.table("documents")

    # ---- value identity: every row, every hash ----
    a_rows = {r["__id"]: list(r["__sig"]) for r in sig_a(docs).collect()}
    c_rows = {
        r["__id"]: [r[f"__s{i}"] for i in range(K)] for r in sig_c(docs).collect()
    }
    assert set(a_rows) == set(c_rows), (
        f"id sets differ: {len(a_rows)} vs {len(c_rows)}"
    )
    n_bad = sum(1 for k in a_rows if a_rows[k] != c_rows[k])
    assert n_bad == 0, f"{n_bad} rows differ"
    print(f"signature identity: {len(a_rows)} rows bit-identical", flush=True)

    # full-pipeline identity
    cur = {
        (r["a_id"], r["b_id"]): r["n_bands_agree"]
        for r in minhash_lsh_dups(docs).collect()
    }
    new = {(r["a_id"], r["b_id"]): r["n_bands_agree"] for r in pairs_c(docs).collect()}
    assert cur == new, f"pair sets differ: {len(cur)} vs {len(new)}"
    print(f"pipeline identity: {len(cur)} pairs identical", flush=True)

    # ---- interleaved timing, min-of-N ----
    # signature-only
    ta, tc = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        noop(sig_a(docs))
        ta.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        noop(sig_c(docs))
        tc.append(time.perf_counter() - t0)
    print(f"sig-only  A(HOF fold) min={min(ta):.3f}s  C(explode+agg) min={min(tc):.3f}s")

    # full pipeline
    tA, tC = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        noop(minhash_lsh_dups(docs))
        tA.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        noop(pairs_c(docs))
        tC.append(time.perf_counter() - t0)
    print(
        f"pipeline  A min={min(tA):.3f}s  C min={min(tC):.3f}s  "
        f"loadavg={[round(x, 2) for x in os.getloadavg()]}"
    )


if __name__ == "__main__":
    main()
