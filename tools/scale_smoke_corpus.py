#!/usr/bin/env python3
"""Corpus-stack scale smoke (VERDICT r4 #4): replicate the sf0.1
documents/embeddings tables N× with perturbation, run the composed
curation pipeline and SemDeDup end-to-end, and report wall time + REAL
shuffle sizes (from Spark's REST status API) so the Σ|bucket|² / "one
shuffle per stage" claims in SCALE.md are measurements, not arguments.

Usage:  python tools/scale_smoke_corpus.py [factor] [sf_dir]
        (defaults: 10 /root/testdata/sf0.1)

Replica mix per source document (replica 0 keeps the original id/text):
  k in 1..3  exact copies           -> exercises the exact-dedup gate
  k in 4..9  near-duplicates        -> exercises minhash/LSH/Jaccard
             (one appended marker token: ~identical 3-gram sets)
Embedding replicas perturb one coordinate so directions differ slightly
(scaling alone would be cosine-invariant).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

os.environ.setdefault("SPARK_GRAFT_UI", "true")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def shuffle_totals(spark) -> tuple[int, int]:
    """(shuffle_write_bytes, shuffle_read_bytes) summed over all stages
    so far, from the UI REST API — the same numbers the Spark UI shows."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/stages") as r:
        stages = json.load(r)
    return (
        sum(s.get("shuffleWriteBytes", 0) for s in stages),
        sum(s.get("shuffleReadBytes", 0) for s in stages),
    )


def skew_smoke(n_docs: int = 50_000) -> None:
    """`--skew [n]`: the hot-bucket guard measurement behind SCALE.md's
    planted-clique row — n identical docs form one bucket per band
    (4·C(n,2) pair rows uncapped; ~5e9 at n=50k), and the guarded
    operator must emit exactly the n−1 anchor-star pairs in seconds."""
    from pyspark.sql import functions as F

    from etl_sber_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from etl_sber_spark.session import get_spark

    spark = get_spark("skew-smoke")
    boiler = (
        "terms of service all rights reserved contact us privacy policy "
        "cookie settings about careers press blog help center sitemap"
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"), F.lit(boiler).alias("text")
    )
    sig = minhash_signatures(docs).localCheckpoint()
    sig.count()  # isolate signature build from the guarded join
    t0 = time.perf_counter()
    n_pairs = lsh_candidate_pairs(sig).count()
    dt = time.perf_counter() - t0
    assert n_pairs == n_docs - 1, (n_pairs, n_docs)
    print(
        json.dumps(
            {
                "skew_docs": n_docs,
                "uncapped_pair_rows": 4 * n_docs * (n_docs - 1) // 2,
                "guarded_pairs": n_pairs,
                "guarded_sec": round(dt, 2),
            }
        )
    )
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--skew":
        skew_smoke(int(sys.argv[2]) if len(sys.argv) > 2 else 50_000)
        return
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from etl_sber_spark.operators.curate import curate_corpus
    from etl_sber_spark.operators.semdedup import semdedup
    from etl_sber_spark.session import get_spark

    spark = get_spark("scale-smoke")

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    big = (
        d.select(
            "*",
            F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("k"),
        )
        .select(
            (F.col("doc_id") + F.col("k") * F.lit(10_000_000)).alias("doc_id"),
            F.when(F.col("k") <= 3, F.col("text"))
            .otherwise(F.concat(F.col("text"), F.lit(" rep"), F.col("k")))
            .alias("text"),
        )
        .repartition(32)
        .localCheckpoint()  # freeze inputs so phases don't re-derive them
    )
    n_docs = big.count()

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    big_e = (
        e.select(
            "*",
            F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("k"),
        )
        .select(
            (F.col("vec_id") + F.col("k") * F.lit(10_000_000)).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> CAST(x + CASE WHEN i = 0 "
                "THEN k * 0.01 ELSE 0.0 END AS FLOAT))"
            ).alias("embedding"),
        )
        .repartition(32)
        .localCheckpoint()
    )
    n_vecs = big_e.count()

    results: dict[str, dict] = {}

    def phase(name, fn):
        w0, r0 = shuffle_totals(spark)
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        w1, r1 = shuffle_totals(spark)
        results[name] = {
            "sec": round(dt, 2),
            "shuffle_write_mb": round((w1 - w0) / 1e6, 1),
            "shuffle_read_mb": round((r1 - r0) / 1e6, 1),
            "out": out,
        }
        print(f"[{name}] {results[name]}", file=sys.stderr)

    phase(
        "curate_corpus",
        lambda: {
            r["drop_reason"]: r["count"]
            for r in curate_corpus(big)
            .groupBy("drop_reason")
            .count()
            .collect()
        },
    )
    phase(
        "curate_transitive",
        lambda: curate_corpus(big, transitive=True)
        .filter(F.col("drop_reason").isNull())
        .count(),
    )
    phase(
        "semdedup",
        lambda: semdedup(big_e)
        .agg(
            F.sum(F.col("is_kept").cast("long")).alias("kept"),
            F.count(F.lit(1)).alias("rows"),
        )
        .collect()[0]
        .asDict(),
    )

    print(
        json.dumps(
            {
                "factor": factor,
                "sf_dir": sf_dir,
                "n_docs": n_docs,
                "n_vecs": n_vecs,
                "phases": results,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
