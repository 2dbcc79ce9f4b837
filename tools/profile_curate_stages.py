#!/usr/bin/env python3
"""Attribute the composed curate phase stage-by-stage (r11, after the
1000× e2e named curate the next decade's bound: 53.6 → 176 → 1044 s at
100/300/1000× — exponent ~1.5 over the top range — while its shuffle
bytes grew only linearly, and the driver log carried GCLocker
allocation-stall warnings).

Method: replicate the e2e's flow (inbox → crawl ingest at mft=8 →
serving build → curate with the serving-layout semantic stage), then
read the attribution Spark already keeps: every completed stage's
executorRunTime / GC time / spill / shuffle, with the PYTHON CALL SITE
from the stage details (curate.py / dedup.py / semdedup.py line
numbers), plus executor-level GC-time deltas sampled around the curate
phase. No product code is touched — the numbers are the engine's own.

Usage: python tools/profile_curate_stages.py [factor] [sf_dir]
Prints one JSON line; per-stage table on stderr.
"""
from __future__ import annotations

import json
import os
import re
import sys
import time
import urllib.request

os.environ.setdefault("SPARK_GRAFT_UI", "true")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

N_FILES = 8


def _api(path: str):
    with urllib.request.urlopen(f"http://localhost:4040/api/v1/{path}") as r:
        return json.loads(r.read())


def _app_id() -> str:
    return _api("applications")[0]["id"]


def _gc_ms(app: str) -> int:
    return sum(e.get("totalGCTime", 0) for e in _api(f"applications/{app}/executors"))


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    import tempfile

    from pyspark.sql import functions as F

    from etl_sber_spark.operators.annindex import (
        materialize_ivf_assignments,
        save_ivf_index,
        suggest_n_lists,
    )
    from etl_sber_spark.operators.curate import curate_corpus
    from etl_sber_spark.operators.inference import embed_texts
    from etl_sber_spark.operators.quantize import quantize_embeddings
    from etl_sber_spark.operators.similarity import kmeans_centroids
    from etl_sber_spark.session import get_spark
    from etl_sber_spark.sinks.warehouse import Warehouse
    from etl_sber_spark.streaming.crawl import stream_crawl_increments
    from tools.scale_smoke_corpus_e2e import main as _unused  # noqa: F401
    import tools.scale_smoke_corpus_e2e as e2e

    spark = get_spark("curate-stages")
    app = _app_id()
    tmp = tempfile.mkdtemp(prefix="curate_prof_")
    out: dict = {"factor": factor}
    try:
        # ---- inbox + crawl (mft=8: the profiled phase is curate) ----
        import glob as _glob
        import shutil as _shutil

        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        pages = (
            d.select(
                "*",
                F.explode(
                    F.sequence(F.lit(0), F.lit(factor - 1))
                ).alias("k"),
            )
            .select(
                (
                    F.col("doc_id")
                    + F.col("k").cast("bigint") * F.lit(10_000_000)
                ).alias("doc_id"),
                F.concat(
                    F.lit("https://site"),
                    F.pmod(F.col("doc_id"), F.lit(997)),
                    F.lit(".example.com/p/"),
                    F.col("doc_id")
                    + F.col("k").cast("bigint") * F.lit(10_000_000),
                ).alias("url"),
                F.concat(
                    F.lit(
                        "<html><head><title>t</title></head><body><p>"
                    ),
                    F.when(F.col("k") <= 3, F.col("text"))
                    .when(
                        F.col("k") <= 6,
                        F.concat(
                            F.col("text"), F.lit(" rep"), F.col("k")
                        ),
                    )
                    .otherwise(
                        F.concat(
                            F.lit("variant"),
                            F.col("k"),
                            F.lit(" "),
                            F.col("text"),
                        )
                    ),
                    F.lit("</p></body></html>"),
                ).alias("html"),
            )
        )
        inbox = os.path.join(tmp, "inbox")
        os.makedirs(inbox)
        with tempfile.TemporaryDirectory() as stg:
            (
                pages.withColumn(
                    "fidx", F.pmod(F.col("doc_id"), F.lit(N_FILES))
                )
                .write.mode("overwrite")
                .partitionBy("fidx")
                .json(stg)
            )
            for i in range(N_FILES):
                with open(
                    os.path.join(inbox, f"crawl_{i:02d}.jsonl"), "wb"
                ) as dst:
                    for p in sorted(
                        _glob.glob(
                            os.path.join(stg, f"fidx={i}", "part-*")
                        )
                    ):
                        with open(p, "rb") as src:
                            _shutil.copyfileobj(src, dst)
        wh = Warehouse(spark, os.path.join(tmp, "wh"))
        q = stream_crawl_increments(
            spark, inbox, wh, os.path.join(tmp, "ck"),
            max_files_per_trigger=N_FILES,
        )
        q.awaitTermination()
        docs = (
            wh.read("crawl_pages")
            .filter(F.col("drop_reason").isNull())
            .select("doc_id", "text")
            .localCheckpoint()
        )
        n_docs = docs.count()
        out["n_docs"] = n_docs

        # ---- serving build (same sizing as the e2e) -----------------
        def tail_encoder(texts):
            import hashlib

            res = []
            for t in texts:
                if t is None:
                    res.append(None)
                    continue
                dg = hashlib.md5(t[-48:].encode()).digest()
                res.append([float(b) + 1.0 for b in dg])
            return res

        emb = embed_texts(docs, id_col="doc_id", encoder=tail_encoder)
        train_mod = max(1, n_docs // 50_000)
        k = suggest_n_lists(n_docs, n_docs // train_mod)
        cents = kmeans_centroids(
            emb, k, 2, "doc_id", "embedding", train_mod=train_mod
        ).localCheckpoint()
        save_ivf_index(wh, cents)
        serving = quantize_embeddings(
            materialize_ivf_assignments(emb, cents, "doc_id"),
            keep_original=False,
            norm_col="q_norm",
        ).localCheckpoint()
        serving.count()
        out["n_clusters"] = k

        # ---- the profiled phase: curate -----------------------------
        stages_before = {
            s["stageId"] for s in _api(f"applications/{app}/stages")
        }
        skip_composed = os.environ.get("CURATE_PROF_SKIP_COMPOSED") == "1"
        gc0 = _gc_ms(app)
        t0 = time.perf_counter()
        curated = None if skip_composed else curate_corpus(
            docs,
            embeddings=serving,
            emb_id_col="doc_id",
            semantic_centroids=cents,
            semantic_threshold=0.99,
        ).localCheckpoint()
        if curated is not None:
            funnel = {
                str(r["drop_reason"]): r["count"]
                for r in curated.groupBy("drop_reason").count().collect()
            }
            wall = round(time.perf_counter() - t0, 2)
            gc1 = _gc_ms(app)
            out["curate_sec"] = wall
            out["curate_gc_sec"] = round((gc1 - gc0) / 1000, 1)
            out["funnel"] = funnel

        # ---- spine: the same body, forced eagerly step by step ------
        # (mirrors curate_corpus's internals with the REAL operators;
        # pin() is lazy inside the composed call, so per-stage walls
        # are only measurable by replaying the spine with eager
        # checkpoints — the step sum approximates the composed wall,
        # and each step names its scaling term)
        from etl_sber_spark.functions.text import (
            doc_fingerprint,
            lang_id,
            quality_score,
            token_count,
        )
        from etl_sber_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
            ngram_jaccard,
            shingles,
        )
        from etl_sber_spark.operators.semdedup import semdedup_serving
        from etl_sber_spark.operators.spread import spread

        spine: dict[str, float] = {}
        spine_stages: dict[str, dict] = {}
        _seen = {s["stageId"] for s in _api(f"applications/{app}/stages")}

        def step(name, fn):
            s0 = time.perf_counter()
            r = fn()
            spine[name] = round(time.perf_counter() - s0, 2)
            # per-step stage attribution (r11): sum the engine's own
            # metrics over the stages this step completed, so a step's
            # wall decomposes into run/GC/spill/shuffle without
            # guessing from call sites
            new = [
                s
                for s in _api(f"applications/{app}/stages?status=complete")
                if s["stageId"] not in _seen
            ]
            _seen.update(s["stageId"] for s in new)
            spine_stages[name] = {
                "n_stages": len(new),
                "run_s": round(
                    sum(s.get("executorRunTime", 0) for s in new) / 1000, 1
                ),
                "gc_s": round(
                    sum(s.get("jvmGcTime", 0) for s in new) / 1000, 1
                ),
                "spill_mb": round(
                    sum(s.get("diskBytesSpilled", 0) for s in new) / 1e6
                ),
                "shuf_r_mb": round(
                    sum(s.get("shuffleReadBytes", 0) for s in new) / 1e6
                ),
                "shuf_w_mb": round(
                    sum(s.get("shuffleWriteBytes", 0) for s in new) / 1e6
                ),
            }
            print(
                f"  [spine:{name}] {spine[name]}s {spine_stages[name]}",
                file=sys.stderr,
            )
            return r

        cheap = (
            F.when(~F.col("cur_lang").isin("en", "ru"), F.lit("lang"))
            .when(F.col("cur_n_tokens") < 5, F.lit("too_short"))
            .when(F.col("cur_quality") < 0.4, F.lit("quality"))
        )
        annotated = step(
            "annotate_ckpt",
            lambda: spread(docs)
            .select(
                "*",
                lang_id("text").alias("cur_lang"),
                token_count("text").alias("cur_n_tokens"),
                quality_score("text").alias("cur_quality"),
                doc_fingerprint("text").alias("cur_fingerprint"),
            )
            .withColumn("_cheap_reason", cheap)
            .localCheckpoint(eager=True),
        )
        clean = annotated.filter(F.col("_cheap_reason").isNull())
        keepers = clean.groupBy("cur_fingerprint").agg(
            F.min("doc_id").alias("_keep_id")
        )
        exact_drops = step(
            "exact_drops",
            lambda: clean.join(keepers, "cur_fingerprint")
            .filter(F.col("doc_id") != F.col("_keep_id"))
            .select(F.col("doc_id").alias("_drop_id"))
            .localCheckpoint(eager=True),
        )
        survivors = clean.join(
            exact_drops,
            clean["doc_id"] == exact_drops["_drop_id"],
            "left_anti",
        )
        sh = step(
            "shingles_ckpt",
            lambda: shingles(survivors, "doc_id", "text").localCheckpoint(
                eager=True
            ),
        )
        near_drops = step(
            "clique_verify",
            lambda: ngram_jaccard(
                survivors,
                lsh_candidate_pairs(
                    minhash_signatures(survivors, "doc_id", "text", sh=sh)
                ),
                "doc_id",
                "text",
                sh=sh,
            )
            .filter(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
                >= 0.8
            )
            .select(F.col("id_b").alias("_drop_id"))
            .distinct()
            .localCheckpoint(eager=True),
        )
        lex_ids = survivors.join(
            near_drops,
            survivors["doc_id"] == near_drops["_drop_id"],
            "left_anti",
        ).select("doc_id")
        emb_surv = serving.join(lex_ids, "doc_id", "left_semi")
        sem_drops = step(
            "semantic",
            lambda: semdedup_serving(
                emb_surv,
                cents,
                threshold=0.99,
                keep="farthest",
                id_col="doc_id",
                qnorm_col="q_norm",
            )
            .filter(~F.col("is_kept"))
            .select(F.col("doc_id").alias("_drop_id"))
            .localCheckpoint(eager=True),
        )
        step(
            "final_joins_funnel",
            lambda: (
                annotated.join(
                    exact_drops.withColumn("_e", F.lit(True)),
                    annotated["doc_id"] == exact_drops["_drop_id"],
                    "left",
                )
                .drop("_drop_id")
                .join(
                    near_drops.withColumn("_n", F.lit(True)),
                    annotated["doc_id"] == near_drops["_drop_id"],
                    "left",
                )
                .drop("_drop_id")
                .join(
                    sem_drops.withColumn("_s", F.lit(True)),
                    F.col("doc_id") == sem_drops["_drop_id"],
                    "left",
                )
                .select(
                    F.coalesce(
                        F.col("_cheap_reason"),
                        F.when(F.col("_e"), F.lit("exact_dup")),
                        F.when(F.col("_n"), F.lit("near_dup")),
                        F.when(F.col("_s"), F.lit("semantic_dup")),
                    ).alias("drop_reason")
                )
                .groupBy("drop_reason")
                .count()
                .collect()
            ),
        )
        out["spine"] = spine
        out["spine_sum"] = round(sum(spine.values()), 2)
        out["spine_stages"] = spine_stages

        # composed again, warm: separates cold-start (codegen, page
        # cache) from structural re-execution — if this reading tracks
        # the spine sum, the first composed reading's excess was
        # warmth, not the operator graph
        t0 = time.perf_counter()
        curated2 = curate_corpus(
            docs,
            embeddings=serving,
            emb_id_col="doc_id",
            semantic_centroids=cents,
            semantic_threshold=0.99,
        ).localCheckpoint()
        curated2.groupBy("drop_reason").count().collect()
        out["curate2_sec"] = round(time.perf_counter() - t0, 2)

        # ---- stage attribution --------------------------------------
        rows = []
        for s in _api(f"applications/{app}/stages?status=complete"):
            if s["stageId"] in stages_before:
                continue
            site = "?"
            for m in re.finditer(
                r"(\w+\.py):(\d+)", s.get("details", "")
            ):
                if m.group(1) not in ("scale_smoke_corpus_e2e.py",
                                      "profile_curate_stages.py"):
                    site = f"{m.group(1)}:{m.group(2)}"
                    break
            rows.append(
                {
                    "stage": s["stageId"],
                    "run_s": round(s.get("executorRunTime", 0) / 1000, 1),
                    "gc_s": round(s.get("jvmGcTime", 0) / 1000, 1),
                    "spill_mb": round(
                        s.get("diskBytesSpilled", 0) / 1e6
                    ),
                    "shuf_r_mb": round(
                        s.get("shuffleReadBytes", 0) / 1e6
                    ),
                    "shuf_w_mb": round(
                        s.get("shuffleWriteBytes", 0) / 1e6
                    ),
                    "in_mb": round(s.get("inputBytes", 0) / 1e6),
                    "name": s.get("name", "")[:40],
                    "site": site,
                }
            )
        rows.sort(key=lambda r: -r["run_s"])
        for r in rows[:20]:
            print(r, file=sys.stderr)
        out["top_stages"] = rows[:20]
        out["sum_run_s"] = round(sum(r["run_s"] for r in rows), 1)
        print(json.dumps(out))
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
