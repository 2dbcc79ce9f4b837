#!/usr/bin/env python3
"""End-to-end corpus dress rehearsal (VERDICT r8 #6): the measured
pieces composed ONCE, as a real training-data flow —

  crawl_ingest   stream_crawl_increments over a synthetic raw-page
                 JSONL inbox (HTML extract, URL canon + dedup vs the
                 persisted index)
  serving_build  embed the kept pages (deterministic stub encoder),
                 train the frozen quantizer, materialize the ANN
                 serving layout (centroid_id + SQ8, float DROPPED)
  curate         curate_corpus with the r9 SERVING-LAYOUT semantic
                 stage (semantic_centroids=) — lexical gates + exact +
                 near-dup + SemDeDup, float vectors never read
  pack           pack_documents / materialize_bins over the keepers
                 (concat-and-split, budget-token bins)
  export         export_packed: sharded parquet + manifest — the
                 trainer handoff

Per-phase wall + REAL shuffle bytes (Spark REST status API), the same
discipline as scale_smoke_pipeline.py, so the composed totals can be
reconciled against the per-operator SCALE.md rows.

Replica mix per source document (replica 0 keeps the original
id/text): k 1..3 exact copies (exact-dedup gate), k 4..6 near-dups
(one marker token; minhash/LSH/Jaccard gate), k >= 7 semantic
variants — marker-PREFIXED text that survives every lexical gate but
embeds identically under the tail-keyed stub encoder (the embedding
depends on the text's last 48 chars, which the prefix never touches),
so the serving-layout SemDeDup stage has real work at every factor
>= 8. Deterministic throughout — no RNG.

Usage:  python tools/scale_smoke_corpus_e2e.py [factor] [sf_dir] [mft]
        (defaults: 10 /root/testdata/sf0.1 1)

``mft`` = maxFilesPerTrigger for the crawl phase. 1 is the recorded
series (8 triggers — per-trigger floor visible); 8 folds the inbox
into one trigger, the measured sizing knob for the ingest floor
(VERDICT r11 #7 — keeper counts must be identical either way, and the
tool records mft in its JSON so SCALE.md rows are self-describing).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

os.environ.setdefault("SPARK_GRAFT_UI", "true")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from tools.scale_smoke_corpus import shuffle_totals  # noqa: E402

N_FILES = 8
PACK_BUDGET = 2048


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    mft = int(sys.argv[3]) if len(sys.argv) > 3 else 1

    # Scale-adaptive shuffle width: r12 moved the derivation INTO the
    # scan entry point (session.maybe_widen_partitions, applied by
    # session.read_parquet under Warehouse.read / load_table — VERDICT
    # r11 #6), so this tool no longer pre-sizes via
    # SPARK_GRAFT_INITIAL_PARTITIONS: the curate
    # spine self-sizes from the crawl_pages table's real bytes when
    # wh.read() first sees it. Exporting the env var still works and
    # takes precedence (the ratchet defers to explicit sizing).

    from pyspark.sql import functions as F

    from etl_sber_spark.operators.annindex import (
        PROBE_PARAMS,
        _probe_baselines,
        save_ivf_index,
        suggest_n_lists,
    )
    from etl_sber_spark.operators.curate import curate_corpus
    from etl_sber_spark.operators.inference import embed_texts
    from etl_sber_spark.operators.packing import materialize_bins
    from etl_sber_spark.operators.quantize import quantize_embeddings
    from etl_sber_spark.operators.similarity import kmeans_centroids
    from etl_sber_spark.session import get_spark
    from etl_sber_spark.sinks.export import export_packed
    from etl_sber_spark.sinks.warehouse import Warehouse
    from etl_sber_spark.streaming.crawl import stream_crawl_increments
    from etl_sber_spark.operators.annindex import materialize_ivf_assignments

    spark = get_spark("corpus-e2e")
    tmp = tempfile.mkdtemp(prefix="corpus_e2e_")
    results: dict[str, dict] = {}

    def _steal_total():
        try:
            with open("/proc/stat") as fh:
                vals = [int(x) for x in fh.readline().split()[1:]]
            return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])
        except Exception:
            return 0, 0

    def _mini_calib(n_iter: int = 1_000_000) -> float:
        # bench.py's machine-speed constant, scaled down (~0.1 s): runs
        # between phases while Spark is idle, so its wall moves ONLY
        # with external contention — loadavg can't serve here (it reads
        # the e2e's own 32-thread footprint for a minute after every
        # phase) and steal misses bandwidth/frequency contention
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            x = 1
            for _ in range(n_iter):
                x = (x * 1103515245 + 12345) & 0xFFFFFFFF
            best = min(best, time.perf_counter() - t0)
        if x == 0:
            print("calib underflow", file=sys.stderr)
        return round(best, 4)

    def phase(name, fn):
        # per-phase host annotation (r11): this box shows 2-3× phase
        # swings from EXTERNAL contention with identical outputs (the
        # bench.py lesson) — each phase records the 1-min loadavg at
        # its start and the steal share across it, so a cross-round
        # comparison can discard contended readings instead of
        # forensically reconstructing them
        load0 = round(os.getloadavg()[0], 2)
        calib0 = _mini_calib()
        s0, t0j = _steal_total()
        w0, r0 = shuffle_totals(spark)
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        w1, r1 = shuffle_totals(spark)
        s1, t1j = _steal_total()
        results[name] = {
            "sec": round(dt, 2),
            "shuffle_write_mb": round((w1 - w0) / 1e6, 1),
            "shuffle_read_mb": round((r1 - r0) / 1e6, 1),
            "load_before": load0,
            "calib_before_s": calib0,
            "steal_pct": round(100.0 * (s1 - s0) / max(1, t1j - t0j), 2),
            "out": out,
        }
        print(f"[{name}] {results[name]}", file=sys.stderr)

    try:
        # -- synthesize the raw-page inbox (setup, not a phase) --------
        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        pages = (
            d.select(
                "*",
                F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("k"),
            )
            .select(
                # bigint replica stride: k * 10_000_000 overflows int32
                # under ANSI arithmetic at factor >= 215 (r11 fix;
                # identical values at every previously-measured factor)
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
                    F.lit("<html><head><title>t</title></head><body><p>"),
                    F.when(F.col("k") <= 3, F.col("text"))
                    .when(
                        F.col("k") <= 6,
                        F.concat(F.col("text"), F.lit(" rep"), F.col("k")),
                    )
                    .otherwise(
                        F.concat(F.lit("variant"), F.col("k"), F.lit(" "),
                                 F.col("text"))
                    ),
                    F.lit("</p></body></html>"),
                ).alias("html"),
            )
        )
        inbox = os.path.join(tmp, "inbox")
        os.makedirs(inbox)
        # ONE partitionBy write + byte-concat instead of N_FILES
        # filter+coalesce(1) passes (r11): the old loop ran 8
        # single-task corpus scans — at factor 1000 that is 8
        # serialized full passes before the measurement even starts.
        # Same per-file page sets (pmod routing unchanged), so phase
        # numbers stay comparable across rounds.
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
                        glob.glob(os.path.join(stg, f"fidx={i}", "part-*"))
                    ):
                        with open(p, "rb") as src:
                            shutil.copyfileobj(src, dst)
        n_pages = pages.count()

        wh = Warehouse(spark, os.path.join(tmp, "wh"))

        # -- 1. crawl ingest ------------------------------------------
        def crawl():
            q = stream_crawl_increments(
                spark, inbox, wh, os.path.join(tmp, "ck_crawl"),
                max_files_per_trigger=mft,
            )
            q.awaitTermination()
            kept = wh.read("crawl_pages").filter(
                F.col("drop_reason").isNull()
            )
            return {
                "pages_in": n_pages,
                "pages_kept": kept.count(),
                "url_index": wh.read("url_index").count(),
            }

        phase("crawl_ingest", crawl)

        docs = (
            wh.read("crawl_pages")
            .filter(F.col("drop_reason").isNull())
            .select("doc_id", "text")
            .localCheckpoint()  # freeze: 3 downstream consumers
        )
        n_docs = docs.count()

        # -- 2. serving-layout build ----------------------------------
        def tail_encoder(texts):
            # deterministic stub keyed on the LAST 48 chars: the
            # semantic-variant replicas (marker PREFIX) embed exactly
            # like their source doc while staying lexically distinct —
            # self-contained (executor workers have no repo on sys.path)
            import hashlib

            out = []
            for t in texts:
                if t is None:
                    out.append(None)
                    continue
                d = hashlib.md5(t[-48:].encode()).digest()
                out.append([float(b) + 1.0 for b in d])
            return out

        def build_serving():
            emb = embed_texts(docs, id_col="doc_id", encoder=tail_encoder)
            # the 100 TB discipline: train Lloyd iterations on the
            # deterministic hash sample (~50k vectors) — assignment
            # below still covers every row (the one unavoidable n·k
            # projection)
            train_mod = max(1, n_docs // 50_000)
            # r10: √n quantizer sizing (suggest_n_lists) — the prior
            # k ∝ n (n_docs/VECS_PER_CLUSTER) made the full-corpus
            # assignment super-linear (4× work per 2× corpus at
            # 50×→100×, SCALE.md). The curation semantic stage reuses
            # these centroids; its pair work n²/k grows n^1.5 under √n
            # instead of n·VECS_PER_CLUSTER — the stated trade, bounded
            # here by the serving-layout int8 pair scoring.
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
            return {
                "n_vectors": serving.count(),
                "n_clusters": k,
                "float_free": "embedding" not in serving.columns,
            }, cents, serving, emb

        _load_sb = round(os.getloadavg()[0], 2)
        _calib_sb = _mini_calib()
        w0, r0 = shuffle_totals(spark)
        t0 = time.perf_counter()
        out, cents, serving, emb = build_serving()
        results["serving_build"] = {
            "sec": round(time.perf_counter() - t0, 2),
            "load_before": _load_sb,
            "calib_before_s": _calib_sb,
            "shuffle_write_mb": round(
                (shuffle_totals(spark)[0] - w0) / 1e6, 1
            ),
            "shuffle_read_mb": round(
                (shuffle_totals(spark)[1] - r0) / 1e6, 1
            ),
            "out": out,
        }
        print(f"[serving_build] {results['serving_build']}", file=sys.stderr)

        # recall probe at the build's quantizer sizing (timed apart so
        # serving_build stays comparable across rounds): the ladder's
        # base rung, same PROBE_PARAMS ann_status replays — the r10
        # sizing-rule regression check (VERDICT r9 #4)
        t0 = time.perf_counter()
        probes = _probe_baselines(emb, cents, "doc_id", "embedding")
        base_rung = probes.get(str(PROBE_PARAMS["sample_mod"]), {})
        results["serving_build"]["recall_probe"] = base_rung.get(
            "recall_probe"
        )
        results["serving_build"]["probe_sec"] = round(
            time.perf_counter() - t0, 2
        )
        print(
            f"[recall_probe] {results['serving_build']['recall_probe']} "
            f"({results['serving_build']['probe_sec']} s)",
            file=sys.stderr,
        )

        # -- 3. curate with the serving-layout semantic stage ---------
        curated_holder = {}

        def curate():
            curated = curate_corpus(
                docs,
                embeddings=serving,
                emb_id_col="doc_id",
                semantic_centroids=cents,
                semantic_threshold=0.99,
            ).localCheckpoint()
            curated_holder["df"] = curated
            return {
                r["drop_reason"]: r["count"]
                for r in curated.groupBy("drop_reason").count().collect()
            }

        phase("curate", curate)
        keepers = curated_holder["df"].filter(
            F.col("drop_reason").isNull()
        ).select("doc_id", "text")

        # -- 4. pack --------------------------------------------------
        bins_holder = {}

        def pack():
            bins = materialize_bins(
                keepers, budget=PACK_BUDGET
            ).localCheckpoint()
            bins_holder["df"] = bins
            return {"n_bins": bins.count()}

        phase("pack", pack)

        # -- 5. sharded export + manifest -----------------------------
        def export():
            m = export_packed(
                bins_holder["df"],
                os.path.join(tmp, "export"),
                budget=PACK_BUDGET,
            )
            return {
                "n_bins": m["n_bins"],
                "n_tokens": m["n_tokens"],
                "n_files": m["n_files"],
            }

        phase("export", export)

        print(
            json.dumps(
                {
                    "factor": factor,
                    "sf_dir": sf_dir,
                    "mft": mft,
                    "n_pages": n_pages,
                    "n_docs_curated_input": n_docs,
                    "total_sec": round(
                        sum(p["sec"] for p in results.values()), 2
                    ),
                    "phases": results,
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
