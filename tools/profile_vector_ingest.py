#!/usr/bin/env python3
"""Attribute the vector-ingest streaming cost (VERDICT r8 #5).

The r8 streaming smoke left one unexplained row: vector_ingest's 100×
wall grew 13.3 → 32.1 s (6.3k vec/s) while the mart ran 76k rows/s.
This tool decomposes one ingest volume into cumulative stages, each
run per inbox FILE to mirror the stream's maxFilesPerTrigger=1
micro-batches, so the deltas attribute the cost:

  parse        schema'd JSONL scan → count         (source parse)
  assign       + materialize_ivf_assignments → noop (IVF argmin proj)
  assign_lsh   + materialize_lsh_buckets → noop     (both projections)
  write        + parquet append                     (sink IO)
  stream       the real stream_vector_ingest        (+ harness: marker
               read, isEmpty probe, dynamic-partition overwrite,
               marker write, per-batch trigger latency)

Its deterministic vector generator matches the one behind SCALE.md's
vector_ingest rows, so figures line up with that table.

Usage: python tools/profile_vector_ingest.py [factor]   (default 100)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

VEC_1X = 2_000
N_FILES = 8
N_DIMS = 64


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    vec_total = VEC_1X * factor // N_FILES * N_FILES
    per_file = vec_total // N_FILES

    from pyspark.sql import functions as F

    from etl_sber_spark.operators import annindex as ai
    from etl_sber_spark.session import get_spark
    from etl_sber_spark.sinks.warehouse import Warehouse
    from etl_sber_spark.streaming.vectors import (
        VECTOR_SCHEMA,
        stream_vector_ingest,
    )

    import glob

    def write_single_file(df, staging: str, dest: str, fmt: str, **opts):
        # one top-level FILE per micro-batch (the file source counts
        # files; maxFilesPerTrigger=1 then means one batch per file)
        w = df.coalesce(1).write.mode("overwrite")
        for k, v in opts.items():
            w = w.option(k, v)
        getattr(w, fmt)(staging)
        part = glob.glob(os.path.join(staging, "part-*"))[0]
        shutil.move(part, dest)

    spark = get_spark("profile-vector-ingest")
    tmp = tempfile.mkdtemp(prefix="vecprof_")
    out = {"factor": factor, "n_vectors": vec_total, "phases": {}}
    try:
        base = spark.read.parquet(
            "/root/testdata/sf0.1/embeddings.parquet"
        ).select("vec_id", "embedding")
        wh = Warehouse(spark, os.path.join(tmp, "wh"))
        stored = ai.build_ann_index(wh, base, n_lists=64, n_iter=2)
        wh.overwrite_partitions(
            stored.withColumn("batch_id", F.lit(-1)), "ann_serving",
            ["batch_id"],
        )
        ai.bind_serving(wh)

        inbox = os.path.join(tmp, "inbox")
        os.makedirs(inbox)
        with tempfile.TemporaryDirectory() as stg:
            for i in range(N_FILES):
                rows = (
                    spark.range(per_file)
                    .select((F.col("id") + i * per_file).alias("k"))
                    .join(
                        base.withColumn(
                            "j", F.col("vec_id") % VEC_1X
                        ).drop("vec_id"),
                        F.col("k") % VEC_1X == F.col("j"),
                    )
                    .select(
                        (F.col("k") + 10_000_000).alias("vec_id"),
                        F.expr(
                            f"transform(embedding, (x, i) -> CAST(x + "
                            f"CASE WHEN i = k % {N_DIMS} THEN 0.07 "
                            "ELSE 0.0 END AS FLOAT))"
                        ).alias("embedding"),
                    )
                )
                write_single_file(
                    rows, stg, os.path.join(inbox, f"v_{i:02d}.json"),
                    "json",
                )
        files = sorted(
            os.path.join(inbox, f) for f in os.listdir(inbox)
        )

        cents = ai.load_ivf_index(wh)
        model = ai.load_lsh_model(wh)

        def per_file_stage(name, act):
            t0 = time.perf_counter()
            for f in files:
                batch = spark.read.schema(VECTOR_SCHEMA).json(f)
                act(batch)
            sec = time.perf_counter() - t0
            out["phases"][name] = round(sec, 2)
            print(f"[{name}] {sec:.2f} s", file=sys.stderr)

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        per_file_stage("parse", lambda b: b.count())
        per_file_stage(
            "assign",
            lambda b: noop(ai.materialize_ivf_assignments(b, cents)),
        )
        per_file_stage(
            "assign_lsh",
            lambda b: noop(
                ai.materialize_lsh_buckets(
                    ai.materialize_ivf_assignments(b, cents),
                    model.n_dims,
                    n_tables=model.n_tables,
                )
            ),
        )
        sink_dir = os.path.join(tmp, "sink")
        per_file_stage(
            "write",
            lambda b: ai.materialize_lsh_buckets(
                ai.materialize_ivf_assignments(b, cents),
                model.n_dims,
                n_tables=model.n_tables,
            )
            .write.mode("append")
            .parquet(sink_dir),
        )

        t0 = time.perf_counter()
        q = stream_vector_ingest(
            spark,
            inbox,
            wh,
            os.path.join(tmp, "ck"),
            max_files_per_trigger=1,
        )
        q.awaitTermination()
        sec = time.perf_counter() - t0
        out["phases"]["stream"] = round(sec, 2)
        print(f"[stream] {sec:.2f} s", file=sys.stderr)
        n = wh.read("ann_serving").filter(F.col("batch_id") >= 0).count()
        assert n == vec_total, (n, vec_total)
        print(json.dumps(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
