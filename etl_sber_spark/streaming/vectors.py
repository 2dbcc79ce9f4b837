"""Continuous ANN serving-table maintenance from an embedding landing
zone.

The missing tense of operators/annindex.py: `build_ann_index` covers
the batch "index a corpus snapshot" case, but a live pipeline's
embeddings arrive continuously (the inference stage drops them as the
crawler's documents clear curation). Each micro-batch here attaches
BOTH serving columns against the FROZEN persisted artifacts — the IVF
`centroid_id` (literal-matrix argmin) and the LSH `bucket`
(hyperplane signature), pure projections, zero shuffles, zero joins —
and appends to the stored serving table. Queries
(`cosine_topk_ivf(centroids=…, centroid_col=…)`,
`cosine_topk_lsh(bucket_col=…)`) see fresh vectors immediately, and
no retraining ever happens on the ingest path: the quantizer is
loaded ONCE at stream start (`load_ivf_index` / `load_lsh_model` —
the drift guard refuses planes that don't match the stored bucket
convention), because per-batch retraining would silently re-cluster
the serving table (the frozen-quantizer contract of
operators/semindex.py).

Execution discipline = streaming/idempotent.py, shared with the
corpus/crawl streams: availableNow by default (the cron shape),
exactly-once per file via the checkpoint, per-batch writes idempotent
by batch_id-partition overwrite, marker as fast-skip only. The
batch-partitioned layout exists for crash replay, not for reads: on
the maintenance cadence, ``annindex.cluster_serving_table`` rewrites
it centroid_id-partitioned (latest batch wins per id), after which an
IVF probe join dynamic-partition-prunes the serving scan to the
probed lists' files (plan-pinned in tests/test_annindex.py).

Reference parity: no streaming or vector surface in the reference
(nightly Oracle ETL, main.py) — LLM-pipeline extension per SURVEY
§7.5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.annindex import (
    IVF_TABLE,
    LSH_TABLE,
    _check_binding,
    load_ivf_index,
    load_lsh_model,
    materialize_ivf_assignments,
    materialize_lsh_buckets,
)
from ..sinks.warehouse import Warehouse
from .idempotent import run_idempotent_increments

#: landing-zone line schema (JSONL, one vector per line)
VECTOR_SCHEMA = "vec_id bigint, embedding array<float>"


def stream_vector_ingest(
    spark: SparkSession,
    inbox: str,
    wh: Warehouse,
    checkpoint_dir: str,
    *,
    serving_table: str = "ann_serving",
    ivf_name: str = IVF_TABLE,
    lsh_name: str = LSH_TABLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int = 1,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Start the serving-table stream; returns the StreamingQuery.

    Requires the index artifacts to exist (``build_ann_index`` or
    save_ivf_index + save_lsh_model ran at corpus bootstrap) — loading
    them is the first thing this does, so a missing/drifted artifact
    fails at START, not per batch. Each micro-batch of JSONL vector
    lines appends (id, vector, centroid_id, bucket) rows to
    ``serving_table`` (batch_id-partitioned; replay-safe).
    """
    centroids = load_ivf_index(wh, ivf_name)
    model = load_lsh_model(wh, lsh_name)
    # a retrained artifact with an unrebuilt serving table must fail at
    # START (the binding stamp mismatch), not append mixed-quantizer rows
    _check_binding(wh, serving_table, ivf_name, lsh_name, context="ingest")
    # SQ8 serving layouts (ann_cli build --sq8) carry stored quantized
    # columns; streamed batches must match the bootstrap's schema. The
    # only layout this ingest can reproduce is the CLI's exact one
    # (qvec + q_scale + q_norm alongside the float vector), so validate
    # the FULL layout once at stream start and refuse loudly on a
    # partial or renamed one — inferring from one column's presence
    # would silently append schema-divergent batches that later
    # non-mergeSchema reads surface inconsistently per read (r7 ADVICE).
    sq8 = False
    if wh.has_data(serving_table):
        cols = set(wh.read(serving_table).columns)
        sq8_cols = {"qvec", "q_scale", "q_norm"}
        present = sq8_cols & cols
        if present:
            missing = (sq8_cols | {vec_col}) - cols
            if missing:
                raise ValueError(
                    f"serving table {serving_table!r} has a partial SQ8 "
                    f"layout: found {sorted(present)} but missing "
                    f"{sorted(missing)} — this ingest appends the full "
                    "(qvec, q_scale, q_norm, "
                    f"{vec_col}) layout of `ann_cli build --sq8`; rebuild "
                    "the table with that layout (or rename the columns) "
                    "before streaming into it"
                )
            sq8 = True

    raw = (
        spark.readStream.schema(VECTOR_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(inbox)
    )

    # hoisted out of the per-batch transform (r9, profiled in
    # tools/profile_vector_ingest.py): collecting the centroid frame is
    # a Spark job over the artifact parquet, and inside transform it
    # ran on EVERY micro-batch (~1.6 s/batch of plan-build at 64
    # lists). The frozen-quantizer contract makes the hoist sound — the
    # artifact cannot change mid-stream, and a drifted artifact already
    # refuses at start above.
    from ..operators.annindex import _centroid_rows

    cent_rows = _centroid_rows(centroids)

    def transform(batch_df: DataFrame, batch_id: int) -> dict[str, DataFrame]:
        out = materialize_lsh_buckets(
            materialize_ivf_assignments(
                batch_df, centroids, id_col, vec_col, cent_rows=cent_rows
            ),
            model.n_dims,
            vec_col,
            # the serving schema carries whatever table columns the
            # bootstrap materialized — the model artifact says how many
            n_tables=model.n_tables,
        )
        if sq8:
            from ..operators.quantize import quantize_embeddings

            out = quantize_embeddings(
                out, vec_col, keep_original=True, norm_col="q_norm"
            )
        # NOT pinned (r8 measured): the harness's emptiness probe is a
        # limit-1 partial evaluation, so the write is this frame's only
        # full action — a checkpoint would add batch-sized IO without
        # removing any duplicate work (projections have no join to
        # dedupe)
        return {serving_table: out}

    return run_idempotent_increments(
        spark,
        raw,
        wh,
        checkpoint_dir,
        f"{serving_table}__applied_batches",
        transform,
        processing_time,
    )
