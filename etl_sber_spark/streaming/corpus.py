"""Continuous corpus maintenance from a JSONL landing zone.

Composes the pieces into the loop a live training-data pipeline runs:
crawler drops JSONL files into an inbox; each micro-batch becomes one
curation INCREMENT (operators/incremental.py) against the persisted
minhash signature index; annotated documents append to a curated table
and keepers' signatures append to the index — so the next batch dedupes
against the grown corpus, and the corpus text is never re-read.

Execution discipline (the shared harness, streaming/idempotent.py):

- ``foreachBatch``: the increment is multi-output (curated rows + index
  rows + quarantine) and reads warehouse state (the index) — batch
  semantics inside a checkpointed stream;
- default ``availableNow`` trigger (drain the backlog, then stop — the
  cron shape); ``processing_time`` for a resident stream;
- exactly-once per FILE via the checkpoint; per-batch WRITES are
  idempotent BY CONSTRUCTION: every output table is partitioned by
  ``batch_id`` and written with dynamic partition OVERWRITE, so a
  foreachBatch replay after a crash — including a crash halfway
  through the writes — simply rewrites the same partitions instead of
  appending duplicates. The batch-id marker is then only a fast-skip
  for fully-applied batches, not the correctness mechanism.

Scale: each batch does increment-sized work (bands(new) ⋈ bands(index)
is Σ|bucket|² with the increment side tiny; the index side is
signatures only — see operators/incremental.py). The quarantine frame
rides along so malformed crawler output is visible, not dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import MINHASH_PERMS, _mh_col
from ..operators.incremental import curate_increment
from ..sinks.warehouse import Warehouse
from ..sources.corpus import corrupt_capture_schema, split_documents
from .idempotent import read_index_excluding, run_idempotent_increments


def empty_index(spark: SparkSession, id_col: str = "doc_id") -> DataFrame:
    schema = ", ".join(
        [f"{id_col} bigint"] + [f"{_mh_col(k)} bigint" for k in range(len(MINHASH_PERMS))]
    )
    return spark.createDataFrame([], schema)


def sync_band_index(
    wh: Warehouse,
    index_table: str = "minhash_index",
    band_table: str = "minhash_bands",
    marker_table: str = "curated_docs__applied_batches",
    id_col: str = "doc_id",
) -> int:
    """Bring the STREAM's band layout into lockstep with the signature
    index; returns the number of partitions (re)written.

    This is the streaming twin of operators/incremental.py
    ``save_band_index``: the same (id, bk) rows, but PARTITIONED BY
    ``batch_id`` instead of bucketed by ``bk`` — partition-for-partition
    a mirror of the signature index, so the loop's existing idempotence
    construction (dynamic partition overwrite + marker-last) covers the
    band table with no new machinery. The bucketed layout's file-prune
    ability is NOT needed here (save_band_index's docstring: band keys
    are hash-uniform, a normal increment touches every bucket anyway —
    the measured win is the narrow pre-hashed two-bigint scan, which
    this layout keeps).

    Lockstep is a RECALL contract (a sig row with no band row silently
    drops its candidate pair), so enabling ``band_index_table`` on a
    warehouse with an existing index needs this backfill, and the
    stream runs it at every start:

    - index has no ``batch_id`` column (batch-built, e.g.
      save_corpus_index): the whole index's band rows land in the
      semindex bootstrap convention's batch ``-1`` partition —
      re-running overwrites, never duplicates;
    - index is batch-partitioned: every COMMITTED batch (marker
      present — an unmarked partition is crash debris the checkpoint
      will redeliver under its own batch_id) missing from the band
      table is backfilled into its own partition, one dynamic-overwrite
      write for all of them. Band partitions with NO surviving sig
      partition (a ``-1`` bootstrap of a since-rebuilt index) are
      DROPPED — stale rows would double-count docs into the thinning
      snapshot, the one unsound staleness direction.

    Driver-side work is one distinct-batch_id collect per table —
    bounded by the number of stream batches, the same audited class as
    the marker fast-skip."""
    from ..operators.incremental import hashed_bands
    from ..operators.semindex import BOOTSTRAP_BATCH_ID

    if not wh.has_data(index_table):
        return 0
    idx = wh.read(index_table)
    if "batch_id" not in idx.columns:
        wh.overwrite_partitions(
            hashed_bands(idx, id_col).withColumn(
                "batch_id", F.lit(BOOTSTRAP_BATCH_ID)
            ),
            band_table,
            ["batch_id"],
        )
        return 1
    committed: set = set()
    if wh.has_data(marker_table):
        committed = {
            r.batch_id
            for r in wh.read(marker_table).select("batch_id").distinct().collect()
        }
    sig_ids = {
        r.batch_id for r in idx.select("batch_id").distinct().collect()
    }
    band_ids: set = set()
    if wh.has_data(band_table):
        band_ids = {
            r.batch_id
            for r in wh.read(band_table).select("batch_id").distinct().collect()
        }
    written = 0
    for stale in sorted(band_ids - sig_ids):
        if wh.drop_partition(band_table, "batch_id", stale):
            written += 1
    missing = sorted((sig_ids & committed) - band_ids)
    if missing:
        sub = idx.filter(F.col("batch_id").isin([int(b) for b in missing]))
        wh.overwrite_partitions(
            hashed_bands(sub, id_col, extra_cols=("batch_id",)),
            band_table,
            ["batch_id"],
        )
        written += len(missing)
    return written


def stream_corpus_increments(
    spark: SparkSession,
    inbox: str,
    wh: Warehouse,
    checkpoint_dir: str,
    *,
    curated_table: str = "curated_docs",
    index_table: str = "minhash_index",
    quarantine_table: str = "corpus_quarantine",
    est_threshold: float = 0.5,
    exact_threshold: float = 0.8,
    max_files_per_trigger: int = 1,
    processing_time: str | None = None,
    centroids: DataFrame | None = None,
    semantic_index_table: str = "semantic_index",
    semantic_threshold: float = 0.95,
    encoder=None,
    classifier_weights: list[float] | None = None,
    classifier_threshold: float = 0.5,
    presize_buckets: bool = True,
    band_index_table: str | None = None,
) -> StreamingQuery:
    """Start the landing-zone stream; returns the StreamingQuery.

    Each micro-batch: parse/quarantine split (sources/corpus.py) →
    ``curate_increment`` vs the current ``index_table`` → append
    annotated docs (with ``batch_id``) to ``curated_table``, keepers'
    signatures to ``index_table``, malformed lines to
    ``quarantine_table``.

    Pass ``centroids`` (a FIXED k-means frame — train once, persist
    versioned via operators/annindex.py ``save_ivf_index`` and reload
    with ``load_ivf_index``; retraining invalidates the index, see
    operators/semindex.py) to add the SEMANTIC stage: each batch's
    lexical keepers are embedded (``encoder`` — the deterministic stub
    by default, a real model in production; operators/inference.py) and
    deduped against the persisted quantized embedding index in
    ``semantic_index_table``. Semantic drops get their
    ``index_semantic_dup``/``batch_semantic_dup`` reason in the curated
    table, are EXCLUDED from the minhash index (a dropped doc is not
    corpus), and survivors' index rows append — the full per-crawl
    lexical→semantic maintenance loop, one availableNow pass per cron
    tick.

    ``classifier_weights`` (operators/classifier.py — train offline,
    persist versioned, ``load_classifier`` at stream start) adds the
    trained quality gate as the increment's FIRST stage: rejected docs
    get ``'classifier'``, cost no dedup work, and never enter either
    index.

    ``presize_buckets`` (r9, default on): the hot-bucket thinning
    guard's bucket-size count is the one removable index-proportional
    term per increment (operators/incremental.py
    ``band_bucket_sizes`` — measured in
    tools/scale_smoke_incremental.py). A cron run drains MANY
    micro-batches, so the snapshot is computed ONCE at stream start
    and reused by every batch of the run. Crash-safe by construction:
    the snapshot counts only rows of batches whose APPLIED MARKER
    exists (the marker is written last, so a crashed batch's
    half-written partition is never counted), which makes every
    staleness direction an UNDERCOUNT relative to any batch's own
    index view — under-thinning, never over-thinning, the soundness
    law ``band_bucket_sizes`` documents. Verdicts are pinned identical
    either way; ``False`` restores the per-batch inline count.

    ``band_index_table`` (r10): name a table to keep the signature
    index's HASHED BAND LAYOUT (operators/incremental.py
    ``hashed_bands`` — two bigint columns, pre-exploded, pre-hashed)
    in lockstep with the index, partition-for-partition. Each batch
    then probes the standing corpus through the narrow band table
    instead of re-reading all K signature columns and re-exploding
    them — the residual index-proportional term the r9 smoke
    decomposed (SCALE.md: candidate+estimator 1.19 → 0.94 s at 500k
    sigs) — and the start-of-run thinning snapshot counts the band
    table directly (no per-run explode either). :func:`sync_band_index`
    runs at every stream start, so enabling this on a standing
    warehouse backfills itself; idempotence needs no new machinery —
    the band frame is just one more batch_id-partitioned output of the
    same transform (see sync_band_index on why lockstep is a recall
    contract). Default off: the layout doubles the index's write
    surface, which a small corpus never earns back.
    """
    raw = (
        spark.readStream.schema(corrupt_capture_schema())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .json(inbox)
    )

    marker_table = f"{curated_table}__applied_batches"
    if band_index_table is not None:
        sync_band_index(
            wh, index_table, band_index_table, marker_table
        )
    bucket_sizes = None
    if presize_buckets and band_index_table is not None and wh.has_data(
        band_index_table
    ):
        from ..operators.incremental import band_bucket_sizes
        from ..operators.semindex import BOOTSTRAP_BATCH_ID

        # post-sync the band table mirrors the index; count committed
        # partitions plus the -1 bootstrap (which has no marker by
        # design — it is not a stream batch). Same soundness gate as
        # the sig path below: an unmarked batch partition is debris
        # the checkpoint will redeliver, and counting it could
        # over-thin.
        applied = (
            wh.read(marker_table).select("batch_id")
            if wh.has_data(marker_table)
            else spark.createDataFrame([], "batch_id bigint")
        ).union(
            spark.createDataFrame([(BOOTSTRAP_BATCH_ID,)], "batch_id bigint")
        )
        src = wh.read(band_index_table).join(
            applied, "batch_id", "left_semi"
        )
        bucket_sizes = band_bucket_sizes(
            src.drop("batch_id")
        ).localCheckpoint(eager=True)
    elif presize_buckets and wh.has_data(index_table):
        from ..operators.incremental import band_bucket_sizes

        idx = wh.read(index_table)
        if "batch_id" in idx.columns:
            # committed batches only: a crashed batch's half-written
            # partition has no marker and must not inflate any count
            # (an overcount could over-thin — the one unsound
            # staleness direction). No marker table at all = NO batch
            # ever committed (the marker is written last), so index
            # data without markers is entirely crash debris: fall back
            # to the inline per-batch count rather than snapshot it
            # (r9 review — the earlier gate skipped the semi-join in
            # exactly the state it exists for)
            if wh.has_data(marker_table):
                applied = wh.read(marker_table).select("batch_id")
                idx = idx.join(applied, "batch_id", "left_semi")
            else:
                idx = None
        if idx is not None:
            bucket_sizes = band_bucket_sizes(idx).localCheckpoint(
                eager=True
            )

    def transform(batch_df: DataFrame, batch_id: int) -> dict[str, DataFrame]:
        # the SAME split the batch reader uses (sources/corpus.py) —
        # batch and stream ingestion cannot drift
        good, bad = split_documents(batch_df)
        good = good.localCheckpoint(eager=True)  # read twice (curate + write)

        # read_index_excluding: a crash-between-writes replay must not
        # match the batch against its OWN half-written signatures —
        # the whole batch would re-curate as near-dup-of-itself
        # (the crawl-stream review finding; same hazard here)
        index = read_index_excluding(wh, index_table, batch_id)
        bands = (
            read_index_excluding(wh, band_index_table, batch_id)
            if band_index_table is not None and index is not None
            else None
        )
        if index is None:
            index = empty_index(spark)
        annotated, keeper_sigs = curate_increment(
            good,
            index,
            est_threshold=est_threshold,
            exact_threshold=exact_threshold,
            classifier_weights=classifier_weights,
            classifier_threshold=classifier_threshold,
            bucket_sizes=bucket_sizes,
            index_bands=bands,
        )
        out = {
            curated_table: annotated,
            index_table: keeper_sigs,
            quarantine_table: bad,
        }
        if centroids is not None:
            from ..operators.inference import embed_texts
            from ..operators.materialize import pin
            from ..operators.semindex import (
                empty_semantic_index,
                semantic_increment,
            )

            lex_keep = annotated.filter(
                F.col("drop_reason").isNull()
            ).select("doc_id", "text")
            # pinned: the model pass is the expensive step and feeds
            # both the index-row build and the annotation join
            emb = pin(embed_texts(lex_keep, id_col="doc_id", encoder=encoder))
            sem_index = read_index_excluding(
                wh, semantic_index_table, batch_id
            )
            if sem_index is None:
                sem_index = empty_semantic_index(spark, "doc_id")
            sem_ann, sem_keep_rows = semantic_increment(
                emb,
                sem_index,
                centroids,
                threshold=semantic_threshold,
                id_col="doc_id",
            )
            # pinned: consumed by the curated-table reason merge AND the
            # minhash-index exclusion — unpinned, the embed mapInPandas
            # pass would re-run per write
            sem_drops = pin(
                sem_ann.filter(F.col("drop_reason").isNotNull()).select(
                    "doc_id", F.col("drop_reason").alias("_sem_reason")
                )
            )
            out[curated_table] = annotated.join(
                sem_drops, "doc_id", "left"
            ).select(
                *[c for c in annotated.columns if c != "drop_reason"],
                F.coalesce(
                    F.col("drop_reason"), F.col("_sem_reason")
                ).alias("drop_reason"),
            )
            out[index_table] = keeper_sigs.join(
                sem_drops.select("doc_id"), "doc_id", "left_anti"
            )
            out[semantic_index_table] = sem_keep_rows
        if band_index_table is not None:
            from ..operators.incremental import hashed_bands
            from ..operators.materialize import pin

            # lockstep by construction: the band rows are derived from
            # the FINAL index frame (post semantic exclusion) and land
            # in the same batch_id partition in the same write loop —
            # ordered after the index table, so a crash between the two
            # leaves the sig side ahead (missing band rows stay in the
            # uncommitted partition both reads exclude), never behind.
            # Pinned: the sig frame now feeds two writes (index + bands)
            out[index_table] = pin(out[index_table])
            out[band_index_table] = hashed_bands(out[index_table])
        return out

    return run_idempotent_increments(
        spark,
        raw,
        wh,
        checkpoint_dir,
        f"{curated_table}__applied_batches",
        transform,
        processing_time,
    )
