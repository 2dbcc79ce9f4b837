"""Shared harness for idempotent foreachBatch landing-zone streams.

streaming/corpus.py, streaming/crawl.py and streaming/vectors.py run
the same execution discipline — marker fast-skip, batch_id-partition
OVERWRITE writes, marker written last. This module is its single
implementation, so a correctness fix applied to one stream cannot
silently miss another:

- exactly-once per FILE via the stream checkpoint;
- per-batch writes are idempotent BY CONSTRUCTION: every output table
  is partitioned by ``batch_id`` and written with dynamic partition
  overwrite, so a foreachBatch replay — including a crash halfway
  through the writes — rewrites the same partitions instead of
  appending duplicates;
- the marker table is only a fast-skip for fully-applied batches,
  never the correctness mechanism;
- **the transform must not see its own half-written state**: a replay
  after a crash-between-writes would otherwise match the batch against
  index rows IT wrote (the crawl stream would re-mark its own keepers
  as url_dup; the corpus stream would near-dup a batch against its own
  signatures). :func:`read_index_excluding` is the one sanctioned way
  for a transform to read a warehouse index — it filters out the
  current batch's partition.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sinks.warehouse import Warehouse


def read_index_excluding(
    wh: Warehouse, table: str, batch_id: int
) -> DataFrame | None:
    """The index table WITHOUT the current batch's own partition (None
    when the table has no data yet). Always read indexes through this
    inside a transform — see the module docstring's replay hazard."""
    if not wh.has_data(table):
        return None
    return wh.read(table).filter(F.col("batch_id") != batch_id).drop(
        "batch_id"
    )


def run_idempotent_increments(
    spark: SparkSession,
    raw_stream,
    wh: Warehouse,
    checkpoint_dir: str,
    marker: str,
    transform: Callable[[DataFrame, int], dict[str, DataFrame]],
    processing_time: str | None = None,
) -> StreamingQuery:
    """Start the stream; returns the StreamingQuery.

    ``transform(batch_df, batch_id) -> {table: frame, ...}`` computes
    every output of one increment; the harness overwrites each frame's
    ``batch_id`` partition (empty frames are skipped — nothing to
    rewrite), then records the marker. ``processing_time`` switches the
    default availableNow (drain-then-stop, the cron shape) to a
    resident stream.
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if wh.has_data(marker):
            # membership test for ONE batch_id, answered by partition
            # pruning — collecting every applied id was O(total batches)
            # driver work per micro-batch, growing forever on a resident
            # stream (review finding). batch_id is the partition column,
            # so this filter prunes to at most one directory.
            applied = (
                wh.read(marker)
                .filter(F.col("batch_id") == batch_id)
                .limit(1)
                .count()
            )
            if applied:
                print(f"[{marker}] batch {batch_id} already applied")
                return
        outputs = transform(batch_df, batch_id)
        bid = F.lit(batch_id)
        for table, frame in outputs.items():
            if frame.isEmpty():
                continue
            wh.overwrite_partitions(
                frame.withColumn("batch_id", bid), table, ["batch_id"]
            )
        wh.overwrite_partitions(
            spark.createDataFrame([(batch_id,)], "batch_id bigint")
            .withColumn("applied", F.lit(True)),
            marker,
            ["batch_id"],
        )

    writer = raw_stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if processing_time:
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
