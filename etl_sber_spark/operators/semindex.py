"""Incremental SEMANTIC dedup against a persisted embedding index.

The embedding twin of operators/incremental.py: at 100 TB you do not
re-run SemDeDup over the full corpus per crawl — the standing corpus is
represented by its QUANTIZED EMBEDDING INDEX (one int8 vector + scale +
cluster id per retained document: ~dims bytes/doc, no text, no float32),
and each increment dedupes against that index plus itself. The loop:

- :func:`build_semantic_index` — (id, cluster_id, q_scale, qvec) in ONE
  shuffle-free projection: cluster = nearest k-means centroid as a
  literal-matrix argmin (operators/similarity.py — the same coarse
  quantizer IVF and SemDeDup use), vector int8-quantized
  (operators/quantize.py, 4× smaller than float32 — the storage format
  that makes a corpus-sized index affordable).
- :func:`semantic_near_index` — new docs whose quantized cosine against
  ANY indexed document of the SAME cluster clears the threshold.
  Candidates come from the cluster equi-join (Σ|cluster_new|×
  |cluster_index| work, never |new|×|index|); cross-cluster duplicates
  are invisible by construction — SemDeDup's stated approximation,
  measured in tests/test_ivf.py's recall ladder.
- :func:`semantic_increment` — the composed step: drop new docs that
  semantically duplicate the index (checked FIRST: the settled corpus
  wins) or a smaller-id surviving batch-mate, then return the keepers'
  index rows to APPEND — the next increment dedupes against the grown
  corpus.

The centroids are TRAINED ONCE (kmeans_centroids on a sample or the
first corpus; persist versioned via operators/annindex.py
``save_ivf_index`` and reload with ``load_ivf_index`` — one saved
quantizer serves IVF search and this index) and must stay FIXED across
increments — the index stores
cluster ids, so retraining invalidates the index (same contract as
hashing.py's xxhash64 note). Drift between the frozen quantizer and new
data shows up as cluster imbalance.

Similarity convention: all-integer quantized cosine
(quantize.cosine_q_expr — exact BIGINT dot products, one IEEE division),
so increment results are bit-deterministic across partitionings and the
recall-vs-float cost is the one tests/test_quantize.py pins (recall@10
≥ 0.9). Replay safety: a re-run increment sees its own keepers in the
grown index; the id-equality guard makes those SELF-matches invisible,
so the KEEP/DROP verdicts replay identically (tested). The *reason*
label is weaker: a doc dropped as ``batch_semantic_dup`` can re-report
as ``index_semantic_dup`` on replay (its batch-mate keeper is now in
the index and is a different id — the guard cannot hide it). Callers
needing bit-stable replayed annotations must exclude their own prior
append from the index read — exactly what the streaming harness's
``read_index_excluding`` does (streaming/corpus.py).

Reference parity: the reference has no incremental or embedding surface
(nightly full snapshots, main.py) — LLM-pipeline extension per SURVEY
§7.5, composing only public algorithms (SemDeDup, arXiv:2303.09540; IVF
quantization, the FAISS IVF,SQ8 layout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .materialize import pin
from .quantize import cosine_q_expr, quantize_cols
from .similarity import _centroid_rows, nearest_centroids_col
from .spread import spread

#: drop_reason vocabulary, in gate order (index first — the settled
#: corpus outranks the batch, matching operators/incremental.py)
R_INDEX = "index_semantic_dup"
R_BATCH = "batch_semantic_dup"


def empty_semantic_index(spark, id_col: str = "vec_id") -> DataFrame:
    """A zero-row index frame with the index schema — the bootstrap
    state before the first increment appends (id type: bigint, the
    fixture convention; pass a differently-typed frame for string ids).
    """
    return spark.createDataFrame(
        [],
        f"{id_col} bigint, cluster_id int, q_scale double, "
        "qvec array<smallint>",
    )


def build_semantic_index(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster_id, q_scale, qvec): the index representation of an
    embedding frame — one projection, zero shuffles, zero joins (the
    centroid matrix rides as a literal; plan-pinned in tests).

    NULL and zero-norm vectors are FILTERED, not indexed: both are
    routine failed-call artifacts (embed_texts' stated NULL-text
    contract; inference.embedding_coverage counts them), and an index
    row for either can never match anything (NULL quantized cosine) —
    it would only bloat its cluster's candidate join forever (review
    finding). In :func:`semantic_increment` such docs therefore skip
    the stage entirely: kept unless another gate fires, never appended
    — the same no-embedding contract curate_corpus states.
    """
    cent_rows = _centroid_rows(centroids)
    if not cent_rows:
        raise ValueError(
            "centroids frame is empty — an empty quantizer would give "
            "every row a NULL cluster_id and silently disable all "
            "semantic dedup (train kmeans_centroids on a non-empty "
            "sample, or check the table name)"
        )
    scale, q = quantize_cols(vec_col)
    has_signal = F.col(vec_col).isNotNull() & F.exists(
        F.col(vec_col).cast("array<double>"), lambda x: x != 0.0
    )
    return spread(embeddings).filter(has_signal).select(
        F.col(id_col),
        nearest_centroids_col(vec_col, cent_rows, 1)
        .getItem(0)
        .alias("cluster_id"),
        scale.alias("q_scale"),
        q.alias("qvec"),
    )


def semantic_near_index(
    new_rows: DataFrame,
    index_rows: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
) -> DataFrame:
    """(new_id, old_id, sim): every new document whose quantized cosine
    against a SAME-CLUSTER indexed document reaches ``threshold``.

    Both sides are index-shaped (:func:`build_semantic_index`). The
    id-equality guard makes a replayed increment's own keepers (already
    appended to the index) invisible to itself — the replay law. The
    increment side is typically small enough to broadcast; AQE decides
    (no forced hint: a duplication-heavy increment can be index-sized).
    """
    # every column re-aliased per side so the frame can be joined with
    # ITSELF (the in-batch stage) without ambiguous-attribute failures
    n = new_rows.select(
        F.col(id_col).alias("new_id"),
        F.col("cluster_id").alias("_ncl"),
        F.col("q_scale").alias("_ns"),
        F.col("qvec").alias("_nq"),
    )
    o = index_rows.select(
        F.col(id_col).alias("old_id"),
        F.col("cluster_id").alias("_ocl"),
        F.col("q_scale").alias("_os"),
        F.col("qvec").alias("_oq"),
    )
    return (
        n.join(o, F.col("_ncl") == F.col("_ocl"))
        .filter(F.col("new_id") != F.col("old_id"))
        .select(
            "new_id",
            "old_id",
            cosine_q_expr("_nq", "_ns", "_oq", "_os").alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def semantic_increment(
    new_embeddings: DataFrame,
    index_rows: DataFrame,
    centroids: DataFrame,
    *,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """One increment of semantic corpus maintenance.

    Returns ``(annotated, new_index_rows)``:

    - ``annotated``: every new document (input columns) plus
      ``drop_reason`` — NULL for keepers, ``'index_semantic_dup'``
      (quantized cosine ≥ threshold vs the standing index) or
      ``'batch_semantic_dup'`` (vs a smaller-id new survivor — greedy
      pair-drop, the in-batch convention shared with curate_increment:
      NOT transitive-closed; chain-linked batches can keep one doc per
      confirmed pair, see curate_corpus(transitive=...) for the exact
      variant);
    - ``new_index_rows``: the keepers' index rows, ready to APPEND.
    """
    rows = pin(
        build_semantic_index(new_embeddings, centroids, id_col, vec_col)
    )
    # pinned: drop-sets are duplicate-sized but their subtrees are the
    # cluster joins, and each feeds two consumers (the survivor
    # anti-join and the final annotation join); the streaming caller
    # additionally materializes both returned frames per micro-batch.
    vs_index = pin(
        semantic_near_index(rows, index_rows, threshold, id_col)
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    batch_rows = rows.join(vs_index, id_col, "left_anti")
    # self-join on the cluster id: each unordered pair surfaces in both
    # orientations (the id-equality guard only removes the diagonal), so
    # keeping new_id < old_id sees every pair exactly once and drops its
    # larger id
    batch_drops = pin(
        semantic_near_index(batch_rows, batch_rows, threshold, id_col)
        .filter(F.col("new_id") < F.col("old_id"))
        .select(F.col("old_id").alias(id_col))
        .distinct()
    )
    annotated = (
        new_embeddings.join(
            vs_index.withColumn("_ix", F.lit(True)), id_col, "left"
        )
        .join(batch_drops.withColumn("_bd", F.lit(True)), id_col, "left")
        .select(
            *new_embeddings.columns,
            F.coalesce(
                F.when(F.col("_ix"), F.lit(R_INDEX)),
                F.when(F.col("_bd"), F.lit(R_BATCH)),
            ).alias("drop_reason"),
        )
    )
    keepers = rows.join(
        annotated.filter(F.col("drop_reason").isNotNull()).select(id_col),
        id_col,
        "left_anti",
    )
    return annotated, keepers


def serving_as_semantic_index(
    serving: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Adapt the ANN serving layout to the semantic-index schema —
    a standing ANN corpus (``ann_cli build --sq8``: ``centroid_id`` +
    ``q_scale`` + ``qvec`` per vector) already IS this index under a
    column rename, so corpus maintenance can consume it directly
    instead of re-embedding and re-quantizing the corpus (r9: the
    composed curation flow re-uses the serving bytes the ANN stack
    pays for). One projection, zero shuffles.

    Zero vectors are filtered exactly as :func:`build_semantic_index`
    does — an all-zero ``qvec`` can never match anything (NULL
    quantized cosine) and would only bloat its cluster's candidate
    join forever. Extra serving columns (``q_norm``, ``lsh_bucket``,
    ``batch_id``…) are dropped; the frozen-quantizer contract carries
    over unchanged because one saved artifact (``save_ivf_index``)
    produced both layouts' assignments.
    """
    need = [id_col, "centroid_id", "q_scale", "qvec"]
    missing = [c for c in need if c not in serving.columns]
    if missing:
        raise ValueError(
            f"serving frame lacks {missing} — build the stored-SQ8 "
            "layout with materialize_ivf_assignments + "
            "quantize_embeddings (`ann_cli build --sq8`)"
        )
    return serving.filter(
        F.exists(F.col("qvec"), lambda x: x != F.lit(0).cast("smallint"))
    ).select(
        F.col(id_col),
        F.col("centroid_id").alias("cluster_id"),
        F.col("q_scale"),
        F.col("qvec"),
    )


#: the bootstrap partition id for index rows imported from an ANN
#: serving table: stream batch ids are ≥ 0, so ``read_index_excluding``
#: never hides bootstrap rows from a real batch, and re-running the
#: bootstrap overwrites (not duplicates) the same partition.
BOOTSTRAP_BATCH_ID = -1


def bootstrap_semantic_index(
    wh,
    serving_table: str = "ann_serving",
    semantic_index_table: str = "semantic_index",
    id_col: str = "vec_id",
    index_id_col: str | None = None,
) -> int:
    """Seed the incremental-curation semantic index from a persisted
    ANN serving table: latest-wins serving read (with the staleness
    guards of ``annindex.read_serving`` — a retrained quantizer
    REFUSES here rather than seeding stale assignments), adapted via
    :func:`serving_as_semantic_index`, written as the
    ``batch_id = -1`` partition of ``semantic_index_table``. Returns
    the number of index rows written. Idempotent: re-running
    overwrites the same partition.

    After this, ``stream_corpus_increments(centroids=load_ivf_index(
    wh_ann))`` dedupes every new crawl against the full ANN corpus
    from batch one — no re-embedding pass over the standing corpus.

    Scope, stated plainly: only the SEMANTIC index can be seeded from
    a vector table — the minhash (lexical) index needs text-derived
    signatures the ANN layout never stored, so an exact or near
    lexical copy of a pre-bootstrap corpus doc is caught by the
    semantic stage only (embeddings of identical text coincide under
    any deterministic encoder, so exact copies are still caught;
    lexical near-dups rely on embedding proximity). Corpora that kept
    their signature index use it directly; this bootstrap is for the
    serving-table-only starting point.
    """
    from .annindex import read_serving

    rows = serving_as_semantic_index(
        read_serving(wh, serving_table, id_col=id_col), id_col
    )
    if index_id_col is not None and index_id_col != id_col:
        # the consuming stream's id convention (the corpus loop keys on
        # doc_id; ANN serving on vec_id)
        rows = rows.withColumnRenamed(id_col, index_id_col)
    rows = rows.withColumn("batch_id", F.lit(BOOTSTRAP_BATCH_ID))
    wh.overwrite_partitions(rows, semantic_index_table, ["batch_id"])
    return wh.read(semantic_index_table).filter(
        F.col("batch_id") == BOOTSTRAP_BATCH_ID
    ).count()
