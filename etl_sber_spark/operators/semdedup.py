"""SemDeDup-style semantic deduplication over an embedding column.

Textual dedup (operators/dedup.py) removes *lexical* near-duplicates;
this operator removes *semantic* ones — documents whose embeddings are
nearly parallel even when their text differs (boilerplate rewrites,
templated articles, translations of the same page). The algorithm is the
published SemDeDup recipe (Abbas et al., 2023, arXiv:2303.09540):

1. cluster the embeddings with k-means (the deterministic quantized
   trainer from operators/similarity.py — same coarse quantizer IVF
   uses, so at 100 TB the cluster column already exists at ingest);
2. within each cluster only, connect pairs whose cosine similarity
   clears ``threshold`` (Σ|cluster|² work, never the n² cross join —
   the same bounded-candidate shape as LSH banding);
3. per connected group keep ONE representative — by default the doc
   *farthest* from its cluster centroid (the paper's best-performing
   "low centroid similarity" keeper), deterministically tie-broken.

Cross-cluster near-duplicates are invisible by construction — that is
SemDeDup's stated approximation (recall follows k-means locality), the
trade that removes the all-pairs product. Raising ``n_clusters`` tightens
clusters (fewer candidates, lower recall); the knob is the same
IVF-style balance measured in tests/test_ivf.py.

Scale shape: centroid assignment and centroid similarity are pure
projections against driver-side literal centroids (metadata-scale, no
join); the candidate self-join shuffles on the cluster id once; the
components/keeper frames are DUPLICATE-sized (≪ corpus), so the flag
join back is AQE-broadcastable without a forced hint (forced broadcasts
on duplicate-heavy corpora are the exact hazard the round-3 review
removed from ngram_jaccard).

Reference parity note: the reference engine (stooodgy/ETL-sber) has no
embedding operators — this extends the engine for LLM training-data
curation per the round brief, composing only public algorithms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark.sql import Column

from ..functions.vectors import cosine_similarity
from .components import connected_components
from .materialize import pin
from .similarity import (
    SIM_SCALE,
    _centroid_rows,
    kmeans_centroids,
    nearest_centroids_col,
)
from .spread import spread


def _safe_cosine(a: Column, b: Column) -> Column:
    """Cosine that yields NULL when either vector has zero norm — now
    simply :func:`..functions.vectors.cosine_similarity`, which carries
    the try_divide guard for every caller (review finding: the
    similarity operators used an unguarded ``/`` that raised
    DIVIDE_BY_ZERO under Spark 4's ANSI default). A NULL similarity
    fails every ≥-threshold gate, so zero vectors pass through as
    singletons."""
    return cosine_similarity(a, b)


def _centroid_sim_expr(vec: Column, cent_rows) -> Column:
    """Rounded cosine between ``vec`` and the row's assigned centroid
    (``centroid_id`` looked up in the driver-side literal map) — the
    ONE definition of centroid similarity both the float path
    (:func:`semantic_assignments`) and the stored-SQ8 path
    (:func:`semdedup_serving`) rank keepers by. A stale ``centroid_id``
    absent from the map yields NULL (element_at miss), which sorts
    first in the 'farthest' election — surfacing, not hiding, a
    drifted assignment."""
    cmap = F.map_from_arrays(
        F.array(*[F.lit(cid) for cid, _ in cent_rows]),
        F.array(*[F.lit(vec_) for _, vec_ in cent_rows]),
    )
    return F.round(
        _safe_cosine(vec, F.element_at(cmap, F.col("centroid_id"))),
        SIM_SCALE,
    )


def semantic_assignments(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, centroid_id, centroid_sim): nearest centroid per vector
    plus the cosine similarity to it — one shuffle-free projection.

    ``centroid_sim`` is computed against the quantized-space centroid
    literal directly: cosine is scale-invariant, so the × QUANT factor
    the trainer bakes into centroid coordinates cancels. Rounded to
    SIM_SCALE like every similarity this package emits.
    """
    cent_rows = _centroid_rows(centroids)
    return spread(embeddings).select(
        F.col(id_col),
        F.col(vec_col),
        nearest_centroids_col(vec_col, cent_rows, 1)
        .getItem(0)
        .alias("centroid_id"),
    ).withColumn(
        "centroid_sim", _centroid_sim_expr(F.col(vec_col), cent_rows)
    )


def semantic_pairs(
    assigned: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pin_input: bool = True,
    *,
    qvec_col: str | None = None,
    qnorm_col: str | None = None,
) -> DataFrame:
    """(id_a < id_b, sim) for same-cluster pairs with rounded cosine ≥
    ``threshold``. Equi-join on centroid_id — Σ|cluster|² candidate
    work, bounded by k-means balance, never all-pairs.

    ``pin_input=False`` when ``assigned`` is already pinned (semdedup's
    path) — re-pinning a projection of checkpointed blocks would store
    the wide vector column twice for no replanning benefit.

    ``qvec_col`` (r8) scores from STORED int8 columns instead of the
    float vector — the stored-SQ8 lesson the ANN families already
    apply (operators/similarity.py): cosine's scales cancel, so the
    pair similarity is one all-BIGINT fold per candidate and the float
    column prunes off BOTH sides of the self-join (¼ the vector
    bytes; q_scale isn't even read). ``qnorm_col`` names a stored
    ``dot(qvec, qvec)`` (``quantize_embeddings(norm_col=…)``) making
    the per-pair work a single cross-dot. Quantized cosine is the
    recall trade tests/test_quantize.py pins — use it where the corpus
    already stores the ANN serving layout (:func:`semdedup_serving`);
    stored-vs-inline bit-parity pinned in tests/test_semdedup.py."""
    if qnorm_col is not None and qvec_col is None:
        raise ValueError(
            "qnorm_col is the stored norm OF the stored qvec — pass "
            "qvec_col as well"
        )
    if qvec_col is not None:
        cols = [F.col(id_col), F.col(qvec_col), F.col("centroid_id")]
        if qnorm_col is not None:
            cols.append(F.col(qnorm_col))
        cand = assigned.select(*cols)
    else:
        cand = assigned.select(
            F.col(id_col), F.col(vec_col), F.col("centroid_id")
        )
    if pin_input:
        cand = pin(cand)  # the self-join reads both sides
    a, b = cand.alias("a"), cand.alias("b")
    if qvec_col is not None:
        from .quantize import cosine_q_expr

        norms = (
            dict(
                qa_norm=F.col(f"a.{qnorm_col}"),
                qb_norm=F.col(f"b.{qnorm_col}"),
            )
            if qnorm_col is not None
            else {}
        )
        sim = cosine_q_expr(
            F.col(f"a.{qvec_col}"), None, F.col(f"b.{qvec_col}"), None,
            **norms,
        )
    else:
        sim = _safe_cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
    return (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(sim, SIM_SCALE).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


#: Auto-sizing target for ``n_clusters=None``: vectors per cluster. The
#: within-cluster join is Σ|cluster|², so per-cluster pair work stays
#: ≤ ~TARGET² while the cluster count grows with the corpus.
VECS_PER_CLUSTER = 1000


def semdedup(
    embeddings: DataFrame,
    n_clusters: int | None = 16,
    n_iter: int = 3,
    threshold: float = 0.95,
    keep: str = "farthest",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    train_mod: int | None = None,
) -> DataFrame:
    """Annotate every embedding row with its semantic-duplicate group
    and a keep flag.

    Output: (id_col, centroid_id, centroid_sim, sem_cluster, is_kept) —
    ``sem_cluster`` is the connected component id under the
    same-cluster ≥ threshold cosine graph (singletons are their own
    group and always kept); exactly one row per group has
    ``is_kept = true``.

    ``keep``:
      - ``"farthest"`` (default) — the group's row with the LOWEST
        centroid similarity survives (SemDeDup §3: keeping the example
        farthest from the cluster centroid preserved the most
        downstream accuracy), ties on id;
      - ``"min_id"`` — smallest id survives (matches the text pipeline's
        min-id survivor convention in operators/curate.py).

    ``train_mod`` passes through to the k-means trainer — at 100 TB the
    quantizer trains on the deterministic hash sample while grouping
    still covers every row.

    **Size ``n_clusters`` with the corpus**: the within-cluster cosine
    join is Σ|cluster|², so a fixed cluster count turns linear corpus
    growth into quadratic pair work (measured in the r5 scale smoke:
    fixed k=16 went 27→82→461 s at 10/20/50×, while k ∝ n stayed
    ~linear at 28/43/110 s — SCALE.md "Semantic dedup").
    ``n_clusters=None`` auto-sizes to max(16, ceil(n /
    VECS_PER_CLUSTER)) — one count job, and the anti-pattern cannot be
    configured by forgetting the knob. An explicit int is honored
    as-is (the paper's web-scale deployments size clusters per corpus
    snapshot).
    """
    if keep not in ("farthest", "min_id"):
        raise ValueError(f"keep must be 'farthest' or 'min_id', got {keep!r}")
    if n_clusters is None:
        n = embeddings.count()
        n_clusters = max(16, -(-n // VECS_PER_CLUSTER))
    # k scales with the corpus here (k ∝ n), so the trainer's
    # per-iteration n·k assignment is the build bound at scale
    # (similarity.kmeans_centroids)
    cents = kmeans_centroids(
        embeddings, n_clusters, n_iter, id_col, vec_col, train_mod=train_mod
    )
    assigned = pin(semantic_assignments(embeddings, cents, id_col, vec_col))
    pairs = semantic_pairs(assigned, threshold, id_col, vec_col, pin_input=False)
    return _annotate_groups(assigned, pairs, keep, id_col)


def _annotate_groups(
    assigned: DataFrame, pairs: DataFrame, keep: str, id_col: str
) -> DataFrame:
    """Shared tail of the float and stored-SQ8 paths: connected
    components over the ≥-threshold pair graph, keeper election, flag
    join back. Keeper election runs over the DUPLICATE rows only (comp
    is dup-sized), not a corpus-wide window: join the membership in,
    rank inside each component, then flag-join the (small) result
    back. AQE picks broadcast for both joins when the dup set is
    small and degrades to shuffle joins when it is not."""
    comp = connected_components(pairs, "id_a", "id_b")
    dup = assigned.join(
        comp.withColumnRenamed("node", id_col), id_col, "inner"
    )
    order = (
        [F.col("centroid_sim").asc(), F.col(id_col).asc()]
        if keep == "farthest"
        else [F.col(id_col).asc()]
    )
    w = Window.partitionBy("component").orderBy(*order)
    flags = dup.select(
        F.col(id_col),
        F.col("component"),
        (F.row_number().over(w) == 1).alias("_kept"),
    )
    return assigned.join(flags, id_col, "left").select(
        F.col(id_col),
        F.col("centroid_id"),
        F.col("centroid_sim"),
        F.coalesce(F.col("component"), F.col(id_col)).alias("sem_cluster"),
        F.coalesce(F.col("_kept"), F.lit(True)).alias("is_kept"),
    )


def semdedup_serving(
    serving: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    keep: str = "farthest",
    id_col: str = "vec_id",
    *,
    centroid_col: str = "centroid_id",
    qvec_col: str = "qvec",
    qnorm_col: str | None = "q_norm",
) -> DataFrame:
    """SemDeDup over the persisted ANN serving layout — the float
    vector is NEVER read (r7 verdict #7).

    A corpus that serves ANN search already stores, per vector, the
    coarse cluster (``centroid_id``, the same k-means quantizer
    SemDeDup's step 1 would train) and the SQ8 columns
    (``ann_cli build --sq8``: qvec + q_norm). This entry point runs the
    whole SemDeDup recipe from those columns: cluster = the STORED
    assignment (no re-clustering — the frozen-quantizer contract of
    operators/semindex.py), pair similarity = the all-integer quantized
    cosine (one cross-dot per candidate, stored norms), keeper election
    = quantized-space centroid similarity (deterministic; cosine's
    scale-invariance makes the quantized ranking track the float one to
    SQ8 error). Scan reads (id, centroid_id, qvec, q_norm) — the same
    26.2 → 8.0 MB (3.3×) byte cut the stored-SQ8 search paths measured
    (SCALE.md), applied to BOTH sides of the Σ|cluster|² self-join.

    Output schema matches :func:`semdedup` (id, centroid_id,
    centroid_sim, sem_cluster, is_kept); sims are the quantized
    convention of operators/semindex.py, so verdicts are
    bit-deterministic but not bit-equal to the float path (the
    recall trade tests/test_quantize.py pins). Stored-vs-inline
    bit-parity is pinned in tests/test_semdedup.py.
    """
    if keep not in ("farthest", "min_id"):
        raise ValueError(f"keep must be 'farthest' or 'min_id', got {keep!r}")
    need = [id_col, centroid_col, qvec_col] + (
        [qnorm_col] if qnorm_col is not None else []
    )
    missing = [c for c in need if c not in serving.columns]
    if missing:
        raise ValueError(
            f"serving frame lacks stored columns {missing} — build them "
            "with materialize_ivf_assignments + quantize_embeddings("
            "norm_col=…) (`ann_cli build --sq8`), or pass qnorm_col=None "
            "to fold norms from qvec"
        )
    cent_rows = _centroid_rows(centroids)
    if not cent_rows:
        raise ValueError("centroids frame is empty")
    cols = [F.col(c) for c in need]
    assigned = spread(serving).select(*cols)
    if centroid_col != "centroid_id":
        assigned = assigned.withColumnRenamed(centroid_col, "centroid_id")
    # quantized-space centroid similarity: stored int8 vector vs the
    # centroid literal (float coords; the trainer's QUANT factor and
    # the SQ8 scale both cancel in cosine)
    assigned = pin(
        assigned.withColumn(
            "centroid_sim",
            _centroid_sim_expr(
                F.col(qvec_col).cast("array<double>"), cent_rows
            ),
        )
    )
    pairs = semantic_pairs(
        assigned,
        threshold,
        id_col,
        pin_input=False,
        qvec_col=qvec_col,
        qnorm_col=qnorm_col,
    )
    return _annotate_groups(assigned, pairs, keep, id_col)
