"""Connected components over near-duplicate pair graphs.

Near-dup detection (LSH + Jaccard verify, operators/dedup.py) emits
PAIRS, but dedup policy operates on CLUSTERS: with A~B and B~C the
three documents form one duplicate group even when A~C was never
scored. curate.py's greedy min-id rule approximates this (drop the
larger id of every pair — over-drops nothing, may keep fewer docs than
exact clustering allows); this module computes the exact transitive
closure so survivors are one-per-component, the contract corpus-dedup
papers state (and the one you need when components feed reporting:
"this corpus has K duplicate clusters of sizes ...").

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the
standard shuffle-based CC algorithm:

- large-star: for every node u, connect every strictly-larger neighbor
  to u's minimum neighborhood member m(u);
- small-star: connect every smaller-or-equal neighbor (except m) to m.

Both steps are one groupBy per round; the edge set converges to a star
forest (every node points at its component minimum) in O(log n) rounds
on any graph — unlike naive min-label propagation, whose round count
is the graph DIAMETER (a 1M-node chain needs 1M rounds; star-contraction
needs ~20). Near-dup graphs are usually shallow, but the worst case is
exactly the pathological near-dup shape (a chain of each-overlaps-the-
next shingled documents), so the log-round algorithm is the one that
survives 100 TB.

Scale notes:
- Each round is two shuffles (groupBy on each endpoint) over the EDGE
  set, which for LSH candidates is orders of magnitude smaller than the
  corpus (Σ|bucket|² bounded — see dedup.py).
- Lineage is truncated every round with ``localCheckpoint(eager=True)``
  — an iterative join loop otherwise compounds the plan until analysis
  itself dominates (the k-means precedent, similarity.py).
- The convergence check (``count()`` of changed edges) is a
  metadata-scale driver action driving a distributed job, identical in
  shape to the k-means loop — not a data collect.
- Determinism: min() over node ids, no RNG — the same pair set always
  yields the same component ids (the component minimum).

Reference parity: the reference (bank ETL, main.py) has no graph
operator; this extends the LLM-pipeline dedup surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge list as (src>dst) ordered pairs, no self-loops,
    deduplicated."""
    a, b = F.col("src"), F.col("dst")
    return (
        edges.select(
            F.greatest(a, b).alias("src"), F.least(a, b).alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(Γ(u) ∪ {u}).

    Formulated as aggregate + equi-join on the node id — NOT as
    ``collect_set`` of the neighborhood, which would materialize a
    high-degree node's entire adjacency in one task (the classic way a
    CC implementation dies on the celebrity node of a 100 TB graph).
    AQE's skew-join splitting handles hot nodes in the join form.
    """
    both = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = both.groupBy("src").agg(
        F.least(F.min("dst"), F.col("src")).alias("m")
    )
    return _canonical(
        both.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor ≤ u (and u itself) to min(Γ(u) ∪ {u}).

    Operates on the (src > dst) canonical orientation, so every dst is
    already < src and the neighborhood minimum is plain min(dst). Same
    join-not-collect formulation as :func:`_large_star`.
    """
    m = edges.groupBy("src").agg(F.min("dst").alias("m"))
    linked = (
        edges.join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .union(m.select(F.col("src"), F.col("m").alias("dst")))
    )
    return _canonical(linked)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 50,
) -> DataFrame:
    """Component id (= the component's minimum node id) for every node
    appearing in ``pairs``.

    Returns ``(node, component)``. Nodes absent from ``pairs`` are their
    own singleton components by definition — callers left-join this
    result and ``coalesce(component, id)`` (see :func:`dedup_clusters`).

    Raises ``RuntimeError`` if ``max_rounds`` alternating star rounds do
    not converge (cannot happen for max_rounds ≥ ~2·log₂ n; the guard
    exists so a logic bug fails loudly instead of looping forever).
    """
    edges = _canonical(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    ).localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        after = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        # Convergence: the edge set is a fixpoint. Both frames are
        # canonical SETS (_canonical dropDuplicates), so equality is
        # per-edge count balance: tag old +1 / new -1, one aggregate,
        # any nonzero sum = difference. ONE job and one shuffle of
        # each side with map-side partial aggregation — the previous
        # two-directional exceptAll ran TWO sequential jobs that each
        # re-shuffled both edge sets (4 scans / round just to test
        # convergence; r11 optimization round). Exact, not a hash
        # check: a set differs iff some (src, dst) count differs.
        diff = (
            edges.select("src", "dst")
            .withColumn("_t", F.lit(1))
            .unionAll(
                after.select("src", "dst").withColumn("_t", F.lit(-1))
            )
            .groupBy("src", "dst")
            .agg(F.sum("_t").alias("_d"))
            .filter(F.col("_d") != 0)
        )
        if diff.isEmpty():
            edges = after
            break
        edges = after
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_rounds} rounds")
    # Fixpoint is a star forest: every non-root points straight at its
    # component minimum.
    membership = edges.select(
        F.col("src").alias("node"), F.col("dst").alias("component")
    )
    roots = nodes.join(
        membership, "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    return membership.union(roots)


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Annotate every row of ``df`` with its duplicate-cluster id and a
    keep flag (exactly one survivor per cluster — the minimum id).

    Output: ``df``'s columns + ``cluster_id`` + ``is_cluster_min``.
    Rows not mentioned in ``pairs`` are singleton clusters (kept).
    The components frame is duplicate-cluster-sized (≪ corpus), so the
    join back is broadcast-able at scale.
    """
    comp = connected_components(pairs, id_a, id_b)
    out = df.join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    )
    return out.select(
        *df.columns,
        F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        (
            F.coalesce(F.col("component"), F.col(id_col)) == F.col(id_col)
        ).alias("is_cluster_min"),
    )


def soft_dedup_weights(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Soft dedup: instead of DROPPING duplicates, weight each document
    by the inverse of its duplicate-cluster size, so a passage's total
    training influence is constant no matter how many near-copies the
    crawl found. The down-weighting alternative to hard removal —
    sampling-based pipelines feed ``sample_weight`` into the sampler /
    loss instead of discarding text.

    Output: ``df``'s columns + ``cluster_id`` + ``cluster_size`` +
    ``sample_weight`` (1/cluster_size; singletons get exactly 1.0).
    Same cost shape as :func:`dedup_clusters`: components over the
    (duplicate-sized) pair graph, one aggregate for sizes, one join
    back — the corpus-side work is a single equi-join.
    """
    comp = connected_components(pairs, id_a, id_b)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    # sizes join onto the CLUSTER-sized components frame first, so the
    # corpus pays exactly one equi-join (joining sizes after the df
    # join would probe the full corpus a second time)
    comp_sized = comp.withColumnRenamed("node", id_col).join(
        sizes, "component"
    )
    ann = df.join(comp_sized, id_col, "left")
    return ann.select(
        *df.columns,
        F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        F.coalesce(F.col("cluster_size"), F.lit(1)).cast("int").alias(
            "cluster_size"
        ),
        (F.lit(1.0) / F.coalesce(F.col("cluster_size"), F.lit(1))).alias(
            "sample_weight"
        ),
    )
