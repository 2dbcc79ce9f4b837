"""Deterministic distributed PageRank — the crawl-authority signal.

Real crawl pipelines rank the frontier: which domains deserve fetch
budget, which pages' text deserves corpus space. The standard signal is
PageRank over the (host → host) link graph (Page et al., 1999; OPIC and
friends are its online cousins), and at 100 TB the graph is
edges-in-parquet, so the operator must be join-based, not in-memory.

Shape per iteration (the classic Spark formulation, one shuffle each):

- contributions: ``edges ⋈ ranks`` on the source, each edge carrying
  ``rank/out_degree`` to its destination, summed per destination (the
  groupBy's map-side partial aggregation keeps the shuffle
  destination-sized);
- dangling mass (nodes with no out-edges) is ONE scalar per iteration,
  collected driver-side and folded back as a literal — the
  k-means-centroid pattern (metadata scale, one row);
- new rank = (1−d)/n + d·dangling/n + d·contrib;
- each iteration's rank frame is pinned (materialize.pin): it feeds
  the dangling sum AND the next iteration's join, and pinning
  truncates the iterative lineage (the k-means loop discipline).

Determinism (the repo-wide differential rule): double summation is
partition-order dependent, so ranks live as LONG units of 10⁻¹²
(``UNIT`` — the similarity.QUANT integer-quantization pattern). Every
cross-row reduction is an exact integer sum (order-independent); every
per-row derivation is a fixed chain of IEEE double ops quantized with
``floor(x + 0.5)`` (arguments stay far below 2⁵³, so the floor is
exact). The full trajectory is therefore bit-identical across
partitionings, and the pure-Python oracle in tests/test_pagerank.py
replays every iteration exactly.

Quantization resolution: a node's floor rank is (1−d)·UNIT/n units —
even at n = 10⁹ hosts (the full web's domain count) that is ~150
units, so per-edge rounding (±0.5 unit) stays below 1% of the
smallest rank; ``rank`` is emitted as the double units/UNIT.

Fixed ``n_iter`` (no convergence test): a data-dependent stopping rule
would make the output depend on float comparison order; 10-20
iterations is the published practical horizon for web graphs.

Reference parity: no graph surface in the reference (bank ETL) — LLM
crawl-pipeline extension per SURVEY §7.5, public algorithm.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.web import extract_links, normalize_url
from .materialize import pin

#: rank unit: 1 rank point = UNIT units (longs end-to-end)
UNIT = 10**12


def _half_up(x: Decimal) -> int:
    return int(x.quantize(Decimal(1), rounding=ROUND_HALF_UP))


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    damping: float = 0.85,
    n_iter: int = 10,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """(node, rank double, rank_u long) over the directed edge list;
    ranks sum to 1 within a few units of 10⁻¹² per node (each node
    accrues ≤ ±0.5 unit from each quantized term per iteration — the
    conservation test pins |Σrank_u − UNIT| ≤ 4n).

    ``edges`` rows are (src, dst); duplicate rows count once each
    (pre-``distinct()`` for an unweighted graph — host_link_edges
    does). Rows with a NULL endpoint are DROPPED up front: a NULL
    node cannot participate in the equi-joins, so left in it would
    become a rank row whose mass silently vanishes from the total
    (review finding) — malformed edges are the caller's quarantine
    concern, not a rank sink. Nodes appearing only as destinations are
    dangling: their mass redistributes uniformly each iteration, the
    standard fix that conserves total rank.

    ``seeds`` turns this into PERSONALIZED PageRank (the TrustRank
    recipe, Gyongyi et al. 2004): teleport mass — the (1−d) restart
    and the dangling redistribution — goes ONLY to the seed nodes
    (one-column frame, matched against the graph's nodes) instead of
    uniformly, so rank becomes trust PROPAGATED FROM the seed set:
    hosts only reachable from bad neighborhoods decay toward zero
    while seed-endorsed hosts hold mass. Composes with the domain
    allowlist (functions/web.domain_gate) as the seed source — the
    standard crawl-frontier trust signal. Seeds absent from the graph
    carry no mass (documented; all seeds missing raises).
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    e = pin(
        edges.select(
            F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")
        ).filter(F.col("_src").isNotNull() & F.col("_dst").isNotNull())
    )
    nodes = pin(
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node",
            F.lit(None).cast("double").alias("rank"),
            F.lit(None).cast("long").alias("rank_u"),
        )
    out_deg = e.groupBy(F.col("_src").alias("node")).agg(
        F.count(F.lit(1)).alias("_deg")
    )
    # degree rides the rank frame so the per-iteration join is ONE
    # (edges ⋈ ranks); dangling nodes carry NULL degree. The seed flag
    # rides it too (personalized teleport targets).
    ranks = nodes.join(out_deg, "node", "left").withColumn(
        "rank_u", F.lit(_half_up(Decimal(UNIT) / n)).cast("long")
    )
    if seeds is None:
        n_tele = n
        ranks = pin(ranks.withColumn("_seed", F.lit(True)))
    else:
        seed_col = seeds.columns[0]
        s = seeds.select(F.col(seed_col).alias("node")).distinct()
        ranks = pin(
            ranks.join(
                s.withColumn("_seed", F.lit(True)), "node", "left"
            ).withColumn("_seed", F.coalesce(F.col("_seed"), F.lit(False)))
        )
        n_tele = ranks.filter(F.col("_seed")).count()
        if n_tele == 0:
            raise ValueError(
                "none of the seed nodes appear in the edge list — "
                "personalized teleport would have no target and every "
                "rank would decay to 0"
            )
    d = Decimal(str(damping))
    base_u = _half_up((Decimal(1) - d) * UNIT / n_tele)
    for _ in range(n_iter):
        # ONE integer scalar driver-side per iteration (metadata scale);
        # exact: a long sum, total ≈ UNIT ≪ 2⁶³
        dangling_u = (
            ranks.filter(F.col("_deg").isNull())
            .agg(F.coalesce(F.sum("rank_u"), F.lit(0)).cast("long"))
            .collect()[0][0]
        )
        share_u = _half_up(d * dangling_u / n_tele)
        # per-edge contribution: one IEEE division + exact floor —
        # rank_u ≤ UNIT = 10¹² < 2⁵³, so every step has one result
        contribs = (
            e.join(
                ranks.select(
                    F.col("node").alias("_src"),
                    F.floor(
                        F.col("rank_u").cast("double") / F.col("_deg")
                        + F.lit(0.5)
                    ).alias("_c"),
                ),
                "_src",
            )
            .groupBy(F.col("_dst").alias("node"))
            .agg(F.sum("_c").alias("_contrib"))
        )
        ranks = pin(
            ranks.select("node", "_deg", "_seed")
            .join(contribs, "node", "left")
            .withColumn(
                "rank_u",
                F.when(F.col("_seed"), F.lit(base_u + share_u)).otherwise(
                    F.lit(0)
                ).cast("long")
                + F.floor(
                    F.lit(float(damping))
                    * F.coalesce(F.col("_contrib"), F.lit(0)).cast("double")
                    + F.lit(0.5)
                ),
            )
            .drop("_contrib")
        )
    return ranks.select(
        "node",
        (F.col("rank_u").cast("double") / F.lit(float(UNIT))).alias("rank"),
        "rank_u",
    )


def host_link_edges(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src, dst) DISTINCT host-level link edges from raw crawled pages.

    src = the page URL's canonical host, dst = each ``<a href>``
    target's canonical host (functions/web.extract_links +
    normalize_url). Protocol-relative links (``//cdn.example/x`` — a
    common legacy pattern that DOES carry cross-host endorsement) are
    resolved by assuming http before normalization (http vs https does
    not change the host, which is all this graph keeps). Path-relative
    links stay within the page's own host and carry no cross-domain
    authority — normalize_url yields NULL for them and they drop.
    Self-edges are dropped too: PageRank over a DOMAIN graph measures
    external endorsement, and a site's internal nav would otherwise
    dominate its own rank. One explode + one distinct aggregate;
    payload columns never travel.
    """

    def host(c):
        return F.try_parse_url(normalize_url(c), F.lit("HOST"))

    resolved = F.when(
        F.col("_link").startswith("//"),
        F.concat(F.lit("http:"), F.col("_link")),
    ).otherwise(F.col("_link"))
    return (
        pages.select(
            host(F.col(url_col)).alias("src"),
            F.explode(extract_links(F.col(html_col))).alias("_link"),
        )
        .select("src", host(resolved).alias("dst"))
        .filter(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst"))
        )
        .distinct()
    )
