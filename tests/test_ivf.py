"""IVF approximate nearest-neighbor: structural determinism + measured
recall against the exact brute-force baseline, and the tie-break and
degenerate-vector contracts of centroid assignment and brute-force
scoring."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_sber_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    kmeans_centroids,
    nearest_centroid_dist_col,
    nearest_centroids_col,
    nearest_centroids_expr,
)

from .conftest import SF_MED


def _load(spark):
    return spark.read.parquet(f"{SF_MED}/embeddings.parquet")


def test_kmeans_deterministic(spark):
    e = _load(spark)
    a = kmeans_centroids(e, k=8, n_iter=2).collect()
    b = kmeans_centroids(e, k=8, n_iter=2).collect()
    fmt = lambda rows: sorted(
        (r.centroid_id, tuple(round(x, 9) for x in r.centroid)) for r in rows
    )
    assert fmt(a) == fmt(b)
    assert len(a) == 8


def test_ivf_recall_vs_bruteforce(spark):
    """nprobe=1 IVF must still find most true neighbors on the test
    corpus — and must be exact whenever query and neighbor share a
    list. Recall@3 ≥ 0.5 is the (deliberately loose) floor; the exact
    value is deterministic, so regressions show as a hard fail."""
    e = _load(spark)
    q = e.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_bruteforce(e, q, k=3).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_ivf(e, q, k=3, n_lists=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"recall@3={recall:.3f}"
    # every query produced results (no empty lists)
    assert len({a for a, _ in approx}) == 20


def test_ivf_multiprobe_recall_ladder(spark):
    """More probed lists ⇒ monotonically better recall; nprobe=n_lists
    degenerates to exact. Measured on this corpus: 0.55 → 0.65 → 0.78
    → 0.90 for nprobe 1..4 with 8 lists."""
    e = _load(spark)
    q = e.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_bruteforce(e, q, k=3).collect()
    }

    def recall(n_probe):
        approx = {
            (r.query_id, r.vec_id)
            for r in cosine_topk_ivf(
                e, q, k=3, n_lists=8, n_probe=n_probe
            ).collect()
        }
        return len(exact & approx) / len(exact)

    r1, r4, r8 = recall(1), recall(4), recall(8)
    assert r1 <= r4 <= r8
    assert r4 >= 0.8
    assert r8 == 1.0  # probing every list == brute force


def test_kmeans_hash_sampled_training(spark):
    """train_mod=m trains the quantizer on the deterministic ~1/m hash
    sample (the 100 TB path): same k centroids out, bit-identical across
    runs, and full-corpus assignment still reaches every vector."""
    from etl_sber_spark.operators.similarity import assign_to_centroid

    e = _load(spark)
    a = kmeans_centroids(e, k=8, n_iter=2, train_mod=2).collect()
    b = kmeans_centroids(e, k=8, n_iter=2, train_mod=2).collect()
    fmt = lambda rows: sorted(
        (r.centroid_id, tuple(round(x, 9) for x in r.centroid)) for r in rows
    )
    assert fmt(a) == fmt(b)
    assert len(a) == 8
    # sampled training must differ from full training (proves the
    # sample was actually used) yet assign the whole corpus
    full = kmeans_centroids(e, k=8, n_iter=2).collect()
    assert fmt(a) != fmt(full)
    cents = spark.createDataFrame(
        [(r.centroid_id, list(r.centroid)) for r in a],
        "centroid_id int, centroid array<double>",
    )
    assigned = assign_to_centroid(e, cents)
    assert assigned.count() == e.count()


def test_kmeans_bit_identical_across_partitionings(spark):
    """The round-3 exact-arithmetic claim, tested directly: quantized
    integer sums make the Lloyd trajectory independent of partition
    count/order, so retraining on a repartitioned (resized-cluster)
    corpus yields BIT-identical centroids — and the DuckDB oracle can
    replay the same trajectory in SQL (q_ivf_topk)."""
    e = _load(spark)
    fmt = lambda rows: sorted(
        (r.centroid_id, tuple(r.centroid)) for r in rows
    )
    base = fmt(kmeans_centroids(e, k=8, n_iter=3).collect())
    for n_parts in (1, 7, 32):
        again = fmt(
            kmeans_centroids(e.repartition(n_parts), k=8, n_iter=3).collect()
        )
        assert again == base, f"centroids drifted at {n_parts} partitions"


def test_degenerate_vectors_assignment(spark):
    """Centroids are in quantized space (× QUANT), so [1e-6, 2e-6]
    quantizes onto centroid 0 and its duplicate, centroid 2: an exact
    tie breaks on the lower id. NULL, short, long and empty vectors
    give all-NULL distances (zip_with pads with NULL), so the struct
    sort falls back to ascending ids and the drift distance is NULL."""
    cents = [(0, [1.0, 2.0]), (1, [1.5, 2.5]), (2, [1.0, 2.0])]
    df = spark.createDataFrame(
        [
            (1, [0.000001, 0.000002]),
            (2, None),
            (3, [0.000001]),
            (4, [0.0000015, 0.0000025, 0.5]),
            (5, []),
        ],
        "id int, embedding array<double>",
    )
    rows = df.select(
        "id",
        nearest_centroids_col("embedding", cents, 3).alias("p"),
        nearest_centroid_dist_col("embedding", cents).alias("d"),
    ).orderBy("id").collect()
    got = {r.id: (r.p, r.d) for r in rows}
    assert got[1] == ([0, 2, 1], 0.0)  # tie 0/2 on id, then 1
    for i in (2, 3, 4, 5):
        assert got[i] == ([0, 1, 2], None), (i, got[i])


def _probe_one(spark, cents, n_probe):
    """Probed centroid ids of the single vector [0.0]."""
    one = spark.createDataFrame([(1, [0.0])], "id int, embedding array<double>")
    return one.select(
        nearest_centroids_col("embedding", cents, n_probe).alias("p")
    ).first().p


def test_near_tie_takes_rounded_order(spark):
    """Distances are rounded to SIM_SCALE before the (d, centroid_id)
    sort. Raw distances 0.25 and (0.5+1e-7)² differ by ~1e-7, below the
    round(…, 6) grid, so both round to 0.25 and the tie breaks on
    centroid_id — the reverse of the raw-distance order (centroid 0 is
    the farther one)."""
    assert _probe_one(spark, [(0, [0.5 + 1e-7]), (1, [-0.5])], 2) == [0, 1]


def test_expr_core_near_tie_on_quantized_vector(spark):
    """The same sub-grid near-tie through the core that takes an
    already-quantized vector, with no quantization in front of it."""
    qv = spark.createDataFrame([(1, [0])], "id int, qv array<bigint>")
    cents = [(0, [0.5 + 1e-7]), (1, [-0.5])]
    r = qv.select(nearest_centroids_expr("qv", cents, 2).alias("p")).first()
    assert r.p == [0, 1]


def test_clear_gap_keeps_raw_order(spark):
    """Distances 100 vs 0.25 are far apart on the rounding grid, so the
    raw order stands, for the full order and for the top-1."""
    cents = [(0, [10.0]), (1, [-0.5])]
    assert _probe_one(spark, cents, 2) == [1, 0]
    assert _probe_one(spark, cents, 1) == [1]


def test_top1_agrees_with_full_order_on_tie_shapes(spark):
    """Each case is (centroids, expected full order) for the vector
    [0.0]; the top-1 must be the head of the full order:

    - sub-grid near-tie: the rounded order, not the raw one;
    - clear gap: the raw order;
    - exact top tie: the lower id wins;
    - exact top tie with a third distance 2e-5 above it: the rounded
      order keeps the lower-id winner;
    - a lower-id third centroid 1e-7 above an exact tie of the other
      two: all three round equal, so centroid 0 wins (the reproducer of
      a top-1 divergence from the q_ivf_topk oracle)."""
    cases = [
        ([(0, [0.5 + 1e-7]), (1, [-0.5])], [0, 1]),
        ([(0, [10.0]), (1, [-0.5])], [1, 0]),
        ([(0, [0.5]), (1, [-0.5]), (2, [7.0])], [0, 1, 2]),
        ([(0, [0.5]), (1, [-0.5]), (2, [-(0.5 + 2e-5)])], [0, 1, 2]),
        ([(0, [-(0.5 + 1e-7)]), (1, [0.5]), (2, [-0.5])], [0, 1, 2]),
    ]
    for cents, order in cases:
        full = _probe_one(spark, cents, 3)
        top1 = _probe_one(spark, cents, 1)
        assert (top1, full) == (order[:1], order), cents


def _sims(spark, queries, candidates):
    """{(query_id, vec_id): sim} of an exhaustive brute-force top-k."""
    schema = "vec_id long, embedding array<double>"
    rows = cosine_topk_bruteforce(
        spark.createDataFrame(candidates, schema),
        spark.createDataFrame(queries, schema),
        k=len(candidates),
    ).collect()
    return {(r.query_id, r.vec_id): r.sim for r in rows}


def test_bruteforce_sim_degenerate_vectors(spark):
    """A zero-norm vector on either side scores NULL (try_divide), a
    NaN component scores NaN (it sorts above every real similarity),
    and NULL or length-mismatched vectors score NULL."""
    nan = float("nan")
    sims = _sims(
        spark,
        [(100, [1.0, 2.0]), (101, [0.0, 0.0])],
        [
            (1, [2.0, 4.0]),
            (2, [0.0, 0.0]),
            (3, [nan, 1.0]),
            (4, None),
            (5, [1.0, 2.0, 3.0]),
            (6, [-1.0, -2.0]),
        ],
    )
    assert sims[(100, 1)] == 1.0
    assert sims[(100, 2)] is None
    assert math.isnan(sims[(100, 3)])
    assert sims[(100, 4)] is None and sims[(100, 5)] is None
    assert sims[(100, 6)] == -1.0
    assert [sims[(101, i)] for i in (1, 2, 4, 5, 6)] == [None] * 5


def test_bruteforce_sim_half_boundary_rounding(spark):
    """Similarities on the .5 boundary of the 1e-6 grid round HALF_UP
    on their shortest decimal repr, away from zero for negatives too
    (-5e-07 → -1e-06, where floor(x·1e6 + 0.5)/1e6 would give 0.0). The
    pair q=[1, 0], e=[±1, b] has sim ±1/sqrt(1 + b²); b is solved for
    each target."""
    targets = [
        (5e-07, 1e-06),
        (1.5e-06, 2e-06),
        (-5e-07, -1e-06),
        (-1.5e-06, -2e-06),
        (0.1234565, 0.123457),
        (0.9999995, 0.999999),
        (-0.9999995, -0.999999),
    ]
    candidates = [
        (i, [math.copysign(1.0, t), math.sqrt(1.0 / (t * t) - 1.0)])
        for i, (t, _) in enumerate(targets)
    ]
    sims = _sims(spark, [(100, [1.0, 0.0])], candidates)
    assert [sims[(100, i)] for i in range(len(targets))] == [
        want for _, want in targets
    ]
