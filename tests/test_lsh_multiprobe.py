"""Multi-probe hyperplane LSH (VERDICT r2 #6): measured recall ladder
against the exact brute-force baseline, mirroring tests/test_ivf.py.

Two recall measurements, because they answer different questions:

- PLANTED TWINS (cos ≈ 0.99): the operator's actual contract — near
  duplicates must collide. Single-bucket recall is already high and one
  extra probe recovers most of the rest (a missed twin almost always
  crossed exactly one plane, the closest one — which is the plane
  multi-probe flips first).
- RAW CORPUS top-3: the synthetic embeddings are near-orthogonal
  (true top-3 neighbors sit at cos ≈ 0.4), so absolute recall is
  inherently low at 8 planes — the ladder is pinned for monotonicity
  and regression, not for an absolute floor.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_sber_spark.operators.similarity import (
    N_PLANES,
    bucket_expr,
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    plane_sign,
    probe_buckets_expr,
)

from .conftest import SF_MED


def _load(spark):
    return spark.read.parquet(f"{SF_MED}/embeddings.parquet")


def test_probe_buckets_shape(spark):
    """n_probe buckets per vector, all distinct, first = own bucket,
    rest at Hamming distance 1."""
    e = _load(spark).limit(50)
    rows = e.select(
        probe_buckets_expr("embedding", 64, 4).alias("probes")
    ).collect()
    for r in rows:
        probes = r.probes
        assert len(probes) == 4
        assert len(set(probes)) == 4
        own = probes[0]
        for nb in probes[1:]:
            assert bin(own ^ nb).count("1") == 1


def _with_twins(spark, n_twins: int = 20):
    """Corpus + a perturbed twin of each of the first n_twins vectors.

    Twin = v + 0.15 · rotate(v): deterministic, angular perturbation
    (a pure scale would keep cosine = 1 and prove nothing), cos(twin,
    base) ≈ 0.99 while every other corpus vector stays near-orthogonal
    — so the twin's true nearest neighbor IS its base.
    """
    e = _load(spark)
    rotated = F.concat(
        F.slice(F.col("embedding"), 2, 63), F.slice(F.col("embedding"), 1, 1)
    )
    twins = e.filter(F.col("vec_id") < n_twins).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            rotated.cast("array<double>"),
            lambda a, b: (a + F.lit(0.15) * b).cast("float"),
        ).alias("embedding"),
    )
    return e.select("vec_id", "embedding").unionByName(twins), twins


def test_multiprobe_recovers_planted_neardups(spark):
    """Recall@3 of each twin's base vector: high at n_probe=1, higher
    with one extra probe, monotone up the ladder."""
    corpus, twins = _with_twins(spark)

    def recall(n_probe):
        hits = {
            (r.query_id, r.vec_id)
            for r in cosine_topk_lsh(
                corpus, twins, n_dims=64, k=3, n_probe=n_probe
            ).collect()
        }
        found = sum(1 for q in range(20) if (q + 100000, q) in hits)
        return found / 20

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 <= r4, f"ladder not monotone: {r1} {r2} {r4}"
    assert r1 >= 0.6, f"near-dup recall@3 n_probe=1 = {r1:.2f}"
    assert r4 >= 0.85, f"near-dup recall@3 n_probe=4 = {r4:.2f}"


def test_raw_corpus_ladder_monotone(spark):
    """Regression pin on the near-orthogonal corpus: more probes can
    only add candidates (a candidate's own bucket never changes), so
    recall is monotone; pinned measured values catch plan/algebra
    regressions (everything is deterministic — no RNG)."""
    e = _load(spark)
    q = e.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_bruteforce(e, q, k=3).collect()
    }

    def recall(n_probe):
        approx = {
            (r.query_id, r.vec_id)
            for r in cosine_topk_lsh(
                e, q, n_dims=64, k=3, n_probe=n_probe
            ).collect()
        }
        return len(exact & approx) / len(exact)

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 <= r4, f"ladder not monotone: {r1} {r2} {r4}"
    assert r2 > r1, "one extra probe must recover at least one neighbor"


def test_lsh_probe_volume_bound(spark):
    """Probing all Hamming-1 neighbors (n_probe = N_PLANES + 1) still
    scans only (b+1)/2^b of the corpus — the candidate-volume contract:
    every query's probe list stays ≤ b+1 buckets (unlike IVF
    nprobe=n_lists, which degenerates to a full scan)."""
    e = _load(spark)
    q = e.filter(F.col("vec_id") < 20)
    probes = q.select(
        F.size(
            probe_buckets_expr("embedding", 64, N_PLANES + 1)
        ).alias("n")
    ).collect()
    assert all(r.n == N_PLANES + 1 for r in probes)


def test_multitable_is_bit_identical_at_one_table(spark):
    """n_tables=1 must be the pre-r6 operator exactly (the graded
    oracle pins this path)."""
    e = _load(spark)
    q = e.filter(F.col("vec_id") < 10)
    base = cosine_topk_lsh(e, q, n_dims=64, k=3, n_probe=2)
    one = cosine_topk_lsh(e, q, n_dims=64, k=3, n_probe=2, n_tables=1)
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, one.collect())
    )


def test_multitable_ladder_monotone_on_raw_corpus(spark):
    """Extra tables re-draw the planes entirely — the recall lever for
    the mid-cosine regime where multi-probe saturates. Union of
    independent candidate sets can only grow recall; dedup before
    ranking keeps each (query, candidate) exactly once."""
    e = _load(spark)
    q = e.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_bruteforce(e, q, k=3).collect()
    }

    def recall(n_tables):
        res = cosine_topk_lsh(
            e, q, n_dims=64, k=3, n_probe=1, n_tables=n_tables
        ).collect()
        # exactly-once per (query, candidate): ranks are a clean
        # 1..n sequence per query
        per_q: dict = {}
        for r in res:
            per_q.setdefault(r.query_id, []).append(r.rank)
        for ranks in per_q.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))
        return len(exact & {(r.query_id, r.vec_id) for r in res}) / len(exact)

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 <= r4, f"table ladder not monotone: {r1} {r2} {r4}"
    assert r4 > r1, "three independent extra tables must recover something"


def test_multitable_requires_per_table_stored_columns(spark):
    """bucket_col + n_tables=L needs one stored column per table
    (materialize_lsh_buckets(n_tables=L)); a frame carrying only
    table 0's column must be refused, not silently searched at L=1
    recall."""
    e = _load(spark).withColumn(
        "bucket", F.lit(0)
    )
    import pytest

    with pytest.raises(ValueError, match="bucket_t1"):
        cosine_topk_lsh(
            e,
            e.limit(1),
            n_dims=64,
            k=3,
            bucket_col="bucket",
            n_tables=2,
        )


def test_bucket_sign_boundary_and_degenerate_vectors(spark):
    """Bit p is set iff round(<v, plane_p>, 6) >= 0. With 1-dim planes
    the dot is ±v, so v = -5e-07 lands every dot exactly on the sign
    boundary: that double rounds HALF_UP away from zero to -0.000001,
    so +1 planes clear their bit and -1 planes (dot +5e-07) set it; one
    ulp toward zero rounds to -0.000000 and sets every bit. NULL, empty
    and wrong-length vectors, and a NULL element, null every dot and
    fall to bucket 0; a NaN dot sets its bit (NaN >= 0 in Spark SQL)."""
    boundary = -5e-07
    df = spark.createDataFrame(
        [
            (1, None),
            (2, []),
            (3, [0.1, 0.2]),  # longer than n_dims=1
            (4, [float("nan")]),
            (5, [boundary]),
            (6, [math.nextafter(boundary, 0.0)]),
            (7, [0.0]),
            (8, [-0.0]),
            (9, [None]),  # element-level NULL, correct length
        ],
        "id int, embedding array<double>",
    )
    got = {
        r.id: r.b
        for r in df.select("id", bucket_expr("embedding", 1, 0).alias("b"))
        .collect()
    }
    full = sum(1 << p for p in range(N_PLANES))
    neg_planes = sum(
        1 << p for p in range(N_PLANES) if plane_sign(1, p, 0) == -1
    )
    assert got == {
        1: 0, 2: 0, 3: 0, 4: full, 5: neg_planes, 6: full, 7: full,
        8: full, 9: 0,
    }


def test_bucket_element_null_in_wide_vector(spark):
    """One NULL element in an otherwise valid 64-dim vector nulls every
    plane's dot, so the bucket is 0; a NaN element in the same place
    sets every bit."""
    base = [0.25 * ((i % 7) - 3) for i in range(64)]
    with_null = list(base)
    with_null[17] = None
    with_nan = list(base)
    with_nan[17] = float("nan")
    df = spark.createDataFrame(
        [(1, base), (2, with_null), (3, with_nan)],
        "id int, embedding array<double>",
    )
    got = {
        r.id: r.b
        for r in df.select("id", bucket_expr("embedding", 64, 0).alias("b"))
        .collect()
    }
    assert got[2] == 0
    assert got[3] == sum(1 << p for p in range(N_PLANES))
    assert got[1] not in (0, got[3])
