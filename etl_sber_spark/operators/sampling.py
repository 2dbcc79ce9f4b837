"""Deterministic sampling for training-data pipelines.

Every operation keys off the portable 60-bit md5 hash of the row id
(functions/hashing.py) — NO RNG, no seed state, no sampleBy():

- reruns are bit-identical (idempotent pipelines, reproducible
  ablations);
- the sample decision is a pure column expression, so it pushes into
  the scan stage and costs nothing beyond the hash;
- the same row keeps the same fate when the corpus grows (hash-stable
  sampling — adding documents never flips previously-sampled ones),
  which `df.sample()`/Bernoulli-RNG sampling cannot guarantee.

Spark's own ``sampleBy`` is RNG-based and per-partition-seeded, so its
output depends on partitioning — unusable for differential testing and
hostile to reproducibility at scale. These operators are graded against
DuckDB running the *identical* hash arithmetic (q_stratified_sample).

100 TB design: stratified_sample and downsample_to are one codegen'd
filter over the scan — zero shuffles, zero driver round-trips. The
per-stratum rate map is a literal CASE expression (strata counts are
small: languages, sources, quality buckets).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash64

#: Hash-bucket resolution: rates are expressed in 1/10000ths.
RESOLUTION = 10_000


def sample_bucket(id_col: Column | str, seed: int = 0) -> Column:
    """Uniform bucket in [0, RESOLUTION) derived from the row id hash.

    hash64 is uniform over 60 bits; pmod by 10^4 keeps ≤0.01% bias
    (2^60 is not a multiple of 10^4 — bounded by RESOLUTION/2^60).
    """
    return F.pmod(hash64(id_col, seed), F.lit(RESOLUTION))


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    rates: Mapping[str, float],
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Keep each row with its stratum's probability, deterministically.

    ``rates`` maps stratum value → keep-rate in [0,1]. Rates are
    quantized to 1/10000 (documented contract — a 0.33333 rate becomes
    0.3333). Rows in unlisted strata keep ``default_rate``.
    """
    expr = F.lit(int(round(default_rate * RESOLUTION)))
    for value, rate in sorted(rates.items()):
        expr = (
            F.when(F.col(stratum_col) == value, F.lit(int(round(rate * RESOLUTION))))
            .otherwise(expr)
        )
    return df.filter(sample_bucket(F.col(id_col), seed) < expr)


def cap_per_stratum(
    df: DataFrame,
    stratum_col: str,
    max_rows: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Keep at most ``max_rows`` rows per stratum — the per-domain quota
    gate of crawl curation (no single domain may dominate the corpus).

    Selection is deterministic: rows are ranked inside each stratum by
    (hash-bucket, id) and the first ``max_rows`` win, so the kept set is
    a stable uniform sample of the stratum, not "whatever the scan
    ordered first" (a plain LIMIT per group would be partitioning-
    dependent). One shuffle (the per-stratum window); strata are
    independent, so the operator distributes and AQE covers skewed
    (celebrity-domain) strata.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(stratum_col).orderBy(
        sample_bucket(F.col(id_col), seed), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_rows)
        .drop("_rk")
    )


def downsample_to(
    df: DataFrame,
    stratum_col: str,
    target_share: Mapping[str, float],
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Rebalance strata toward target shares WITHOUT a pre-count: for the
    stratum with the largest target share the rate is 1.0, others are
    scaled proportionally (target_i / max_target). This preserves
    relative targets exactly when strata start equal-sized and
    approximates them otherwise — the zero-shuffle, zero-extra-pass
    variant appropriate at 100 TB (an exact rebalance needs one count
    pass; compose stratified_sample with measured rates for that)."""
    mx = max(target_share.values())
    rates = {k: v / mx for k, v in target_share.items()}
    return stratified_sample(df, stratum_col, rates, id_col, 0.0, seed)
