"""Semantic pins for deterministic sampling (operators/sampling.py):
rate accuracy, determinism, hash-stability under corpus growth and
rebalancing toward target shares. q_stratified_sample differentially proves the
hash arithmetic against DuckDB.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_sber_spark.operators.sampling import downsample_to, stratified_sample


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(f"doc{i:05d}", "en" if i % 2 == 0 else "de") for i in range(4000)]
    return spark.createDataFrame(rows, ["doc_id", "lang"])


def test_rates_within_tolerance(corpus):
    out = stratified_sample(corpus, "lang", {"en": 0.5, "de": 0.1}, id_col="doc_id")
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # 2000 per stratum; md5-uniform → binomial; 5σ bounds
    assert abs(counts["en"] - 1000) < 5 * (2000 * 0.25) ** 0.5
    assert abs(counts.get("de", 0) - 200) < 5 * (2000 * 0.09) ** 0.5


def test_unlisted_stratum_gets_default_rate(corpus):
    out = stratified_sample(corpus, "lang", {"en": 1.0}, default_rate=0.0)
    assert out.filter(F.col("lang") == "de").count() == 0
    assert out.filter(F.col("lang") == "en").count() == 2000


def test_deterministic_and_hash_stable(corpus, spark):
    ids1 = {r.doc_id for r in stratified_sample(corpus, "lang", {"en": 0.3, "de": 0.3}).collect()}
    ids2 = {r.doc_id for r in stratified_sample(corpus, "lang", {"en": 0.3, "de": 0.3}).collect()}
    assert ids1 == ids2
    # growing the corpus never flips an existing row's fate
    grown = corpus.union(
        spark.createDataFrame([(f"new{i}", "en") for i in range(500)], ["doc_id", "lang"])
    )
    ids3 = {r.doc_id for r in stratified_sample(grown, "lang", {"en": 0.3, "de": 0.3}).collect()}
    assert {i for i in ids3 if not i.startswith("new")} == ids1


def test_seed_changes_selection(corpus):
    a = {r.doc_id for r in stratified_sample(corpus, "lang", {"en": 0.5}, seed=0).collect()}
    b = {r.doc_id for r in stratified_sample(corpus, "lang", {"en": 0.5}, seed=1).collect()}
    assert a != b
    assert abs(len(a) - len(b)) < 5 * (2000 * 0.25) ** 0.5


def test_downsample_to_shares(corpus):
    out = downsample_to(corpus, "lang", {"en": 0.75, "de": 0.25})
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # equal-sized strata → realized shares ≈ targets (en rate 1.0, de 1/3)
    assert counts["en"] == 2000
    assert abs(counts["de"] - 2000 / 3) < 5 * (2000 * (1 / 3) * (2 / 3)) ** 0.5


def test_sampling_is_scan_side(corpus):
    """The sample filter must compile into the scan stage: no shuffle
    (Exchange) in the plan."""
    out = stratified_sample(corpus, "lang", {"en": 0.5})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
