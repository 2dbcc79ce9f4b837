"""operators/dsir.py — pure-Python differential + selection laws.

The cross-engine hash differential is q_dsir_weights (driver-graded vs
DuckDB). Here: an independent Python replay of the whole weight
computation on a small fixture (grams, buckets, smoothing, rounding),
plus the Gumbel-top-k selection laws (determinism, size, monotonicity
in the weights).
"""

from __future__ import annotations

import hashlib
import math
import re
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from etl_sber_spark.operators.dsir import (
    hashed_grams,
    importance_weights,
    resample_top_fraction,
)

B = 64


def _h64(s: str, seed: int = 0) -> int:
    return int(hashlib.md5(f"{s}:{seed}".encode()).hexdigest()[:15], 16)


def _grams(text: str) -> list[str]:
    toks = re.split(r"\s+", text.strip().lower())
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox sleeps", "en"),
        (3, "panda eats shoots and leaves", "en"),
        (4, "съешь ещё этих мягких французских булок", "ru"),
        (5, "французских булок больше нет", "ru"),
        (6, "one", "ru"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_hashed_grams_matches_python(corpus):
    got = sorted(
        (r["doc_id"], r["bucket"])
        for r in hashed_grams(corpus, n_buckets=B).collect()
    )
    want = sorted(
        (i, _h64(g) % B)
        for i, text, _ in corpus.collect()
        for g in _grams(text)
    )
    assert got == want


def test_importance_weights_match_python_replay(corpus):
    target = corpus.filter(F.col("lang") == "en")
    got = {
        r["doc_id"]: (r["n_grams"], r["log_weight"])
        for r in importance_weights(corpus, target, n_buckets=B).collect()
    }

    raw: dict[int, int] = {}
    tgt: dict[int, int] = {}
    rows = corpus.collect()
    for i, text, lang in rows:
        for g in _grams(text):
            b = _h64(g) % B
            raw[b] = raw.get(b, 0) + 1
            if lang == "en":
                tgt[b] = tgt.get(b, 0) + 1
    r_total, t_total = sum(raw.values()), sum(tgt.values())
    want = {}
    for i, text, _ in rows:
        gs = [_h64(g) % B for g in _grams(text)]
        s = sum(
            Decimal(
                str(
                    round(
                        math.log2((tgt.get(b, 0) + 1) / (t_total + B))
                        - math.log2((raw.get(b, 0) + 1) / (r_total + B)),
                        9,
                    )
                )
            )
            for b in gs
        )
        want[i] = (len(gs), round(float(s), 6))
    assert got == want


def test_target_like_documents_score_higher(corpus):
    target = corpus.filter(F.col("lang") == "en")
    w = {
        r["doc_id"]: r["log_weight"] / r["n_grams"]
        for r in importance_weights(corpus, target, n_buckets=B).collect()
    }
    # every English doc's mean per-gram weight beats every Russian doc's
    assert min(w[1], w[2], w[3]) > max(w[4], w[5], w[6])


def test_resample_fraction_size_and_determinism(corpus):
    target = corpus.filter(F.col("lang") == "en")
    w = importance_weights(corpus, target, n_buckets=B)
    picked = resample_top_fraction(w, 0.5, seed=7)
    ids = sorted(r["doc_id"] for r in picked.collect())
    assert len(ids) == 3
    again = sorted(
        r["doc_id"]
        for r in resample_top_fraction(w, 0.5, seed=7)
        .repartition(5)
        .collect()
    )
    assert ids == again
    other = sorted(
        r["doc_id"] for r in resample_top_fraction(w, 0.5, seed=8).collect()
    )
    # a different seed may pick a different subset, but never a
    # different SIZE
    assert len(other) == 3


def test_resample_fraction_validates(corpus):
    target = corpus.filter(F.col("lang") == "en")
    w = importance_weights(corpus, target, n_buckets=B)
    with pytest.raises(ValueError):
        resample_top_fraction(w, 0.0)
    with pytest.raises(ValueError):
        resample_top_fraction(w, 1.5)


def test_resample_fraction_approx_threshold_path(corpus):
    """exact=False selects by quantile threshold (no global window) and
    lands within the documented tolerance of the target size."""
    target = corpus.filter(F.col("lang") == "en")
    w = importance_weights(corpus, target, n_buckets=B)
    picked = resample_top_fraction(w, 0.5, seed=7, exact=False)
    n = picked.count()
    assert 1 <= n <= w.count()
    # on 6 rows the 0.1% rel-err quantile is effectively exact
    assert abs(n - 3) <= 1
    plan = picked._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_target_within_corpus_matches_general_path(corpus):
    """The subset fast path (counts from the pinned corpus gram frame)
    must be value-identical to the general two-pass computation."""
    target = corpus.filter(F.col("lang") == "en")
    a = {
        r["doc_id"]: (r["n_grams"], r["log_weight"])
        for r in importance_weights(corpus, target, n_buckets=B).collect()
    }
    b = {
        r["doc_id"]: (r["n_grams"], r["log_weight"])
        for r in importance_weights(
            corpus, target, n_buckets=B, target_within_corpus=True
        ).collect()
    }
    assert a == b


def test_importance_weights_scoring_join_is_broadcast(corpus):
    """SCALE.md claim: the per-gram scoring join broadcasts the
    n_buckets-row log-ratio table -- the corpus side never shuffles for
    scoring (the only shuffle is the final per-doc aggregate)."""
    target = corpus.filter(F.col("lang") == "en")
    w = importance_weights(corpus, target, n_buckets=B)
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_general_path_counts_target_grams_once(corpus):
    """The bucket counts feed both the totals and the log-ratio table.
    Exchange reuse does not merge the two copies (an inferred isnotnull
    filter lands on one side only), so the counts are pinned: the
    executed plan re-plans no gram explode — the corpus's pass sits
    behind its pin, the target's behind the counts pin."""
    target = corpus.filter(F.col("lang") == "en")
    w = importance_weights(corpus, target, n_buckets=B)
    w.collect()
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan
