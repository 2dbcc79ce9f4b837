"""DSIR-style data selection: hashed n-gram importance weights.

Data Selection with Importance Resampling (Xie et al., 2023) is the
standard recipe for tilting a raw web corpus toward a target domain
without training a classifier: estimate two bag-of-hashed-n-grams
distributions — the target's and the raw corpus's — and weight every
raw document by its log importance ratio

    log w(doc) = Σ_{grams g ∈ doc} [ log p_target(h(g)) − log p_raw(h(g)) ]

then sample documents with probability ∝ w. Everything is counting and
per-row arithmetic, so the whole method is relational:

- :func:`hashed_grams` — unigrams + bigrams per document, each hashed
  into one of ``n_buckets`` buckets (the paper's feature hashing; the
  portable 60-bit md5 hash, functions/hashing.py). One projection +
  explode, linear in tokens.
- :func:`importance_weights` — ONE lazy DAG (r12): the gram stream
  folds to (doc, bucket, n) right after the explode (≤ ``n_buckets``
  rows per document — guide §2.3 "aggregate before you shuffle"), the
  model's bucket counts and totals are aggregates over that folded
  frame (no driver collect), and scoring is a broadcast-join of the
  ``n_buckets``-row log-ratio table plus one aggregate back to
  documents. Add-1 smoothing keeps every bucket's probability finite.
- :func:`resample_top_fraction` — deterministic importance resampling:
  the paper's Gumbel-top-k trick with hash-derived (not RNG) Gumbel
  noise, so the same corpus + seed always selects the same subset —
  the repo-wide no-RNG rule.

Determinism / differential testability: per-gram log-ratio terms are
rounded to 9 decimals and summed exactly in decimal — per folded
bucket, n·term as DECIMAL(12,0)×DECIMAL(16,9) = DECIMAL(29,9) —
order-independent (the BM25 rule, operators/ranking.py), so a DuckDB
oracle replays the arithmetic bit-identically (q_dsir_weights).

Scale: gram explosion is the dominant cost (linear in corpus tokens,
same order as the dedup shingle build); the model itself is two
``n_buckets``-row tables — no corpus-sized state, no UDFs, nothing on
the driver beyond the bucket counts.

Reference parity: no selection surface in the reference (bank ETL);
extends the quality stack (functions/text.py heuristics,
operators/classifier.py scores) with the distribution-matching signal.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import hash64
from .materialize import pin
from .spread import spread

DEFAULT_BUCKETS = 512


def _gram_expr(tok_col: str = "_tk"):
    """Array of unigrams + bigrams over an ALREADY-SPLIT token array.

    The size<2 guard matters: Spark's ``sequence(1, 0)`` DESCENDS
    ([1, 0]) instead of returning empty, which would fabricate a
    reversed bigram for single-token documents.

    Takes the token-array column, not the raw text (r11): the previous
    text-taking form inlined ``split(lower(trim(text)))`` at every one
    of its five reference sites, and codegen did NOT common them — the
    regex split ran 5× per row (measured: the gram explode alone 0.78 →
    0.31 s warm at sf0.1 after hoisting the split into its own
    projection; CollapseProject keeps the hoist because a non-cheap
    alias referenced more than once is not inlined back).
    """
    return F.expr(
        f"""
        CASE WHEN size({tok_col}) < 2
             THEN {tok_col}
             ELSE concat(
                 {tok_col},
                 transform(
                     sequence(1, size({tok_col}) - 1),
                     i -> concat_ws(' ',
                          element_at({tok_col}, i),
                          element_at({tok_col}, i + 1))))
        END
        """
    )


def hashed_grams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    seed: int = 0,
) -> DataFrame:
    """(id, bucket) — one row per gram occurrence (counts matter, so no
    distinct), bucket = hash64(gram, seed) mod ``n_buckets``."""
    toks = spread(df).select(
        F.col(id_col),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_tk"),
    )
    return (
        toks.select(F.col(id_col), F.explode(_gram_expr("_tk")).alias("_g"))
        .select(
            id_col,
            F.pmod(hash64(F.col("_g"), seed), F.lit(n_buckets)).alias(
                "bucket"
            ),
        )
    )


def importance_weights(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    seed: int = 0,
    target_within_corpus: bool = False,
) -> DataFrame:
    """Per-document DSIR log importance weight against ``target``.

    Output: (``id_col``, ``n_grams``, ``log_weight``) for every corpus
    document with at least one gram; higher = more target-like.
    ``log_weight`` = Σ_grams round(log2 p̂_target(b) − log2 p̂_raw(b), 9)
    with add-1 smoothed p̂(b) = (c_b + 1) / (total + n_buckets), summed
    exactly as per-bucket DECIMAL(29,9) terms and emitted as a
    6-decimal double.

    Shape (r12, guide §2.3 "aggregate before you shuffle"): the gram
    stream is folded to ``(doc, bucket, n)`` rows — at most
    ``n_buckets`` per document — in ONE pass right after the explode,
    and everything downstream (the pinned shared frame, the model's
    bucket counts, the scoring join, the per-doc aggregate) runs on
    that folded frame instead of one row per gram occurrence. The
    model is unchanged exactly: Σ_grams round(bits_b, 9) =
    Σ_buckets n_b·round(bits_b, 9), and the multiply is
    DECIMAL(12,0)×DECIMAL(16,9) → DECIMAL(29,9) — exact, no precision
    loss (the old per-gram DECIMAL(28,9) sum and this one are the same
    rational number, so the final double is bit-identical). The
    previous shape pinned the per-gram frame and collected bucket
    counts to the driver; the gram explode now happens once, the pin
    stores the ~4× smaller folded rows, and the counts job scans the
    small pin. This query was the most driver-bound of the bench at
    sf0.1 (8→32-core ratio 0.57), so fewer/cheaper jobs are the lever.

    ``target_within_corpus=True`` declares that ``target``'s rows are a
    SUBSET of ``corpus`` (same ids, same text) — the target-membership
    flag then rides the folded pinned frame (a left join against the
    target ids, no fan-out: (doc, bucket) rows join doc ids) and BOTH
    bucket counts come from ONE aggregate over one scan of the small
    pin, skipping the second tokenize+hash pass over the target text
    (r11, measured 1.90 → 1.48 s at sf0.1, value-identical). Semantics
    are identical by definition of the flag; the caller is asserting
    the subset relationship, not changing the model.
    """
    folded = (
        hashed_grams(corpus, id_col, text_col, n_buckets, seed)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    if target_within_corpus:
        # no forced broadcast: a target slice can be a large fraction of
        # the corpus (AQE picks broadcast when the id set is small)
        db = pin(
            folded.join(
                target.select(id_col).withColumn("_t", F.lit(1)),
                id_col,
                "left",
            )
        )
        counts = db.groupBy("bucket").agg(
            F.sum("_n").alias("r_b"),
            F.sum(
                F.when(F.col("_t") == 1, F.col("_n")).otherwise(F.lit(0))
            ).alias("t_b"),
        )
    else:
        db = pin(folded)
        t_pre = (
            hashed_grams(target, id_col, text_col, n_buckets, seed)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("_tc"))
        )
        # one union-aggregate, not a per-side count + full-outer join:
        # buckets seen only in the target still contribute to t_total,
        # and a full-outer join of the two count frames would be the
        # plan's only SortMergeJoin (full outer cannot broadcast).
        # Pinned: ``counts`` feeds both ``totals`` and ``ratio``, and
        # exchange reuse does not merge the two copies (an inferred
        # isnotnull(bucket) filter lands on one side only), so unpinned
        # the target's tokenize + hash + count pass and this aggregate
        # ran twice per action
        counts = pin(
            db.select(
                "bucket",
                F.col("_n").alias("_r"),
                F.lit(0).cast("long").alias("_t"),
            )
            .unionAll(
                t_pre.select(
                    "bucket",
                    F.lit(0).cast("long").alias("_r"),
                    F.col("_tc").alias("_t"),
                )
            )
            .groupBy("bucket")
            .agg(F.sum("_r").alias("r_b"), F.sum("_t").alias("t_b"))
        )
    # totals as a 1-row aggregate riding the counts frame as a broadcast
    # cross join (the q_bm25_rank corpus-stats pattern) — NOT a window:
    # resample_top_fraction's approx path asserts its plan window-free.
    # Everything stays one lazy DAG: no collect, no driver sync.
    totals = counts.agg(
        (F.sum("t_b") + F.lit(n_buckets)).alias("_t_total"),
        (F.sum("r_b") + F.lit(n_buckets)).alias("_r_total"),
    )
    # log2 evaluated ENGINE-side on both sides of the differential (the
    # lm.py discipline): identical IEEE operands -> identical doubles.
    # DECIMAL(16,9) holds any |bits| < 10^7 (true log2 ratios are < 64);
    # the narrower type keeps n·bits inside DECIMAL(38,…) exactly.
    bits = F.round(
        F.log2(
            (F.col("t_b") + F.lit(1)).cast("double")
            / F.col("_t_total").cast("double")
        )
        - F.log2(
            (F.col("r_b") + F.lit(1)).cast("double")
            / F.col("_r_total").cast("double")
        ),
        9,
    ).cast(T.DecimalType(16, 9))
    ratio = counts.crossJoin(F.broadcast(totals)).select(
        "bucket", bits.alias("_bits")
    )
    return (
        db.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("_n").alias("n_grams"),
            F.round(
                F.sum(
                    F.col("_n").cast(T.DecimalType(12, 0)) * F.col("_bits")
                ).cast("double"),
                6,
            ).alias("log_weight"),
        )
    )


def resample_top_fraction(
    weights: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    seed: int = 0,
    exact: bool = True,
) -> DataFrame:
    """Deterministic importance resampling: keep the top ``fraction`` of
    documents by perturbed weight (Gumbel-top-k == sampling without
    replacement ∝ exp(log_weight)).

    The Gumbel noise is hash-derived — u = (hash64(id, seed)+1) / (2^60+1)
    ∈ (0, 1), g = −log(−log u) — so selection is reproducible and
    membership is stable under repartitioning (no RNG anywhere).

    ``exact=True`` ranks with a global window: WindowGroupLimit prunes
    each input partition to k rows first, but the FINAL rank still
    funnels up to partitions×k rows through one task — exact size,
    correct only while k (= n×fraction) is a driver-tractable count.
    That is the curation reality for small selected subsets; for
    corpus-scale fractions pass ``exact=False``: the cut becomes a
    quantile THRESHOLD on the perturbed key (approxQuantile, 0.1%
    relative error) and selection is a pure filter — no global window,
    no corpus-sized task — at the cost of the selected size being
    approximate (±rel_err·n) and the threshold being a property of this
    frame's data (re-deriving on different data picks a different
    cut, as any quantile does).
    """
    if not 0 < fraction <= 1:
        raise ValueError("fraction must be in (0, 1]")
    u = (hash64(F.col(id_col), seed) + F.lit(1)).cast("double") / F.lit(
        float((1 << 60) + 1)
    )
    gumbel = -F.log(-F.log(u))
    perturbed = weights.withColumn(
        "_key", F.col("log_weight") * math.log(2) + gumbel
    )
    if not exact:
        if fraction == 1:
            return perturbed.drop("_key")
        (threshold,) = perturbed.approxQuantile(
            "_key", [1.0 - fraction], 0.001
        )
        return perturbed.filter(F.col("_key") >= threshold).drop("_key")
    n = weights.count()
    k = max(1, int(n * fraction))
    from pyspark.sql import Window

    ranked = perturbed.withColumn(
        "_rk",
        F.row_number().over(
            Window.orderBy(F.col("_key").desc(), F.col(id_col))
        ),
    )
    return ranked.filter(F.col("_rk") <= k).drop("_key", "_rk")
