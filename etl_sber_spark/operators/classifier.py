"""Hashed-feature logistic quality classifier — the supervised corpus
filter (GPT-3/LLaMA-style: label a small reference set "high quality"
vs "random crawl", train a linear classifier on cheap text features,
score every document, threshold or importance-sample on the score).
The fastText-shaped quality signal; it feeds curation as a
per-document score column.

Everything is DataFrame algebra — no ML runtime:

- :func:`hashed_token_features` — the hashing trick: tokens hash into
  ``n_features`` buckets (portable md5 hash64, functions/hashing.py),
  one (id, bucket, count) row per present bucket — the SPARSE layout;
  a dense 10⁴-wide array per doc would be O(docs × width) storage for
  mostly-zero entries. Bucket 0 is the bias feature (every doc,
  count 1).
- :func:`train_quality_classifier` — full-batch gradient descent on
  logistic loss, the iterative-algorithm discipline of
  ``similarity.kmeans_centroids``: weights live driver-side as plan
  literals (metadata-scale: n_features+1 doubles), each iteration is
  TWO distributed aggregates — margins per doc (groupBy id), gradient
  per bucket (groupBy bucket, collected) — and no lineage growth
  across iterations.
- :func:`quality_scores` — scoring is ONE aggregate over the feature
  rows against literal weights: at 100 TB this is the production path
  (train once on the labeled sample, score the corpus in one pass).
- :func:`save_classifier` / :func:`load_classifier` — the weight
  vector persists as a VERSIONED warehouse artifact (the annindex
  pattern): curation runs record exactly which classifier version
  gated them.

Determinism (the repo-wide differential-testability rule): every
float contribution entering a distributed sum is rounded to 9 decimals
and accumulated as DECIMAL(28,9) — exact, order-independent (the BM25
rule, operators/ranking.py) — so margins, gradients, and therefore the
whole GD trajectory are bit-identical across partitionings and
re-runs; tests replay the exact trajectory in pure Python
(tests/test_classifier.py).

Reference parity: the reference has no ML surface (main.py is an
Oracle-SQL nightly ETL) — LLM-pipeline extension per SURVEY §7.5,
composing public techniques only (hashing trick: Weinberger et al.
ICML'09; quality-classifier filtering: Brown et al. 2020 §A).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import hash64
from .dedup import tokens_expr
from .materialize import pin
from .spread import spread

#: default feature-space width (buckets 1..N_FEATURES; 0 is the bias)
N_FEATURES = 1024

#: contributions are rounded to this scale before the exact decimal sum
_SCALE = 9
_DEC = T.DecimalType(28, _SCALE)


def hashed_token_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_features: int = N_FEATURES,
) -> DataFrame:
    """(id, bucket, v): sparse hashed bag-of-tokens counts, plus the
    bias row (bucket 0, v=1) per document. One explode + one
    hash-aggregate — parquet-scan-speed feature extraction."""
    toks = spread(df).select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("tok")
    )
    counts = (
        toks.select(
            id_col,
            (hash64(F.col("tok")) % n_features + 1).cast("int").alias("bucket"),
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("int").alias("v"))
    )
    bias = df.select(
        F.col(id_col), F.lit(0).alias("bucket"), F.lit(1).alias("v")
    )
    return counts.unionByName(bias)


def _weights_sql(weights: list[float]) -> str:
    return "array(" + ", ".join(f"{float(w)!r}D" for w in weights) + ")"


def _margins(feats: DataFrame, weights: list[float], id_col: str) -> DataFrame:
    """(id, margin): Σ v·w[bucket] per doc — contributions rounded then
    decimal-summed (exact, order-independent), one aggregate."""
    contrib = F.round(
        F.col("v")
        * F.expr(f"element_at({_weights_sql(weights)}, bucket + 1)"),
        _SCALE,
    ).cast(_DEC)
    return feats.groupBy(id_col).agg(
        F.sum(contrib).cast("double").alias("margin")
    )


def train_quality_classifier(
    feats: DataFrame,
    labels: DataFrame,
    n_features: int = N_FEATURES,
    *,
    n_iter: int = 20,
    lr: float = 1.0,
    l2: float = 0.0,
    id_col: str = "doc_id",
    label_col: str = "label",
) -> list[float]:
    """Full-batch logistic GD; returns the weight list (index 0 = bias,
    b = hashed bucket b). ``labels``: (id, label ∈ {0, 1}) — the
    labeled reference sets; at 100 TB the labeled sample is tiny next
    to the corpus, and training cost scales with the SAMPLE's feature
    rows only (features of unlabeled docs never enter the loop).

    Each iteration: margins per doc (one aggregate), residuals
    (sigmoid(margin) − label, a projection after an id-equi-join with
    the labels), gradient per bucket (one aggregate, collected —
    n_features+1 rows, metadata-scale), weights updated driver-side:
    ``w ← w·(1 − lr·l2) − (lr/n)·grad``. Deterministic end-to-end: the
    two sums are exact decimal sums of rounded terms, sigmoid runs on
    identical doubles everywhere, and the driver update is scalar
    Python — the trajectory replays bit-identically (pure-Python
    differential in tests/test_classifier.py).
    """
    lab = labels.select(
        F.col(id_col), F.col(label_col).cast("double").alias("_y")
    )
    n = lab.count()
    if n == 0:
        raise ValueError("labels frame is empty — nothing to train on")
    # training touches ONLY labeled docs' features, repeatedly
    tfeats = pin(feats.join(lab.select(id_col), id_col, "left_semi"))
    weights = [0.0] * (n_features + 1)
    for _ in range(n_iter):
        residuals = (
            _margins(tfeats, weights, id_col)
            .join(lab, id_col)
            .select(
                id_col,
                (
                    F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin")))
                    - F.col("_y")
                ).alias("_r"),
            )
        )
        gcontrib = F.round(F.col("v") * F.col("_r"), _SCALE).cast(_DEC)
        grad_rows = (
            tfeats.join(residuals, id_col)
            .groupBy("bucket")
            .agg(F.sum(gcontrib).cast("double").alias("g"))
            .collect()
        )
        grad = {int(r.bucket): float(r.g) for r in grad_rows}
        decay = 1.0 - lr * l2
        weights = [
            w * decay - (lr / n) * grad.get(b, 0.0)
            for b, w in enumerate(weights)
        ]
    return weights


def quality_scores(
    feats: DataFrame, weights: list[float], id_col: str = "doc_id"
) -> DataFrame:
    """(id, score): sigmoid of the margin against literal weights —
    the corpus-wide scoring pass, one aggregate over the sparse
    feature rows; rounded to 6 decimals (portable across engines)."""
    return _margins(feats, weights, id_col).select(
        id_col,
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))), 6
        ).alias("score"),
    )


def evaluate_classifier(
    scores: DataFrame,
    labels: DataFrame,
    *,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    label_col: str = "label",
) -> DataFrame:
    """One-row evaluation frame for threshold tuning on a held-out
    labeled set: ``n_pos``, ``n_neg``, ``auc`` (rank-based
    Mann-Whitney — threshold-free ranking quality, ties get average
    ranks), ``accuracy``/``precision``/``recall`` at ``threshold``.

    Shape: one id-equi-join, one global rank window, one aggregate —
    runs on the labeled HOLD-OUT (thousands of rows at any corpus
    scale), never the corpus. The window is a single global sort of
    that hold-out; do not point this at corpus-sized input.
    All ratios are exact-count divisions rounded to 6 — deterministic
    across partitionings (differential vs a pure-Python replay in
    tests/test_classifier.py).
    """
    joined = scores.join(
        labels.select(
            F.col(id_col), F.col(label_col).cast("int").alias("_y")
        ),
        id_col,
    )
    # average rank per tied score: (min row_number + max row_number)/2
    # over each distinct score — the standard tie-corrected rank
    rn = F.row_number().over(Window.orderBy("score", id_col))
    ranked = joined.withColumn("_rn", rn).withColumn(
        "_rank",
        (F.min("_rn").over(Window.partitionBy("score"))
         + F.max("_rn").over(Window.partitionBy("score"))) / 2.0,
    )
    pred_pos = F.col("score") >= threshold
    agg = ranked.agg(
        F.sum(F.col("_y")).alias("n_pos"),
        F.sum(1 - F.col("_y")).alias("n_neg"),
        F.sum(F.when(F.col("_y") == 1, F.col("_rank"))).alias("_rank_pos"),
        F.sum((pred_pos.cast("int") == F.col("_y")).cast("long")).alias("_tp_tn"),
        F.sum(F.when(pred_pos & (F.col("_y") == 1), 1).otherwise(0)).alias("_tp"),
        F.sum(pred_pos.cast("long")).alias("_pp"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(
            (F.col("_rank_pos") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0)
            / (F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
        F.round(F.col("_tp_tn") / (F.col("n_pos") + F.col("n_neg")), 6).alias(
            "accuracy"
        ),
        F.round(F.col("_tp") / F.col("_pp"), 6).alias("precision"),
        F.round(F.col("_tp") / F.col("n_pos"), 6).alias("recall"),
    )


def select_threshold(
    scores: DataFrame,
    labels: DataFrame,
    *,
    target_precision: float | None = None,
    target_recall: float | None = None,
    id_col: str = "doc_id",
    label_col: str = "label",
) -> dict:
    """Pick the score threshold hitting a precision/recall target on a
    labeled HOLD-OUT — the tuning step between ``evaluate_classifier``
    (fixed-threshold metrics) and wiring the gate into curation.

    Sweeps every distinct hold-out score as a candidate threshold
    (predictions are ``score >= t``) via one groupBy + one cumulative
    window over the hold-out's distinct scores — never corpus-sized.
    Selection rule (deterministic, ties broken toward the HIGHER
    threshold — the stricter gate):

    - ``target_precision=p``: among thresholds with precision ≥ p,
      maximize recall;
    - ``target_recall=r``: among thresholds with recall ≥ r, maximize
      precision;
    - neither: maximize F1.

    When no threshold meets the target, returns the closest one
    (max precision / max recall respectively) with ``met=False`` —
    callers gate deployment on ``met``, not on the numbers looking
    plausible. Returns ``{threshold, precision, recall, f1, met}``,
    ratios rounded to 6 like ``evaluate_classifier``.
    """
    if target_precision is not None and target_recall is not None:
        raise ValueError(
            "pick ONE of target_precision / target_recall — meeting both "
            "is two constraints with no defined objective; run twice and "
            "compare"
        )
    joined = scores.join(
        labels.select(
            F.col(id_col), F.col(label_col).cast("int").alias("_y")
        ),
        id_col,
    )
    n_pos = joined.agg(F.sum("_y").alias("p")).first().p
    if not n_pos:
        raise ValueError("hold-out has no positive labels")
    per_s = joined.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("_y").alias("p")
    )
    w = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    metrics = per_s.select(
        F.col("score").alias("threshold"),
        F.round(F.sum("p").over(w) / F.sum("n").over(w), 6).alias(
            "precision"
        ),
        F.round(F.sum("p").over(w) / F.lit(float(n_pos)), 6).alias("recall"),
    ).withColumn(
        "f1",
        F.round(
            2.0
            * F.col("precision")
            * F.col("recall")
            / (F.col("precision") + F.col("recall")),
            6,
        ),
    )
    if target_precision is not None:
        ok = metrics.filter(F.col("precision") >= target_precision)
        pick = ok.orderBy(
            F.col("recall").desc(), F.col("threshold").desc()
        ).first()
        met = pick is not None
        if pick is None:
            pick = metrics.orderBy(
                F.col("precision").desc(), F.col("threshold").desc()
            ).first()
    elif target_recall is not None:
        ok = metrics.filter(F.col("recall") >= target_recall)
        pick = ok.orderBy(
            F.col("precision").desc(), F.col("threshold").desc()
        ).first()
        met = pick is not None
        if pick is None:
            pick = metrics.orderBy(
                F.col("recall").desc(), F.col("threshold").desc()
            ).first()
    else:
        pick = metrics.orderBy(
            F.col("f1").desc(), F.col("threshold").desc()
        ).first()
        met = True
    return {
        "threshold": float(pick.threshold),
        "precision": float(pick.precision),
        "recall": float(pick.recall),
        "f1": float(pick.f1) if pick.f1 is not None else None,
        "met": met,
    }


def train_quality_classifier_by_lang(
    feats: DataFrame,
    labels: DataFrame,
    n_features: int = N_FEATURES,
    *,
    lang_col: str = "lang",
    n_iter: int = 20,
    lr: float = 1.0,
    l2: float = 0.0,
    id_col: str = "doc_id",
    label_col: str = "label",
) -> dict[str, list[float]]:
    """One weight vector PER LANGUAGE: token distributions (and what
    "quality" looks like) differ across languages, and a pooled linear
    model averages their signals away when they conflict (planted
    demonstration in tests/test_classifier.py). ``labels`` carries
    ``lang_col``; each language trains on its own labeled subset via
    the standard trainer (so each run stays semi-joined to ITS sample
    — corpus-size-independent). The language domain is collected
    driver-side (tens of values, the 256-bucket discipline).
    Returns ``{lang: weights}`` for :func:`quality_scores_by_lang` /
    :func:`save_classifier_by_lang`."""
    langs = sorted(
        r[lang_col]
        for r in labels.select(lang_col).distinct().collect()
        if r[lang_col] is not None
    )
    if not langs:
        raise ValueError("labels frame has no non-null languages")
    return {
        lang: train_quality_classifier(
            feats,
            labels.filter(F.col(lang_col) == lang),
            n_features,
            n_iter=n_iter,
            lr=lr,
            l2=l2,
            id_col=id_col,
            label_col=label_col,
        )
        for lang in langs
    }


def quality_scores_by_lang(
    feats: DataFrame,
    doc_langs: DataFrame,
    by_lang: dict[str, list[float]],
    *,
    default_lang: str | None = None,
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """(id, score) against each document's OWN language's weights.
    ``doc_langs``: (id, lang) — usually a projection of the curation
    frame's ``cur_lang``. All weight vectors travel as ONE literal
    lang→array map, so scoring stays a single aggregate; the only join
    is the id-equi attach of ``lang`` onto the sparse feature rows
    (feats⋈doc_langs shuffle on id — at 100 TB compute features WITH
    the lang column riding instead and pass ``doc_langs=None``-shaped
    pre-joined input by naming ``lang`` in ``feats``). Documents whose
    language has no vector use ``default_lang``'s (or score NULL when
    unset — surfaced, not silently pooled)."""
    if not by_lang:
        raise ValueError("by_lang is empty")
    # lang values are data-derived: bind them as literal Columns, never
    # interpolate into SQL text (a quote/backslash in a lang value would
    # break — or inject into — the map expression). Weights stay as the
    # float-literal SQL arrays (_weights_sql emits only repr'd floats).
    map_entries: list = []
    for lang, w in sorted(by_lang.items()):
        map_entries.append(F.lit(lang))
        map_entries.append(F.expr(_weights_sql(w)))
    weight_map = F.create_map(*map_entries)
    if lang_col in feats.columns:
        rows = feats
    else:
        rows = feats.join(
            doc_langs.select(F.col(id_col), F.col(lang_col)), id_col
        )
    wvec = F.element_at(weight_map, F.col(lang_col))
    if default_lang is not None:
        if default_lang not in by_lang:
            raise ValueError(
                f"default_lang {default_lang!r} has no trained vector"
            )
        wvec = F.coalesce(
            wvec, F.expr(_weights_sql(by_lang[default_lang]))
        )
    contrib = F.round(
        F.col("v") * F.element_at(wvec, F.col("bucket") + 1), _SCALE
    ).cast(_DEC)
    return rows.groupBy(id_col).agg(
        F.round(
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(-F.sum(contrib).cast("double"))),
            6,
        ).alias("score")
    )


def save_classifier_by_lang(
    wh, by_lang: dict[str, list[float]], name: str = "quality_classifier_by_lang"
) -> None:
    """Persist a per-language weight family as ONE versioned artifact
    ((lang, bucket, weight) rows) — atomic flip, time travel, and
    "which vectors gated this curation run" stays one version id."""
    rows = [
        (lang, b, float(w))
        for lang, ws in sorted(by_lang.items())
        for b, w in enumerate(ws)
    ]
    wh.overwrite_versioned(
        wh.spark.createDataFrame(
            rows, "lang string, bucket int, weight double"
        ),
        name,
    )


def load_classifier_by_lang(
    wh, name: str = "quality_classifier_by_lang", version: int | None = None
) -> dict[str, list[float]]:
    """Reload a per-language family saved by
    :func:`save_classifier_by_lang`, validating each language's vector
    is gap-free like :func:`load_classifier`."""
    rows = sorted(
        (r.lang, int(r.bucket), float(r.weight))
        for r in wh.read(name, version=version).collect()
    )
    if not rows:
        raise ValueError(f"classifier table {name!r} is empty")
    out: dict[str, list[float]] = {}
    for lang, b, w in rows:
        out.setdefault(lang, []).append((b, w))
    result = {}
    for lang, pairs in out.items():
        if [b for b, _ in pairs] != list(range(len(pairs))):
            raise ValueError(
                f"classifier table {name!r} lang {lang!r} has gaps in its "
                "bucket ids — not written by save_classifier_by_lang"
            )
        result[lang] = [w for _, w in pairs]
    return result


def sigmoid(x: float) -> float:
    """Driver-side reference sigmoid (for the pure-Python trajectory
    differential — same IEEE arithmetic as the distributed one)."""
    return 1.0 / (1.0 + math.exp(-x))


def save_classifier(wh, weights: list[float], name: str = "quality_classifier") -> None:
    """Persist the weight vector as a versioned warehouse artifact
    (atomic flip + time travel, like the ANN centroid index)."""
    rows = [(b, float(w)) for b, w in enumerate(weights)]
    wh.overwrite_versioned(
        wh.spark.createDataFrame(rows, "bucket int, weight double"), name
    )


def load_classifier(
    wh, name: str = "quality_classifier", version: int | None = None
) -> list[float]:
    """Reload a weight vector saved by :func:`save_classifier`."""
    rows = sorted(
        (int(r.bucket), float(r.weight))
        for r in wh.read(name, version=version).collect()
    )
    if not rows:
        raise ValueError(f"classifier table {name!r} is empty")
    if [b for b, _ in rows] != list(range(len(rows))):
        raise ValueError(
            f"classifier table {name!r} has gaps in its bucket ids — "
            "not a weight vector written by save_classifier"
        )
    return [w for _, w in rows]
