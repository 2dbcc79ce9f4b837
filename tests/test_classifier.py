"""Hashed-feature logistic quality classifier (operators/classifier.py):
exact pure-Python trajectory differential, separability on planted
data, partitioning determinism, versioned artifact round-trip, and the
scoring-plan shape."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from etl_sber_spark.operators import classifier as cl

D = 64  # small feature space keeps the differential fast


def _corpus(spark):
    """40 planted 'quality' docs vs 40 'spam' docs, token-separable."""
    rows = []
    for i in range(40):
        rows.append(
            (i, f"measured insight careful analysis evidence source v{i % 5}")
        )
        rows.append(
            (
                100 + i,
                f"click here free winner prize urgent offer now w{i % 5}",
            )
        )
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _labels(spark):
    rows = [(i, 1) for i in range(40)] + [(100 + i, 0) for i in range(40)]
    return spark.createDataFrame(rows, "doc_id bigint, label int")


@pytest.fixture(scope="module")
def trained(spark):
    docs = _corpus(spark)
    feats = cl.hashed_token_features(docs, n_features=D).localCheckpoint()
    w = cl.train_quality_classifier(
        feats, _labels(spark), n_features=D, n_iter=15, lr=1.0
    )
    return docs, feats, w


def test_learns_planted_separation(spark, trained):
    docs, feats, w = trained
    scores = {
        r.doc_id: r.score for r in cl.quality_scores(feats, w).collect()
    }
    good = [scores[i] for i in range(40)]
    spam = [scores[100 + i] for i in range(40)]
    assert min(good) > max(spam)  # perfectly separable fixture
    acc = (
        sum(1 for s in good if s > 0.5) + sum(1 for s in spam if s < 0.5)
    ) / 80
    assert acc >= 0.95


def test_trajectory_matches_pure_python(spark, trained):
    """The distributed GD replays bit-identically in Python: rounded
    contributions summed exactly (HALF_UP, like Spark's round), same
    sigmoid, same driver update."""
    _, feats, w = trained
    rows = [(r.doc_id, r.bucket, r.v) for r in feats.collect()]
    labels = {i: 1.0 for i in range(40)}
    labels.update({100 + i: 0.0 for i in range(40)})
    n = len(labels)

    def r9(x: float) -> Decimal:
        return Decimal(repr(x)).quantize(
            Decimal("1e-9"), rounding=ROUND_HALF_UP
        )

    weights = [0.0] * (D + 1)
    for _ in range(15):
        margins: dict = {}
        for did, b, v in rows:
            margins[did] = margins.get(did, Decimal(0)) + r9(v * weights[b])
        residuals = {
            did: 1.0 / (1.0 + math.exp(-float(m))) - labels[did]
            for did, m in margins.items()
        }
        grad: dict = {}
        for did, b, v in rows:
            grad[b] = grad.get(b, Decimal(0)) + r9(v * residuals[did])
        weights = [
            wt - (1.0 / n) * float(grad.get(b, Decimal(0)))
            for b, wt in enumerate(weights)
        ]
    assert weights == w


def test_determinism_across_partitionings(spark):
    docs = _corpus(spark)
    labels = _labels(spark)
    feats = cl.hashed_token_features(docs, n_features=D)
    w3 = cl.train_quality_classifier(
        feats.repartition(3), labels, n_features=D, n_iter=5
    )
    w17 = cl.train_quality_classifier(
        feats.repartition(17), labels, n_features=D, n_iter=5
    )
    assert w3 == w17


def test_artifact_round_trip_versioned(spark, trained, tmp_path):
    from etl_sber_spark.sinks.warehouse import Warehouse

    _, _, w = trained
    wh = Warehouse(spark, str(tmp_path / "wh"))
    cl.save_classifier(wh, w)
    assert cl.load_classifier(wh) == w
    w2 = [x * 0.5 for x in w]
    cl.save_classifier(wh, w2)
    assert cl.load_classifier(wh) == w2
    assert cl.load_classifier(wh, version=1) == w

    # a gapped table is not a weight vector
    wh.overwrite_versioned(
        spark.createDataFrame([(0, 1.0), (2, 1.0)], "bucket int, weight double"),
        "quality_classifier",
    )
    with pytest.raises(ValueError, match="gaps"):
        cl.load_classifier(wh)


def test_scoring_is_one_aggregate_no_join(spark, trained):
    """The corpus-wide scoring pass must stay a single aggregate over
    the sparse feature rows — weights ride as literals, never a join."""
    _, feats, w = trained
    plan = (
        cl.quality_scores(feats, w)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_unlabeled_features_never_enter_training(spark):
    """Training cost scales with the labeled sample: corrupt feature
    rows for unlabeled docs must not change the trajectory."""
    docs = _corpus(spark)
    labels = _labels(spark)
    feats = cl.hashed_token_features(docs, n_features=D)
    extra = spark.createDataFrame(
        [(999999, 1, 10**6)], "doc_id bigint, bucket int, v int"
    )
    w_clean = cl.train_quality_classifier(feats, labels, n_features=D, n_iter=3)
    w_noisy = cl.train_quality_classifier(
        feats.unionByName(extra), labels, n_features=D, n_iter=3
    )
    assert w_clean == w_noisy


def test_classifier_gate_in_curate(spark, trained):
    """curate_corpus(classifier_weights=...): the trained gate drops
    low-score docs with reason 'classifier', cheap gates keep
    precedence, dedup still fires on classifier survivors, and the
    funnel report grows the n_classifier column."""
    from etl_sber_spark.operators.curate import curate_corpus, curation_report

    _, _, w = trained
    good = "measured insight careful analysis evidence source v9"
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, good),  # exact dup of 1 — dedup must still win for it
            (3, "click here free winner prize urgent offer now w9"),
            (4, "!!!! ???? .... ;;;; :::: ++++ ==== @@@@"),  # lang gate first
        ],
        "doc_id bigint, text string",
    )
    out = curate_corpus(
        docs, classifier_weights=w, classifier_threshold=0.5
    )
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].drop_reason is None
    assert rows[1].cur_cls_score > 0.5
    assert rows[2].drop_reason == "exact_dup"
    assert rows[3].drop_reason == "classifier"
    assert rows[3].cur_cls_score < 0.5
    assert rows[4].drop_reason == "lang"  # precedence: cheap gate first
    assert rows[4].cur_cls_score is None  # never evaluated past the gate

    rep = curation_report(out).collect()[0]
    assert rep.n_classifier == 1 and rep.n_exact_dup == 1 and rep.n_lang == 1
    assert rep.n_kept == 1


def test_classifier_gate_in_increment(spark, trained):
    """curate_increment(classifier_weights=...): the trained gate fires
    FIRST — rejected docs get 'classifier', cost no dedup, never enter
    the index; survivors still dedupe normally."""
    from etl_sber_spark.operators.incremental import curate_increment
    from etl_sber_spark.streaming.corpus import empty_index

    from .test_incremental import assert_keepers_are_unflagged_signed_docs

    _, _, w = trained
    good = "measured insight careful analysis evidence source v9"
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, good + " extra"),  # near-dup of 1 (jaccard 5/6)
            (3, "click here free winner prize urgent offer now w9"),
        ],
        "doc_id bigint, text string",
    )
    annotated, keepers = curate_increment(
        docs, empty_index(spark), classifier_weights=w
    )
    rows = {r.doc_id: r.drop_reason for r in annotated.collect()}
    assert rows[1] is None
    assert rows[2] == "batch_near_dup"
    assert rows[3] == "classifier"
    assert [r.doc_id for r in keepers.collect()] == [1]
    assert_keepers_are_unflagged_signed_docs(annotated, keepers, docs)


def test_classifier_gate_in_corpus_stream(spark, trained, tmp_path):
    """The streaming loop loads the versioned classifier artifact at
    start and gates every increment — the full train-offline /
    persist / gate-the-live-loop lifecycle."""
    import json as _json

    from etl_sber_spark.operators.classifier import (
        load_classifier,
        save_classifier,
    )
    from etl_sber_spark.sinks.warehouse import Warehouse
    from etl_sber_spark.streaming.corpus import stream_corpus_increments

    _, _, w = trained
    wh = Warehouse(spark, str(tmp_path / "wh"))
    save_classifier(wh, w)

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    with open(inbox / "b1.jsonl", "w") as f:
        for did, text in (
            (1, "measured insight careful analysis evidence source v9"),
            (2, "click here free winner prize urgent offer now w9"),
        ):
            f.write(
                _json.dumps(
                    {"doc_id": did, "text": text, "lang": "en", "source": "a"}
                )
                + "\n"
            )
    q = stream_corpus_increments(
        spark,
        str(inbox),
        wh,
        str(tmp_path / "ckpt"),
        classifier_weights=load_classifier(wh),
    )
    q.awaitTermination()
    reasons = {
        r.doc_id: r.drop_reason for r in wh.read("curated_docs").collect()
    }
    assert reasons == {1: None, 2: "classifier"}
    assert [r.doc_id for r in wh.read("minhash_index").collect()] == [1]


def test_corpus_cli_classifier_flags_parse():
    from etl_sber_spark.corpus_cli import parse_args

    a = parse_args(
        [
            "--inbox", "x", "--warehouse", "y",
            "--classifier-table", "quality_classifier",
            "--classifier-threshold", "0.7",
        ]
    )
    assert a.classifier_table == "quality_classifier"
    assert a.classifier_threshold == 0.7
    assert parse_args(["--inbox", "x", "--warehouse", "y"]).classifier_table is None


def test_evaluate_matches_python_reference(spark, trained):
    """AUC/accuracy/precision/recall against an exact pure-Python
    replay (tie-corrected Mann-Whitney ranks), including planted tied
    scores."""
    from etl_sber_spark.operators.classifier import evaluate_classifier

    _, feats, w = trained
    scores = cl.quality_scores(feats, w)
    labels = _labels(spark)
    row = evaluate_classifier(scores, labels, threshold=0.5).collect()[0]

    sc = {r.doc_id: r.score for r in scores.collect()}
    y = {r.doc_id: r.label for r in labels.collect()}
    # tie-corrected average ranks (1-based)
    ordered = sorted(y, key=lambda d: (sc[d], d))
    ranks: dict = {}
    i = 0
    while i < len(ordered):
        j = i
        while j < len(ordered) and sc[ordered[j]] == sc[ordered[i]]:
            j += 1
        avg = (i + 1 + j) / 2.0
        for d in ordered[i:j]:
            ranks[d] = avg
        i = j
    n_pos = sum(y.values())
    n_neg = len(y) - n_pos
    rank_pos = sum(ranks[d] for d in y if y[d] == 1)
    auc = (rank_pos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)
    tp = sum(1 for d in y if sc[d] >= 0.5 and y[d] == 1)
    pp = sum(1 for d in y if sc[d] >= 0.5)
    acc = sum(1 for d in y if (sc[d] >= 0.5) == bool(y[d])) / len(y)

    assert (row.n_pos, row.n_neg) == (n_pos, n_neg)
    assert row.auc == round(auc, 6)
    assert row.accuracy == round(acc, 6)
    assert row.precision == round(tp / pp, 6)
    assert row.recall == round(tp / n_pos, 6)
    assert row.auc == 1.0  # the fixture is perfectly separable


def test_evaluate_handles_ties(spark):
    """Constant scores: AUC must be exactly 0.5 (all ranks tied), not
    NULL or biased — the average-rank correction under test."""
    from etl_sber_spark.operators.classifier import evaluate_classifier

    scores = spark.createDataFrame(
        [(i, 0.5) for i in range(10)], "doc_id bigint, score double"
    )
    labels = spark.createDataFrame(
        [(i, i % 2) for i in range(10)], "doc_id bigint, label int"
    )
    row = evaluate_classifier(scores, labels).collect()[0]
    assert row.auc == 0.5


def _py_threshold_sweep(pairs):
    """Pure-Python reference for select_threshold's metric table:
    pairs = [(score, y)]; returns {threshold: (precision, recall, f1)}
    with the same round-to-6 convention."""
    def r6(x):
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    n_pos = sum(y for _, y in pairs)
    out = {}
    for t in sorted({s for s, _ in pairs}):
        pp = sum(1 for s, _ in pairs if s >= t)
        tp = sum(1 for s, y in pairs if s >= t and y == 1)
        prec, rec = r6(tp / pp), r6(tp / n_pos)
        f1 = r6(2 * prec * rec / (prec + rec)) if prec + rec else None
        out[t] = (prec, rec, f1)
    return out


def test_select_threshold_matches_python_reference(spark, trained):
    """select_threshold's pick == the pure-Python sweep's pick under
    the documented selection rules, on a holdout with overlap (planted
    misranked docs so precision/recall actually trade off)."""
    docs, feats, w = trained
    scored = cl.quality_scores(feats, w)
    # flip 6 labels so no threshold is perfect: 3 good docs labeled 0,
    # 3 spam docs labeled 1
    rows = (
        [(i, 1) for i in range(3, 40)]
        + [(i, 0) for i in range(3)]
        + [(100 + i, 0) for i in range(3, 40)]
        + [(100 + i, 1) for i in range(3)]
    )
    labels = spark.createDataFrame(rows, "doc_id bigint, label int")
    pairs = [
        (r.score, r._y)
        for r in scored.join(
            labels.select("doc_id", F.col("label").alias("_y")), "doc_id"
        ).collect()
    ]
    sweep = _py_threshold_sweep(pairs)

    got = cl.select_threshold(scored, labels, target_precision=0.9)
    ok = [(t, m) for t, m in sweep.items() if m[0] >= 0.9]
    assert ok, "fixture must admit a >=0.9-precision threshold"
    want_t = max(ok, key=lambda tm: (tm[1][1], tm[0]))[0]
    assert got["met"] and got["threshold"] == want_t
    assert (got["precision"], got["recall"], got["f1"]) == sweep[want_t]

    got_r = cl.select_threshold(scored, labels, target_recall=0.9)
    ok_r = [(t, m) for t, m in sweep.items() if m[1] >= 0.9]
    want_tr = max(ok_r, key=lambda tm: (tm[1][0], tm[0]))[0]
    assert got_r["met"] and got_r["threshold"] == want_tr

    got_f = cl.select_threshold(scored, labels)
    want_tf = max(sweep.items(), key=lambda tm: (tm[1][2], tm[0]))[0]
    assert got_f["threshold"] == want_tf

    # unreachable target -> met=False, closest (max precision) returned
    got_u = cl.select_threshold(scored, labels, target_precision=1.0)
    assert not got_u["met"]
    assert got_u["precision"] == max(m[0] for m in sweep.values())

    with pytest.raises(ValueError, match="ONE of"):
        cl.select_threshold(
            scored, labels, target_precision=0.9, target_recall=0.9
        )


def _bilingual(spark):
    """Two languages where the SAME token flips polarity: 'premium'
    present = quality in lang xx, present = spam in lang yy, and it is
    the ONLY within-language separator (everything else appears in both
    classes) — a linear XOR: one pooled weight for premium's bucket
    cannot be simultaneously positive (xx) and negative (yy), while
    per-language vectors separate both perfectly."""
    rows, labels = [], []
    for i in range(30):
        rows.append((i, f"premium common filler x{i % 5}"))
        labels.append((i, 1, "xx"))
        rows.append((100 + i, f"common filler x{i % 5}"))
        labels.append((100 + i, 0, "xx"))
        rows.append((200 + i, f"common filler y{i % 5}"))
        labels.append((200 + i, 1, "yy"))
        rows.append((300 + i, f"premium common filler y{i % 5}"))
        labels.append((300 + i, 0, "yy"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    labs = spark.createDataFrame(
        labels, "doc_id bigint, label int, lang string"
    )
    return docs, labs


def test_per_language_beats_pooled_on_conflicting_signal(spark):
    docs, labs = _bilingual(spark)
    feats = cl.hashed_token_features(docs, n_features=D).localCheckpoint()
    by_lang = cl.train_quality_classifier_by_lang(
        feats, labs, n_features=D, n_iter=15
    )
    assert sorted(by_lang) == ["xx", "yy"]

    doc_langs = labs.select("doc_id", "lang")
    scores = {
        r.doc_id: r.score
        for r in cl.quality_scores_by_lang(
            feats, doc_langs, by_lang
        ).collect()
    }
    # per-language: both languages perfectly separated
    assert min(scores[i] for i in range(30)) > max(
        scores[100 + i] for i in range(30)
    )
    assert min(scores[200 + i] for i in range(30)) > max(
        scores[300 + i] for i in range(30)
    )
    # pooled single vector: the conflicting 'premium' signal costs
    # accuracy on at least one side (the planted demonstration)
    pooled = cl.train_quality_classifier(
        feats, labs.select("doc_id", "label"), n_features=D, n_iter=15
    )
    ps = {
        r.doc_id: r.score for r in cl.quality_scores(feats, pooled).collect()
    }
    pooled_sep = (
        min(ps[i] for i in range(30)) > max(ps[100 + i] for i in range(30))
        and min(ps[200 + i] for i in range(30))
        > max(ps[300 + i] for i in range(30))
    )
    assert not pooled_sep


def test_per_language_parity_fallback_and_artifact(spark, tmp_path):
    """Single-language parity: scoring through the by-lang path with
    one vector == quality_scores with that vector; unknown languages
    fall back to default_lang (or NULL-score without one); the family
    artifact round-trips versioned."""
    from etl_sber_spark.sinks.warehouse import Warehouse

    docs, labs = _bilingual(spark)
    feats = cl.hashed_token_features(docs, n_features=D).localCheckpoint()
    by_lang = cl.train_quality_classifier_by_lang(
        feats, labs, n_features=D, n_iter=5
    )

    xx_ids = labs.filter(F.col("lang") == "xx").select("doc_id")
    xx_feats = feats.join(xx_ids, "doc_id", "left_semi")
    doc_langs = labs.select("doc_id", "lang")
    via_map = {
        r.doc_id: r.score
        for r in cl.quality_scores_by_lang(
            xx_feats, doc_langs, by_lang
        ).collect()
    }
    direct = {
        r.doc_id: r.score
        for r in cl.quality_scores(xx_feats, by_lang["xx"]).collect()
    }
    assert via_map == direct

    # unknown language: NULL without default, default vector with one
    alien = doc_langs.withColumn("lang", F.lit("zz"))
    nulls = cl.quality_scores_by_lang(xx_feats, alien, by_lang)
    assert nulls.filter(F.col("score").isNotNull()).count() == 0
    with_default = {
        r.doc_id: r.score
        for r in cl.quality_scores_by_lang(
            xx_feats, alien, by_lang, default_lang="xx"
        ).collect()
    }
    assert with_default == direct

    wh = Warehouse(spark, str(tmp_path / "wh"))
    cl.save_classifier_by_lang(wh, by_lang)
    assert cl.load_classifier_by_lang(wh) == by_lang


def test_lang_values_with_quotes_score_safely(spark):
    """Language values are data-derived and travel as bound literals,
    never interpolated into SQL text — a quote/backslash in a lang
    value must score normally, not break (or inject into) the map
    expression (r7 ADVICE)."""
    hostile = "o'brien\\x"
    docs = spark.createDataFrame(
        [(i, f"w{i % 3} common") for i in range(8)],
        "doc_id bigint, text string",
    )
    feats = cl.hashed_token_features(docs, n_features=D)
    labs = spark.createDataFrame(
        [(i, i % 2, hostile) for i in range(8)],
        "doc_id bigint, label int, lang string",
    )
    by_lang = cl.train_quality_classifier_by_lang(
        feats, labs, n_features=D, n_iter=3
    )
    assert sorted(by_lang) == [hostile]
    doc_langs = labs.select("doc_id", "lang")
    via_map = {
        r.doc_id: r.score
        for r in cl.quality_scores_by_lang(feats, doc_langs, by_lang).collect()
    }
    direct = {
        r.doc_id: r.score
        for r in cl.quality_scores(feats, by_lang[hostile]).collect()
    }
    assert via_map == direct
    # default_lang with a hostile name binds safely too
    alien = doc_langs.withColumn("lang", F.lit("zz"))
    with_default = {
        r.doc_id: r.score
        for r in cl.quality_scores_by_lang(
            feats, alien, by_lang, default_lang=hostile
        ).collect()
    }
    assert with_default == direct
