"""Corpus curation: the composed training-data pipeline.

Every primitive here is individually driver-graded (exact dedup
q_dedup_exact, minhash/LSH/jaccard q_minhash_signatures /
q_lsh_candidates / q_ngram_jaccard, lang/quality/tokens via q_curate's
own cur_* columns and q_text_stats); this module is the
composition a real training-data pipeline runs — one call that takes a
raw document table and returns it annotated with keep/drop decisions
and the reason.

Gate order is the cost ladder (the 100 TB discipline): per-row column
gates first (language, length, quality — pure projections, zero
shuffles) so the expensive near-dup machinery only sees survivors;
exact dedup next (one hash-aggregate); minhash/LSH/jaccard near-dup
last, restricted to exact-dedup survivors. Each stage's input is the
previous stage's keep-set, so candidate volume only ever shrinks.

Determinism: every LEXICAL survivor choice is min-id, and nothing uses
RNG anywhere, so the same corpus always curates identically — the
repo-wide differential testability rule. The optional semantic stage
defaults to the SemDeDup paper's farthest-from-centroid electorate
(still fully deterministic; ties on id); pass
``semantic_keep="min_id"`` to restore the min-id convention there too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import doc_fingerprint, lang_id, quality_score, token_count
from .dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard,
    shingles,
)
from .materialize import pin
from .spread import spread

# the drop_reason vocabulary, in gate (cost-ladder) order — the single
# source of truth consumed by BOTH curate_corpus's gate chain and
# curation_report's fixed column set, so a new gate cannot silently go
# missing from the funnel report
R_LANG = "lang"
R_TOO_SHORT = "too_short"
R_QUALITY = "quality"
R_CLASSIFIER = "classifier"
R_EXACT = "exact_dup"
R_NEAR = "near_dup"
R_SEMANTIC = "semantic_dup"
DROP_REASONS = (
    R_LANG, R_TOO_SHORT, R_QUALITY, R_CLASSIFIER, R_EXACT, R_NEAR, R_SEMANTIC
)


def curate_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    allowed_langs: tuple[str, ...] = ("en", "ru"),
    min_tokens: int = 5,
    min_quality: float = 0.4,
    near_dup_jaccard: float = 0.8,
    transitive: bool = False,
    embeddings: DataFrame | None = None,
    emb_id_col: str = "vec_id",
    semantic_threshold: float = 0.95,
    semantic_clusters: int = 16,
    semantic_keep: str = "farthest",
    semantic_centroids: DataFrame | None = None,
    classifier_weights: list[float] | None = None,
    classifier_threshold: float = 0.5,
) -> DataFrame:
    """Annotate every document with curation columns and a verdict.

    Returns the input columns plus ``cur_lang``, ``cur_n_tokens``,
    ``cur_quality``, ``cur_fingerprint`` (prefixed: source corpora often
    carry their own ``lang``-style metadata — the fixture documents
    table does), and ``drop_reason`` — NULL for keepers, else the FIRST
    gate that rejected the document, in cost order:

    - ``'lang'``       language not in ``allowed_langs``;
    - ``'too_short'``  fewer than ``min_tokens`` whitespace tokens;
    - ``'quality'``    heuristic quality below ``min_quality``;
    - ``'classifier'`` (only with ``classifier_weights``) trained
      quality-classifier score below ``classifier_threshold`` — pass a
      weight vector from operators/classifier.py
      (``train_quality_classifier`` / ``load_classifier``); evaluated
      ONLY on cheap-gate survivors (it costs a feature explode + two
      aggregates where the gates above are projections), and the score
      surfaces as ``cur_cls_score`` for report/threshold tuning.
      The tuned-threshold flow (r7): score a labeled HOLD-OUT
      (``quality_scores``), pick the operating point with
      ``classifier.select_threshold(scores, holdout,
      target_precision=…)`` — gate deployment on its ``met`` flag —
      then pass the returned ``threshold`` here; per-language vectors
      (``train_quality_classifier_by_lang`` +
      ``quality_scores_by_lang`` keyed on ``cur_lang``) exist for
      corpora where one pooled vector underfits conflicting
      language-specific signals;
    - ``'exact_dup'``  identical normalized content as a kept doc with a
      smaller id (the min-id doc of each group survives);
    - ``'near_dup'``   3-gram Jaccard ≥ ``near_dup_jaccard`` against a
      SMALLER-id survivor of the earlier stages, via minhash-LSH
      candidates only — never an all-pairs comparison.

    Near-dup survivor policy, per ``transitive``:

    - ``False`` (default): greedy — drop the larger id of every
      confirmed pair. Cheap (no iteration) and what most corpus-dedup
      pipelines ship, but NOT closed under chaining: with confirmed
      pairs (1,3) and (2,3) only, docs 1 AND 2 both survive even though
      they share the near-dup 3 (they were never compared). One cluster
      can keep multiple representatives.
    - ``True``: exact — confirmed pairs feed
      :func:`..components.connected_components` (large-star/small-star,
      O(log n) rounds) and exactly ONE doc per duplicate CLUSTER
      survives (the minimum id). Costs the CC rounds over the confirmed
      pair set (tiny relative to the corpus); use it when "unique
      documents out" is a hard contract, e.g. training-set dedup
      guarantees.

    Optional FINAL stage — semantic dedup (SemDeDup,
    operators/semdedup.py): pass ``embeddings`` (``emb_id_col`` matching
    this frame's ``id_col`` values, ``embedding`` vector column) and
    documents that survived every lexical gate but lost their semantic
    cluster's election get ``'semantic_dup'``. Runs AFTER lexical dedup
    (the published ordering: lexical copies are cheaper to kill), and
    only over lexical survivors. Documents with no embedding row simply
    skip the stage (kept unless a lexical gate fired) — embedding
    coverage is the caller's contract. ``semantic_keep`` passes through
    to :func:`..semdedup.semdedup` ("farthest" per the paper, or
    "min_id" to match the lexical convention).

    ``semantic_centroids`` (r9) switches the stage to the STORED-SQ8
    serving path: pass the frozen k-means frame (``load_ivf_index``)
    and ``embeddings`` is then the ANN SERVING layout — ``emb_id_col``
    + ``centroid_id`` + ``qvec`` (+ ``q_norm`` when stored;
    ``ann_cli build --sq8``) — and the stage runs
    :func:`..semdedup.semdedup_serving`: stored cluster assignment (no
    re-clustering — the frozen-quantizer contract), all-integer pair
    cosine, quantized keeper election. The float vector column is
    NEVER read (it may be absent entirely), so the composed 100 TB
    curation flow re-uses the ¼-width serving bytes the ANN stack
    already pays for. ``semantic_clusters`` is ignored on this path
    (the stored assignment IS the clustering); verdicts track the
    float path to SQ8 error — near-``semantic_threshold`` pairs can
    flip (the documented recall trade tests/test_quantize.py pins).

    NOTE: with ``embeddings`` the call executes EAGERLY — k-means is
    an iterative driver-coordinated loop, so the lexical pipeline
    materializes inside this call rather than at the first action (the
    only ``curate_corpus`` configuration that does). An empty batch, or
    one where every embedded doc fell to a lexical gate, skips the
    stage gracefully.

    One row in, one row out — downstream chooses
    ``.filter('drop_reason IS NULL')`` for the clean corpus or groups by
    ``drop_reason`` for the rejection report.
    """
    # spread() first: the annotation is ~6 regex passes over the full
    # text, and a single-file corpus scan would otherwise evaluate them
    # on one task (guarded no-op when the scan already has parallelism).
    annotated = spread(df).select(
        "*",
        lang_id(text_col).alias("cur_lang"),
        token_count(text_col).alias("cur_n_tokens"),
        quality_score(text_col).alias("cur_quality"),
        doc_fingerprint(text_col).alias("cur_fingerprint"),
    )
    cheap_reason = (
        F.when(~F.col("cur_lang").isin(*allowed_langs), F.lit(R_LANG))
        .when(F.col("cur_n_tokens") < min_tokens, F.lit(R_TOO_SHORT))
        .when(F.col("cur_quality") < min_quality, F.lit(R_QUALITY))
    )
    # localCheckpoint, not cache(): the annotation projection feeds ~4
    # consumers (dedup keys, survivors, final joins) and must be
    # materialized once — but a cache() entry would outlive the call
    # (CacheManager holds it until an explicit unpersist nobody can
    # issue on an internal frame). A local checkpoint is freed by the
    # ContextCleaner once the returned DataFrame is dropped. It is a
    # transient corpus-sized copy (text included) in executor blocks;
    # recomputing the annotation regexes per consumer instead measured
    # slower (q_curate at sf0.1: 4.27 vs 2.67 s, OPTIMIZATION_r11.md).
    annotated = annotated.withColumn("_cheap_reason", cheap_reason)
    if classifier_weights is not None:
        from .classifier import hashed_token_features, quality_scores

        n_features = len(classifier_weights) - 1
        survivors = annotated.filter(
            F.col("_cheap_reason").isNull()
        ).select(id_col, text_col)
        scores = quality_scores(
            hashed_token_features(survivors, id_col, text_col, n_features),
            classifier_weights,
            id_col,
        ).select(F.col(id_col), F.col("score").alias("cur_cls_score"))
        cols = annotated.columns
        annotated = (
            annotated.join(scores, id_col, "left")
            .select(*[c for c in cols if c != "_cheap_reason"],
                    "cur_cls_score", "_cheap_reason")
            .withColumn(
                "_cheap_reason",
                F.coalesce(
                    F.col("_cheap_reason"),
                    F.when(
                        F.col("cur_cls_score") < classifier_threshold,
                        F.lit(R_CLASSIFIER),
                    ),
                ),
            )
        )
    annotated = annotated.localCheckpoint(eager=True)

    clean = annotated.filter(F.col("_cheap_reason").isNull())

    # exact dedup among cheap-gate survivors: min-id per fingerprint
    # wins. The groupBy shuffles only the NARROW (fingerprint, id)
    # projection; the drop set is duplicate-sized, so both the keeper
    # join and the anti-join broadcast — the full-width corpus rows
    # never shuffle. (A row_number-window formulation was measured 25%
    # slower here and would shuffle the entire text payload at scale.)
    keepers = clean.groupBy("cur_fingerprint").agg(
        F.min(id_col).alias("_keep_id")
    )
    # pinned: the drop-set is duplicate-sized (tiny) but its SUBTREE is a
    # corpus-sized groupBy+join, and it has two consumers (the survivors
    # anti-join and the final annotation join) — unpinned, the subtree
    # runs twice per materialization (measured 5.3 -> 4.3 s at sf0.1).
    exact_drops = pin(
        clean.join(keepers, "cur_fingerprint")
        .filter(F.col(id_col) != F.col("_keep_id"))
        .select(F.col(id_col).alias("_drop_id"))
    )

    # near-dup among exact-dedup survivors: LSH candidates -> exact
    # jaccard verify -> drop the larger id of each confirmed pair.
    # ONE shingle frame feeds both minhash and the jaccard verify —
    # the shingle build (tokenize + 3-gram explode + distinct) is the
    # dominant text-side cost and must not run twice. The pin stores
    # the RAW 3-gram strings (r12, settling VERDICT r11 #2): a
    # pre-hashed pin lost the r12 interleaved A/B (string 2.73 vs
    # narrow 2.90 s min-of-3 at sf0.1; hashing before the checkpoint
    # serializes md5 into the pin-write stage).
    survivors = clean.join(
        exact_drops, clean[id_col] == exact_drops["_drop_id"], "left_anti"
    )
    sh = pin(shingles(survivors, id_col, text_col))
    pairs = lsh_candidate_pairs(
        minhash_signatures(survivors, id_col, text_col, sh=sh), id_col
    )
    verified = ngram_jaccard(
        survivors, pairs, id_col, text_col, sh=sh
    ).filter(
        F.col("n_inter")
        / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        >= near_dup_jaccard
    )
    if transitive:
        from .components import connected_components

        comp = connected_components(
            verified.select("id_a", "id_b").localCheckpoint(eager=True)
        )
        near_drops = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("_drop_id")
        )
    else:
        # pinned so the LSH+Jaccard verify chain runs once even when the
        # CALLER materializes the returned frame repeatedly (keep-set,
        # rejection report, write — the normal usage); sh/pairs are
        # pinned but the verify joins would still re-run per action.
        near_drops = pin(
            verified.select(F.col("id_b").alias("_drop_id")).distinct()
        )  # id_a < id_b by construction: smaller id survives

    sem_drops = None
    if semantic_centroids is not None and embeddings is None:
        raise ValueError(
            "semantic_centroids was passed without embeddings — the "
            "serving frame IS the embeddings argument on the stored-SQ8 "
            "path; a centroids-only call would silently skip the "
            "semantic stage the caller asked for"
        )
    if embeddings is not None:
        if semantic_centroids is not None:
            missing = [
                c for c in ("centroid_id", "qvec") if c not in embeddings.columns
            ]
            if missing:
                raise ValueError(
                    "semantic_centroids= selects the stored-SQ8 serving "
                    f"path, but `embeddings` lacks {missing} — pass the "
                    "ANN serving layout (materialize_ivf_assignments + "
                    "quantize_embeddings(norm_col=…); `ann_cli build "
                    "--sq8`), or drop semantic_centroids to cluster "
                    "float vectors here"
                )
        lex_survivor_ids = survivors.join(
            near_drops,
            survivors[id_col] == near_drops["_drop_id"],
            "left_anti",
        ).select(id_col)
        emb_surv = embeddings.join(
            lex_survivor_ids.withColumnRenamed(id_col, emb_id_col),
            emb_id_col,
            "left_semi",
        )
        # a routine empty micro-batch (or one whose embedded docs all
        # fell to lexical gates) must skip the stage, not crash the
        # k-means seeder (review finding)
        if emb_surv.isEmpty():
            sem_drops = None
        elif semantic_centroids is not None:
            from .semdedup import semdedup_serving

            sem_drops = pin(
                semdedup_serving(
                    emb_surv,
                    semantic_centroids,
                    threshold=semantic_threshold,
                    keep=semantic_keep,
                    id_col=emb_id_col,
                    qnorm_col=(
                        "q_norm" if "q_norm" in emb_surv.columns else None
                    ),
                )
                .filter(~F.col("is_kept"))
                .select(F.col(emb_id_col).alias("_drop_id"))
            )
        else:
            from .semdedup import semdedup

            sem_drops = pin(
                semdedup(
                    emb_surv,
                    n_clusters=semantic_clusters,
                    threshold=semantic_threshold,
                    keep=semantic_keep,
                    id_col=emb_id_col,
                )
                .filter(~F.col("is_kept"))
                .select(F.col(emb_id_col).alias("_drop_id"))
            )

    out = (
        annotated.join(
            exact_drops.withColumn("_exact", F.lit(True)),
            annotated[id_col] == exact_drops["_drop_id"],
            "left",
        )
        .drop("_drop_id")
        .join(
            near_drops.withColumn("_near", F.lit(True)),
            annotated[id_col] == near_drops["_drop_id"],
            "left",
        )
        .drop("_drop_id")
    )
    reason_arms = [
        F.col("_cheap_reason"),
        F.when(F.col("_exact"), F.lit(R_EXACT)),
        F.when(F.col("_near"), F.lit(R_NEAR)),
    ]
    if sem_drops is not None:
        out = out.join(
            sem_drops.withColumn("_sem", F.lit(True)),
            out[id_col] == sem_drops["_drop_id"],
            "left",
        ).drop("_drop_id")
        reason_arms.append(F.when(F.col("_sem"), F.lit(R_SEMANTIC)))
    extra = ["cur_cls_score"] if classifier_weights is not None else []
    return out.select(
        *df.columns,
        "cur_lang",
        "cur_n_tokens",
        "cur_quality",
        "cur_fingerprint",
        *extra,
        F.coalesce(*reason_arms).alias("drop_reason"),
    )


def curation_report(
    annotated: DataFrame, by: list[str] | None = None
) -> DataFrame:
    """Operational rollup of a :func:`curate_corpus` output: per group
    (default: whole corpus), document and token funnels plus one count
    column per drop reason.

    Output columns: ``by`` + ``n_docs``, ``n_kept``, ``kept_tokens``,
    ``total_tokens``, and ``n_<reason>`` for every ``DROP_REASONS``
    entry (a fixed column set — a ``pivot`` on observed reasons would
    make the report schema data-dependent, which breaks downstream
    consumers the first time a gate never fires). One hash-aggregate;
    group count is operational cardinality (sources, languages), so the
    result is metadata-sized at any corpus scale.
    """
    by = by or []
    kept = F.col("drop_reason").isNull()
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum(F.when(kept, F.col("cur_n_tokens")).otherwise(0)).alias(
            "kept_tokens"
        ),
        F.sum("cur_n_tokens").alias("total_tokens"),
        # when/otherwise, not a bare boolean-cast sum: (drop_reason == r)
        # is NULL for kept rows, and a group where a gate never fired
        # would aggregate to NULL instead of 0 (review finding)
        *[
            F.sum(
                F.when(F.col("drop_reason") == r, 1).otherwise(0)
            ).alias(f"n_{r}")
            for r in DROP_REASONS
        ],
    ]
    return annotated.groupBy(*by).agg(*aggs)
