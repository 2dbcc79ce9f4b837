"""operators/curate.py: the composed corpus-curation pipeline.

Synthetic corpus exercises every gate; the sf0.001 documents table
proves the composition runs end-to-end on real fixture data with a
deterministic verdict set.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import functions as F

from etl_sber_spark.operators.curate import curate_corpus
from etl_sber_spark.operators.dedup import (
    DEFAULT_MAX_BUCKET,
    MERSENNE31,
    MINHASH_PERMS,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard,
    shingles,
)
from etl_sber_spark.sources.tables import load_table

from .conftest import SF_SMALL
from .test_skew_caps import _py_lsh_pairs

EN = (
    "the quick brown fox jumps over the lazy dog and keeps running through "
    "the quiet forest until the morning light arrives over the hills"
)
EN2 = (
    "many hands make light work when the team moves with purpose and the "
    "plan is clear to everyone involved from the very first day "
    "and the effort shows in every result we"
)


def _corpus(spark):
    rows = [
        # 1 keeps; 2 is an exact duplicate (same normalized content)
        (1, EN),
        (2, "  " + EN.upper() + "  "),
        # 3 keeps; 4 is a near duplicate (one word differs); base text is
        # disjoint from EN so the only near-dup pair is (3, 4)
        (3, EN2 + " deliver together in all seasons"),
        (4, EN2 + " produce together in all seasons"),
        # short gate
        (6, "too short"),
        # language gate: punctuation soup has ~zero letter share -> 'und'
        (7, "!!! ??? ... ;;; ,,, " * 40),
        # quality gate (min_quality=0.9): letters dominate so lang='en',
        # but 22-char nonsense tokens take the mean-token-length penalty
        (8, "abcdefghijklmnopqrstuv " * 12),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_gate_reasons_and_survivors(spark):
    out = curate_corpus(_corpus(spark), min_quality=0.9)
    verdicts = {r.doc_id: r.drop_reason for r in out.collect()}
    assert verdicts[1] is None and verdicts[3] is None
    assert verdicts[2] == "exact_dup"  # min-id survivor kept doc 1
    assert verdicts[4] == "near_dup"  # min-id survivor kept doc 3
    assert verdicts[6] == "too_short"
    assert verdicts[7] == "lang"  # the cost ladder: lang fires first
    assert verdicts[8] == "quality"
    # one row in, one row out, schema extended
    assert out.count() == 7
    assert out.columns == [
        "doc_id",
        "text",
        "cur_lang",
        "cur_n_tokens",
        "cur_quality",
        "cur_fingerprint",
        "drop_reason",
    ]


def test_cheap_gates_shield_dedup(spark):
    """A document rejected by a cheap gate must not act as a dedup
    survivor: doc 1 (min id) contains doc 2 verbatim — 3-gram Jaccard
    0.84, an LSH candidate pair — but its punctuation prefix drowns the
    letter share, so the lang gate rejects it first and doc 2 is judged
    on its own (kept). Without the gates-before-dedup ordering, doc 2
    would be dropped as the larger id of a near-dup pair."""
    rows = [
        (1, "!!! ??? " * 50 + EN),
        (2, EN),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    verdicts = {
        r.doc_id: r.drop_reason for r in curate_corpus(df).collect()
    }
    assert verdicts[1] == "lang"
    assert verdicts[2] is None


def test_curate_runs_on_fixture_documents(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    out = curate_corpus(docs).cache()
    n = docs.count()
    assert out.count() == n
    report = {
        r.drop_reason: r.n
        for r in out.groupBy("drop_reason").agg(F.count("*").alias("n")).collect()
    }
    kept = report.get(None, 0)
    assert 0 < kept <= n
    # deterministic: same corpus curates identically
    again = {
        r.drop_reason: r.n
        for r in curate_corpus(docs)
        .groupBy("drop_reason")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert report == again
    out.unpersist()


def test_near_dup_chain_drops_all_but_min_id(spark):
    """Greedy transitive dedup (the documented contract): A<B<C with
    A~B and B~C drops BOTH B and C even though A and C differ more —
    the chain minimum is the guaranteed survivor."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    )
    rows = [
        (1, base + " one two three four five six"),
        (2, base + " one two three four five seven"),  # ~doc 1
        (3, base + " one two three four nine seven"),  # ~doc 2, less ~doc 1
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    verdicts = {
        r.doc_id: r.drop_reason
        for r in curate_corpus(df, near_dup_jaccard=0.75).collect()
    }
    assert verdicts == {1: None, 2: "near_dup", 3: "near_dup"}


def test_transitive_mode_collapses_shared_neighbor_clusters(spark):
    """The shape greedy dedup gets wrong: docs 1 and 2 each near-dup
    doc 3 but NOT each other (both ends of the base text perturbed).
    Greedy keeps 1 AND 2 (never compared); transitive=True keeps only
    the cluster minimum."""
    import string

    letters = string.ascii_lowercase
    words = [f"word{a}{b}" for a in letters[:6] for b in letters[:10]]  # 60
    base = " ".join(words)
    tail_changed = " ".join(words[:-6] + [f"tailword{c}" for c in letters[:6]])
    head_changed = " ".join([f"headword{c}" for c in letters[:6]] + words[6:])
    rows = [(1, tail_changed), (2, head_changed), (3, base)]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    greedy = {
        r.doc_id: r.drop_reason
        for r in curate_corpus(df, near_dup_jaccard=0.75).collect()
    }
    assert greedy == {1: None, 2: None, 3: "near_dup"}

    exact = {
        r.doc_id: r.drop_reason
        for r in curate_corpus(df, near_dup_jaccard=0.75, transitive=True).collect()
    }
    assert exact == {1: None, 2: "near_dup", 3: "near_dup"}


def test_curation_report_funnel(spark):
    from etl_sber_spark.operators.curate import curation_report

    out = curate_corpus(_corpus(spark), min_quality=0.9)
    rep = curation_report(out).collect()
    assert len(rep) == 1
    r = rep[0]
    assert r.n_docs == 7
    assert r.n_kept == 2
    assert (r.n_exact_dup, r.n_near_dup, r.n_too_short, r.n_lang, r.n_quality) == (
        1, 1, 1, 1, 1,
    )
    # funnel identities
    assert r.n_kept + r.n_exact_dup + r.n_near_dup + r.n_too_short \
        + r.n_lang + r.n_quality == r.n_docs
    assert r.kept_tokens <= r.total_tokens

    # grouped variant carries the group key and the same totals
    by_lang = {
        row.cur_lang: row
        for row in curation_report(out, by=["cur_lang"]).collect()
    }
    assert sum(row.n_docs for row in by_lang.values()) == 7


def test_curation_report_all_kept_group_counts_zero(spark):
    """A group where no gate fires must report 0 (not NULL) for every
    reason column — a bare boolean-cast sum aggregates all-NULL to NULL
    (round-3 review finding)."""
    from etl_sber_spark.operators.curate import curation_report

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id int, text string",
    )
    rep = curation_report(curate_corpus(docs)).collect()[0]
    assert rep.n_kept == 1
    assert (rep.n_lang, rep.n_too_short, rep.n_quality,
            rep.n_exact_dup, rep.n_near_dup) == (0, 0, 0, 0, 0)


def test_semantic_stage(spark):
    """Optional SemDeDup stage: lexically-distinct docs with
    near-parallel embeddings dedupe semantically; docs without an
    embedding row skip the stage; lexical reasons take precedence."""
    docs = spark.createDataFrame(
        [
            (1, "another unrelated document about something else entirely"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words but same meaning vector"),
            (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 2
            (5, "no embedding for this one but plenty of words"),
        ],
        "doc_id int, text string",
    )
    # ids 1 and 2 seed the two k-means clusters (orderBy(id).limit(k)),
    # so the fixture puts them in DIFFERENT directions; the semantic
    # dup pair is {2, 3} (same direction, lexically distinct)
    emb = spark.createDataFrame(
        [
            (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 0.0]),
            (3, [2.0, 0.002, 0.0, 0.0]),  # same direction as 2
            (4, [1.0, 0.0, 0.0, 0.0]),  # never reaches the stage (exact dup)
        ],
        "vec_id int, embedding array<float>",
    )
    out = {
        r.doc_id: r.drop_reason
        for r in curate_corpus(
            docs,
            min_tokens=3,
            min_quality=0.0,
            embeddings=emb,
            semantic_clusters=2,
            semantic_threshold=0.999,
        ).collect()
    }
    assert out[4] == "exact_dup"  # lexical precedence
    # {2,3} are one semantic cluster; SemDeDup keeps the one FARTHEST
    # from the centroid — exactly one of them is dropped semantically
    assert sorted([str(out[2]), str(out[3])]) == ["None", "semantic_dup"]
    assert out[1] is None
    assert out[5] is None  # no embedding row -> stage skipped

    # the report grows the n_semantic_dup column automatically
    from etl_sber_spark.operators.curate import curation_report

    rep = curation_report(
        curate_corpus(
            docs,
            min_tokens=3,
            min_quality=0.0,
            embeddings=emb,
            semantic_clusters=2,
            semantic_threshold=0.999,
        )
    ).collect()[0]
    assert rep.n_semantic_dup == 1 and rep.n_exact_dup == 1
    # without embeddings nothing changes (the graded q_curate path)
    base = {
        r.doc_id: r.drop_reason
        for r in curate_corpus(docs, min_tokens=3, min_quality=0.0).collect()
    }
    assert base[2] is None and base[3] is None


def test_semantic_stage_empty_and_min_id(spark):
    """Empty-survivor batches skip the stage gracefully; and
    semantic_keep='min_id' restores the lexical convention."""
    # every embedded doc falls to the too_short gate
    docs = spark.createDataFrame(
        [(1, "tiny"), (2, "also small")], "doc_id int, text string"
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id int, embedding array<float>",
    )
    out = {
        r.doc_id: r.drop_reason
        for r in curate_corpus(
            docs, min_tokens=50, embeddings=emb
        ).collect()
    }
    assert out == {1: "too_short", 2: "too_short"}  # no crash

    # min_id keeper: the SMALLER id of the semantic pair survives
    docs2 = spark.createDataFrame(
        [
            (1, "another unrelated document about something else entirely"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words but same meaning vector"),
        ],
        "doc_id int, text string",
    )
    emb2 = spark.createDataFrame(
        [
            (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 0.0]),
            (3, [2.0, 0.002, 0.0, 0.0]),
        ],
        "vec_id int, embedding array<float>",
    )
    out2 = {
        r.doc_id: r.drop_reason
        for r in curate_corpus(
            docs2,
            min_tokens=3,
            min_quality=0.0,
            embeddings=emb2,
            semantic_clusters=2,
            semantic_threshold=0.999,
            semantic_keep="min_id",
        ).collect()
    }
    assert out2[2] is None and out2[3] == "semantic_dup"


def _semantic_fixture(spark):
    """Docs where {2,3} are the semantic pair (same direction, lexically
    distinct), 4 is an exact lexical dup of 2, 5 has no embedding."""
    docs = spark.createDataFrame(
        [
            (1, "another unrelated document about something else entirely"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words but same meaning vector"),
            (4, "the quick brown fox jumps over the lazy dog"),
            (5, "no embedding for this one but plenty of words"),
        ],
        "doc_id int, text string",
    )
    emb = spark.createDataFrame(
        [
            (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 0.0]),
            (3, [2.0, 0.002, 0.0, 0.0]),
            (4, [1.0, 0.0, 0.0, 0.0]),
        ],
        "vec_id int, embedding array<float>",
    )
    return docs, emb


def test_semantic_stage_serving_layout(spark):
    """semantic_centroids= (r9): the stage runs off the ANN serving
    layout with the float vector column DROPPED — the composed 100 TB
    curation flow never reads float embeddings — and its drop
    accounting matches the float path on this fixture (vectors far from
    the 0.999 threshold boundary, so SQ8 error cannot flip a verdict).
    """
    from etl_sber_spark.operators.annindex import materialize_ivf_assignments
    from etl_sber_spark.operators.quantize import quantize_embeddings
    from etl_sber_spark.operators.similarity import kmeans_centroids

    docs, emb = _semantic_fixture(spark)
    cents = kmeans_centroids(emb, 2, 3)
    serving = quantize_embeddings(
        materialize_ivf_assignments(emb, cents),
        keep_original=False,
        norm_col="q_norm",
    )
    assert "embedding" not in serving.columns  # float-free input

    kw = dict(min_tokens=3, min_quality=0.0, semantic_threshold=0.999)
    got = {
        r.doc_id: r.drop_reason
        for r in curate_corpus(
            docs, embeddings=serving, semantic_centroids=cents, **kw
        ).collect()
    }
    want = {
        r.doc_id: r.drop_reason
        for r in curate_corpus(
            docs, embeddings=emb, semantic_clusters=2, **kw
        ).collect()
    }
    assert got == want
    assert got[4] == "exact_dup" and got[1] is None and got[5] is None
    assert sorted([str(got[2]), str(got[3])]) == ["None", "semantic_dup"]

    # q_norm-less serving layout folds norms from qvec — same verdicts
    got_nonorm = {
        r.doc_id: r.drop_reason
        for r in curate_corpus(
            docs,
            embeddings=serving.drop("q_norm"),
            semantic_centroids=cents,
            **kw,
        ).collect()
    }
    assert got_nonorm == want

    # min_id keeper convention passes through the serving path
    got_min = {
        r.doc_id: r.drop_reason
        for r in curate_corpus(
            docs,
            embeddings=serving,
            semantic_centroids=cents,
            semantic_keep="min_id",
            **kw,
        ).collect()
    }
    assert got_min[2] is None and got_min[3] == "semantic_dup"


def test_semantic_serving_layout_validated(spark):
    """Passing semantic_centroids with a FLOAT embeddings frame (no
    stored serving columns) must refuse loudly, not cluster floats
    against the wrong contract."""
    import pytest

    docs, emb = _semantic_fixture(spark)
    from etl_sber_spark.operators.similarity import kmeans_centroids

    cents = kmeans_centroids(emb, 2, 3)
    with pytest.raises(ValueError, match="serving"):
        curate_corpus(
            docs,
            min_tokens=3,
            min_quality=0.0,
            embeddings=emb,
            semantic_centroids=cents,
        )


def test_semantic_centroids_without_embeddings_refused(spark):
    """semantic_centroids= without embeddings= must refuse — the
    serving frame IS the embeddings argument on the stored-SQ8 path,
    and a centroids-only call would silently skip the semantic stage
    (r9 review)."""
    import pytest

    docs = spark.createDataFrame([(1, "some words here")],
                                 "doc_id int, text string")
    cents = spark.createDataFrame([(0, [1.0, 0.0])],
                                  "centroid_id int, centroid array<double>")
    with pytest.raises(ValueError, match="without embeddings"):
        curate_corpus(docs, semantic_centroids=cents)


def test_serving_semantic_stage_on_fixture_corpus(spark):
    """Fixture-scale wiring pin (r9): on the real sf0.001
    documents+embeddings tables, curate_corpus's serving-layout
    semantic stage must equal the composition it claims to be —
    lexical verdicts from the embedding-free pipeline, plus
    semdedup_serving drops computed over exactly the lexical
    SURVIVORS' serving rows (precedence: a lexical reason always
    wins; non-survivors never enter the stage). Deterministic
    equality, not a tolerance — same operator, same inputs.
    Threshold 0.3 because the fixture embeddings are near-orthogonal
    (max same-cluster cosine 0.47): a paper-typical 0.9+ threshold
    would make the stage vacuous here. SQ8-vs-float operator
    agreement is pinned separately in tests/test_semdedup.py."""
    from etl_sber_spark.operators.annindex import materialize_ivf_assignments
    from etl_sber_spark.operators.quantize import quantize_embeddings
    from etl_sber_spark.operators.semdedup import semdedup_serving
    from etl_sber_spark.operators.similarity import kmeans_centroids

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = kmeans_centroids(emb, 8, 2).localCheckpoint(eager=True)
    serving = quantize_embeddings(
        materialize_ivf_assignments(emb, cents),
        keep_original=False,
        norm_col="q_norm",
    ).localCheckpoint(eager=True)

    got = {
        r.doc_id: r.drop_reason
        for r in curate_corpus(
            docs,
            embeddings=serving,
            semantic_centroids=cents,
            semantic_threshold=0.3,
        ).collect()
    }

    lex = {
        r.doc_id: r.drop_reason for r in curate_corpus(docs).collect()
    }
    survivor_ids = [k for k, v in lex.items() if v is None]
    sem = {
        r.vec_id: r.is_kept
        for r in semdedup_serving(
            serving.filter(F.col("vec_id").isin(survivor_ids)),
            cents,
            threshold=0.3,
        ).collect()
    }
    want = {
        k: (v if v is not None
            else (None if sem.get(k, True) else "semantic_dup"))
        for k, v in lex.items()
    }
    assert got == want
    n_sem = sum(v == "semantic_dup" for v in got.values())
    assert n_sem > 0, "stage was vacuous on the fixture"


# ---------------------------------------------------------------------------
# Near-dup stage vs a pure-Python model: LSH pairs from the real
# signatures (test_skew_caps._py_lsh_pairs), exact 3-gram Jaccard over
# Python sets, drop the larger id of every confirmed pair.
# ---------------------------------------------------------------------------

#: Java's ``\s`` — the class ``dedup.tokens_expr`` splits on
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _py_shingles(text: str) -> set[str]:
    """``dedup.shingles`` in Python: trim spaces, lowercase, split on
    whitespace runs, distinct word-3-grams (none under 3 tokens)."""
    toks = _JAVA_WS.split(text.strip(" ").lower())
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def _py_minhash(grams: set[str]) -> tuple[int, ...]:
    """``dedup.minhash_signatures`` for one document: hash64 (md5 of
    ``gram + ':0'``, first 15 hex digits) mod 2^31-1, then the min of
    every affine permutation."""
    h31 = [
        int(hashlib.md5(f"{g}:0".encode()).hexdigest()[:15], 16) % MERSENNE31
        for g in grams
    ]
    return tuple(
        min((a * h + b) % MERSENNE31 for h in h31) for a, b in MINHASH_PERMS
    )


def _py_near_dup_drops(spark, rows, threshold, max_bucket=DEFAULT_MAX_BUCKET):
    """The greedy clique drop set of ``rows`` [(doc_id, text)]."""
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = [r.asDict() for r in minhash_signatures(docs).collect()]
    grams = {i: _py_shingles(t) for i, t in rows}
    return {
        b
        for a, b, _ in _py_lsh_pairs(sigs, max_bucket)
        if len(grams[a] & grams[b]) / len(grams[a] | grams[b]) >= threshold
    }


def _assert_curate_matches_model(spark, docs, threshold=0.8, **kw):
    """curate_corpus's near_dup set equals the model run over the
    documents that reached the near-dup stage (kept or near_dup)."""
    out = curate_corpus(docs, near_dup_jaccard=threshold, **kw).collect()
    staged = [
        (r.doc_id, r.text) for r in out if r.drop_reason in (None, "near_dup")
    ]
    got = {r.doc_id for r in out if r.drop_reason == "near_dup"}
    want = _py_near_dup_drops(spark, staged, threshold)
    assert got == want
    assert want  # the stage actually fired


def _operator_drops(docs, threshold, max_bucket):
    """The near-dup chain curate_corpus runs, at an explicit cap."""
    pairs = lsh_candidate_pairs(
        minhash_signatures(docs), max_bucket=max_bucket
    )
    return {
        r.id_b
        for r in ngram_jaccard(docs, pairs)
        .filter(
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            >= threshold
        )
        .collect()
    }


def test_near_dup_matches_python_model_on_replica_mix(spark):
    """The e2e replica mix (exact copies + suffix near-dups + prefix
    variants — uniform duplicate families) at 8×."""
    d = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    factor = 8
    docs = (
        d.select(
            "*",
            F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("k"),
        )
        .select(
            (F.col("doc_id") + F.col("k") * F.lit(10_000_000)).alias(
                "doc_id"
            ),
            F.when(F.col("k") <= 2, F.col("text"))
            .when(
                F.col("k") <= 4,
                F.concat(F.col("text"), F.lit(" rep"), F.col("k")),
            )
            .otherwise(
                F.concat(F.lit("variant"), F.col("k"), F.lit(" "),
                         F.col("text"))
            )
            .alias("text"),
        )
        .localCheckpoint()
    )
    _assert_curate_matches_model(spark, docs)


def test_near_dup_matches_python_model_on_partial_overlap(spark):
    """MIXED buckets: overlapping token windows put docs in shared LSH
    buckets while pairwise Jaccard straddles the threshold, so members
    are confirmed against co-members other than the bucket minimum."""
    words = [f"w{i}" for i in range(400)]
    rows = []
    did = 0
    # sliding windows at several strides: neighbors share most of
    # their 3-grams, distant windows share few
    for stride in (3, 7):
        for start in range(0, 300, stride):
            rows.append((did, " ".join(words[start:start + 60])))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    _assert_curate_matches_model(
        spark, docs, min_quality=0.0, allowed_langs=("en", "und")
    )


def test_near_dup_matches_python_model_under_cap(spark):
    """A TINY max_bucket (oversized buckets emit the min-id star) and
    the default cap: the operator chain equals the model at both, and
    curate_corpus (default cap) equals it too."""
    words = [f"t{i}" for i in range(200)]
    rows = [
        (i, " ".join(words[s:s + 50]))
        for i, s in enumerate(range(0, 150, 2))
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for cap in (3, 1000):
        want = _py_near_dup_drops(spark, rows, 0.8, cap)
        assert _operator_drops(docs, 0.8, cap) == want, cap
        assert want, cap
    _assert_curate_matches_model(
        spark, docs, min_quality=0.0, allowed_langs=("en", "und")
    )


def test_near_dup_matches_python_model_on_lcg_corpora(spark):
    """Seeded random corpora (LCG, no RNG state) at threshold 0.5:
    documents sample overlapping token pools so pairwise Jaccard lands
    all over the threshold and LSH buckets mix families."""
    for seed in (1, 2, 3):
        rows = []
        state = seed
        for i in range(80):
            state = (state * 1103515245 + 12345) % (2**31)
            pool = state % 5  # 5 overlapping pools of 40 tokens
            toks = []
            s2 = state
            for j in range(30):
                s2 = (s2 * 1103515245 + 12345) % (2**31)
                toks.append(f"p{pool}t{(s2 % 40) + pool * 25}")
            rows.append((i, " ".join(toks)))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        _assert_curate_matches_model(
            spark, docs, threshold=0.5, min_quality=0.0,
            allowed_langs=("en", "und"),
        )


def test_signatures_and_jaccard_match_python_model(spark):
    """The raw-string shingle layout's consumers on the fixture
    corpus: every minhash signature and every verified pair's
    (n_inter, n_a, n_b) equal the pure-Python evaluation."""
    d = load_table(spark, SF_SMALL, "documents")
    grams = {r.doc_id: _py_shingles(r.text) for r in d.collect()}

    sh = shingles(d)
    sigs = minhash_signatures(d, sh=sh).collect()
    mh = [f"mh{k:02d}" for k in range(len(MINHASH_PERMS))]
    assert {r.doc_id: tuple(r[c] for c in mh) for r in sigs} == {
        i: _py_minhash(g) for i, g in grams.items() if g
    }

    pairs = lsh_candidate_pairs(minhash_signatures(d, sh=sh))
    got = sorted(map(tuple, ngram_jaccard(d, pairs, sh=sh).collect()))
    want = sorted(
        (a, b, len(grams[a] & grams[b]), len(grams[a]), len(grams[b]))
        for a, b in {(r.id_a, r.id_b) for r in pairs.collect()}
    )
    assert got == want and len(got) > 0
