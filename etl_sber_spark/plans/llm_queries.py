"""LLM-data-pipeline queries: dedup, near-dup, similarity, text stats,
multimodal decode — each a driver-checkable differential test over the
``documents`` / ``embeddings`` tables.

Oracle strategy: every operator is built on engine-portable primitives —
md5-based hash64 (functions/hashing.py), integer arithmetic, rounded
doubles — so the DuckDB SQL here computes the *same algorithm*, not a
reference answer. Output columns are ints/strings wherever possible
(rendering-safe across the driver's pandas path); similarities are
rounded to 6 decimals on both sides (ulp-independent).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import lang_id, token_count
from ..operators import dedup as dd
from ..operators.materialize import pin
from ..operators import multimodal as mm
from ..operators import similarity as sim
from ..sources.tables import load_table
from .queries import query

# ---------------------------------------------------------------------------
# Shared DuckDB SQL fragments (kept in lockstep with operators/dedup.py)
# ---------------------------------------------------------------------------

from ..functions.hashing import hash64_expr_sql as _hash64_sql

#: the single cross-engine hash contract (functions/hashing.py) — kept
#: as a {expr} template for the f-string oracles below
_HASH64 = _hash64_sql("{expr}")
_M31 = dd.MERSENNE31

_SHINGLES_CTE = rf"""
    toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        FROM toks WHERE len(t) >= 3
    ),
    h AS (
        SELECT doc_id, {_HASH64.format(expr='s')} % {_M31} AS h31 FROM sh
    )
"""

_MH_MINS = ",\n           ".join(
    f"MIN(({a} * h31 + {b}) % {_M31}) AS mh{k:02d}"
    for k, (a, b) in enumerate(dd.MINHASH_PERMS)
)

_SIG_CTE = f"""{_SHINGLES_CTE},
    sig AS (
        SELECT doc_id,
           {_MH_MINS}
        FROM h GROUP BY doc_id
    )
"""

_R = len(dd.MINHASH_PERMS) // dd.N_BANDS
_BANDS_CTE = (
    _SIG_CTE
    + ",\n    bands AS (\n"
    + "\n        UNION ALL\n".join(
        "        SELECT doc_id, {b} AS band, {key} AS band_key FROM sig".format(
            b=b,
            key=" || ',' || ".join(
                f"CAST(mh{b * _R + j:02d} AS VARCHAR)" for j in range(_R)
            ),
        )
        for b in range(dd.N_BANDS)
    )
    + "\n    )"
)

#: per-bucket pair emission with the operator's hot-bucket star cap
#: replicated in SQL (r8 review): buckets past DEFAULT_MAX_BUCKET emit
#: (anchor=min id, member) STAR rows instead of the clique — exactly
#: dd.lsh_candidate_pairs' guard, so the oracle stays hash-identical at
#: ANY bucket size instead of silently diverging the moment a fixture
#: bucket crosses the cap. (With a.doc_id < b.doc_id, the star rows are
#: precisely those where a IS the bucket anchor.)
_CAPPED_PAIR_JOIN = f"""
        FROM (SELECT band, band_key, doc_id,
                     COUNT(*) OVER (PARTITION BY band, band_key) AS bsize,
                     MIN(doc_id) OVER (PARTITION BY band, band_key) AS anchor
              FROM bands) a
        JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
        WHERE a.bsize <= {dd.DEFAULT_MAX_BUCKET} OR a.doc_id = a.anchor
"""

_LSH_PAIRS_SQL = f"""
    WITH {_BANDS_CTE}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared_bands
    {_CAPPED_PAIR_JOIN}
    GROUP BY a.doc_id, b.doc_id
"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "q_text_stats",
    oracle=r"""
    SELECT doc_id,
           length(trim(text)) AS n_chars,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
           length(trim(text))
             - length(regexp_replace(trim(text), '[A-Za-z]', '', 'g')) AS n_alpha,
           CASE WHEN (length(trim(text))
                      - length(regexp_replace(trim(text), '[А-яЁё]', '', 'g')))::DOUBLE
                     / greatest(length(trim(text)), 1) > 0.05 THEN 'ru'
                WHEN (length(trim(text))
                      - length(regexp_replace(trim(text), '[A-Za-z]', '', 'g')))::DOUBLE
                     / greatest(length(trim(text)), 1) > 0.40 THEN 'en'
                ELSE 'und' END AS lang_guess,
           len(regexp_extract_all(lower(trim(text)),
                                  '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens
    FROM documents
    """,
)
def q_text_stats(spark, sf_dir):
    """Text-quality stats as exact integer counts + the char-class
    language heuristic (functions/text.py) — all codegen'd built-ins, so
    this runs at parquet-scan speed over 100 TB of documents. Round 3
    absorbed q_tokenize's BPE-ish regex token count (``n_bpe_tokens``)
    so the tokenizer surface stays graded in one row.

    (Round-2 fix: the round-1 version passed NEGATED classes to the
    char-class counter, so n_alpha counted non-letters and lang_guess
    was 'ru' for everything — green against its equally-wrong oracle,
    semantically garbage. Both sides now count the positive class;
    the language distribution sanity check lives in tests/test_text.py.)
    """
    from ..functions.text import bpe_ish_token_count

    d = load_table(spark, sf_dir, "documents")
    t = F.trim(F.col("text"))
    return d.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        token_count(t).alias("n_tokens"),
        (F.length(t) - F.length(F.regexp_replace(t, "[A-Za-z]", ""))).alias(
            "n_alpha"
        ),
        lang_id(t).alias("lang_guess"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


_NORM_TEXT = r"lower(regexp_replace(trim(text), '\s+', ' ', 'g'))"


@query(
    "q_dedup_exact",
    oracle=f"""
    SELECT {_HASH64.format(expr=_NORM_TEXT)} AS fingerprint,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS keep_id
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup via content fingerprint (operators/dedup.py): single
    hash-aggregate, shuffle only on the 60-bit fingerprint."""
    d = load_table(spark, sf_dir, "documents")
    return dd.exact_duplicates(d)


@query(
    "q_minhash_signatures",
    oracle=f"""
    WITH {_SIG_CTE}
    SELECT * FROM sig
    """,
)
def q_minhash_signatures(spark, sf_dir):
    """K=16 minhash signature per document: one md5 per distinct shingle
    + 16 affine permutations mod 2^31-1 (operators/dedup.py)."""
    d = load_table(spark, sf_dir, "documents")
    return dd.minhash_signatures(d)


@query("q_lsh_candidates", oracle=_LSH_PAIRS_SQL)
def q_lsh_candidates(spark, sf_dir):
    """Banded-LSH near-dup candidate pairs: 4 bands × 4 rows; equi-join
    on (band, band_key) buckets — Σ|bucket|², never n² (the 100 TB
    requirement for near-dup at corpus scale)."""
    d = load_table(spark, sf_dir, "documents")
    return dd.lsh_candidate_pairs(dd.minhash_signatures(d))


@query(
    "q_ngram_jaccard",
    oracle=f"""
    WITH {_BANDS_CTE},
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        {_CAPPED_PAIR_JOIN}
    ),
    hs AS (
        SELECT doc_id, {_HASH64.format(expr='s')} AS sh64 FROM sh
    ),
    inter AS (
        SELECT p.id_a, p.id_b, COUNT(*) AS n_inter
        FROM pairs p
        JOIN hs sa ON sa.doc_id = p.id_a
        JOIN hs sb ON sb.doc_id = p.id_b AND sb.sh64 = sa.sh64
        GROUP BY p.id_a, p.id_b
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM hs GROUP BY doc_id)
    SELECT p.id_a, p.id_b,
           COALESCE(i.n_inter, 0) AS n_inter,
           za.n AS n_a, zb.n AS n_b
    FROM pairs p
    LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
    JOIN sizes za ON za.doc_id = p.id_a
    JOIN sizes zb ON zb.doc_id = p.id_b
    """,
)
def q_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram overlap, scored ONLY for LSH candidate pairs (the
    verify stage of the near-dup pipeline); integer outputs — jaccard =
    n_inter / (n_a + n_b - n_inter).

    ONE pinned shingle frame feeds both the minhash signatures and the
    Jaccard verify (the curate_corpus sharing pattern, r11): the shingle
    build (tokenize + 3-gram transform + distinct + explode) is the
    dominant text-side cost and previously ran twice in this query —
    once inside the pinned pairs subtree, once for the verify's own
    pin. Output-identical (minhash is a deterministic function of the
    same shingles).

    The pin stores the RAW 3-gram strings, not the r11 pre-hashed
    layout: the driver's r11 artifact showed the narrow pin −10% here
    and the r12 interleaved A/B confirmed it (string 1.88 / narrow
    2.31 / unshared 2.29 s min-of-3 same-session at sf0.1) — hashing
    before the checkpoint serializes the md5 into the pin-write stage,
    while the per-consumer hash64 runs inside stages this
    scheduling-bound query overlaps anyway. Raw strings are the only
    shingle layout the dedup operators take."""
    d = load_table(spark, sf_dir, "documents")
    sh = pin(dd.shingles(d))
    pairs = dd.lsh_candidate_pairs(dd.minhash_signatures(d, sh=sh))
    return dd.ngram_jaccard(d, pairs, sh=sh)


_ROLL_W = dd.ROLLING_WINDOW
_ROLL_POWERS = [
    pow(dd.ROLLING_BASE, _ROLL_W - 1 - j, dd.MERSENNE31) for j in range(_ROLL_W)
]
_ROLL_TERMS = " + ".join(
    f"(({p} * th[i + {j}]) % {dd.MERSENNE31})"
    for j, p in enumerate(_ROLL_POWERS)
)


@query(
    "q_rolling_hash",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               list_transform(t, s ->
                   CAST(('0x' || substr(md5(s || ':0'), 1, 15)) AS BIGINT)
                   % {dd.MERSENNE31}) AS th
        FROM toks WHERE len(t) >= {_ROLL_W}
    )
    SELECT doc_id,
           CAST(unnest(range(1, len(th) - {_ROLL_W - 1} + 1)) - 1 AS INTEGER) AS pos,
           unnest(list_transform(range(1, len(th) - {_ROLL_W - 1} + 1),
                  i -> ({_ROLL_TERMS}) % {dd.MERSENNE31})) AS fingerprint
    FROM h
    """,
)
def q_rolling_hash(spark, sf_dir):
    """Rolling-hash document fingerprinting (operators/dedup.py): a
    Rabin-style polynomial fingerprint per _ROLL_W-word window (the
    module constant the oracle SQL is generated from), one md5 per
    token + integer arithmetic — the sub-document dedup primitive
    (winnow or join fingerprints downstream)."""
    d = load_table(spark, sf_dir, "documents")
    return dd.rolling_fingerprints(d)


@query(
    "q_winnow",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               list_transform(t, s ->
                   CAST(('0x' || substr(md5(s || ':0'), 1, 15)) AS BIGINT)
                   % {dd.MERSENNE31}) AS th
        FROM toks WHERE len(t) >= {_ROLL_W}
    ),
    fp AS (
        SELECT doc_id,
               CAST(unnest(range(1, len(th) - {_ROLL_W - 1} + 1)) - 1 AS INTEGER) AS pos,
               unnest(list_transform(range(1, len(th) - {_ROLL_W - 1} + 1),
                      i -> ({_ROLL_TERMS}) % {dd.MERSENNE31})) AS fingerprint
        FROM h
    )
    SELECT doc_id, CAST(pos // 4 AS INTEGER) AS block,
           MIN(fingerprint) AS winnowed_fp
    FROM fp GROUP BY doc_id, pos // 4
    """,
)
def q_winnow(spark, sf_dir):
    """Winnowing (the MOSS selection step): keep the MINIMUM rolling
    fingerprint per 4-position block — guarantees any sufficiently long
    shared passage contributes at least one identical selected
    fingerprint, while storing ~1/4 of them. One groupBy after the
    fingerprint projection."""
    d = load_table(spark, sf_dir, "documents")
    fp = dd.rolling_fingerprints(d)
    return fp.groupBy(
        "doc_id", (F.col("pos") / 4).cast("int").alias("block")
    ).agg(F.min("fingerprint").alias("winnowed_fp"))


@query(
    "q_doc_overlap",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               list_transform(t, s ->
                   CAST(('0x' || substr(md5(s || ':0'), 1, 15)) AS BIGINT)
                   % {dd.MERSENNE31}) AS th
        FROM toks WHERE len(t) >= {_ROLL_W}
    ),
    fp AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(th) - {_ROLL_W - 1} + 1),
                      i -> ({_ROLL_TERMS}) % {dd.MERSENNE31})) AS fingerprint
        FROM h
    ),
    rare AS (
        SELECT fingerprint FROM fp
        GROUP BY fingerprint HAVING COUNT(*) <= {dd.DEFAULT_MAX_DOC_FREQ}
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           COUNT(*) AS n_shared_windows
    FROM fp a
    JOIN rare r ON a.fingerprint = r.fingerprint
    JOIN fp b ON a.fingerprint = b.fingerprint
             AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
)
def q_doc_overlap(spark, sf_dir):
    """Sub-document overlap detection (operators/dedup.py
    ``overlap_pairs``): rolling fingerprints grouped per window value —
    pairs of documents sharing ≥1 identical 8-word window, with the
    shared-window count. Per-document window dedup happens inside the
    set-aggregate (r6: the former caller-side ``.distinct()`` was a
    second shuffle of the same stream — folding it into collect_set
    measured 1.60 → 0.95 s same-session at sf0.1, same hash). The group key is the
    fingerprint (hash-uniform buckets), so cost is Σ|bucket|², never
    corpus²; the document-frequency guard drops boilerplate
    fingerprints past the default document-frequency cap, so no bucket can go quadratic at
    100 TB — the cap semantics themselves are hash-graded (same HAVING
    in the oracle)."""
    d = load_table(spark, sf_dir, "documents")
    fp = dd.rolling_fingerprints(d).select("doc_id", "fingerprint")
    return dd.overlap_pairs(fp)


_SIMHASH_SUMS = ",\n           ".join(
    f"SUM(((h >> {j}) & 1) * 2 - 1) AS s{j}" for j in range(32)
)
_SIMHASH_BITS = " + ".join(
    f"(CASE WHEN s{j} >= 0 THEN {2**j} ELSE 0 END)" for j in range(32)
)


@query(
    "q_simhash",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_distinct(
                   regexp_split_to_array(lower(trim(text)), '\s+'))) AS tok
        FROM documents
    ),
    h AS (SELECT doc_id, {_HASH64.format(expr='tok')} AS h FROM tok),
    s AS (SELECT doc_id,
           {_SIMHASH_SUMS}
          FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash FROM s
    """,
)
def q_simhash(spark, sf_dir):
    """32-bit SimHash sketch per document (operators/dedup.py): one
    explode + one groupBy with 32 integer sums; near-dups differ in few
    bits (hamming distance via xor+popcount downstream)."""
    d = load_table(spark, sf_dir, "documents")
    return dd.simhash32(d)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COSINE = (
    "round(list_dot_product(qv, ev) / "
    "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(ev, ev))), 6)"
)


@query(
    "q_cosine_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               {_COSINE.replace('ev', 'CAST(e.embedding AS DOUBLE[])')} AS sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, vec_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 3
    """,
)
def q_cosine_topk(spark, sf_dir):
    """Exact brute-force cosine top-3 for 5 query vectors: broadcast
    queries, per-row JVM array fold, tiny final top-k window
    (operators/similarity.py). The baseline an ANN variant is graded
    against."""
    e = load_table(spark, sf_dir, "embeddings")
    return sim.cosine_topk_bruteforce(e, e.filter(F.col("vec_id") < 5), k=3)


def _plane_dot_sql(vec: str, p: int) -> str:
    return (
        f"list_dot_product(CAST({vec} AS DOUBLE[]), "
        f"list_transform(range(1, 65), "
        f"d -> CAST(((d * ({p} + 7)) % 13 % 2) * 2 - 1 AS DOUBLE)))"
    )


def _bucket_sql(vec: str) -> str:
    terms = []
    for p in range(sim.N_PLANES):
        dot = _plane_dot_sql(vec, p)
        terms.append(f"(CASE WHEN round({dot}, 6) >= 0 THEN {2**p} ELSE 0 END)")
    return " + ".join(terms)


def _flip_bit_sql(vec: str) -> str:
    """Mirror of probe_buckets_expr's closest-plane choice: the bit of
    the hyperplane with the smallest |rounded projection| (bit as
    tie-break) — struct list_sort is field-order lexicographic in both
    engines."""
    structs = ", ".join(
        f"{{'adot': abs(round({_plane_dot_sql(vec, p)}, 6)), 'bit': {2**p}}}"
        for p in range(sim.N_PLANES)
    )
    return f"list_sort([{structs}])[1].bit"


@query(
    "q_cosine_lsh",
    oracle=f"""
    WITH cand AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
               {_bucket_sql('embedding')} AS bucket
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS query_id, ev AS qv,
               [bucket, xor(bucket, {_flip_bit_sql('ev')})] AS probes
        FROM cand WHERE vec_id < 5
    ),
    scored AS (
        SELECT q.query_id, e.vec_id, {_COSINE} AS sim
        FROM cand e JOIN q
          ON list_contains(q.probes, e.bucket) AND e.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, vec_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 3
    """,
)
def q_cosine_lsh(spark, sf_dir):
    """Approximate cosine top-3 via random-hyperplane LSH, MULTI-PROBE
    (n_probe=2, round 3): each query scores its own bucket plus the
    Hamming-1 neighbor across its closest hyperplane — the 100 TB scale
    path (bucket is an ingest-time projection; candidate volume
    ~n·n_probe/2^8). The oracle replicates the probe-selection algebra
    in SQL, so the probing logic itself is hash-graded, not just the
    cosine."""
    e = load_table(spark, sf_dir, "embeddings")
    return sim.cosine_topk_lsh(
        e, e.filter(F.col("vec_id") < 5), n_dims=64, k=3, n_probe=2
    )


# Round-4 consolidation: the standalone q_quality_score row was retired —
# q_curate's oracle hash-verifies the identical lang_id / token_count /
# quality_score expressions per document (its cur_lang / cur_n_tokens /
# cur_quality output columns), so the functions stay driver-graded while
# the freed slot goes to a new operator (q_dsir_weights). The semantic
# pin tests in tests/test_text.py still guard the score's shape locally.

_DSIR_B = 256


@query(
    "q_dsir_weights",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(CASE WHEN len(tk) < 2 THEN tk
                      ELSE list_concat(tk, list_transform(
                               range(1, len(tk)),
                               i -> tk[i] || ' ' || tk[i+1])) END) AS g
        FROM toks
    ),
    gb AS (
        SELECT doc_id, {_HASH64.format(expr='g')} % {_DSIR_B} AS bucket
        FROM grams
    ),
    tdoc AS (SELECT doc_id FROM documents WHERE lang = 'en'),
    tg AS (SELECT bucket, COUNT(*) AS c FROM gb
           WHERE doc_id IN (SELECT doc_id FROM tdoc) GROUP BY 1),
    rw AS (SELECT bucket, COUNT(*) AS c FROM gb GROUP BY 1),
    tot AS (SELECT (SELECT COUNT(*) FROM gb) AS r_total,
                   (SELECT COUNT(*) FROM gb
                    WHERE doc_id IN (SELECT doc_id FROM tdoc)) AS t_total),
    bits AS (
        SELECT g.doc_id,
               CAST(round(
                   log2((COALESCE(t.c, 0) + 1)::DOUBLE
                        / (tot.t_total + {_DSIR_B}))
                   - log2((COALESCE(r.c, 0) + 1)::DOUBLE
                          / (tot.r_total + {_DSIR_B})), 9)
                   AS DECIMAL(28,9)) AS b
        FROM gb g
        CROSS JOIN tot
        LEFT JOIN tg t ON t.bucket = g.bucket
        LEFT JOIN rw r ON r.bucket = g.bucket
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           round(CAST(SUM(b) AS DOUBLE), 6) AS log_weight
    FROM bits GROUP BY doc_id
    """,
)
def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (operators/dsir.py): every document
    scored by its hashed-unigram+bigram log importance ratio against a
    target slice (here: the corpus's English documents — in production
    the target is a small high-quality corpus). Two bucket-count
    aggregates train the model; scoring is explode → broadcast-join the
    256-row log-ratio table → one aggregate. Per-gram terms are rounded
    to 9 decimals and summed exactly — the operator per folded bucket
    as DECIMAL(29,9) n·term products, the oracle per gram as
    DECIMAL(28,9); the same rational number, order-independent — so
    the oracle replays the full arithmetic bit-identically."""
    from ..operators.dsir import importance_weights

    d = load_table(spark, sf_dir, "documents")
    return importance_weights(
        d,
        d.filter(F.col("lang") == "en"),
        n_buckets=_DSIR_B,
        target_within_corpus=True,
    )


@query(
    "q_embedding_neardup",
    oracle=f"""
    WITH cand AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
               {_bucket_sql('embedding')} AS bucket
        FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.ev, b.ev) /
                 (sqrt(list_dot_product(a.ev, a.ev))
                  * sqrt(list_dot_product(b.ev, b.ev))), 6) AS sim
    FROM cand a JOIN cand b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.ev, b.ev) /
                (sqrt(list_dot_product(a.ev, a.ev))
                 * sqrt(list_dot_product(b.ev, b.ev))), 6) >= 0.35
    """,
)
def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup detection (the vector-side dedup
    method): hyperplane-LSH bucketing bounds candidates, rounded cosine
    gates pairs (operators/similarity.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    return sim.embedding_neardup_pairs(e, n_dims=64, threshold=0.35)


def _ivf_oracle(n_lists: int, n_iter: int, k: int, n_dims: int = 64) -> str:
    """Unrolled-Lloyd DuckDB oracle for q_ivf_topk.

    Replays the ENTIRE IVF algorithm in SQL — quantization, seed
    centroids, ``n_iter`` assignment/recenter rounds, final corpus +
    query assignment, candidate scoring, top-k — not a reference
    answer. Exactness argument (why two engines hash-match an
    iterative float algorithm):

    - vectors are quantized to bigints (× QUANT, round-half-away —
      identical on identical input doubles);
    - per-cluster/dim sums are integer sums: exact, order-independent;
    - each centroid component is ONE double division of identical
      integer operands — IEEE-identical;
    - distances fold left-to-right in array order on both engines
      (Spark zip_with/aggregate ≡ DuckDB list_sum/list_transform) over
      identical doubles, then round(…, 6) before comparison, ties on
      centroid_id.
    """
    d1 = n_dims + 1
    dist = (
        f"round(list_sum(list_transform(range(1, {d1}), "
        "i -> (CAST(e.iv[i] AS DOUBLE) - c.centroid[i]) "
        "* (CAST(e.iv[i] AS DOUBLE) - c.centroid[i]))), 6)"
    )

    def assign(cents: str, out: str) -> str:
        return f"""{out} AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {dist}, c.centroid_id) AS rn
            FROM emb e CROSS JOIN {cents} c) WHERE rn = 1
    )"""

    def recenter(asg: str, out: str) -> str:
        return f"""{out} AS (
        SELECT centroid_id, list(s ORDER BY i) AS centroid FROM (
            SELECT a.centroid_id, t.i,
                   CAST(SUM(e.iv[t.i]) AS DOUBLE) / COUNT(*) AS s
            FROM {asg} a JOIN emb e USING (vec_id),
                 UNNEST(range(1, {d1})) AS t(i)
            GROUP BY a.centroid_id, t.i)
        GROUP BY centroid_id
    )"""

    parts = [
        f"""emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(round(x * {sim.QUANT}) AS BIGINT)) AS iv
        FROM embeddings
    )""",
        f"""cents0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                   AS centroid_id,
               list_transform(iv, x -> CAST(x AS DOUBLE)) AS centroid
        FROM (SELECT vec_id, iv FROM emb ORDER BY vec_id LIMIT {n_lists})
    )""",
    ]
    for it in range(n_iter):
        parts.append(assign(f"cents{it}", f"asg{it}"))
        parts.append(recenter(f"asg{it}", f"cents{it + 1}"))
    parts.append(assign(f"cents{n_iter}", "asg_final"))
    cos = (
        "round(list_dot_product(q.ev, e.ev) / "
        "(sqrt(list_dot_product(q.ev, q.ev)) * "
        "sqrt(list_dot_product(e.ev, e.ev))), 6)"
    )
    parts.append(
        f"""scored AS (
        SELECT q.vec_id AS query_id, e.vec_id, {cos} AS sim
        FROM emb e
        JOIN asg_final ea ON e.vec_id = ea.vec_id
        JOIN (SELECT m.vec_id, m.ev, af.centroid_id
              FROM emb m JOIN asg_final af USING (vec_id)
              WHERE m.vec_id < 5) q
          ON ea.centroid_id = q.centroid_id AND e.vec_id <> q.vec_id
    )""",
    )
    parts.append(
        """ranked AS (
        SELECT query_id, vec_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id) AS rank
        FROM scored
    )""",
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= {k}"
    )


@query("q_ivf_topk", oracle=_ivf_oracle(n_lists=8, n_iter=3, k=3))
def q_ivf_topk(spark, sf_dir):
    """IVF approximate top-3 (operators/similarity.py): deterministic
    mini k-means coarse quantizer (init = first-k vectors, 3 Lloyd
    iterations, each a broadcast-join + groupBy job), candidates from
    the query's nearest list only (nprobe=1).

    HASH-VERIFIED since round 3 (was rows-only): k-means trains on
    integer-quantized vectors (similarity.QUANT), making every Lloyd
    iteration bit-deterministic across engines, and the oracle unrolls
    the same three iterations in DuckDB SQL (_ivf_oracle) — the full
    iterative algorithm is differential-tested, not just its row count.
    Recall-vs-probes quality gate stays in tests/test_ivf.py.

    The trainer and the corpus-side assignment run the same SQL argmin
    (similarity.nearest_centroids_expr) whose text the oracle replays;
    the interpreted higher-order-function fold is the query's main
    cost (guide §4)."""
    e = load_table(spark, sf_dir, "embeddings")
    return sim.cosine_topk_ivf(
        e, e.filter(F.col("vec_id") < 5), k=3, n_lists=8
    )


# ---------------------------------------------------------------------------
# Multimodal decode (Arrow-batched mapInPandas, stubbed codec)
# ---------------------------------------------------------------------------


@query(
    "q_multimodal_decode",
    oracle="""
    SELECT doc_id AS media_id,
           'image' AS media_type,
           CAST(CAST(('0x' || substr(md5(text), 1, 4)) AS INTEGER) % 1920 + 1
                AS INTEGER) AS width,
           CAST(CAST(('0x' || substr(md5(text), 5, 4)) AS INTEGER) % 1080 + 1
                AS INTEGER) AS height,
           CAST(CAST(('0x' || substr(md5(text), 9, 4)) AS INTEGER) % 300 + 1
                AS INTEGER) AS n_frames,
           md5(text) AS payload_hash
    FROM documents
    """,
)
def q_multimodal_decode(spark, sf_dir):
    """Multimodal plumbing end-to-end: binary payload column → Arrow-
    batched mapInPandas decode (stub codec, operators/multimodal.py).
    The oracle recomputes the stub's md5 arithmetic in SQL, so the whole
    Python-batch path is differential-tested."""
    d = load_table(spark, sf_dir, "documents")
    return mm.decode_stub_features(mm.documents_as_media(d))


# ---------------------------------------------------------------------------
# Training-pipeline preprocessing: sampling, packing, ranking, PII
# (operators/sampling.py, operators/packing.py, operators/ranking.py,
# functions/redact.py) — the stage between "curated corpus" and
# "training batches". Registered in round 3 after consolidating
# near-duplicate §2 coverage rows (see R3_NOTES) so every entry stays
# inside the driver's 50-query grading window.
# ---------------------------------------------------------------------------

_SAMPLE_RATES = {"en": 0.5, "zh": 0.25, "de": 0.1}
_SAMPLE_DEFAULT = 0.02


@query(
    "q_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE ({_HASH64.format(expr='CAST(doc_id AS VARCHAR)')}) % 10000 <
          CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 2500
                    WHEN 'de' THEN 1000 ELSE 200 END
    """,
)
def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum sampling (operators/sampling.py): the
    keep decision is pure hash arithmetic on the row id — no RNG, no
    sampleBy — so the oracle runs the IDENTICAL arithmetic and the
    sample membership itself is hash-verified. One codegen'd filter at
    the scan, zero shuffles at 100 TB."""
    from ..operators.sampling import stratified_sample

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return stratified_sample(
        d, "lang", _SAMPLE_RATES, id_col="doc_id", default_rate=_SAMPLE_DEFAULT
    )


_PACK_BUDGET = 256
_PACK_BUCKETS = 8


@query(
    "q_seq_packing",
    oracle=rf"""
    WITH base AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text),
                    '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_tokens,
               CAST(({_HASH64.format(expr='CAST(doc_id AS VARCHAR)')})
                    % {_PACK_BUCKETS} AS INTEGER) AS bucket
        FROM documents
    ),
    cum AS (
        SELECT *,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY bucket ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before
        FROM base
    )
    SELECT doc_id, n_tokens, bucket,
           CAST(bucket AS BIGINT) * 4294967296
             + (cum_before // {_PACK_BUDGET}) AS bin_id,
           CAST(cum_before % {_PACK_BUDGET} AS BIGINT) AS bin_offset,
           (n_tokens > 0 AND (cum_before // {_PACK_BUDGET})
             <> ((cum_before + n_tokens - 1) // {_PACK_BUDGET})) AS spans_bins
    FROM cum
    """,
)
def q_seq_packing(spark, sf_dir):
    """Concat-and-split sequence packing (operators/packing.py): token
    budget 256, 8 independent hash buckets. The oracle replays the
    bucket hash, the per-bucket running token sum, and the bin/offset
    integer algebra — all-integer, so the assignment is hash-exact.
    One shuffle (per-bucket window sort); buckets pack independently,
    which is what makes the operator distribute at 100 TB."""
    from ..operators.packing import pack_documents

    d = load_table(spark, sf_dir, "documents")
    return pack_documents(
        d, budget=_PACK_BUDGET, n_buckets=_PACK_BUCKETS
    )


_BM25_TERMS = ("spark", "join", "window")


@query(
    "q_bm25_rank",
    oracle=rf"""
    WITH dl AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text),
                    '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS dl
        FROM documents
    ),
    stats AS (
        SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text),
                        '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS term
            FROM documents
        ) WHERE term IN ('spark', 'join', 'window')
        GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    contrib AS (
        SELECT tf.doc_id,
               CAST(ROUND(
                   ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * (CAST(tf.tf AS DOUBLE) * 2.2)
                   / (CAST(tf.tf AS DOUBLE)
                      + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl)),
                   9) AS DECIMAL(28,9)) AS c
        FROM tf
        JOIN dfreq USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
           CAST(ROUND(SUM(c), 4) AS DOUBLE) AS score
    FROM contrib GROUP BY doc_id
    """,
)
def q_bm25_rank(spark, sf_dir):
    """Okapi BM25 keyword scoring (operators/ranking.py) against the
    bag {'spark','join','window'} with corpus stats (N, avgdl) computed
    in-job as a 1-row broadcast — no collect. The oracle re-derives idf
    and the length-normalized tf term-by-term with the same k1=1.2,
    b=0.75 and the same 9-decimal-round → exact-decimal-sum → 4-decimal
    output contract, so scores hash bit-identically. Shuffles: one
    (doc,term) aggregate bounded by MATCHED terms only."""
    from ..operators.ranking import bm25_scores

    d = load_table(spark, sf_dir, "documents")
    return bm25_scores(d, _BM25_TERMS)


#: Deterministic PII payload appended to each document so the redactor
#: has guaranteed matches of every class (the synthetic corpus itself
#: is PII-free). Built identically in both engines from doc_id.
_PII_SUFFIX_SQL = (
    "' contact u' || CAST(doc_id AS VARCHAR) || '@ex.org card '"
    " || '4111 1111 1111 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' passport 1234 567890 tel +7916' "
    " || lpad(CAST(doc_id % 100000 AS VARCHAR), 7, '0')"
)


@query(
    "q_pii_redact",
    oracle=f"""
    WITH pii AS (
        SELECT doc_id, substr(text, 1, 40) || {_PII_SUFFIX_SQL} AS raw
        FROM documents
    ),
    r1 AS (SELECT doc_id, raw, regexp_replace(raw,
               '\\b[0-9]{{4}}[- ]?[0-9]{{4}}[- ]?[0-9]{{4}}[- ]?[0-9]{{4}}\\b',
               '<CARD>', 'g') AS t1 FROM pii),
    r2 AS (SELECT *, regexp_replace(t1, '\\b[0-9]{{4}} [0-9]{{6}}\\b',
               '<ID>', 'g') AS t2 FROM r1),
    r3 AS (SELECT *, regexp_replace(t2,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
               '<EMAIL>', 'g') AS t3 FROM r2),
    r4 AS (SELECT *, regexp_replace(t3, '\\+[0-9]{{7,15}}\\b',
               '<PHONE>', 'g') AS redacted FROM r3)
    SELECT doc_id, redacted,
           CAST(len(regexp_extract_all(raw,
               '\\b[0-9]{{4}}[- ]?[0-9]{{4}}[- ]?[0-9]{{4}}[- ]?[0-9]{{4}}\\b'))
               AS INTEGER) AS n_card,
           CAST(len(regexp_extract_all(t1, '\\b[0-9]{{4}} [0-9]{{6}}\\b'))
               AS INTEGER) AS n_id,
           CAST(len(regexp_extract_all(t2,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))
               AS INTEGER) AS n_email,
           CAST(len(regexp_extract_all(t3, '\\+[0-9]{{7,15}}\\b'))
               AS INTEGER) AS n_phone
    FROM r4
    """,
)
def q_pii_redact(spark, sf_dir):
    """PII scrub (functions/redact.py): card → id → email → phone
    precedence chain of regexp_replace, plus per-class precedence-aware
    counts. The corpus is synthetic and PII-free, so each document gets
    a deterministic doc_id-derived PII payload appended IN the query —
    both engines build the identical string, then redact it with the
    same Java-regex ∩ RE2 pattern subset; the redacted text itself is
    hash-compared, not just the counts. Pure projections: scan-speed at
    100 TB."""
    from ..functions.redact import pii_count, redact_pii

    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@ex.org card 4111 1111 1111 "),
        F.lpad(F.pmod("doc_id", F.lit(10000)).cast("string"), 4, "0"),
        F.lit(" passport 1234 567890 tel +7916"),
        F.lpad(F.pmod("doc_id", F.lit(100000)).cast("string"), 7, "0"),
    )
    return d.select(
        "doc_id",
        redact_pii(raw).alias("redacted"),
        pii_count(raw, "card").cast("int").alias("n_card"),
        pii_count(raw, "id").cast("int").alias("n_id"),
        pii_count(raw, "email").cast("int").alias("n_email"),
        pii_count(raw, "phone").cast("int").alias("n_phone"),
    )


# ---------------------------------------------------------------------------
# Composed corpus curation (operators/curate.py): the full pipeline in
# one graded row. The oracle rebuilds every stage in SQL — cheap gates
# (lang/length/quality on RAW text, exactly as curate_corpus applies
# them), exact dedup (min-id per fingerprint), then minhash-LSH + exact
# 3-gram Jaccard ≥ 0.8 near-dup over the survivors (the shared band
# CTEs re-sourced from the survivor set instead of the full table).
# ---------------------------------------------------------------------------

_RAW_LANG_SQL = """
    CASE WHEN (length(text)
               - length(regexp_replace(text, '[А-яЁё]', '', 'g')))::DOUBLE
              / greatest(length(text), 1) > 0.05 THEN 'ru'
         WHEN (length(text)
               - length(regexp_replace(text, '[A-Za-z]', '', 'g')))::DOUBLE
              / greatest(length(text), 1) > 0.40 THEN 'en'
         ELSE 'und' END
"""

_RAW_NTOK_SQL = r"""
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END
"""

_RAW_QUALITY_SQL = r"""
    floor((0.3 * least(greatest(length(text), 1)::DOUBLE / 100.0, 1.0)
          + 0.4 * ((length(text)
                    - length(regexp_replace(text, '[A-Za-zА-яЁё]', '', 'g')))::DOUBLE
                   / greatest(length(text), 1))
          + 0.2 * (CASE WHEN greatest(length(text), 1)::DOUBLE
                             / greatest(CASE WHEN length(trim(text)) = 0 THEN 0
                                        ELSE len(regexp_split_to_array(trim(text), '\s+')) END,
                                        1)::DOUBLE
                             BETWEEN 3.0 AND 12.0
                        THEN 1.0 ELSE 0.5 END)
          + 0.1 * (1.0 - least(((length(text)
                    - length(regexp_replace(text, '[.,;:!?"]', '', 'g')))::DOUBLE
                   / greatest(length(text), 1)) * 5.0, 1.0))) * 10000.0 + 0.5)
    / 10000.0
"""

_CURATE_BANDS = _BANDS_CTE.replace(
    "FROM documents", "FROM (SELECT doc_id, text FROM survivors)"
)

_CURATE_SQL = f"""
    WITH ann AS (
        SELECT doc_id, text,
               {_RAW_LANG_SQL} AS cur_lang,
               {_RAW_NTOK_SQL} AS cur_n_tokens,
               {_RAW_QUALITY_SQL} AS cur_quality,
               {_HASH64.format(expr=_NORM_TEXT)} AS cur_fingerprint
        FROM documents
    ),
    gated AS (
        SELECT *,
               CASE WHEN cur_lang NOT IN ('en', 'ru') THEN 'lang'
                    WHEN cur_n_tokens < 5 THEN 'too_short'
                    WHEN cur_quality < 0.4 THEN 'quality' END AS cheap_reason
        FROM ann
    ),
    clean AS (SELECT * FROM gated WHERE cheap_reason IS NULL),
    keepers AS (
        SELECT cur_fingerprint, MIN(doc_id) AS keep_id
        FROM clean GROUP BY 1
    ),
    exact_drops AS (
        SELECT c.doc_id FROM clean c
        JOIN keepers k USING (cur_fingerprint)
        WHERE c.doc_id <> k.keep_id
    ),
    survivors AS (
        SELECT * FROM clean
        WHERE doc_id NOT IN (SELECT doc_id FROM exact_drops)
    ),
    {_CURATE_BANDS},
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        {_CAPPED_PAIR_JOIN}
    ),
    hs AS (
        SELECT doc_id, {_HASH64.format(expr='s')} AS sh64 FROM sh
    ),
    inter AS (
        SELECT p.id_a, p.id_b, COUNT(*) AS n_inter
        FROM pairs p
        JOIN hs sa ON sa.doc_id = p.id_a
        JOIN hs sb ON sb.doc_id = p.id_b AND sb.sh64 = sa.sh64
        GROUP BY p.id_a, p.id_b
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM hs GROUP BY doc_id),
    near_drops AS (
        SELECT DISTINCT p.id_b AS doc_id
        FROM pairs p
        JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
        JOIN sizes za ON za.doc_id = p.id_a
        JOIN sizes zb ON zb.doc_id = p.id_b
        WHERE i.n_inter::DOUBLE / (za.n + zb.n - i.n_inter) >= 0.8
    )
    SELECT g.doc_id, g.cur_lang,
           CAST(g.cur_n_tokens AS INTEGER) AS cur_n_tokens,
           g.cur_quality, g.cur_fingerprint,
           COALESCE(g.cheap_reason,
                    CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup' END,
                    CASE WHEN nd.doc_id IS NOT NULL THEN 'near_dup' END)
               AS drop_reason
    FROM gated g
    LEFT JOIN exact_drops e ON e.doc_id = g.doc_id
    LEFT JOIN near_drops nd ON nd.doc_id = g.doc_id
"""


@query("q_curate", oracle=_CURATE_SQL)
def q_curate(spark, sf_dir):
    """The composed curation pipeline (operators/curate.py) as ONE graded
    row: language/length/quality gates in cost order, exact dedup
    (min-id per fingerprint), minhash-LSH + exact Jaccard near-dup over
    the survivors — every document annotated with its first rejecting
    gate or NULL. Each primitive is also individually graded
    (q_dedup_exact, q_lsh_candidates, q_ngram_jaccard; the lang/token/
    quality functions are hash-verified here via cur_lang / cur_n_tokens
    / cur_quality — this row absorbed round-3's q_quality_score);
    this row proves the COMPOSITION: stage ordering, survivor
    propagation between stages, and the drop-reason precedence."""
    from ..operators.curate import curate_corpus

    d = load_table(spark, sf_dir, "documents")
    out = curate_corpus(d)
    return out.select(
        "doc_id",
        "cur_lang",
        F.col("cur_n_tokens").cast("int").alias("cur_n_tokens"),
        "cur_quality",
        "cur_fingerprint",
        "drop_reason",
    )
