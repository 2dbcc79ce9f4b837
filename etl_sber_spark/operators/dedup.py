"""Document deduplication operators for LLM-data pipelines.

All four families are pure Catalyst expressions over the ``documents``
table — no Python UDFs — so they run at parquet-scan speed and shuffle
only on the keys stated below:

- exact:    md5-based 60-bit fingerprint, one hash-aggregate;
- minhash:  word-3-gram shingles → K permuted minhashes (one md5 per
            DISTINCT shingle + K cheap affine maps), one shuffle on
            doc_id;
- LSH:      band the signatures and join on (band, band-key) — candidate
            generation is bucketed, NEVER all-pairs: cost is
            sum-over-buckets |bucket|², not n²;
- simhash:  32-bit sign-aggregated token sketch, one shuffle on doc_id;
- n-gram Jaccard: exact set overlap, evaluated ONLY on LSH candidate
            pairs (the verify step of the near-dup pipeline).

Every operator has an exact DuckDB rendering (plans/llm_queries.py) so
the driver can differential-test it; the portable primitive is
``hash64`` (functions/hashing.py — md5 is built-in in both engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash64
from ..functions.text import doc_fingerprint
from .materialize import pin
from .spread import spread

#: Mersenne prime 2^31-1: minhash permutation modulus. h0 is reduced to
#: 31 bits first so a_k*h31 + b_k stays < 2^62 — no 64-bit overflow in
#: either engine.
MERSENNE31 = 2_147_483_647

#: Deterministic (a, b) permutation constants for K=16 minhashes —
#: literal values, identical in the DuckDB oracle SQL.
MINHASH_PERMS: tuple[tuple[int, int], ...] = (
    (1, 0),
    (1299721, 7),
    (1299743, 104729),
    (1299763, 15485863),
    (1299791, 32452843),
    (1299811, 49979687),
    (1299817, 67867967),
    (1299821, 86028121),
    (1299827, 104395301),
    (1299833, 122949823),
    (1299841, 141650939),
    (1299853, 160481183),
    (1299869, 179424673),
    (1299871, 198491317),
    (1299887, 217645177),
    (1299899, 236887691),
)

N_BANDS = 4  # 4 bands x 4 rows over the 16-wide signature


def tokens_expr(text_col: str = "text") -> Column:
    """Lowercased whitespace tokens."""
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, shingle) pairs: DISTINCT word-3-grams per document.

    3-gram construction is an array transform over the token array
    (1-indexed ``element_at``): shingle_i = toks[i] toks[i+1] toks[i+2]
    for i in 1..n-2. Documents with < 3 tokens contribute nothing.
    """
    toks = spread(df).select(
        F.col(id_col), tokens_expr(text_col).alias("toks")
    ).filter(F.size("toks") >= 3)
    sh = toks.select(
        id_col,
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(toks)-2), i -> "
                    "concat_ws(' ', element_at(toks, i), "
                    "element_at(toks, i+1), element_at(toks, i+2)))"
                )
            )
        ).alias("shingle"),
    )
    return sh


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: group by content fingerprint; one hash-aggregate.

    Output: (fingerprint, n_docs, keep_id) — ``keep_id`` = min id is the
    canonical survivor; rows with n_docs > 1 are the duplicate groups.
    """
    return (
        df.select(
            F.col(id_col), doc_fingerprint(text_col).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


def _mh_col(k: int) -> str:
    return f"mh{k:02d}"


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    sh: DataFrame | None = None,
) -> DataFrame:
    """K=16 minhash signature per document, one column per component.

    One md5 per distinct shingle (h0, 60-bit), reduced mod 2^31-1, then
    K affine permutations (a_k*h + b_k) mod M, min-aggregated per doc —
    the standard one-hash/K-permutations trick, so the expensive hash is
    computed once, not K times.

    ``sh`` lets a composed pipeline (operators/curate.py) pass ONE
    (cached) :func:`shingles` frame shared with the Jaccard verify
    step — the shingle build is the dominant text-side cost and would
    otherwise run twice.
    """
    if sh is None:
        sh = shingles(df, id_col, text_col)
    hashed = sh.select(
        id_col, (hash64(F.col("shingle")) % MERSENNE31).alias("h31")
    )
    # expr strings (one parse per component) — the per-k Column chains
    # cost ~0.15 s of py4j plan construction per call (r5)
    aggs = [
        F.expr(
            f"min(({a} * h31 + {b}) % {MERSENNE31}) AS {_mh_col(k)}"
        )
        for k, (a, b) in enumerate(MINHASH_PERMS)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def signature_bands(
    signatures: DataFrame, id_col: str = "doc_id", extra_cols: tuple = ()
) -> DataFrame:
    """(id, band, band_key) rows: each K=16 signature explodes into
    N_BANDS keys of r=4 concatenated components — ONE ``posexplode``
    (a per-band union would replicate the signature subtree N_BANDS
    times). Shared by the batch self-join (lsh_candidate_pairs) and the
    incremental new-vs-index join (operators/incremental.py).
    ``extra_cols`` rides passthrough columns (e.g. the ``batch_id``
    partition key for the streaming band-layout backfill) alongside."""
    r = len(MINHASH_PERMS) // N_BANDS
    keys = F.array(
        *[
            F.concat_ws(
                ",", *[F.col(_mh_col(b * r + j)).cast("string") for j in range(r)]
            )
            for b in range(N_BANDS)
        ]
    )
    return signatures.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.posexplode(keys).alias("band", "band_key"),
    )


#: Default bucket-size guard for the LSH self-join. A (band, key)
#: bucket of n members emits n² pair rows; on real web corpora large
#: cliques of templated/boilerplate near-identical pages survive exact
#: dedup and collapse into ONE bucket, so without a cap a single
#: straggler task carries a quadratic hot term (round-4 review). 1000
#: keeps the per-bucket cost ≤ ~10⁶ rows while being far above any
#: organic bucket in a deduplicated corpus.
DEFAULT_MAX_BUCKET = 1000


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    *,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Banded-LSH candidate generation over minhash signatures.

    Each signature explodes into N_BANDS (band, key) rows where key is
    the concatenation of that band's 4 minhash components; candidates
    are pairs sharing any (band, key) bucket — an equi-join on the
    bucket, cost Σ|bucket|², never the n² cross join. Output:
    (id_a < id_b, n_shared_bands).

    **Hot-bucket guard** (the 100 TB skew hazard, round-4 review):
    Σ|bucket|² is only safe when buckets are small — one bucket of
    10⁷ boilerplate near-identical pages is 10¹⁴ pair rows on ONE
    task. Buckets larger than ``max_bucket`` therefore emit a STAR
    instead of a clique: (anchor=min id, member) pairs, |bucket|−1
    rows. An oversized bucket is by definition a near-complete
    duplicate clique, and the downstream consumers need no more than
    the star — connected components (curate's transitive mode) unions
    a star exactly like a clique, and the keep-min-id rule drops every
    non-anchor member either way; the Jaccard verify still scores each
    emitted pair exactly. ``n_shared_bands`` for star pairs counts
    only the oversized buckets that emitted them (pairs not involving
    the anchor lose that band's vote — the price of boundedness).
    ``max_bucket=None`` disables the guard — a TEST-ONLY semantics
    reference: in the grouped formulation below an uncapped bucket
    expands to a C(|bucket|, 2)-struct array in one row, so unlike the
    old streaming self-join it is memory-quadratic per hot bucket.
    Production callers keep the cap. Oversized buckets are observable
    via ``lsh_bucket_stats`` — corpus-health telemetry a production
    run should log.

    Plan shape matters here (caught by the .explain audit): bands come
    from ONE ``posexplode`` over an array of band keys — a per-band
    union would replicate the whole signature subtree N_BANDS times.
    Pair generation is a GROUP-then-expand, not a self-join (r5
    rewrite, measured faster than even the unguarded join at sf0.1 —
    1.22 vs 1.29 s — because the bands subtree is consumed ONCE, so no
    pin and one less shuffle): collect each bucket's sorted id array,
    then emit the within-array combinations (or the star) in codegen.
    Per-bucket memory is O(|bucket|) ids in the aggregation buffer —
    LINEAR where the join's output was quadratic; a pathological 10M-id
    bucket is an ~80 MB spill-backed buffer on one task, against 10¹⁴
    join rows. The join formulation survives only as the
    ``max_bucket=None`` semantics reference (and is pair-identical —
    pinned by the differential tests).
    """
    bands = signature_bands(signatures, id_col)
    grouped = bands.groupBy("band", "band_key").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids")
    )
    # ids is ascending+distinct (one row per doc per band), so pairs
    # (ids[i], ids[j>i]) satisfy id_a < id_b by construction
    clique = F.expr(
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "b -> struct(a AS id_a, b AS id_b))))"
    )
    star = F.expr(
        "transform(slice(ids, 2, size(ids) - 1), "
        "b -> struct(element_at(ids, 1) AS id_a, b AS id_b))"
    )
    emit = (
        clique
        if max_bucket is None
        else F.when(F.size("ids") <= max_bucket, clique).otherwise(star)
    )
    return (
        grouped.filter(F.size("ids") >= 2)
        .select(F.explode(emit).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def lsh_bucket_stats(
    signatures: DataFrame,
    id_col: str = "doc_id",
    *,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Oversized-bucket telemetry for the LSH guard: one row per
    (band, band_key) bucket larger than ``max_bucket`` with its size —
    the 'how much boilerplate survived upstream dedup' signal a
    production curation run logs alongside the drop metrics. Empty on a
    healthy corpus."""
    return (
        signature_bands(signatures, id_col)
        .groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("n_bucket"))
        .filter(F.col("n_bucket") > max_bucket)
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Exact 3-gram Jaccard overlap for given (id_a, id_b) pairs.

    The verify step after LSH: only candidate pairs are scored (joins
    keyed on the candidate ids — linear in candidate volume, not
    corpus²). Output: (id_a, id_b, n_inter, n_a, n_b) as exact
    integers; jaccard = n_inter / (n_a + n_b - n_inter).

    Shape (r4 rewrite, measured 0.90 → 0.50 s at sf0.1, identical
    output on the real LSH candidates): candidate docs' shingle SETS
    are collected to one array row each, and the intersection is a
    per-pair ``array_intersect`` — two candidate-sized joins replace
    the previous (doc, shingle)-keyed join cascade (intersect join +
    size aggregate + two re-attach joins), whose five shuffle stages
    were pure latency for a handful of pairs. Scale note: a collected
    row is doc-shingle-set-sized — bounded by document length, which
    corpus pipelines cap upstream (and the old cascade's groupBy rows
    keyed by (pair) carried the same order of data through its
    shuffle). Candidate restriction comes first either way: the
    semi-join keeps every downstream operator candidate-sized.

    ``sh`` accepts an ALREADY-PINNED :func:`shingles` frame from the
    caller (shared with minhash in the composed pipeline); ``pairs`` is
    pinned here — it is usually the OUTPUT OF THE LSH BAND JOIN, which
    plan-audited uncached re-ran once per reference.

    A pair whose side has ZERO shingles (doc under 3 tokens) drops
    from the output (no set to verify against) — the LSH band join
    cannot emit such pairs anyway (no shingles → no signature).
    """
    pairs = pin(pairs)
    if sh is None:
        sh = pin(shingles(df, id_col, text_col))
    # Restrict to candidate-doc shingles first: the candidate id set is
    # tiny (LSH output), so the semi-join broadcasts and every
    # downstream join/aggregate touches candidate shingles only. No
    # forced broadcast: on a duplication-HEAVY corpus (30-50% near-dups
    # is normal for web crawls) pair_ids is O(corpus) and a forced
    # broadcast would blow the 8 GB cap — AQE picks broadcast when it
    # fits and degrades to a shuffle semi-join when it must.
    pair_ids = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).distinct()
    # sets collect the shingles' 60-bit hash64, not the strings (r5):
    # the intersect then compares longs — ~3× fewer shuffled bytes and
    # cheaper comparisons at corpus scale — resting on the same
    # collision-freedom the exact-dedup fingerprint already assumes
    # (the DuckDB oracles hash identically, so grading is exact by
    # construction, not barring-collisions)
    sets = (
        sh.join(pair_ids, id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set(hash64(F.col("shingle"))).alias("_set"))
    )
    a = sets.select(F.col(id_col).alias("id_a"), F.col("_set").alias("_sa"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("_set").alias("_sb"))
    return (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_sa", "_sb")).alias("n_inter"),
            F.size("_sa").alias("n_a"),
            F.size("_sb").alias("n_b"),
        )
    )


#: Rolling-hash parameters: polynomial base and Mersenne modulus.
ROLLING_BASE = 1_000_003
ROLLING_WINDOW = 8


def rolling_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = ROLLING_WINDOW,
) -> DataFrame:
    """Rabin-style rolling fingerprints over word windows (the
    document-fingerprinting primitive for sub-document dedup /
    plagiarism-style overlap detection).

    fp(i) = Σ_j base^(window-1-j) · h(tok[i+j])  mod 2^31-1, one row per
    window position. Computed as an array transform over precomputed
    per-token hashes (one md5 per token position) — O(n·w) arithmetic
    inside codegen, no Python. Emitting every position is deliberate:
    downstream selects the winnowing minimum per block or joins
    fingerprints across docs; both are plain relational ops.
    """
    toks = spread(df).select(
        F.col(id_col), tokens_expr(text_col).alias("toks")
    ).filter(F.size("toks") >= window)
    # per-position 31-bit token hashes (portable md5 base)
    hashed = toks.select(
        id_col,
        F.expr(
            f"transform(toks, t -> CAST(conv(substring(md5(concat(t, ':0')), 1, 15), 16, 10) AS BIGINT) % {MERSENNE31})"
        ).alias("th"),
    )
    # powers base^(w-1-j) mod M as a literal array, folded per window
    powers = [pow(ROLLING_BASE, window - 1 - j, MERSENNE31) for j in range(window)]
    terms = " + ".join(
        f"(({p} * element_at(th, i + {j})) % {MERSENNE31})"
        for j, p in enumerate(powers)
    )
    return hashed.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(th) - {window - 1}), i -> ({terms}) % {MERSENNE31})"
            )
        ).alias("pos", "fingerprint"),
    )


#: Default document-frequency guard for the fingerprint overlap join.
#: An 8-word window shared by more than this many documents is corpus
#: boilerplate (license headers, nav text, templated footers) — its
#: bucket would contribute df² pair rows while carrying no plagiarism
#: signal (round-4 review).
DEFAULT_MAX_DOC_FREQ = 128


def overlap_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    *,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """Cross-document overlap pairs from (id, fingerprint) rows: pairs
    of documents sharing ≥1 identical fingerprint window, with the
    shared-window count — the plagiarism/copy-paste detector.

    Input rows need NOT be distinct per (id, fingerprint): the
    aggregate collects a SET of doc ids per fingerprint, so a document
    repeating the same window internally still counts that window once
    per document pair (r6 — previously the caller pre-``distinct()``ed
    and the aggregate was a collect_list, i.e. two hash shuffles on
    overlapping keys; folding the dedup into the set-aggregate buffer
    removes one full exchange of the fingerprint stream: same-session
    A/B min-of-3 at sf0.1 measured 1.60 → 0.95 s for q_doc_overlap,
    bit-identical output).
    The join key is the fingerprint, so cost is
    Σ|bucket|², never corpus² — BUT a corpus-frequency fingerprint (a
    boilerplate window in every page of a big site) is a quadratic hot
    bucket; winnowing thins positions, not document frequency.
    Fingerprints held by more than ``max_doc_freq`` documents are
    therefore DROPPED from the join (round-4 review): they identify
    boilerplate, not copied passages, and dropping them bounds every
    bucket at df² ≤ max_doc_freq². ``max_doc_freq=None`` disables the
    guard. The dropped set is observable via the same groupBy the
    guard runs (``HAVING COUNT(*) > f`` in the DuckDB rendering).

    Shape (r5): GROUP-then-expand, not a self-join — collect each
    fingerprint's sorted doc-id array (one aggregate; the guard filter
    is then just ``size(ids) <= f``, no separate df table / semi-join /
    pin) and emit the within-array combinations in codegen. With the
    guard on, arrays are ≤ ``max_doc_freq`` ids; with it off, buffer
    memory is O(df) per fingerprint — linear, spill-backed — where the
    join's output was O(df²) rows.
    """
    grouped = fingerprints.groupBy("fingerprint").agg(
        F.sort_array(F.collect_set(id_col)).alias("ids")
    )
    if max_doc_freq is not None:
        grouped = grouped.filter(F.size("ids") <= max_doc_freq)
    pairs = F.expr(
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "b -> struct(a AS id_a, b AS id_b))))"
    )
    return (
        grouped.filter(F.size("ids") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )


def simhash32(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """32-bit SimHash over distinct tokens.

    bit_j(doc) = 1 iff Σ_tokens (2·bit_j(hash64(tok)) − 1) ≥ 0. One
    explode + one groupBy with 32 integer sums — entirely JVM-side.
    spread() parallelizes the per-token md5 on few-split scans (r3
    re-measurement: 0.91→0.77 s warm at sf0.1; an earlier unspread
    verdict predated the shared-session warmup and was compile-bound).

    The explode is NOT a scale hazard: the 32 sums partially aggregate
    map-side, so the shuffle carries ≈ one row per (doc, input
    partition), never per token. A shuffle-free per-row rewrite (staged
    hashed-token array + 32 F.aggregate folds) was built and REJECTED
    by measurement (r4: 1.03 s vs 0.91 s warm at sf0.1) — 32
    higher-order-function passes over the array lose to the codegen'd
    hash aggregate, and the shuffle they save was already doc-sized.
    """
    toks = spread(df).select(
        F.col(id_col), F.explode(F.array_distinct(tokens_expr(text_col))).alias("tok")
    )
    hashed = toks.select(id_col, hash64(F.col("tok")).alias("h"))
    # expr strings, not per-bit Column chains: 32 sums × ~6 py4j calls
    # each put ~0.5 s of pure Python plan construction in front of a
    # ~1 s query (r5 finding — same class as the k-means trainer fix);
    # the parsed expressions are identical
    sums = hashed.groupBy(id_col).agg(
        *[
            F.expr(f"sum((shiftright(h, {j}) & 1) * 2 - 1) AS s{j}")
            for j in range(32)
        ]
    )
    sim = " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN {2**j} ELSE 0 END)" for j in range(32)
    )
    return sums.select(
        F.col(id_col), F.expr(f"CAST({sim} AS BIGINT)").alias("simhash")
    )
