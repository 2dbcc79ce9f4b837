"""Embedding similarity search over ``embeddings.embedding``
(array<float>, 64-dim in TESTDATA).

Two strategies, per the scale doctrine (BASELINE north star):

- :func:`cosine_topk_bruteforce` — the exactness baseline: broadcast the
  (small) query set against every candidate row; cosine is a per-row
  JVM array fold (functions/vectors.py), so the scan parallelizes
  perfectly and the only shuffle is the final tiny top-k. Exact, O(n·q).
- :func:`cosine_topk_lsh` — the scale path: random-hyperplane LSH
  buckets candidates and queries; only same-bucket pairs are scored.
  With b hyperplanes the candidate volume drops ~2^b-fold at the cost
  of recall — the classic ANN trade. Hyperplane signs are a fixed
  deterministic ±1 pattern (literal arithmetic, identical in the DuckDB
  oracle) rather than RNG, so differential tests are exact.

Every kernel — LSH bucketing, centroid assignment, the drift distance
and cosine scoring — has one implementation: a SQL expression, the
same algebra the DuckDB oracles replay. Dot products are
``zip_with``/``aggregate`` folds (left-to-right, deterministic order —
required for cross-engine float equality), so no vector kernel crosses
a Python UDF boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity
from .materialize import pin
from .spread import spread

#: Number of LSH hyperplanes (buckets = 2^N_PLANES).
N_PLANES = 8

#: Rounding applied to similarity outputs: floats cross the engine
#: boundary as their shortest repr, and the two engines may fold sums in
#: different association orders; 6 decimals is far above ulp noise and
#: far below the data's similarity gaps.
SIM_SCALE = 6

#: K-means trains on integer-QUANTIZED vectors: round(x * QUANT) as
#: bigint. Integer sums are exact and order-independent, so the Lloyd
#: recenter step (the one float-order-sensitive reduction in the IVF
#: path) becomes bit-deterministic across engines and across partition
#: orders — which is what lets q_ivf_topk carry a full DuckDB
#: hash-verified oracle (unrolled Lloyd iterations in SQL) instead of
#: the weaker rows-only check. 1e-6 resolution is far below any
#: meaningful centroid separation; final SCORING still uses the
#: original float vectors.
QUANT = 1_000_000


def quantize_vec(col: Column | str) -> Column:
    """array<long>: round(x * QUANT) per element — the exact-arithmetic
    representation k-means trains on. Both engines round half away from
    zero on identical doubles, so the quantization is cross-engine
    deterministic."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        c.cast("array<double>"),
        lambda x: F.round(x * F.lit(float(QUANT))).cast("long"),
    )


def quantize_vec_sql(col_name: str) -> str:
    """SQL-text rendering of :func:`quantize_vec` (same arithmetic:
    CAST→×QUANT→round(HALF_UP, scale 0)→BIGINT) — for call sites that
    compose it into a single-parse SQL expression
    (:func:`nearest_centroids_expr`)."""
    return (
        f"transform(CAST({col_name} AS array<double>), "
        f"x -> CAST(round(x * {float(QUANT)!r}D) AS BIGINT))"
    )


_SM64_MASK = (1 << 64) - 1


def plane_sign(d: int, p: int, table: int = 0) -> int:
    """±1 entry of LSH hyperplane ``p`` at dimension ``d`` (1-based) in
    plane-set ``table``. Two regimes, one contract:

    - **table 0** (the stored/graded convention) keeps the historical
      formula ``((d*(p+7)) % 13) % 2 * 2 - 1`` bit-for-bit — stored
      ``bucket`` columns, the graded oracle SQL, and the annindex
      plane-drift guard all pin this matrix, so it is frozen the same
      way functions/hashing.py freezes xxhash64.
    - **table ≥ 1** derives each entry from a splitmix64-style hash of
      the packed ``(table, p, d)`` triple. The r6 formula offset the
      plane index inside the same mod-13 arithmetic, which admits only
      13 distinct plane patterns TOTAL across all tables (review
      finding) — tables beyond ~2 reused planes and table t+13
      duplicated table t exactly. The hash family has no such
      plane-universe bound: any two 64-dim plane rows anywhere in the
      family coincide with probability ~2^-64, so every table is a
      genuinely fresh draw (pinned in tests/test_lsh_multiprobe.py:
      pairwise-distinct matrices across tables, t=13 ≠ t=0, no
      constant rows).

    Driver-side integer arithmetic, no RNG state — the whole family is
    reproducible from (table, p, d) alone, which is what lets per-table
    serving columns persist and drift-guard (operators/annindex.py).
    """
    if table == 0:
        return ((d * (p + 7)) % 13 % 2) * 2 - 1
    x = (
        table * 0x9E3779B97F4A7C15
        + p * 0xBF58476D1CE4E5B9
        + d * 0x94D049BB133111EB
    ) & _SM64_MASK
    x ^= x >> 30
    x = (x * 0xBF58476D1CE4E5B9) & _SM64_MASK
    x ^= x >> 27
    x = (x * 0x94D049BB133111EB) & _SM64_MASK
    x ^= x >> 31
    return (x & 1) * 2 - 1


def _signs_sql(n_dims: int, table: int = 0) -> str:
    """Literal ±1 sign matrix of the N_PLANES hyperplanes of
    ``table``'s plane set (:func:`plane_sign` — table 0 is the frozen
    historical matrix, higher tables are independent hash draws). The
    matrix is evaluated driver-side once rather than per
    (row, plane, dim) inside interpreted HOFs (r5; bucket projection
    1.79 → 1.12 s at sf0.1, bit-identical buckets); the DuckDB oracles
    keep table 0's formula inline (plans/llm_queries.py) — same values
    either way."""
    return (
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                f"{float(plane_sign(d, p, table))!r}D"
                for d in range(1, n_dims + 1)
            )
            + ")"
            for p in range(N_PLANES)
        )
        + ")"
    )


#: Literal [1, 2, 4, …] — bit value of plane p at index p+1.
_BITS_SQL = "array(" + ", ".join(str(2**p) for p in range(N_PLANES)) + ")"


def _dots_sql(vec_col: str, n_dims: int, table: int = 0) -> str:
    """SQL text of the N_PLANES projections <v, plane_p>: one transform
    over the literal sign matrix × a zip_with fold per row. (History:
    N_PLANES unrolled 64-wide fold chains compiled to a janino method
    large enough to dominate wall-clock at small SF — r2 fix; the whole
    family is SQL text since r5 because the lambda-built Column trees
    cost ~0.3 s of py4j plan construction per query build.)"""
    return (
        f"transform({_signs_sql(n_dims, table)}, sgnrow -> "
        f"aggregate(zip_with(CAST({vec_col} AS array<double>), sgnrow, "
        "(x, s) -> x * s), 0.0D, (acc, x) -> acc + x))"
    )


def _bucket_from_dots_sql(dots: str) -> str:
    return (
        f"aggregate(sequence(1, {N_PLANES}), 0, (acc, i) -> acc + "
        f"(CASE WHEN round(element_at({dots}, i), {SIM_SCALE}) >= 0 "
        f"THEN element_at({_BITS_SQL}, i) ELSE 0 END))"
    )


def _let_sql(value: str, var: str, body: str) -> str:
    """Let-binding in SQL text: evaluate ``value`` ONCE and reference
    it as ``var`` in ``body`` — transform over a singleton array binds
    its element as a lambda variable, so the (large) value subtree
    appears once in the plan instead of once per use."""
    return f"element_at(transform(array({value}), {var} -> {body}), 1)"


def bucket_expr(vec_col: str, n_dims: int, table: int = 0) -> Column:
    """LSH bucket id: bit p = sign of <v, plane_p>, planes 0..N_PLANES-1
    (``table`` selects an independent plane set; 0 = the stored/graded
    convention).

    The projection is an integer-weighted sum of vector entries — exact
    arithmetic order is fixed by the fold, and the sign test uses a
    rounded value so both engines agree even at ulp distance from 0.
    """
    return F.expr(
        _let_sql(
            _dots_sql(vec_col, n_dims, table), "dts",
            _bucket_from_dots_sql("dts"),
        )
    )


def probe_buckets_expr(
    vec_col: str, n_dims: int, n_probe: int, table: int = 0
) -> Column:
    """Multi-probe bucket list: the vector's own LSH bucket plus the
    ``n_probe - 1`` Hamming-1 neighbors most likely to hold missed
    neighbors — the buckets across the hyperplanes the vector lies
    CLOSEST to (smallest |projection|), in that order. Classic
    multi-probe LSH (Lv et al., VLDB'07): a near-neighbor that landed
    on the other side of one plane almost certainly crossed the plane
    with the smallest margin.

    Deterministic: plane distances are rounded like the sign test, ties
    broken by plane bit (struct array_sort is lexicographic — nearest
    plane first) — exact SQL rendering exists for the oracle. Returns
    array<int> of ``min(n_probe, N_PLANES + 1)`` distinct ids.
    """
    planes = (
        f"transform(sequence(1, {N_PLANES}), i -> struct("
        f"abs(round(element_at(dts, i), {SIM_SCALE})) AS adot, "
        f"element_at({_BITS_SQL}, i) AS bit))"
    )
    flips = (
        f"transform(slice(array_sort({planes}), 1, {max(n_probe - 1, 0)}), "
        "s -> bse ^ s.bit)"
    )
    inner = _let_sql(
        _bucket_from_dots_sql("dts"),
        "bse",
        f"concat(array(bse), {flips})",
    )
    return F.expr(_let_sql(_dots_sql(vec_col, n_dims, table), "dts", inner))


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors of each query vector (self-matches excluded).

    ``queries`` must be small (it is broadcast); every candidate row is
    scored in place during the scan — no shuffle until the per-query
    top-k reduction. Output: (query_id, vec_id, sim rounded, rank).

    The score is ``round(cosine_similarity(q, e), SIM_SCALE)``, the fold
    the graded q_cosine_topk DuckDB oracle replays; the recall probes of
    operators/annindex.py score their sample × corpus pairs with the
    same expression."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    scored = (
        spread(embeddings).alias("e")
        .join(F.broadcast(q), F.col("query_id") != F.col(f"e.{id_col}"))
        .select(
            "query_id",
            F.col(f"e.{id_col}").alias(id_col),
            F.round(
                cosine_similarity(F.col("q_vec"), F.col(f"e.{vec_col}")),
                SIM_SCALE,
            ).alias("sim"),
        )
    )
    return _per_query_topk(scored, k, id_col)


def _per_query_topk(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """The shared ranking tail of every top-k operator: keep each
    query's ``k`` highest-similarity rows, ties broken by the smaller
    candidate id (deterministic across partitionings — the DuckDB
    differential oracles replicate exactly this ORDER BY). One
    definition so the three operators' output contracts cannot drift
    (review finding). NULL sims (zero-norm vectors) sort last under
    DESC, so broken embeddings never enter a top-k."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col(id_col)
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    train_mod: int | None = None,
) -> DataFrame:
    """Deterministic mini k-means for IVF coarse quantization.

    Init = the ``k`` smallest vectors by id — ``orderBy(id).limit(k)``,
    deterministic for ANY id domain (sparse, offset, or non-numeric
    ids), not the round-2 ``id < k`` filter, which silently seeded
    fewer than k centroids unless ids were dense integers from 0. No
    RNG — the repo-wide rule for differential testability. Each Lloyd
    iteration is ONE distributed aggregate: assignment is a projection
    against literal centroids (argmin over k, tie-broken by centroid
    id — no join, no window), recenter is a groupBy of exact integer
    sums. Centroids live driver-side between rounds (metadata-scale:
    k × n_dims doubles), the classic Spark iterative-algorithm shape
    with the lineage reset each round for free.

    ``train_mod=m`` is the 100 TB path: Lloyd iterations see only the
    deterministic ~1/m training sample ``hash64(id) % m == 0`` (hash
    sampling, not ``DataFrame.sample`` — no RNG, so the same corpus
    always trains the same quantizer). Assignment of the full corpus to
    the trained centroids (``assign_to_centroid``) is unaffected:
    training cost drops m-fold, query recall follows centroid quality,
    not sample identity. ``None`` trains on everything.

    A cluster left empty by an iteration drops out of the result (its
    centroid has no mean), so the returned list may hold fewer than
    ``k`` rows — callers read the actual list size rather than assuming
    k (documented shrinkage; re-seeding would break determinism).

    Per-iteration assignment is :func:`nearest_centroids_expr`, the SQL
    fold whose text the q_ivf_topk DuckDB oracle replays. It is an
    interpreted higher-order-function fold, so its cost grows with
    k × n_dims per row: OPTIMIZATION_r11.md records 500k vectors ×
    k=707 at 14.6-17.9 s of training.

    Training arithmetic is exact (round 3): vectors are quantized to
    integers (``quantize_vec``), so per-cluster sums are
    order-independent bigint sums and the mean is one IEEE division of
    identical operands on any engine — the k-means trajectory is
    bit-reproducible, including in the DuckDB oracle that unrolls these
    same Lloyd iterations in SQL (q_ivf_topk).

    Returns (centroid_id, centroid array<double> in quantized space —
    i.e. original coordinates × QUANT). centroid_id is the dense rank
    of the seed vector's id, 0..k-1.
    """
    if train_mod:
        from ..functions.hashing import hash64

        embeddings = embeddings.filter(
            hash64(F.col(id_col).cast("string")) % train_mod == 0
        )
    # spread() before quantizing: each Lloyd iteration scans this frame
    # — on a single-split scan the whole stage would serialize on one
    # task. pin(): n_iter passes over one materialization instead of
    # n_iter scan+quantize passes; at 100 TB the pinned frame is the
    # train_mod SAMPLE, not the corpus — the MLlib cache-the-training-
    # set discipline.
    qemb = pin(
        spread(embeddings).select(
            F.col(id_col), quantize_vec(vec_col).alias("_qv")
        )
    )
    # Seeds: the k smallest vectors by id, COLLECTED. Centroids are
    # metadata-scale (k × n_dims doubles), so the whole loop keeps them
    # driver-side as literals — assignment is then a pure projection
    # (no join, no window, no shuffle) and each Lloyd iteration is ONE
    # aggregate job. (The earlier DataFrame-centroid formulation paid a
    # broadcast join + a per-vector window + a lineage that compounded
    # across iterations — measured 8.7s vs 2.4s training at sf0.1.)
    seeds = qemb.orderBy(F.col(id_col)).limit(k).select("_qv").collect()
    if not seeds:
        raise ValueError(
            "k-means training set is empty (empty embeddings frame, or "
            f"train_mod={train_mod} filtered out every row) — nothing "
            "to seed centroids from"
        )
    cent_rows: list[tuple[int, list[float]]] = [
        (i, [float(x) for x in r._qv]) for i, r in enumerate(seeds)
    ]
    n_dims = len(cent_rows[0][1])
    # one array-of-sums expression, parsed JVM-side in ONE call: the
    # per-dimension F.sum(F.element_at(...)) column list issued ~3
    # py4j round-trips per dimension per iteration — at 64 dims that
    # Python-side plan construction dominated the (tiny) local jobs
    # (r5 fix, measured with nearest_centroids_expr's string form:
    # trainer 2.4 → 0.9 s at sf0.1, bit-identical trajectory)
    sums_sql = (
        "array("
        + ", ".join(f"sum(element_at(_qv, {d + 1}))" for d in range(n_dims))
        + ")"
    )
    for _ in range(n_iter):
        # element-wise mean: exact bigint sums per dimension + count,
        # then one float division of identical integer operands —
        # order-independent by construction, and Python/Spark/DuckDB
        # all perform the identical IEEE division
        summed = (
            qemb.withColumn(
                "centroid_id", nearest_centroids_expr("_qv", cent_rows, 1)[0]
            )
            .groupBy("centroid_id")
            .agg(
                F.expr("count(1)").alias("n"),
                F.expr(sums_sql).alias("sums"),
            )
        )
        cent_rows = sorted(
            (r["centroid_id"], [s / r["n"] for s in r["sums"]])
            for r in summed.collect()
        )
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        cent_rows, "centroid_id int, centroid array<double>"
    )


def _centroid_rows(centroids: DataFrame) -> list[tuple[int, list[float]]]:
    """Collect a (tiny) centroid frame to driver-side literals."""
    return sorted(
        (int(r.centroid_id), [float(x) for x in r.centroid])
        for r in centroids.collect()
    )


def nearest_centroids_expr(
    qv_col: Column | str,
    cent_rows: list[tuple[int, list[float]]],
    n_probe: int,
) -> Column:
    """array<int> of the ``n_probe`` nearest centroid ids for a
    quantized vector column — squared L2 rounded to SIM_SCALE, ties on
    centroid_id (struct array_sort is lexicographic). A pure projection:
    this is how assignment stays shuffle-free, and the exact algebra the
    q_ivf_topk DuckDB oracle replays."""
    qv_sql = qv_col if isinstance(qv_col, str) else None
    if qv_sql is None:
        raise TypeError(
            "nearest_centroids_expr takes the quantized-vector COLUMN "
            "NAME (the expression is built as one SQL string)"
        )
    # ALL centroids travel as ONE nested array literal (plus one id
    # array), so the expression tree is k-INDEPENDENT: the per-centroid
    # distance is a zip_with lambda over the literal matrix instead of
    # k unrolled subtrees (r3 fix: the unrolled 16-struct tree made
    # each Lloyd iteration seconds-slow in PLANNING). The whole
    # expression is built as ONE SQL string parsed in ONE JVM call (r5
    # fix): the Column-object formulation issued hundreds of py4j
    # round-trips per Lloyd iteration — measured 2.4 → 0.9 s for the
    # 3-iteration trainer at sf0.1, with a bit-identical trajectory.
    # Value semantics are unchanged: `repr(float)`+`D` round-trips to
    # the same IEEE double, same (x-y)*(x-y) zip, same 0.0D-seeded
    # left fold, same round(…, SIM_SCALE), same (d, centroid_id) sort —
    # the q_ivf_topk DuckDB oracle still hash-matches.
    n = min(n_probe, len(cent_rows))
    return F.expr(
        f"transform(slice({_nearest_struct_sql(qv_sql, cent_rows)}, 1, {n}), "
        "s -> s.centroid_id)"
    )


def _nearest_struct_sql(
    qv_sql: str, cent_rows: list[tuple[int, list[float]]]
) -> str:
    """The shared core of centroid assignment: SQL text of the sorted
    (d, centroid_id) struct array — squared L2 in quantized space,
    rounded, ties on centroid_id."""
    vecs = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{float(x)!r}D" for x in vec) + ")"
            for _, vec in cent_rows
        )
        + ")"
    )
    ids = "array(" + ", ".join(str(int(cid)) for cid, _ in cent_rows) + ")"
    return (
        f"array_sort(zip_with({vecs}, {ids}, (v, cid) -> "
        f"struct(round(aggregate(zip_with(CAST({qv_sql} AS array<double>), "
        "CAST(v AS array<double>), (x, y) -> (x - y) * (x - y)), 0.0D, "
        f"(acc, x) -> acc + x), {SIM_SCALE}) AS d, "
        "CAST(cid AS INT) AS centroid_id)))"
    )


def nearest_centroid_dist_expr(
    qv_col: str, cent_rows: list[tuple[int, list[float]]]
) -> Column:
    """Distance to the NEAREST centroid, in ORIGINAL vector space
    (sqrt of the quantized squared L2, divided by QUANT) — the drift
    monitor's signal (operators/annindex.py ``ann_status``): a corpus
    drifting away from its trained quantizer pushes this distribution
    up. Same sorted-struct core as :func:`nearest_centroids_expr`, so
    the distance always corresponds to the id assignment would pick."""
    if not isinstance(qv_col, str):
        raise TypeError(
            "nearest_centroid_dist_expr takes the quantized-vector "
            "COLUMN NAME (the expression is built as one SQL string)"
        )
    return F.expr(
        f"sqrt(element_at(transform(slice("
        f"{_nearest_struct_sql(qv_col, cent_rows)}, 1, 1), s -> s.d), 1))"
        f" / {float(QUANT)!r}D"
    )


def nearest_centroids_col(
    vec_col: str,
    cent_rows: list[tuple[int, list[float]]],
    n_probe: int,
) -> Column:
    """The shared assignment column: probed centroid ids for a RAW
    float vector column — :func:`nearest_centroids_expr` over the
    quantized vector, so callers never handle the quantization."""
    return nearest_centroids_expr(
        quantize_vec_sql(vec_col), cent_rows, n_probe
    )


def nearest_centroid_dist_col(
    vec_col: str, cent_rows: list[tuple[int, list[float]]]
) -> Column:
    """The drift-monitor distance for a RAW float vector column —
    :func:`nearest_centroid_dist_expr` over the quantized vector. The
    build stamp, ann_status and the restamp all call this one
    definition, so their baselines cannot drift apart."""
    return nearest_centroid_dist_expr(quantize_vec_sql(vec_col), cent_rows)


def assign_to_centroid(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """(id, centroid_id): the ``n_probe`` nearest centroids per vector
    (squared L2 in the quantized training space, deterministic
    tie-break on centroid_id) — one row per (vector, probed list).
    n_probe=1 is plain assignment; >1 is the multi-probe recall knob
    for IVF queries. Centroids become driver-side literals
    (metadata-scale), so assignment is a PROJECTION — zero shuffles
    over the corpus, the ingest-time cluster-column shape SCALE.md
    promises."""
    cent_rows = _centroid_rows(centroids)
    return spread(embeddings).select(
        F.col(id_col),
        F.explode(
            nearest_centroids_col(vec_col, cent_rows, n_probe)
        ).alias("centroid_id"),
    )


def cosine_topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_lists: int = 16,
    n_iter: int = 3,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantized: bool = False,
    centroids: DataFrame | None = None,
    centroid_col: str | None = None,
    qvec_col: str | None = None,
    scale_col: str | None = None,
    qnorm_col: str | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer,
    candidates = vectors in the query's ``n_probe`` nearest lists.

    The production shape: centroids trained once (on a sample),
    assignments materialized at ingest as a partition/cluster column; a
    query then scans ~n·n_probe/n_lists rows. n_probe is the recall
    knob — measured in tests/test_ivf.py (0.55 @ nprobe=1 on this
    corpus, rising with probes). Each candidate lives in exactly one
    list, so no pair duplication across probes.

    ``centroids`` is the SEARCH-ONLY path (operators/annindex.py): pass
    a persisted centroid artifact (``load_ivf_index``) and no training
    job runs — ``n_lists``/``n_iter`` are ignored. ``centroid_col``
    additionally names a pre-materialized assignment column on
    ``embeddings`` (``materialize_ivf_assignments`` at ingest), skipping
    the corpus-side assignment projection too; only the (tiny) query
    side is assigned at query time. Same results either way — the
    assignment is a deterministic projection of the same centroids
    (parity pinned in tests/test_annindex.py).

    ``quantized=True`` scores candidates with int8-quantized vectors
    (operators/quantize.py) instead of floats — the FAISS ``IVF,SQ8``
    layout: at 100 TB the corpus is STORED quantized (¼ the scan bytes)
    and only the k-means centroids stay float. Training/assignment are
    unchanged (same lists either way); only candidate scoring switches
    to the all-integer dot. Recall cost measured in
    tests/test_quantize.py (parity with the float IVF ladder).

    ``qvec_col``/``scale_col`` (r7) name PRE-MATERIALIZED quantized
    columns on ``embeddings`` (``quantize.quantize_embeddings`` at
    ingest) — the stored half of the SQ8 promise: ``quantized=True``
    alone still SCANS the float column to quantize it per query, so
    the ¼-bytes win only lands when the stored table carries the int8
    columns and the plan never references ``vec_col`` on the candidate
    side (ReadSchema pinned in tests/test_quantize.py). Results are
    bit-equal to ``quantized=True`` on the same float vectors (same
    arithmetic, materialized earlier). Requires ``centroid_col`` too —
    a stored-quantized table without stored assignments would re-read
    nothing useful. ``qnorm_col`` names the ingest-stored BIGINT
    self-dot (``quantize_embeddings(norm_col=…)``): candidate cosine
    then needs ONE integer fold per row instead of three, and the scan
    reads only (id, centroid_id, qvec, norm) — q_scale prunes away
    too, since scales cancel in cosine.
    """
    if centroid_col is not None and centroids is None:
        raise ValueError(
            "centroid_col names a pre-materialized assignment, which is "
            "only meaningful against the persisted centroids that "
            "produced it — pass centroids= as well"
        )
    if (qvec_col is None) != (scale_col is None):
        raise ValueError(
            "qvec_col and scale_col name the two halves of one stored "
            "SQ8 layout — pass both or neither"
        )
    if qvec_col is not None and centroid_col is None:
        raise ValueError(
            "stored-quantized scoring (qvec_col=) without a stored "
            "assignment column would still scan per query for "
            "assignment — materialize centroid_id too (centroid_col=)"
        )
    if qnorm_col is not None and qvec_col is None:
        raise ValueError(
            "qnorm_col is the stored norm OF the stored qvec — pass "
            "qvec_col/scale_col as well"
        )
    cents = (
        centroids
        if centroids is not None
        else kmeans_centroids(embeddings, n_lists, n_iter, id_col, vec_col)
    )
    # Assignment is a projection against literal centroids — the list
    # id attaches as a column on BOTH sides with no join, the
    # ingest-time cluster-column shape
    cent_rows = _centroid_rows(cents)
    if centroid_col is not None:
        cand = spread(embeddings)
        if centroid_col != "centroid_id":
            cand = cand.withColumnRenamed(centroid_col, "centroid_id")
    else:
        cand = spread(embeddings).withColumn(
            "centroid_id",
            nearest_centroids_col(vec_col, cent_rows, 1).getItem(0),
        )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(
            nearest_centroids_expr(quantize_vec_sql(vec_col), cent_rows, n_probe)
        ).alias("centroid_id"),
    )
    if qvec_col is not None:
        from .quantize import cosine_q_expr, dot_int_expr, quantize_cols

        # quantize the QUERY side once, in the (tiny, broadcast) query
        # projection — referencing quantize_cols(q_vec) inside sim_expr
        # would re-run the transform+fold per JOINED ROW (measured 10×
        # on the stored-SQ8 search before this)
        _, q_q = quantize_cols(F.col("q_vec"))
        q = q.withColumn("_qq", q_q)
        q = q.withColumn(
            "_qn", dot_int_expr(F.col("_qq"), F.col("_qq"))
        )
        cand_norm = (
            F.col(f"e.{qnorm_col}")
            if qnorm_col is not None
            else dot_int_expr(F.col(f"e.{qvec_col}"), F.col(f"e.{qvec_col}"))
        )
        # quantize.cosine_q_expr IS the one definition of the guarded
        # quotient (scales cancel), with both norms hoisted: the
        # candidate's stored at ingest (qnorm_col), the query's
        # computed once above — bit-equal results either way
        sim_expr = cosine_q_expr(
            F.col(f"e.{qvec_col}"), None, F.col("q._qq"), None,
            qa_norm=cand_norm, qb_norm=F.col("q._qn"),
        )
    elif quantized:
        from .quantize import cosine_q_expr, dot_int_expr, quantize_cols

        # inline-quantized scoring: the candidate side must quantize
        # per row (nothing is stored), but the QUERY side hoists into
        # the broadcast projection exactly like the stored-SQ8 branch —
        # re-running its transform + self-norm fold per joined row was
        # the same measured hazard (r8 review)
        _, q_q = quantize_cols(F.col("q_vec"))
        q = q.withColumn("_qq", q_q)
        q = q.withColumn(
            "_qn", dot_int_expr(F.col("_qq"), F.col("_qq"))
        )
        _, e_q = quantize_cols(F.col(f"e.{vec_col}"))
        sim_expr = cosine_q_expr(
            e_q, None, F.col("q._qq"), None, qb_norm=F.col("q._qn")
        )
    else:
        sim_expr = cosine_similarity(F.col("q_vec"), F.col(f"e.{vec_col}"))
    scored = (
        cand.alias("e")
        .join(
            F.broadcast(q.alias("q")),
            (F.col("e.centroid_id") == F.col("q.centroid_id"))
            & (F.col("q.query_id") != F.col(f"e.{id_col}")),
        )
        .select(
            "query_id",
            F.col(f"e.{id_col}").alias(id_col),
            F.round(sim_expr, SIM_SCALE).alias("sim"),
        )
    )
    return _per_query_topk(scored, k, id_col)


def embedding_neardup_pairs(
    embeddings: DataFrame,
    n_dims: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector analog of the
    minhash/LSH text pipeline (operators/dedup.py): candidates are
    same-hyperplane-bucket pairs only, then the rounded cosine gate.

    Scale: bucket assignment is an ingest-time projection; candidate
    generation is per-bucket (Σ|bucket|², ~n/2^b per bucket), never
    the n² cross join. Recall follows LSH collision probability — near
    duplicates (cosine→1) collide with probability →1.
    Output: (id_a < id_b, sim).

    **Hot-bucket guard** (r6 — the same hazard class the text LSH
    closed in r5): a clique of identical/near-identical embeddings
    (failed-encoder constants, template pages embedded alike) lands in
    ONE bucket and an unguarded bucket emits C(|bucket|, 2) pairs on
    one task. With ``max_bucket=m``, oversized buckets emit the
    (anchor=min id, member) STAR instead — |bucket|−1 pairs, each
    still scored exactly; connected components union a star like a
    clique and keep-min-id drops the same members
    (dedup.lsh_candidate_pairs' argument, shared; same 1000 default,
    ON by omission per the r5 doctrine). The graded oracle keeps the
    plain-join SQL: below the cap the guarded and unguarded outputs
    are identical, and no organic bucket in a deduplicated corpus
    approaches 1000. ``max_bucket=None`` disables the guard — a
    test-only semantics reference.

    **Eager-construction caveat** (r6 ADVICE, deliberate): with the
    guard on, CALLING this function runs one Spark job — the ≤256-row
    bucket-size aggregate (which also materializes the pinned
    candidate frame) — before returning, and the hot-bucket list is a
    snapshot baked into the returned plan. Callers composing plans
    without executing them pay that job up front; callers wanting the
    fully lazy semantics pass ``max_bucket=None``. Kept eager on
    purpose: the r7 A/B re-measured the fully-lazy alternative
    (pinned counts frame + broadcast anti/semi split, no collect) at
    0.65-0.74 s steady vs 0.56-0.62 s for this shape at sf0.1
    (BENCHLOG.md) — the two broadcast joins cost more than the one
    driver round-trip, and at 100 TB the collect is still a 256-row
    driver read off a map-combined aggregate.

    Guard mechanics differ from the text twin because the bucket
    DOMAIN is tiny (2^N_PLANES = 256 ids): bucket sizes are one
    ≤256-row aggregate collected driver-side (the centroid-literal
    discipline), splitting the frame into clean buckets — which keep
    the original inline-scored self-join, vectors never re-shuffled,
    and with zero hot buckets the PLAN is the original plan plus
    nothing — and hot buckets, which detour through a
    group-then-expand star + vector re-join (bounded: |bucket|−1 rows
    each; planted-skew test in tests/test_skew_caps.py). The text
    twin cannot split this way — its (band, key) domain is
    corpus-sized, so it group-expands everything. Measured at sf0.1:
    always-expand cost +0.35 s on the graded query, this split
    +0.27 s (the counts pass over the pinned frame); at 100 TB the
    counts pass is map-combined to 256 rows and absorbed by the scan,
    while the clean path never re-shuffles vector bytes.
    """
    cand = pin(spread(embeddings).select(
        F.col(id_col), F.col(vec_col), bucket_expr(vec_col, n_dims).alias("bucket")
    ))  # self-join (and any star detour) reads this frame repeatedly
    hot: list[int] = []
    if max_bucket is not None:
        # bucket sizes collected driver-side: ≤2^N_PLANES rows, the
        # centroid-literal discipline. (A lazy broadcast-join variant
        # was measured WORSE — 1.3-1.9 s vs 0.80 — because the counts
        # subtree re-evaluates under both join branches.)
        hot = [
            int(r.bucket)
            for r in cand.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket)
            .collect()
        ]
    clean = cand.filter(~F.col("bucket").isin(hot)) if hot else cand
    hot_cand = cand.filter(F.col("bucket").isin(hot)) if hot else None
    a, b = clean.alias("a"), clean.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(
                cosine_similarity(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")),
                SIM_SCALE,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
    if hot_cand is None:
        return pairs
    star_ids = (
        hot_cand.groupBy("bucket")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .select(
            F.explode(
                F.expr(
                    "transform(slice(ids, 2, size(ids) - 1), "
                    "b -> struct(element_at(ids, 1) AS id_a, b AS id_b))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
    )
    va = hot_cand.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = hot_cand.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    star_pairs = (
        star_ids.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_similarity(F.col("_va"), F.col("_vb")), SIM_SCALE
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
    return pairs.unionByName(star_pairs)


def cosine_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    n_dims: int,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
    bucket_col: str | None = None,
    n_tables: int = 1,
    qvec_col: str | None = None,
    scale_col: str | None = None,
    qnorm_col: str | None = None,
) -> DataFrame:
    """Approximate top-k: score only candidates in the query's LSH
    bucket(s).

    At 100 TB the bucket column is computed once at ingest (it is a pure
    projection) and the candidate side is hash-partitioned by bucket, so
    a query touches ~n·n_probe/2^b rows instead of n. ``bucket_col``
    names that pre-materialized column (materialize_lsh_buckets +
    load_lsh_model, operators/annindex.py) and skips the corpus-side
    projection at query time; default recomputes it inline. ``n_probe``
    is the recall knob: >1 probes the Hamming-1 neighbor buckets across
    the query's closest hyperplanes (probe_buckets_expr — multi-probe
    LSH), recovering neighbors that fell one plane away. Candidate
    volume scales linearly with probes ONLY on the query side — each
    candidate still lives in exactly one bucket, so probing never
    duplicates a scored pair. Measured recall ladder:
    tests/test_lsh_multiprobe.py.

    ``n_tables > 1`` is the ORTHOGONAL recall knob (classic
    multi-table LSH): L independent plane sets, a candidate surfaces
    if it collides with the query in ANY table. Where extra probes
    recover neighbors one plane away, extra tables re-draw the planes
    entirely — the lever for the mid-cosine regime where multi-probe
    saturates (measured floor in SCALE.md's factor-2 row). Each
    table's planes are a genuinely independent hash draw
    (:func:`plane_sign` — r7 fix: the r6 plane-offset formula admitted
    only 13 distinct plane patterns total, so tables beyond ~2 reused
    planes). Candidate volume scales ~linearly with L; a pair
    colliding in several tables is deduplicated before ranking (same
    rounded sim in every table, so a distinct on the scored row is
    exact). Table 0 is the historical plane set: ``n_tables=1`` is
    bit-identical to the pre-r6 operator, and the graded oracle pins
    that path.

    ``qvec_col``/``scale_col``/``qnorm_col`` (r7) mirror
    ``cosine_topk_ivf``'s stored-SQ8 scoring: candidates score from
    ingest-materialized int8 columns (``quantize_embeddings(
    norm_col=…)``), the float column prunes off the scan, and with the
    stored norm candidate cosine is ONE integer fold per row. Requires
    ``bucket_col`` (the stored layout); composes with ``n_tables`` and
    ``n_probe``. Pure-Python differential in tests/test_quantize.py.

    ``bucket_col`` + ``n_tables=L`` is the SERVING multi-table path:
    the frame must carry one stored column per table —
    ``bucket_col`` for table 0 and ``{bucket_col}_t{t}`` for tables
    1..L-1 (``materialize_lsh_buckets(n_tables=L)`` +
    ``load_lsh_model`` drift-guarding every table's planes,
    operators/annindex.py). The candidate side is then a posexplode
    over stored ints — zero corpus-side plane math at query time —
    and results are bit-equal to the inline L-table path (parity
    pinned in tests/test_annindex.py).
    """
    if n_tables < 1:
        raise ValueError(f"n_tables must be >= 1, got {n_tables}")
    if (qvec_col is None) != (scale_col is None):
        raise ValueError(
            "qvec_col and scale_col name the two halves of one stored "
            "SQ8 layout — pass both or neither"
        )
    if qvec_col is not None and bucket_col is None:
        raise ValueError(
            "stored-quantized scoring (qvec_col=) without a stored "
            "bucket column would still project buckets per query — "
            "materialize buckets too (bucket_col=)"
        )
    if qnorm_col is not None and qvec_col is None:
        raise ValueError(
            "qnorm_col is the stored norm OF the stored qvec — pass "
            "qvec_col/scale_col as well"
        )
    if bucket_col is not None and n_tables > 1:
        from .annindex import lsh_table_columns

        table_cols = lsh_table_columns(n_tables, bucket_col)
        missing = [c for c in table_cols if c not in embeddings.columns]
        if missing:
            raise ValueError(
                f"multi-table search over stored columns needs one "
                f"bucket column per table ({table_cols}); missing "
                f"{missing} — materialize them with "
                "materialize_lsh_buckets(n_tables=...) or use the "
                "inline path (bucket_col=None)"
            )
        cand = spread(embeddings).select(
            *[c for c in embeddings.columns if c not in table_cols],
            F.posexplode(
                F.array(*[F.col(c) for c in table_cols])
            ).alias("tbl", "bucket"),
        )
    elif bucket_col is not None:
        cand = spread(embeddings)
        if bucket_col != "bucket":
            cand = cand.withColumnRenamed(bucket_col, "bucket")
    elif n_tables == 1:
        # the graded single-table plan, shape-unchanged: a projection,
        # no generator node
        cand = spread(embeddings).withColumn(
            "bucket", bucket_expr(vec_col, n_dims)
        )
    else:
        cand = spread(embeddings).select(
            "*",
            F.posexplode(
                F.array(
                    *[bucket_expr(vec_col, n_dims, t) for t in range(n_tables)]
                )
            ).alias("tbl", "bucket"),
        )
    if n_tables == 1:
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            F.explode(
                probe_buckets_expr(vec_col, n_dims, n_probe)
            ).alias("bucket"),
        )
        join_on = F.col("e.bucket") == F.col("q.bucket")
    else:
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            F.posexplode(
                F.array(
                    *[
                        probe_buckets_expr(vec_col, n_dims, n_probe, t)
                        for t in range(n_tables)
                    ]
                )
            ).alias("tbl", "buckets"),
        ).select(
            "query_id", "q_vec", "tbl", F.explode("buckets").alias("bucket")
        )
        join_on = (F.col("e.tbl") == F.col("q.tbl")) & (
            F.col("e.bucket") == F.col("q.bucket")
        )
    if qvec_col is not None:
        # stored-SQ8 scoring (the IVF twin, r7): the query quantizes
        # ONCE in the broadcast projection (per-joined-row lambda
        # re-evaluation is the measured 10× hazard), candidates score
        # from the stored int8 columns — with qnorm_col, one integer
        # fold per row and the float column prunes off the scan;
        # quantize.cosine_q_expr is the one guarded-quotient definition
        from .quantize import cosine_q_expr, dot_int_expr, quantize_cols

        _, q_q = quantize_cols(F.col("q_vec"))
        q = q.withColumn("_qq", q_q)
        q = q.withColumn("_qn", dot_int_expr(F.col("_qq"), F.col("_qq")))
        cand_norm = (
            F.col(f"e.{qnorm_col}")
            if qnorm_col is not None
            else dot_int_expr(F.col(f"e.{qvec_col}"), F.col(f"e.{qvec_col}"))
        )
        sim_expr = cosine_q_expr(
            F.col(f"e.{qvec_col}"), None, F.col("q._qq"), None,
            qa_norm=cand_norm, qb_norm=F.col("q._qn"),
        )
    else:
        sim_expr = cosine_similarity(F.col("q_vec"), F.col(f"e.{vec_col}"))
    scored = (
        cand.alias("e")
        .join(
            F.broadcast(q.alias("q")),
            join_on & (F.col("q.query_id") != F.col(f"e.{id_col}")),
        )
        .select(
            "query_id",
            F.col(f"e.{id_col}").alias(id_col),
            F.round(sim_expr, SIM_SCALE).alias("sim"),
        )
    )
    if n_tables > 1:
        # same pair in several tables -> identical rounded sim (the
        # quantized sim is deterministic per pair too); one distinct
        # restores exactly-once ranking
        scored = scored.distinct()
    return _per_query_topk(scored, k, id_col)
