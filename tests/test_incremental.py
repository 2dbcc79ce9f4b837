"""Incremental near-dup curation against a persisted signature index
(operators/incremental.py): the corpus-maintenance loop a 100 TB
pipeline runs per crawl — no corpus text ever re-read.

Fixtures are long paragraphs so one-word variants sit at ~0.94
estimated Jaccard, far above both the LSH collision knee and the
thresholds — the deterministic md5 signatures then make every assertion
exact (collisions were verified empirically when the fixtures were
chosen, and the hash never changes).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_sber_spark.operators.dedup import minhash_signatures
from etl_sber_spark.operators.incremental import (
    curate_increment,
    near_dup_vs_index,
)
from etl_sber_spark.sinks.warehouse import Warehouse

BASE = (
    "the quick brown fox jumps over the lazy dog near the river bank "
    "while seven wizards brew strong coffee at dawn every single day "
    "and the old clock tower rings twelve times across the quiet square "
    "as fishermen haul silver nets from the cold grey northern water"
)
BASE2 = (
    "distributed query engines shuffle sorted partitions across racks "
    "while adaptive planners rewrite joins at runtime from statistics "
    "and columnar readers prune pages with zone maps before decoding "
    "so analysts scan petabytes without waiting past their first sip"
)
UNRELATED = (
    "completely separate subject matter entirely here gardening tips "
    "for winter tomatoes include mulch straw cloches and patient hope"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def assert_keepers_are_unflagged_signed_docs(
    annotated, keepers, new_docs, id_col="doc_id", text_col="text"
):
    """The keepers are exactly the new documents with no drop reason
    that have a signature (documents under three tokens have none)."""
    unflagged = {
        r[id_col]
        for r in annotated.filter("drop_reason IS NULL").select(id_col).collect()
    }
    signed = {
        r[id_col]
        for r in minhash_signatures(new_docs, id_col, text_col)
        .select(id_col)
        .collect()
    }
    got = [r[id_col] for r in keepers.select(id_col).collect()]
    assert len(got) == len(set(got))
    assert set(got) == unflagged & signed


def test_curate_increment_respects_id_col(spark):
    """id_col threads through the whole increment path (a hard-coded
    'doc_id' inside near_dup_vs_index/estimated_jaccard was a round-3
    review finding)."""
    day1 = spark.createDataFrame([(101, BASE)], "my_id bigint, body string")
    index = minhash_signatures(day1, "my_id", "body")
    day2 = spark.createDataFrame(
        [(201, BASE.replace("lazy", "sleepy")), (202, UNRELATED)],
        "my_id bigint, body string",
    )
    annotated, keepers = curate_increment(
        day2, index, id_col="my_id", text_col="body"
    )
    reasons = {r.my_id: r.drop_reason for r in annotated.collect()}
    assert reasons == {201: "index_near_dup", 202: None}
    assert [r.my_id for r in keepers.collect()] == [202]
    assert_keepers_are_unflagged_signed_docs(
        annotated, keepers, day2, "my_id", "body"
    )


def test_near_dup_vs_index_finds_planted_dup(spark):
    day1 = _docs(spark, [(1, BASE), (2, UNRELATED)])
    index = minhash_signatures(day1)
    day2 = _docs(
        spark,
        [
            (10, BASE.replace("coffee", "tea")),  # near-dup of indexed 1
            (11, BASE2),  # novel content
        ],
    )
    hits = near_dup_vs_index(
        minhash_signatures(day2), index, threshold=0.5
    ).collect()
    assert {(r.new_id, r.old_id) for r in hits} == {(10, 1)}
    assert all(0.5 <= r.est_jaccard <= 1.0 for r in hits)


def test_curate_increment_grows_index_and_next_round_sees_it(spark, tmp_path):
    """Three increments through a warehouse-persisted index: a keeper
    from increment 2 must block its near-dup in increment 3 — proof the
    index append keeps the dedup basis current WITHOUT any text of the
    earlier increments being retained."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = "corpus_minhash"

    day1 = _docs(spark, [(1, BASE), (2, UNRELATED)])
    # bootstrap: empty index
    ann1, keep1 = curate_increment(day1, minhash_signatures(day1).limit(0))
    assert {
        r.doc_id for r in ann1.filter("drop_reason IS NULL").collect()
    } == {1, 2}
    wh.append(keep1, idx)

    day2 = _docs(
        spark,
        [
            (10, BASE.replace("dawn", "dusk")),  # near-dup of indexed 1
            (11, BASE2),  # keeper
            (12, BASE2.replace("racks", "nodes")),  # in-batch dup of 11
        ],
    )
    ann2, keep2 = curate_increment(day2, wh.read(idx))
    got = {r.doc_id: r.drop_reason for r in ann2.collect()}
    assert got[10] == "index_near_dup"
    assert got[11] is None
    assert got[12] == "batch_near_dup"  # exact in-batch gate, min-id wins
    assert_keepers_are_unflagged_signed_docs(ann2, keep2, day2)
    wh.append(keep2, idx)

    # increment 3: a near-dup of increment-2's KEEPER is caught via the
    # grown index
    day3 = _docs(spark, [(20, BASE2.replace("analysts", "engineers"))])
    ann3, keep3 = curate_increment(day3, wh.read(idx))
    assert ann3.collect()[0].drop_reason == "index_near_dup"
    assert keep3.count() == 0
    assert_keepers_are_unflagged_signed_docs(ann3, keep3, day3)
    # the index holds exactly the keepers: 1, 2, 11
    assert {r.doc_id for r in wh.read(idx).collect()} == {1, 2, 11}


def test_precomputed_bucket_sizes_identical_and_sound(spark):
    """bucket_sizes= (r9): a precomputed band_bucket_sizes snapshot
    must (a) reproduce the inline guard's results exactly when fresh,
    (b) stay SOUND when stale-low (append-only index: a bucket that
    grew past the snapshot thins less, never over-thins — planted
    near-dups still found), and (c) still cap a hot bucket it does
    cover."""
    from etl_sber_spark.operators.incremental import band_bucket_sizes

    boiler = (
        "terms of service all rights reserved contact us privacy policy "
        "cookie settings about careers press blog help center sitemap"
    )
    # index: one hot family (60 identical boilerplate docs) + one
    # normal doc
    idx_docs = _docs(
        spark, [(i, boiler) for i in range(60)] + [(100, BASE)]
    )
    index = minhash_signatures(idx_docs).localCheckpoint(eager=True)
    new = minhash_signatures(
        _docs(spark, [(900, boiler), (901, BASE.replace("dawn", "dusk")),
                      (902, BASE2)])
    ).localCheckpoint(eager=True)

    fresh = band_bucket_sizes(index).localCheckpoint(eager=True)
    cap = 8

    def verdicts(**kw):
        return sorted(
            (r.new_id, r.old_id)
            for r in near_dup_vs_index(
                new, index, threshold=0.5, max_index_bucket=cap, **kw
            ).collect()
        )

    inline = verdicts()
    pre = verdicts(bucket_sizes=fresh)
    # (a) identical pairs — the thinning lattice depends only on
    # (old_id, _n), and fresh counts equal inline counts
    assert pre == inline
    assert {n for n, _ in inline} == {900, 901}  # 902 is novel

    # (c) the hot bucket is actually capped under the precomputed
    # snapshot: 900's matches are representatives, far fewer than 60
    n_900 = sum(1 for n, _ in pre if n == 900)
    assert 0 < n_900 <= 4 * cap  # ≤ N_BANDS × cap

    # (b) stale-low: index doubles AFTER the snapshot; old counts
    # under-thin the grown bucket but every planted near-dup is still
    # found, and the new-since-snapshot normal doc's bucket (absent
    # from the frame) passes unthinned
    idx2_docs = _docs(
        spark,
        [(i, boiler) for i in range(60)]
        + [(100, BASE), (101, BASE2)]
        + [(1000 + i, boiler) for i in range(60)],
    )
    index2 = minhash_signatures(idx2_docs).localCheckpoint(eager=True)
    stale = sorted(
        (r.new_id, r.old_id)
        for r in near_dup_vs_index(
            new, index2, threshold=0.5, max_index_bucket=cap,
            bucket_sizes=fresh,
        ).collect()
    )
    hit_ids = {n for n, _ in stale}
    assert hit_ids == {900, 901, 902}  # 902 now dups new index doc 101
    # curate_increment passthrough: same verdict set via the composed
    # API
    ann, _ = curate_increment(
        _docs(spark, [(900, boiler), (902, BASE2)]),
        index2,
        bucket_sizes=fresh,
    )
    got = {r.doc_id: r.drop_reason for r in ann.collect()}
    assert got == {900: "index_near_dup", 902: "index_near_dup"}


def test_band_index_layout_verdicts_identical(spark, tmp_path):
    """index_bands= (r10): the pre-materialized bucketed band layout
    must reproduce the inline explode's verdicts exactly, across an
    append (the lockstep contract), including under the thinning
    guard."""
    import uuid

    from etl_sber_spark.operators.incremental import (
        append_band_index,
        band_bucket_sizes,
        save_band_index,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    tbl = f"band_idx_{uuid.uuid4().hex[:8]}"
    try:
        day1 = _docs(spark, [(1, BASE), (2, UNRELATED)])
        index = minhash_signatures(day1).localCheckpoint(eager=True)
        save_band_index(wh, index, name=tbl)
        bands = spark.table(tbl)

        day2 = _docs(
            spark,
            [
                (10, BASE.replace("dawn", "dusk")),
                (11, BASE2),
                (12, BASE2.replace("racks", "nodes")),
            ],
        )

        def reasons(**kw):
            ann, keep = curate_increment(day2, index, **kw)
            return {r.doc_id: r.drop_reason for r in ann.collect()}, keep

        inline, _ = reasons()
        banded, keep = reasons(index_bands=bands)
        assert banded == inline
        assert {r.doc_id for r in keep.collect()} == {
            d for d, why in banded.items() if why is None
        }
        assert banded == {
            10: "index_near_dup",
            11: None,
            12: "batch_near_dup",
        }

        # bucket sizes computed FROM the band table (no explode) match
        # the sig-side computation
        a = sorted(map(tuple, band_bucket_sizes(index).collect()))
        b = sorted(map(tuple, band_bucket_sizes(bands).collect()))
        assert a == b

        # lockstep append: next increment sees increment-2's keeper
        # through BOTH tables identically
        index2 = index.unionByName(keep).localCheckpoint(eager=True)
        append_band_index(wh, keep, name=tbl)
        day3 = _docs(spark, [(20, BASE2.replace("analysts", "engineers"))])
        ann3, _ = curate_increment(
            day3, index2, index_bands=spark.table(tbl)
        )
        assert ann3.collect()[0].drop_reason == "index_near_dup"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_band_index_bucket_pruning_and_colocated_join(spark, tmp_path):
    """The physical contracts of the layout: a literal band_key probe
    reads ONE bucket (SelectedBucketsCount in the scan), and a
    shuffle-capable join against the band table exchanges only the
    OTHER side — the index side is pre-bucketed."""
    import io
    import contextlib
    import uuid

    from etl_sber_spark.operators.incremental import save_band_index

    wh = Warehouse(spark, str(tmp_path / "wh"))
    tbl = f"band_idx_{uuid.uuid4().hex[:8]}"
    docs = _docs(
        spark, [(i, f"{BASE} variant {i} {BASE2}") for i in range(50)]
    )
    index = minhash_signatures(docs).localCheckpoint(eager=True)

    def plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    try:
        save_band_index(wh, index, name=tbl, n_buckets=16)
        bands = spark.table(tbl)
        assert set(bands.columns) == {"doc_id", "bk"}  # two bigints
        one_key = bands.select("bk").first().bk

        # bucket pruning needs autoBucketedScan OFF for a pure probe:
        # Spark's DisableUnnecessaryBucketedScan rule un-buckets a scan
        # with no join to feed, forfeiting the prune (verified live —
        # save_band_index's docstring carries the knob)
        prev_abs = spark.conf.get(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        )
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        try:
            probed = spark.table(tbl).filter(F.col("bk") == one_key)
            p = plan(probed)
            assert "SelectedBucketsCount: 1 out of 16" in p
            assert probed.count() >= 1
        finally:
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled",
                prev_abs,
            )

        # co-located join: force a shuffle-capable join and assert the
        # band-table side needs no Exchange — only the probe side
        # shuffles (its repartition to the bucket key/count). The probe
        # frame is pre-built rows so ITS pipeline adds no unrelated
        # exchanges; simple-mode explain lists each node once.
        prev_t = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        prev_a = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            probe_rows = [
                (900 + i, r.bk)
                for i, r in enumerate(bands.limit(3).collect())
            ]
            new = spark.createDataFrame(
                probe_rows, "new_id bigint, bk bigint"
            )
            joined = new.repartition(16, "bk").join(bands, "bk")
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                joined.explain()  # simple mode: one line per node
            jp = buf.getvalue()
            assert "SortMergeJoin" in jp
            assert jp.count("Exchange") == 1  # probe side only
            assert "Bucketed: true" in jp
            assert joined.count() >= 3
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_t)
            spark.conf.set("spark.sql.adaptive.enabled", prev_a)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_append_bucketed_refusals(spark, tmp_path):
    """append_bucketed refuses a missing table and an unbucketed
    target — both would silently break the layout contracts."""
    import uuid

    import pytest

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = _docs(spark, [(1, BASE)])
    with pytest.raises(ValueError, match="does not exist"):
        wh.append_bucketed(df, f"nope_{uuid.uuid4().hex[:8]}")
    tbl = f"flat_{uuid.uuid4().hex[:8]}"
    try:
        df.write.saveAsTable(tbl)
        with pytest.raises(ValueError, match="not bucketed"):
            wh.append_bucketed(df, tbl)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_append_bucketed_multi_column_spec(spark, tmp_path):
    """r11 (ADVICE): a MULTI-column bucket spec round-trips through the
    DESCRIBE-based spec recovery — "[`a`, `b`]" must parse to two
    names, not the mangled single name "a`, `b" (which bucketBy would
    refuse with a confusing spec-mismatch error). Spark itself verifies
    the recovered spec: an append with the wrong bucketing is refused,
    so a green append + doubled rows + unchanged DESCRIBE is proof the
    parse was exact."""
    import uuid

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, i % 3, f"d{i}") for i in range(20)],
        "a bigint, b bigint, payload string",
    )
    tbl = f"multib_{uuid.uuid4().hex[:8]}"
    try:
        (
            df.write.mode("overwrite")
            .bucketBy(4, "a", "b")
            .sortBy("a", "b")
            .saveAsTable(tbl)
        )
        wh.append_bucketed(df, tbl)
        assert spark.table(tbl).count() == 40
        desc = {
            r.col_name: r.data_type
            for r in spark.sql(f"DESCRIBE EXTENDED {tbl}").collect()
        }
        assert desc.get("Num Buckets") == "4"
        assert desc.get("Bucket Columns") == "[`a`, `b`]"
        assert desc.get("Sort Columns") == "[`a`, `b`]"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_r9_era_bucket_sizes_snapshot_rekeyed(spark):
    """A pre-r10 bucket_sizes snapshot keyed by (band, band_key) is
    accepted and re-keyed to the hashed bk — same verdicts, same
    thinning (the planted hot bucket still capped)."""
    from etl_sber_spark.operators.dedup import signature_bands
    from etl_sber_spark.operators.incremental import band_bucket_sizes

    boiler = (
        "terms of service all rights reserved contact us privacy policy "
        "cookie settings about careers press blog help center sitemap"
    )
    idx_docs = _docs(
        spark, [(i, boiler) for i in range(60)] + [(100, BASE)]
    )
    index = minhash_signatures(idx_docs).localCheckpoint(eager=True)
    new = minhash_signatures(
        _docs(spark, [(900, boiler), (901, BASE.replace("dawn", "dusk"))])
    ).localCheckpoint(eager=True)

    legacy = (
        signature_bands(index)
        .groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("_n"))
        .localCheckpoint(eager=True)
    )
    hashed = band_bucket_sizes(index).localCheckpoint(eager=True)
    cap = 8

    def verdicts(sizes):
        return sorted(
            (r.new_id, r.old_id)
            for r in near_dup_vs_index(
                new, index, threshold=0.5, max_index_bucket=cap,
                bucket_sizes=sizes,
            ).collect()
        )

    a, b = verdicts(legacy), verdicts(hashed)
    assert a == b
    n_900 = sum(1 for n, _ in a if n == 900)
    assert 0 < n_900 <= 4 * cap  # hot bucket still capped


def test_keepers_pinned_for_their_consumers(spark, tmp_path):
    """The returned keepers feed three consumers in the nightly (the
    signature-index append, the band-layout append and the embedding
    join). On a JSONL increment, a second materialization must read the
    pin: at most one Spark job, and no JSON file scan in its executed
    plan (unpinned, each consumer re-read the JSONL and re-ran the
    annotation joins). The keeper ids stay the unflagged documents
    with a signature — doc 13 is under three tokens and has none."""
    import json

    from etl_sber_spark.sources.corpus import read_documents_jsonl

    from .conftest import jobs_started

    index = minhash_signatures(_docs(spark, [(1, BASE), (2, UNRELATED)]))
    path = tmp_path / "increment.jsonl"
    rows = [
        (10, BASE.replace("dawn", "dusk")),  # near-dup of indexed 1
        (11, BASE2),  # keeper
        (12, BASE2.replace("racks", "nodes")),  # in-batch dup of 11
        (13, "too short"),  # no signature
        (14, UNRELATED.replace("gardening", "cooking") + " " + BASE2[:40]),
    ]
    path.write_text(
        "".join(json.dumps({"doc_id": d, "text": t}) + "\n" for d, t in rows)
    )
    good, _ = read_documents_jsonl(spark, str(path))
    annotated, keepers = curate_increment(good, index)

    first = sorted(r.doc_id for r in keepers.collect())
    # a new plan over the keepers, like each consumer builds (re-running
    # the same frame would reuse its finished shuffle stages instead)
    second, jobs = jobs_started(
        spark, lambda: keepers.select("doc_id").collect()
    )
    assert sorted(r.doc_id for r in second) == first
    assert jobs <= 1
    plan = keepers._jdf.queryExecution().executedPlan().toString()
    assert "json" not in plan.lower()

    reasons = {r.doc_id: r.drop_reason for r in annotated.collect()}
    assert reasons[10] == "index_near_dup"
    assert reasons[12] == "batch_near_dup"
    assert reasons[13] is None
    assert 13 not in first and 11 in first
    assert_keepers_are_unflagged_signed_docs(annotated, keepers, good)


def test_band_index_width_follows_session(spark, tmp_path):
    """save_band_index without n_buckets sizes the layout to the
    session's shuffle width (the largest of defaultParallelism,
    shuffle.partitions and AQE's initialPartitionNum; 4 on a 4-core
    session), and append_band_index keeps the table's count even when
    the session has widened since."""
    import uuid

    from etl_sber_spark.operators.incremental import (
        append_band_index,
        save_band_index,
    )

    init_key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

    def conf_int(key):
        try:
            return int(spark.conf.get(key))
        except Exception:
            return 0

    def num_buckets(tbl):
        desc = {
            r.col_name: r.data_type
            for r in spark.sql(f"DESCRIBE EXTENDED {tbl}").collect()
        }
        return int(desc["Num Buckets"])

    width = max(
        spark.sparkContext.defaultParallelism,
        conf_int("spark.sql.shuffle.partitions"),
        conf_int(init_key),
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    tbl = f"band_idx_{uuid.uuid4().hex[:8]}"
    index = minhash_signatures(_docs(spark, [(1, BASE), (2, UNRELATED)]))
    new = minhash_signatures(_docs(spark, [(11, BASE2)]))
    prev = spark.conf.get(init_key, None)
    try:
        save_band_index(wh, index, name=tbl)
        assert num_buckets(tbl) == width
        spark.conf.set(init_key, str(width + 3))
        append_band_index(wh, new, name=tbl)
        assert num_buckets(tbl) == width
        assert {r.doc_id for r in spark.table(tbl).collect()} == {1, 2, 11}
    finally:
        if prev is None:
            spark.conf.unset(init_key)
        else:
            spark.conf.set(init_key, prev)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
