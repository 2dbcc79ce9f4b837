"""Plan-shape regression guards (SCALE.md): the physical properties the
100 TB story depends on, asserted so a future edit can't silently lose
them. Each assertion mirrors a measured .explain audit from round 2."""

from __future__ import annotations

import contextlib
import io

import pytest

from etl_sber_spark.plans.queries import QUERIES

from .conftest import SF_SMALL


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def tree_of(plan: str) -> str:
    """The operator-tree section only — 'formatted' repeats every
    operator name again in the per-node details below it."""
    return plan.split("\n\n")[0]


def test_scan_filter_pushdown(spark):
    p = plan_of(spark, "q_scan_filter")
    assert "PushedFilters:" in p
    # every predicate reaches the parquet reader
    assert "l_shipdate" in p.split("PushedFilters:")[1].splitlines()[0]
    assert "EqualTo(l_discount,0.05)" in p
    assert "LessThan(l_quantity,10" in p


def test_flagship_broadcasts_all_dims(spark):
    p = plan_of(spark, "q_flagship_revenue")
    assert tree_of(p).count("BroadcastHashJoin") == 4
    # lineitem scan pruned to the 3 needed columns
    assert "struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in p


def test_topk_uses_group_limit_before_exchange(spark):
    p = plan_of(spark, "q_topk")
    assert "WindowGroupLimit" in p
    # two-phase: a local limit exists below the first Exchange
    first_exchange = p.index("Exchange")
    assert "WindowGroupLimit" in p[first_exchange:]


def test_lsh_candidates_no_subtree_replication(spark):
    """The posexplode/cache restructure holds: the documents scan must
    not be replicated per band/join side (was 8 DISTINCT scan nodes
    before the fix). Distinct node ids, not textual occurrences — once
    the cache is materialized the tree inlines the same cached subtree
    (same node id) under every InMemoryTableScan reference."""
    import re

    p = tree_of(plan_of(spark, "q_lsh_candidates"))
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", p))
    assert len(scan_ids) <= 3, f"distinct parquet scans: {scan_ids}"


def test_band_window_single_shuffle(spark):
    p = plan_of(spark, "q_band_window")
    assert tree_of(p).count("Exchange") == 1  # one shuffle on user_id


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """SURVEY §4.2 claims DPP comes free on the partitioned fact — prove
    it: a load_date-partitioned fact joined to a filtered calendar dim on
    the partition column must carry a dynamicpruning PartitionFilter, so
    at 100 TB only the reporting window's partitions are scanned."""
    import datetime as dt

    days = [dt.date(2021, 3, d) for d in range(1, 11)]
    fact = spark.createDataFrame(
        [(i, days[i % 10], float(i)) for i in range(1000)],
        "id int, load_date date, amt double",
    )
    p = str(tmp_path / "fact")
    fact.write.partitionBy("load_date").parquet(p)
    cal_p = str(tmp_path / "cal")
    spark.createDataFrame(
        [(d, "report" if d.day <= 2 else "closed") for d in days],
        "load_date date, window_tag string",
    ).write.parquet(cal_p)
    # the dim must be a file source: a createDataFrame plan has no size
    # statistics (defaults to Long.Max), which fails DPP's benefit check;
    # and the dim filter must be a comparison (a bare boolean column is
    # not "likely selective" to the PartitionPruning rule)
    cal = spark.read.parquet(cal_p)
    from pyspark.sql import functions as F

    # at test scale Spark would broadcast the tiny FACT side and skip
    # pruning entirely; pin the 100 TB shape (fact too big to broadcast,
    # dim hint-broadcast) so the DPP decision is what's under test
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.read.parquet(p).join(
            F.broadcast(cal.filter(F.col("window_tag") == "report")),
            "load_date",
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "dynamicpruning" in plan.lower(), plan
        assert j.count() == 200
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_daily_mart_prunes_fact_partitions(spark, tmp_path):
    """The daily fraud view must reach the load_date-partitioned fact
    scan with a PartitionFilters entry (file-level pruning), not only
    the create_date ROW filter — at 100 TB the create_date-only filter
    opens every historical partition's files for every nightly run
    (r7 pipeline-scale-smoke finding; plans/fraud.py data_view)."""
    import contextlib
    import datetime as dt
    import io

    from pyspark.sql import functions as F

    from etl_sber_spark import schemas
    from etl_sber_spark.plans.fraud import data_view

    ts = dt.datetime(2021, 3, 3, 23, 50)
    from pyspark.sql import types as T

    # a COPY of the schema: StructType.add mutates the shared module
    # schema (the pipeline.py:129 pitfall)
    fact_schema = T.StructType(
        [*schemas.FACT_TRANSACTIONS.fields, T.StructField("load_date", T.DateType())]
    )
    fact = spark.createDataFrame(
        [
            (f"T{i}", dt.datetime(2021, 3, 1 + i % 3, 12, 0), f"C{i}",
             "PAYMENT", None, "SUCCESS", f"P{i}",
             dt.datetime(2021, 3, 1 + i % 3, 23, 50),
             dt.date(2021, 3, 1 + i % 3))
            for i in range(30)
        ],
        fact_schema,
    )
    p = str(tmp_path / "fact")
    fact.write.partitionBy("load_date").parquet(p)

    def _empty(schema):
        return spark.createDataFrame([], schema)

    view = data_view(
        _empty(schemas.CLIENTS),
        _empty(schemas.ACCOUNTS),
        _empty(schemas.CARDS),
        spark.read.parquet(p),
        _empty(schemas.TERMINALS_HIST),
        ts,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        view.explain("formatted")
    plan = buf.getvalue()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "load_date" in m.group(1), plan
    # the four dimension joins (cards, accounts, clients, terminals)
    # stay broadcast-hinted
    optimized = view._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("rightHint=(strategy=broadcast)") == 4, optimized


def test_bm25_single_matched_exchange_two_corpus_passes(spark):
    """bm25_scores' scale contract (round 3): document lengths ride with
    the exploded term rows, so the only doc-keyed shuffle carries
    MATCHED rows — no corpus-wide (doc, dl) join side — and the cached
    tf keeps the corpus tokenize at two passes (tf + stats), not three
    (the uncached dfreq branch used to re-scan)."""
    import re

    p = tree_of(plan_of(spark, "q_bm25_rank"))
    # no sort-merge join anywhere: every join side is broadcast
    assert "SortMergeJoin" not in p
    # ≤ 2 parquet scan subtrees: the tf pass (cached, shared with
    # dfreq) and the corpus-stats pass
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", p))
    assert len(scan_ids) <= 2, f"distinct parquet scans: {scan_ids}"


def test_jaccard_candidate_restriction_and_shared_subtrees(spark):
    """ngram_jaccard's scale contract (round 3): every shingle consumer
    is behind a LeftSemi on the candidate-id set (no full shingle-set
    join fan-out), and the expensive inputs are pinned — the final
    query plan reads ONLY materialized frames, never re-planting the
    corpus scan per reference (~4 pair references + 3 shingle joins
    would otherwise each re-run their build).

    The pinned frames are ExistingRDD scans of unknown size at static
    planning time, so the broadcast decision is AQE's — assert on the
    plan AFTER execution, where the runtime-converted
    BroadcastHashJoin LeftSemi is visible."""
    df = QUERIES["q_ngram_jaccard"](spark, SF_SMALL)
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = tree_of(buf.getvalue())
    assert "BroadcastHashJoin LeftSemi" in p
    # zero parquet scans in the query tree: all consumers read the
    # pinned shingle/pairs frames (Scan ExistingRDD)
    assert "Scan parquet" not in p, p
    assert "Scan ExistingRDD" in p


def test_aqe_splits_skewed_join_partitions(spark, tmp_path):
    """SCALE.md's skew story leans on AQE skew-join splitting — prove
    the rule actually fires: a sort-merge join with one hot key and
    aggressively lowered skew thresholds must show skew=true splits in
    the final adaptive plan. (Salting, operators/skew.py, remains the
    remedy for skewed AGGREGATION, which AQE does not split.)"""
    from pyspark.sql import functions as F

    hot = [(1, i) for i in range(200_000)]
    cold = [(k, 0) for k in range(2, 200)]
    left_p = str(tmp_path / "left")
    right_p = str(tmp_path / "right")
    spark.createDataFrame(hot + cold, "k int, v int").write.parquet(left_p)
    spark.createDataFrame(
        [(k, k) for k in range(1, 200)], "k int, w int"
    ).write.parquet(right_p)
    conf = {
        # force SMJ (no broadcast) and make the hot partition "skewed"
        # at test scale
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        # no aggregation on top: a downstream groupBy REQUIRES the
        # join's hash partitioning, which skew-splitting would break,
        # so AQE skips the rule — exactly the documented trade-off
        # (then salting/two-stage agg is the remedy). The filter
        # references BOTH sides so it cannot push below the join.
        j = (
            spark.read.parquet(left_p)
            .join(spark.read.parquet(right_p), "k")
            .filter(F.col("v") + F.col("w") < -1)
        )
        # act on j ITSELF (count() would build a separate execution and
        # leave j's adaptive plan unfinalized)
        assert j.collect() == []
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:4000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
