"""Warehouse maintenance + data-quality operators: idempotent day
replay, DQ checks."""

from __future__ import annotations

import datetime as dt
import shutil

from pyspark.sql import functions as F

from etl_sber_spark.operators.quality import (
    dq_summary,
    null_violations,
    referential_violations,
    uniqueness_violations,
)
from etl_sber_spark.pipeline import T_FACT, T_MART, run_day
from etl_sber_spark.sinks.warehouse import Warehouse

from .fixtures_bank import build_bank_tables

REF = "/root/reference"


def _inbox(tmp_path, tag):
    inbox = tmp_path / f"inbox_{tag}"
    inbox.mkdir()
    for pat in (
        "transactions_01032021.txt",
        "terminals_01032021.xlsx",
        "passport_blacklist_01032021.xlsx",
    ):
        shutil.copy(f"{REF}/{pat}", inbox / pat)
    return str(inbox)


def test_idempotent_day_replay(spark, tmp_path):
    """Replaying the same day with idempotent=True replaces the day's
    fact/mart partitions; the faithful default would duplicate."""
    bank = build_bank_tables(spark)
    wh_root = str(tmp_path / "wh")
    ts = dt.datetime(2021, 3, 1, 23, 50)
    run_day(spark, _inbox(tmp_path, "a"), wh_root, bank, ts, idempotent=True)
    wh = Warehouse(spark, wh_root)
    n1_fact = wh.read(T_FACT).count()
    n1_mart = wh.read(T_MART).count()
    # replay the SAME day
    run_day(spark, _inbox(tmp_path, "b"), wh_root, bank, ts, idempotent=True)
    assert wh.read(T_FACT).count() == n1_fact == 15650
    assert wh.read(T_MART).count() == n1_mart > 0


def test_dq_checks(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (4, "c")], ["k", "v"]
    )
    parent = spark.createDataFrame([(1,), (2,)], ["pk"])
    assert null_violations(df, ["v"]).count() == 1
    assert uniqueness_violations(df, ["k"]).collect()[0].n_rows == 2
    assert referential_violations(df, "k", parent, "pk").count() == 1  # k=4
    summary = {
        r.check: r.n
        for r in dq_summary(
            df,
            {
                "nulls": null_violations(df, ["v"]),
                "dup_keys": uniqueness_violations(df, ["k"]),
            },
        ).collect()
    }
    assert summary == {"total_rows": 4, "nulls": 1, "dup_keys": 1}


def test_dq_clean_on_pipeline_fact(spark, tmp_path):
    """The loaded transaction fact passes its declared DQ gates — ties
    the quality operators to the real pipeline output."""
    bank = build_bank_tables(spark)
    wh_root = str(tmp_path / "wh")
    run_day(
        spark,
        _inbox(tmp_path, "dq"),
        wh_root,
        bank,
        dt.datetime(2021, 3, 1, 23, 50),
    )
    fact = Warehouse(spark, wh_root).read(T_FACT)
    assert null_violations(fact, ["trans_id", "trans_date", "amt"]).count() == 0
    assert uniqueness_violations(fact, ["trans_id"]).count() == 0


def test_empty_partitioned_write_exists_but_has_no_data(spark, tmp_path):
    """A zero-row partitioned append commits only _SUCCESS: the table
    EXISTS (committed) but read() cannot infer a schema, so read-or-
    create gates must use has_data(). Regression for the round-3 bug
    where build_mart read a _SUCCESS-only mart and died on
    UNABLE_TO_INFER_SCHEMA."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    empty = spark.createDataFrame([], "k int, part date")
    wh.append(empty, "t_empty", partition_by=["part"])
    assert wh.exists("t_empty")
    assert not wh.has_data("t_empty")
    wh.append(
        spark.createDataFrame([(1, dt.date(2021, 3, 1))], "k int, part date"),
        "t_empty",
        partition_by=["part"],
    )
    assert wh.has_data("t_empty")
    assert wh.read("t_empty").count() == 1


def test_versioned_time_travel(spark, tmp_path):
    """read(name, version=n) is the AS-OF primitive on the swap layout:
    retained versions stay readable, pruned ones raise with the list of
    what IS available, and keep_versions widens the retention window."""
    import pytest

    wh = Warehouse(spark, str(tmp_path / "wh"))
    for i in (1, 2, 3):
        wh.overwrite_versioned(spark.range(i).toDF("k"), "t")
    assert wh.versions("t") == [2, 3]
    assert wh.read("t").count() == 3
    assert wh.read("t", version=2).count() == 2
    with pytest.raises(ValueError, match="available: \\[2, 3\\]"):
        wh.read("t", version=1)
    wh.overwrite_versioned(spark.range(4).toDF("k"), "t", keep_versions=3)
    assert wh.versions("t") == [2, 3, 4]
    assert wh.read("t", version=2).count() == 2
    assert wh.read("t").count() == 4


def test_current_version_ignores_orphan_dir(spark, tmp_path):
    """current_version resolves the CURRENT pointer, not the highest
    retained dir: a crash between the v_{n+1} write and the atomic flip
    leaves an orphan no reader serves, and version comparisons (ANN
    binding stamps) must track what read() actually returns (r7
    ADVICE)."""
    import os

    wh = Warehouse(spark, str(tmp_path / "wh"))
    assert wh.current_version("t") is None  # never written
    wh.overwrite_versioned(spark.range(1).toDF("k"), "t")
    wh.overwrite_versioned(spark.range(2).toDF("k"), "t")
    assert wh.current_version("t") == 2
    # simulate the crash: v_3 written, CURRENT never flipped
    spark.range(3).toDF("k").write.parquet(
        os.path.join(str(tmp_path / "wh"), "t", "v_3")
    )
    assert wh.versions("t") == [1, 2, 3]  # the orphan IS on disk
    assert wh.current_version("t") == 2  # ...but readers serve v_2
    assert wh.read("t").count() == 2


def test_clustered_append_tightens_zone_maps(spark, tmp_path):
    """append(cluster_by=[...]) range-partitions + sorts the write so
    parquet file/row-group min-max footers carve the key domain into
    near-disjoint ranges (the reader prunes by them); a plain append of
    the same rows leaves every file spanning the whole domain. Asserted
    on the actual parquet footers via pyarrow."""
    from pyspark.sql import functions as F

    from .conftest import parquet_col_ranges

    n = 200_000
    df = (
        spark.range(n)
        .withColumn("card", F.pmod(F.col("id") * 48271, F.lit(100_000)))
        .withColumn("amt", (F.col("id") % 1000).cast("double"))
        .repartition(8)
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append(df, "t_clustered", cluster_by=["card"])
    wh.append(df, "t_plain")

    def spans(table):
        return parquet_col_ranges(
            str(tmp_path / "wh" / table / "*.parquet"), "card"
        )

    def avg_span(sp):
        return sum(mx - mn for mn, mx in sp) / len(sp)

    clustered, plain = spans("t_clustered"), spans("t_plain")
    assert len(clustered) >= 2 and len(plain) >= 4
    # plain: every group ~full 0..99999 domain -> zone maps prune nothing
    assert avg_span(plain) > 90_000
    # clustered: ranges are pairwise DISJOINT (each next min exceeds the
    # previous max), so any point/range probe hits a single file
    ordered = sorted(clustered)
    for (lo1, hi1), (lo2, _hi2) in zip(ordered, ordered[1:]):
        assert hi1 < lo2, f"overlapping zone maps: {ordered}"
    # and together they tile ~one domain width, not files x domain
    assert sum(mx - mn for mn, mx in clustered) < 120_000


def test_idempotent_rerun_with_empty_correction_drops_stale_day(
    spark, tmp_path
):
    """Review regression: dynamic partition overwrite replaces only the
    partitions PRESENT in the written frame, so a rows->ZERO correction
    (the day's rows were all bad; the fixed input has none) used to
    leave the stale partition standing and report the old rows as 'the
    day's report'. The idempotent path now drops the day's partition
    explicitly when the corrected frame is empty."""
    import csv

    from etl_sber_spark.pipeline import load_transactions
    from etl_sber_spark.sources.io import read_transactions_csv

    wh = Warehouse(spark, str(tmp_path / "wh"))
    ts = dt.datetime(2021, 3, 1, 23, 50)
    stg = read_transactions_csv(spark, f"{REF}/transactions_01032021.txt")
    load_transactions(wh, stg, ts, idempotent=True)
    assert wh.read(T_FACT).count() == 15650

    # the corrected file for the day is EMPTY (header only)
    empty_csv = tmp_path / "transactions_fixed.txt"
    empty_csv.write_text(
        "transaction_id;transaction_date;amount;card_num;oper_type;"
        "oper_result;terminal\n"
    )
    load_transactions(
        wh, read_transactions_csv(spark, str(empty_csv)), ts, idempotent=True
    )
    assert not wh.has_data(T_FACT) or wh.read(T_FACT).filter(
        F.col("load_date") == ts.date()
    ).count() == 0


def test_drop_partition_removes_only_named_partition(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, part string"
    )
    wh.append(df, "t", partition_by=["part"])
    assert wh.drop_partition("t", "part", "a") is True
    assert [r.part for r in wh.read("t").collect()] == ["b"]
    # dropping a partition that does not exist is a no-op
    assert wh.drop_partition("t", "part", "zzz") is False


def test_schema_evolution_read(spark, tmp_path):
    """A widened append (new column) + read(merge_schema=True) yields
    the union schema with NULLs for pre-widening rows; the default
    single-footer read documents the hazard this flag exists for."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append(spark.createDataFrame([(1, "a")], "id int, x string"), "t")
    wh.append(
        spark.createDataFrame(
            [(2, "b", 9.5)], "id int, x string, score double"
        ),
        "t",
    )
    merged = wh.read("t", merge_schema=True)
    assert set(merged.columns) == {"id", "x", "score"}
    got = {r.id: r.score for r in merged.collect()}
    assert got == {1: None, 2: 9.5}
    # both generations' rows are present either way
    assert wh.read("t").count() == 2


def test_warehouse_manifest_inventories_all_layouts(spark, tmp_path):
    """warehouse_manifest: one row per table across the three layouts,
    with version/file/byte/row accounting — the corpus-release
    reproducibility record."""
    from pyspark.sql import functions as F

    from etl_sber_spark.sinks.warehouse import Warehouse, warehouse_manifest

    wh = Warehouse(spark, str(tmp_path / "wh"))
    dim = spark.range(10).select(F.col("id"), F.lit("x").alias("v"))
    wh.overwrite_versioned(dim, "dim")
    wh.overwrite_versioned(dim.limit(5), "dim")  # v2 current
    wh.overwrite_partitions(
        spark.range(20).select(F.col("id"), (F.col("id") % 3).alias("p")),
        "fact",
        ["p"],
    )
    spark.range(7).write.parquet(str(tmp_path / "wh" / "plain"))

    m = {r.table: r for r in warehouse_manifest(wh).collect()}
    assert set(m) == {"dim", "fact", "plain"}

    assert m["dim"].layout == "versioned"
    assert m["dim"].current_version == 2 and m["dim"].n_versions == 2
    assert m["dim"].n_rows == 5  # CURRENT version's rows, not v1's

    assert m["fact"].layout == "partitioned"
    assert m["fact"].current_version is None
    assert m["fact"].n_rows == 20

    assert m["plain"].layout == "path"
    assert m["plain"].n_rows == 7

    for r in m.values():
        assert r.n_files > 0 and r.n_bytes > 0

    # cheap mode: no count jobs, rows NULL, the rest identical
    cheap = {
        r.table: r for r in warehouse_manifest(wh, count_rows=False).collect()
    }
    assert all(cheap[t].n_rows is None for t in cheap)
    assert {t: cheap[t].n_bytes for t in cheap} == {
        t: m[t].n_bytes for t in m
    }


def test_manifest_reports_served_version_not_orphan(spark, tmp_path):
    """warehouse_manifest's current_version must track the CURRENT
    pointer, like every other version comparison (r7 ADVICE, extended
    r8): after a simulated crash leaves an orphan v_3, the manifest
    reports v_2 — the version readers actually serve — and sizes THAT
    directory, not the orphan."""
    import os

    from etl_sber_spark.sinks.warehouse import Warehouse, warehouse_manifest

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.overwrite_versioned(spark.range(1).toDF("k"), "t")
    wh.overwrite_versioned(spark.range(2).toDF("k"), "t")
    spark.range(500).toDF("k").write.parquet(
        os.path.join(str(tmp_path / "wh"), "t", "v_3")
    )
    m = {r.table: r for r in warehouse_manifest(wh).collect()}
    assert m["t"].current_version == 2
    assert m["t"].n_rows == 2  # the served snapshot, not the orphan's 500


def test_referential_null_fk_not_a_violation(spark):
    """SQL FK semantics: a NULL foreign key satisfies the constraint —
    it belongs to null_violations, not referential_violations; before
    r9 the same row was double-reported by both checks."""
    child = spark.createDataFrame(
        [(1, "a"), (None, "b"), (9, "c")], "k int, v string"
    )
    parent = spark.createDataFrame([(1,)], ["pk"])
    bad = referential_violations(child, "k", parent, "pk").collect()
    assert [r.k for r in bad] == [9]
    assert null_violations(child, ["k"]).count() == 1


def test_update_metadata_in_place(spark, tmp_path):
    """update_metadata (r9): merges keys into a retained version's
    _meta.json WITHOUT a version bump — the restamp primitive. Data
    rows, CURRENT pointer, and untouched keys survive; missing tables
    and missing version dirs refuse."""
    import pytest

    from etl_sber_spark.sinks.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.overwrite_versioned(
        spark.range(3).toDF("k"), "t", metadata={"a": 1, "b": 2}
    )
    v = wh.current_version("t")

    merged = wh.update_metadata("t", {"b": 20, "c": 3})
    assert merged == {"a": 1, "b": 20, "c": 3}
    assert wh.read_metadata("t") == {"a": 1, "b": 20, "c": 3}
    assert wh.current_version("t") == v  # no bump
    assert wh.read("t").count() == 3  # data untouched

    # explicit version arg hits the named retained version
    wh.overwrite_versioned(spark.range(4).toDF("k"), "t", metadata={"x": 1})
    wh.update_metadata("t", {"y": 2}, version=v)
    assert wh.read_metadata("t", version=v)["y"] == 2
    assert wh.read_metadata("t") == {"x": 1}  # CURRENT untouched

    # a version with NO prior _meta.json starts from {}
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    wh2.overwrite_versioned(spark.range(1).toDF("k"), "t")
    assert wh2.update_metadata("t", {"z": 9}) == {"z": 9}

    with pytest.raises(ValueError, match="no CURRENT"):
        wh.update_metadata("missing", {"a": 1})
    with pytest.raises(ValueError, match="does not exist"):
        wh.update_metadata("t", {"a": 1}, version=999)
