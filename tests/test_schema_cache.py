"""session.read_parquet's per-session schema cache: a repeated scan of
unchanged files starts no Spark job, and every change below the scanned
path (rewrite, append, versioned swap, widened append read with
mergeSchema) is served exactly as an uncached read would serve it.
All data is generated under ``tmp_path``."""

from __future__ import annotations

import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from etl_sber_spark.session import _SchemaCache, input_files, read_parquet
from etl_sber_spark.sinks.warehouse import Warehouse
from etl_sber_spark.sources.tables import load_table

from .conftest import jobs_started


def test_unchanged_path_second_scan_starts_no_job(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(20).selectExpr("id", "id * 2 AS v").write.parquet(path)

    first, jobs1 = jobs_started(spark, lambda: read_parquet(spark, path))
    second, jobs2 = jobs_started(spark, lambda: read_parquet(spark, path))
    assert jobs1 >= 1  # footer inference: the probe sees jobs
    assert jobs2 == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_with_other_columns_is_reinferred(spark, tmp_path):
    """Same file name, new columns: size and mtime move the identity."""
    path = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert read_parquet(spark, path).columns == ["a", "b"]
    pq.write_table(pa.table({"a": [3], "c": [1.5], "d": [True]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["a", "c", "d"]
    assert [tuple(r) for r in df.collect()] == [(3, 1.5, True)]


def test_warehouse_append_is_visible(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append(spark.createDataFrame([(1, "a")], "k int, v string"), "t")
    assert wh.read("t").count() == 1
    wh.append(spark.createDataFrame([(2, "b"), (3, "c")], "k int, v string"), "t")
    assert sorted(tuple(r) for r in wh.read("t").collect()) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]


def test_versioned_swap_serves_new_schema(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.overwrite_versioned(spark.createDataFrame([(1, "a")], "k int, v string"), "h")
    assert wh.read("h").columns == ["k", "v"]
    wh.overwrite_versioned(
        spark.createDataFrame([(1, 2.5, "z")], "k int, w double, u string"), "h"
    )
    assert wh.read("h").columns == ["k", "w", "u"]
    assert [tuple(r) for r in wh.read("h").collect()] == [(1, 2.5, "z")]
    # the retained previous version keeps its own schema
    assert wh.read("h", version=1).columns == ["k", "v"]


def test_merge_schema_read_after_widened_append(spark, tmp_path):
    """A plain read cached first must not answer the mergeSchema read:
    the flag is part of the key, so the merged read infers (a job) and
    only its own repeat is served from the cache."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append(spark.createDataFrame([(1,)], "k int"), "t")
    wh.append(spark.createDataFrame([(2, "new")], "k int, extra string"), "t")
    wh.read("t")  # one footer's schema, cached under merge_schema=False
    for want_jobs in (True, False):  # miss, then hit
        merged, jobs = jobs_started(spark, lambda: wh.read("t", merge_schema=True))
        assert (jobs >= 1) is want_jobs
        assert "extra" in merged.columns
        assert sorted(tuple(r) for r in merged.select("k", "extra").collect()) == [
            (1, None), (2, "new"),
        ]


def test_zero_file_table_still_raises(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append(spark.createDataFrame([], "k int, part date"), "t", partition_by=["part"])
    assert wh.exists("t") and not wh.has_data("t")
    for _ in range(2):  # a failed inference is not cached
        with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
            wh.read("t")
    empty = tmp_path / "empty"
    empty.mkdir()
    assert input_files(str(empty)) == (0, ())
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        read_parquet(spark, str(empty))


def test_nanosecond_events_same_cached_as_uncached(spark, tmp_path):
    ts = pa.array(
        [1_600_000_000_123_456_789, 1_600_000_001_000_000_999, None],
        pa.timestamp("ns"),
    )
    pq.write_table(
        pa.table({"user_id": [1, 2, 3], "ts": ts}),
        str(tmp_path / "events.parquet"),
        version="2.6",
    )
    sf = str(tmp_path)
    uncached, jobs1 = jobs_started(spark, lambda: load_table(spark, sf, "events"))
    cached, jobs2 = jobs_started(spark, lambda: load_table(spark, sf, "events"))
    assert (jobs1 >= 1, jobs2) == (True, 0)
    assert cached.schema == uncached.schema
    assert cached.schema["ts"].dataType.typeName() == "timestamp"
    assert sorted(cached.collect(), key=str) == sorted(uncached.collect(), key=str)


def test_input_files_identity(tmp_path):
    (tmp_path / "a.parquet").write_bytes(b"x" * 10)
    sub = tmp_path / "p=1"
    sub.mkdir()
    (sub / "b.parquet").write_bytes(b"y" * 5)
    total, ident = input_files(str(tmp_path))
    assert total == 15
    assert [(n, s) for n, s, _ in ident] == [("a.parquet", 10), ("p=1/b.parquet", 5)]
    (sub / "c.parquet").write_bytes(b"z")
    assert input_files(str(tmp_path))[1] != ident
    assert input_files(str(tmp_path / "missing")) == (0, ())


def test_lru_bound_evicts_least_recently_used():
    cache = _SchemaCache(size=2)
    cache.put("a", 1)
    cache.put("b", 2)
    assert cache.get("a") == 1  # "b" is now least recently used
    cache.put("c", 3)
    assert (cache.get("a"), cache.get("b"), cache.get("c")) == (1, None, 3)


def test_cache_concurrent_use_keeps_bound():
    """More threads than cores hammer one cache with a short switch
    interval: no lost structure, the bound holds, every thread ends."""
    cache = _SchemaCache(size=8)
    errors = []

    def worker(t):
        try:
            for i in range(2000):
                cache.put((t, i % 16), i)
                cache.get((t, (i + 1) % 16))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(cache._entries) == 8
