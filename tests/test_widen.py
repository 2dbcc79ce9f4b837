"""session.maybe_widen_partitions — the r12 scale-adaptive AQE width
ratchet (VERDICT r11 #6): scans big enough to swamp the per-core
shuffle default raise initialPartitionNum; smaller ones leave the
session alone.
"""

from __future__ import annotations

import os

from etl_sber_spark.session import (
    WIDEN_BYTES_PER_PARTITION,
    WIDEN_CAP,
    _WIDEN_CONF,
    derived_width,
    input_files,
    maybe_widen_partitions,
)


def test_derived_width_formula():
    assert derived_width(0) == 0
    assert derived_width(WIDEN_BYTES_PER_PARTITION - 1) == 0
    assert derived_width(100 * WIDEN_BYTES_PER_PARTITION) == 100
    # capped far above any sandbox input
    assert derived_width(10**15) == WIDEN_CAP


def test_local_input_bytes(tmp_path):
    (tmp_path / "a.parquet").write_bytes(b"x" * 1000)
    sub = tmp_path / "sub"
    sub.mkdir()
    (sub / "b.parquet").write_bytes(b"y" * 500)
    assert input_files(str(tmp_path))[0] == 1500
    assert input_files(str(tmp_path / "a.parquet"))[0] == 1000
    assert input_files(str(tmp_path / "missing"))[0] == 0


def test_bench_tables_below_floor(spark, monkeypatch):
    """Every bench-SF table derives a width under a 32-core floor, so a
    32-core session keeps its layout. Below 32 cores the ratchet does
    fire on the larger tables (sf0.1 lineitem derives 20): it widens
    the session exactly when the derived width exceeds the session's
    real floor, ``defaultParallelism`` / ``shuffle.partitions``."""
    sizes = []
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        d = f"/root/testdata/{sf}"
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            nbytes = input_files(os.path.join(d, name))[0]
            w = derived_width(nbytes)
            assert w < 32, (sf, name, w)
            sizes.append((sf, name, nbytes, w))

    monkeypatch.delenv("SPARK_GRAFT_INITIAL_PARTITIONS", raising=False)
    before = spark.conf.get(_WIDEN_CONF, None)
    floor = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    try:
        for sf, name, nbytes, w in sizes:
            spark.conf.unset(_WIDEN_CONF)
            got = maybe_widen_partitions(spark, nbytes)
            assert got == (w if w > floor else 0), (sf, name, w, floor)
    finally:
        if before is None:
            spark.conf.unset(_WIDEN_CONF)
        else:
            spark.conf.set(_WIDEN_CONF, before)


def test_ratchet_raises_only_and_respects_env(spark, tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_INITIAL_PARTITIONS", raising=False)
    before = spark.conf.get(_WIDEN_CONF, None)
    try:
        # small input: no-op
        (tmp_path / "small.parquet").write_bytes(b"z" * 100)
        assert maybe_widen_partitions(spark, input_files(str(tmp_path))[0]) == 0
        assert spark.conf.get(_WIDEN_CONF, None) == before

        # big (sparse) input: sets the derived width
        big = tmp_path / "big.parquet"
        with open(big, "wb") as fh:
            fh.truncate(100 * WIDEN_BYTES_PER_PARTITION)
        got = maybe_widen_partitions(spark, input_files(str(tmp_path))[0])
        assert got == 100
        assert spark.conf.get(_WIDEN_CONF) == "100"

        # never lowers: a smaller (but still >floor) input leaves 100
        with open(big, "wb") as fh:
            fh.truncate(50 * WIDEN_BYTES_PER_PARTITION)
        assert maybe_widen_partitions(spark, input_files(str(tmp_path))[0]) == 0
        assert spark.conf.get(_WIDEN_CONF) == "100"

        # explicit env sizing wins outright
        with open(big, "wb") as fh:
            fh.truncate(500 * WIDEN_BYTES_PER_PARTITION)
        monkeypatch.setenv("SPARK_GRAFT_INITIAL_PARTITIONS", "64")
        assert maybe_widen_partitions(spark, input_files(str(tmp_path))[0]) == 0
        assert spark.conf.get(_WIDEN_CONF) == "100"
    finally:
        if before is None:
            spark.conf.unset(_WIDEN_CONF)
        else:
            spark.conf.set(_WIDEN_CONF, before)
