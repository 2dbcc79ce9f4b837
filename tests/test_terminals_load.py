"""The terminals SCD2 load on any host: in-memory and generated-xlsx
snapshots, no reference data.

- the inverted-interval refusal: a changed snapshot replayed at its
  original processing_ts is refused, and nothing is served from it;
- the snapshot frames plan with a finite size (an Arrow-backed local
  relation), so the planner can broadcast them;
- ``scd2_apply`` over a parquet history plans one shuffle at most;
- one ``load_terminals`` runs in a handful of Spark jobs.
"""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from etl_sber_spark import schemas
from etl_sber_spark.functions.normalize import max_ts_lit
from etl_sber_spark.operators.scd import scd2_apply
from etl_sber_spark.pipeline import T_HIST, TERMINAL_ATTRS, load_terminals
from etl_sber_spark.sinks.warehouse import Warehouse
from etl_sber_spark.sources.io import read_blacklist_xlsx, read_terminals_xlsx
from perfbench.gen import write_xlsx

from .conftest import jobs_started

TS = dt.datetime(2021, 3, 1, 23, 50)

SNAP1 = [
    ["T1", "POS", "Moscow", "Lenina 1"],
    ["T2", "ATM", "Kazan", "Mira 2"],
    ["T3", "POS", "Omsk", "Sadovaya 3"],
]
#: T2 moved, T3 gone, T4 new
SNAP2 = [
    ["T1", "POS", "Moscow", "Lenina 1"],
    ["T2", "ATM", "Kazan", "Mira 20"],
    ["T4", "ATM", "Tver", "Pushkina 4"],
]


def _snapshot(spark, rows):
    return spark.createDataFrame(rows, schemas.TERMINALS)


def _served(wh):
    return sorted(map(tuple, wh.read(T_HIST).collect()))


def test_changed_content_replay_at_original_ts_refused(spark, tmp_path):
    """A CHANGED snapshot replayed at its original processing_ts would
    close versions opened AT ts with ts−1s — inverted intervals. The
    load is refused before CURRENT flips, so the served version, its
    rows and the retained versions stay as they were. An identical
    replay is a no-op; the correction at a later ts loads."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    load_terminals(wh, _snapshot(spark, SNAP1), TS)
    first = _served(wh)

    load_terminals(wh, _snapshot(spark, SNAP1), TS)
    assert _served(wh) == first  # identical replay: same history
    version, versions = wh.current_version(T_HIST), wh.versions(T_HIST)

    with pytest.raises(ValueError, match=r"would write \d+ inverted"):
        load_terminals(wh, _snapshot(spark, SNAP2), TS)
    assert wh.current_version(T_HIST) == version
    assert wh.versions(T_HIST) == versions  # no unpublished v_{n+1} left
    assert _served(wh) == first

    later = TS + dt.timedelta(hours=1)
    load_terminals(wh, _snapshot(spark, SNAP2), later)
    hist = wh.read(T_HIST)
    assert hist.filter(F.col("effective_to") < F.col("effective_from")).count() == 0
    current = {
        tuple(r)
        for r in hist.filter(
            (F.col("effective_to") > F.lit(later)) & (F.col("deleted_flg") == 0)
        )
        .select("terminal_id", *TERMINAL_ATTRS)
        .collect()
    }
    assert current == {tuple(r) for r in SNAP2}


def _terminals_xlsx(path, rows):
    write_xlsx(str(path), [[f.name for f in schemas.TERMINALS.fields], *rows])
    return str(path)


def test_snapshot_frames_have_finite_size(spark, tmp_path):
    """A snapshot the planner cannot size is never broadcast: every join
    against it shuffles both sides."""
    terminals = read_terminals_xlsx(spark, _terminals_xlsx(tmp_path / "t.xlsx", SNAP1))
    bl_path = str(tmp_path / "b.xlsx")
    write_xlsx(bl_path, [["date", "passport"], [44256, "4012 345678"]])
    blacklist = read_blacklist_xlsx(spark, bl_path)
    max_long = 2**63 - 1
    for df in (terminals, blacklist):
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        assert 0 < size < max_long
    assert sorted(map(list, terminals.collect())) == SNAP1
    assert [tuple(r) for r in blacklist.collect()] == [("4012 345678", dt.date(2021, 3, 1))]


def _shuffles(df) -> int:
    """Shuffle Exchanges in the physical plan (not broadcasts, not
    reused exchanges)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"(?<![A-Za-z])Exchange ", plan))


def test_scd2_apply_plans_one_shuffle(spark, tmp_path):
    snap = read_terminals_xlsx(spark, _terminals_xlsx(tmp_path / "t.xlsx", SNAP2))
    hist_path = str(tmp_path / "hist")
    _snapshot(spark, SNAP1).select(
        "*",
        F.lit(0).cast("int").alias("deleted_flg"),
        F.lit(TS).cast("timestamp").alias("effective_from"),
        max_ts_lit().alias("effective_to"),
    ).write.parquet(hist_path)
    hist = spark.read.parquet(hist_path)
    nxt = scd2_apply(hist, snap, "terminal_id", TERMINAL_ATTRS, TS + dt.timedelta(days=1))
    assert _shuffles(nxt) <= 1
    closed = nxt.filter(F.col("effective_to") < max_ts_lit())
    assert sorted(r.terminal_id for r in closed.collect()) == ["T2", "T3"]


def test_load_terminals_job_budget(spark, tmp_path):
    """The apply, the inverted-interval guard and the write are one
    plan: one load is the history's schema inference plus the write's
    shuffle and result jobs."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    load_terminals(
        wh, read_terminals_xlsx(spark, _terminals_xlsx(tmp_path / "t1.xlsx", SNAP1)), TS
    )
    snap = read_terminals_xlsx(spark, _terminals_xlsx(tmp_path / "t2.xlsx", SNAP2))
    later = TS + dt.timedelta(days=1)
    _, jobs = jobs_started(spark, lambda: load_terminals(wh, snap, later))
    assert jobs <= 4, jobs
    assert wh.read(T_HIST).filter(F.col("effective_from") == F.lit(later)).count() == 3
