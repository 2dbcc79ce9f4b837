"""streaming/scd.py: continuous SCD2 maintenance from a snapshot
landing zone.

The streaming-maintained history must be row-identical to applying the
same snapshots through the batch path (scd2_apply sequentially), the
drain must be restart-safe (re-running the query re-ingests nothing),
and a late-arriving snapshot file must be picked up incrementally.
"""

from __future__ import annotations

import pytest

import datetime as dt
import os
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_sber_spark.operators.scd import scd2_apply
from etl_sber_spark.sinks.warehouse import Warehouse
from etl_sber_spark.streaming.scd import empty_history, stream_scd2_snapshots


#: r12 suite tiering (VERDICT r11 #3): stream variant; batch twin test_scd_properties is fast.
pytestmark = pytest.mark.slow

SNAP_SCHEMA = T.StructType(
    [
        T.StructField("terminal_id", T.StringType()),
        T.StructField("terminal_city", T.StringType()),
        T.StructField("terminal_address", T.StringType()),
        T.StructField("snapshot_ts", T.TimestampType()),
    ]
)
KEY = "terminal_id"
ATTRS = ["terminal_city", "terminal_address"]

# three snapshot days exercising every SCD2 transition, mirroring the
# reference fixtures' story: day 2 adds P9111 + changes A8966; day 3
# deletes P9111 and changes A8966 again
DAYS = {
    dt.datetime(2021, 3, 1, 23, 50): [
        ("A8966", "Moscow", "Lenina 1"),
        ("P6934", "Kazan", "Baumana 2"),
    ],
    dt.datetime(2021, 3, 2, 23, 50): [
        ("A8966", "Moscow", "Lenina 37"),
        ("P6934", "Kazan", "Baumana 2"),
        ("P9111", "Sochi", "Morskaya 3"),
    ],
    dt.datetime(2021, 3, 3, 23, 50): [
        ("A8966", "Moscow", "Lenina 3"),
        ("P6934", "Kazan", "Baumana 2"),
    ],
}


def _write_snapshot_csv(inbox, ts, rows):
    name = os.path.join(inbox, f"terminals_{ts:%Y%m%d}.csv")
    with open(name, "w") as f:
        f.write("terminal_id,terminal_city,terminal_address,snapshot_ts\n")
        for tid, city, addr in rows:
            f.write(f"{tid},{city},{addr},{ts:%Y-%m-%d %H:%M:%S}\n")
    # the file source drains a backlog in modification-time order; pin
    # mtimes so "older snapshot first" is deterministic in the test
    epoch = time.mktime(ts.timetuple())
    os.utime(name, (epoch, epoch))
    return name


def _batch_history(spark, stamps):
    hist = empty_history(spark, SNAP_SCHEMA, KEY, ATTRS)
    for ts in stamps:
        stg = spark.createDataFrame(
            [(*r, ts) for r in DAYS[ts]], SNAP_SCHEMA
        ).drop("snapshot_ts")
        # cut lineage per round: chaining applies in memory stacks one
        # shuffle and one window per round onto the plan (the pipeline
        # always writes between applies, so only a test that chains in
        # memory ever sees this)
        hist = scd2_apply(hist, stg, KEY, ATTRS, ts).localCheckpoint()
    return hist


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_streamed_history_equals_batch_replay(spark, tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    stamps = sorted(DAYS)
    for ts in stamps:
        _write_snapshot_csv(str(inbox), ts, DAYS[ts])
    wh = Warehouse(spark, str(tmp_path / "wh"))

    q = stream_scd2_snapshots(
        spark,
        str(inbox),
        wh,
        "terminals_hist",
        KEY,
        ATTRS,
        SNAP_SCHEMA,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = wh.read("terminals_hist")
    want = _batch_history(spark, stamps)
    assert _rows(got) == _rows(want)
    # the SCD2 story is intact: A8966 has 3 versions, P9111 one open
    # tombstone, exactly one open row per live key
    a = got.filter(F.col(KEY) == "A8966")
    assert a.count() == 3
    p = got.filter((F.col(KEY) == "P9111") & (F.col("deleted_flg") == 1))
    assert p.count() == 1

    # restart safety: a second drain ingests nothing and changes nothing
    n_versions_before = wh.versions("terminals_hist")[-1]
    q2 = stream_scd2_snapshots(
        spark,
        str(inbox),
        wh,
        "terminals_hist",
        KEY,
        ATTRS,
        SNAP_SCHEMA,
        str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert wh.versions("terminals_hist")[-1] == n_versions_before
    assert _rows(wh.read("terminals_hist")) == _rows(want)


def test_late_snapshot_applies_incrementally(spark, tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    stamps = sorted(DAYS)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    args = (
        spark,
        str(inbox),
        wh,
        "terminals_hist",
        KEY,
        ATTRS,
        SNAP_SCHEMA,
        str(tmp_path / "ckpt"),
    )

    _write_snapshot_csv(str(inbox), stamps[0], DAYS[stamps[0]])
    stream_scd2_snapshots(*args).awaitTermination(120)
    assert _rows(wh.read("terminals_hist")) == _rows(
        _batch_history(spark, stamps[:1])
    )

    # days 2+3 land later — one drain catches up, in order
    for ts in stamps[1:]:
        _write_snapshot_csv(str(inbox), ts, DAYS[ts])
    stream_scd2_snapshots(*args).awaitTermination(120)
    assert _rows(wh.read("terminals_hist")) == _rows(
        _batch_history(spark, stamps)
    )


def test_stale_snapshot_is_skipped(spark, tmp_path):
    """A re-delivered OLDER snapshot (corrected file, fresh mtime) must
    not be applied on top of newer history — it would close newer
    versions with inverted intervals. The high-water-mark guard skips
    it and the history is unchanged."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    stamps = sorted(DAYS)
    for ts in stamps:
        _write_snapshot_csv(str(inbox), ts, DAYS[ts])
    wh = Warehouse(spark, str(tmp_path / "wh"))
    args = (
        spark,
        str(inbox),
        wh,
        "terminals_hist",
        KEY,
        ATTRS,
        SNAP_SCHEMA,
        str(tmp_path / "ckpt"),
    )
    stream_scd2_snapshots(*args).awaitTermination(120)
    want = _rows(wh.read("terminals_hist"))

    # re-deliver day 2 under a NEW name with a fresh mtime (a "corrected"
    # file) — the file source ingests it, the guard must skip it
    late = _write_snapshot_csv(str(inbox), stamps[1], DAYS[stamps[1]])
    fixed = late.replace(".csv", "_corrected.csv")
    os.rename(late, fixed)
    now = time.time()
    os.utime(fixed, (now, now))
    stream_scd2_snapshots(*args).awaitTermination(120)
    assert _rows(wh.read("terminals_hist")) == want


def test_stale_snapshot_skipped_after_no_change_snapshot(spark, tmp_path):
    """The high-water mark must track the last APPLIED snapshot ts, not
    max(effective_from): a no-change snapshot appends zero rows, so a
    history-derived guard forgets it happened, and an out-of-order
    older snapshot arriving afterwards would slip past and corrupt the
    history (round-3 review finding). With the persisted watermark
    marker the late snapshot is skipped."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    t1 = dt.datetime(2021, 3, 1, 23, 50)
    t2 = dt.datetime(2021, 3, 2, 23, 50)
    t3 = dt.datetime(2021, 3, 3, 23, 50)
    day1 = [("A8966", "Moscow", "Lenina 1")]
    _write_snapshot_csv(str(inbox), t1, day1)
    # t3 ships IDENTICAL content -> scd2_apply is a no-op on the history
    _write_snapshot_csv(str(inbox), t3, day1)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    args = (
        spark,
        str(inbox),
        wh,
        "terminals_hist",
        KEY,
        ATTRS,
        SNAP_SCHEMA,
        str(tmp_path / "ckpt"),
    )
    stream_scd2_snapshots(*args).awaitTermination(120)
    want = _rows(wh.read("terminals_hist"))
    assert len(want) == 1  # the t3 no-change apply added nothing

    # now an OLDER t2 snapshot with DIFFERENT content arrives late —
    # applying it would open a version newer history already supersedes
    late = _write_snapshot_csv(
        str(inbox), t2, [("A8966", "Moscow", "Lenina 99")]
    )
    now = time.time()
    os.utime(late, (now, now))
    stream_scd2_snapshots(*args).awaitTermination(120)
    assert _rows(wh.read("terminals_hist")) == want


def test_null_snapshot_ts_rows_quarantined_not_wedging(spark, tmp_path):
    """Review regression: a snapshot row whose timestamp fails CSV
    parsing (NULL under the schema'd PERMISSIVE read) used to crash the
    batch (None in the stamp list -> TypeError against the high-water
    mark) and wedge the stream on permanent replay of the same file.
    Such rows now land in <table>__scd2_rejects; the snapshot's good
    rows apply normally."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ts = dt.datetime(2021, 3, 1, 23, 50)
    name = os.path.join(str(inbox), "terminals_bad.csv")
    with open(name, "w") as f:
        f.write("terminal_id,terminal_city,terminal_address,snapshot_ts\n")
        f.write(f"A8966,Moscow,Lenina 1,{ts:%Y-%m-%d %H:%M:%S}\n")
        f.write("BROKEN,Nowhere,Void 0,2021-03-01 25:99:99\n")  # unparseable ts

    q = stream_scd2_snapshots(
        spark, str(inbox), wh, "dim_q", KEY, ATTRS, SNAP_SCHEMA,
        str(tmp_path / "ck"),
    )
    q.awaitTermination(120)

    hist = wh.read("dim_q")
    assert [r.terminal_id for r in hist.collect()] == ["A8966"]
    rejects = wh.read("dim_q__scd2_rejects")
    assert [r.terminal_id for r in rejects.collect()] == ["BROKEN"]
    # a second empty drain is a no-op (the stream is not wedged)
    q = stream_scd2_snapshots(
        spark, str(inbox), wh, "dim_q", KEY, ATTRS, SNAP_SCHEMA,
        str(tmp_path / "ck"),
    )
    q.awaitTermination(120)
    assert wh.read("dim_q").count() == 1
