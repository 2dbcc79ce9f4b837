"""Daily batch orchestration — the reference's ``files_load()`` driver
(main.py:544-580) rebuilt as one deterministic function.

Differences from the reference, all documented in SURVEY.md §3.1/§3.4:

- deterministic processing order (terminals → blacklist → transactions →
  mart) instead of ``os.listdir`` order, so the fraud view never joins
  stale dimension versions;
- ``processing_ts`` parameter instead of ``sysdate`` — replaying a day is
  reproducible;
- staging tables become in-memory DataFrames (the reference's
  drop/create/insert/drop staging churn vanishes);
- failures raise instead of print-and-continue (main.py's 22 swallowed
  try/except sites can half-load a day silently).

Warehouse tables (sinks/warehouse.py):

- ``dwh_dim_terminals_hist``  SCD2, atomic versioned overwrite
- ``dwh_fact_pssprt_blcklst`` append-only SCD1 fact
- ``dwh_fact_transactions``   append-only fact, partitioned by load_date
- ``rep_fraud``               mart, append, partitioned by report_dt
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import schemas
from .plans.fraud import build_fraud_report, data_view
from .operators.scd import scd1_append, scd2_apply
from .sinks.warehouse import Warehouse
from .sources import io as src

TERMINAL_ATTRS = ["terminal_type", "terminal_city", "terminal_address"]

T_HIST = "dwh_dim_terminals_hist"
T_BLACKLIST = "dwh_fact_pssprt_blcklst"
T_FACT = "dwh_fact_transactions"
T_MART = "rep_fraud"


def _empty(spark: SparkSession, schema) -> DataFrame:
    return src.frame_from_rows(spark, [], schema)


def load_terminals(
    wh: Warehouse, stg: DataFrame, processing_ts: dt.datetime
) -> None:
    """Pipeline T (main.py:556-565): snapshot → SCD2 apply → swap.

    Refuses a load that would write INVERTED intervals
    (effective_to < effective_from): replaying a CORRECTED snapshot at
    its original processing_ts closes the version opened at that very
    ts with ts−1s — a permanently corrupt history row that the
    full-history mart joins would then multiply (r8 review). Equal-day
    corrections are fine at any LATER processing_ts; only the
    same-instant changed-content replay is refused. The inverted rows
    are counted on the write job itself and checked before the CURRENT
    flip (``Warehouse.overwrite_versioned(refuse=...)``): on refusal the
    unpublished version is deleted and the served history is unchanged.
    The apply, the count and the write are one Spark plan."""
    hist = (
        wh.read(T_HIST)
        if wh.has_data(T_HIST)
        else _empty(wh.spark, schemas.TERMINALS_HIST)
    )
    nxt = scd2_apply(hist, stg, "terminal_id", TERMINAL_ATTRS, processing_ts)
    wh.overwrite_versioned(
        nxt,
        T_HIST,
        refuse=(
            F.col("effective_to") < F.col("effective_from"),
            lambda n: (
                f"terminals load at {processing_ts} would write {n} "
                "inverted SCD2 interval(s) (effective_to < effective_from) — "
                "this is a changed-content snapshot replayed at its original "
                "processing_ts; rerun the correction with a later "
                "processing_ts"
            ),
        ),
    )


def load_blacklist(wh: Warehouse, stg: DataFrame) -> None:
    """Pipeline P (main.py:548-555): new + changed rows appended."""
    fact = (
        wh.read(T_BLACKLIST)
        if wh.has_data(T_BLACKLIST)
        else _empty(wh.spark, schemas.PASSPORT_BLACKLIST)
    )
    delta = scd1_append(fact, stg, "passport_num", ["entry_dt"])
    wh.append(delta, T_BLACKLIST)


def load_transactions(
    wh: Warehouse,
    stg: DataFrame,
    processing_ts: dt.datetime,
    *,
    idempotent: bool = False,
) -> None:
    """Pipeline X (main.py:566-572): typed staging + create_date stamp →
    partitioned write by load_date (static pruning for the daily view
    filter — SURVEY.md §4.3.3).

    ``idempotent=True`` replaces the day's partition (dynamic partition
    overwrite) instead of appending — re-running a day becomes a no-op
    correction instead of a duplication. Default is the reference's
    faithful append (its re-run WOULD duplicate, main.py:358-377).
    """
    fact = stg.withColumn(
        "create_date", F.lit(processing_ts).cast("timestamp")
    ).withColumn("load_date", F.to_date(F.lit(processing_ts.date())))
    if idempotent:
        # dynamic overwrite only replaces partitions PRESENT in the
        # frame — a rows→ZERO correction (the day's input was all bad)
        # would leave the stale partition in place and the rerun would
        # silently "correct" nothing (review finding). Drop the day's
        # partition explicitly when the corrected input is empty.
        if fact.isEmpty():
            wh.drop_partition(T_FACT, "load_date", processing_ts.date())
        else:
            wh.overwrite_partitions(fact, T_FACT, partition_by=["load_date"])
    else:
        wh.append(fact, T_FACT, partition_by=["load_date"])


def build_mart(
    wh: Warehouse,
    bank_tables: dict[str, DataFrame],
    processing_ts: dt.datetime,
    *,
    faithful_full_history: bool = False,
    idempotent: bool = False,
) -> DataFrame:
    """Build the day's fraud report and append it to the mart.

    The view is built ONCE and cached for the three rules (the reference
    re-evaluates the 5-way join per rule — SURVEY.md §3.3), then
    unpersisted. ``idempotent=True`` overwrites the day's report_dt
    partition instead of appending. Returns the day's report rows."""
    # missing tables read as empty — the reference's swallowed
    # create-if-absent DDL guarantees (possibly empty) tables exist even
    # when a day ships no file of that kind (main.py:21-28, 229-236)
    def _read_or_empty(name: str, schema) -> DataFrame:
        return wh.read(name) if wh.has_data(name) else _empty(wh.spark, schema)

    # a COPY of the schema: StructType.add mutates (and returns) self,
    # so the one-liner would append another load_date to the shared
    # module-level schema on every call — duplicate-column errors on the
    # second zero-fact day in one process (round-3 review finding)
    fact = _read_or_empty(
        T_FACT,
        T.StructType(
            [
                *schemas.FACT_TRANSACTIONS.fields,
                T.StructField("load_date", T.DateType()),
            ]
        ),
    )
    view = data_view(
        bank_tables["clients"],
        bank_tables["accounts"],
        bank_tables["cards"],
        fact,
        _read_or_empty(T_HIST, schemas.TERMINALS_HIST),
        processing_ts,
        faithful_full_history=faithful_full_history,
    ).cache()
    try:
        blacklist = _read_or_empty(T_BLACKLIST, schemas.PASSPORT_BLACKLIST)
        report = build_fraud_report(view, blacklist, processing_ts)
        if idempotent:
            # same rows→zero correction hole as load_transactions: an
            # empty corrected report must DROP the day's partition, not
            # leave the stale one standing (review finding)
            if report.isEmpty():
                wh.drop_partition(T_MART, "report_dt", processing_ts.date())
            else:
                wh.overwrite_partitions(
                    report, T_MART, partition_by=["report_dt"]
                )
        else:
            wh.append(report, T_MART, partition_by=["report_dt"])
        if not wh.has_data(T_MART):  # zero-row day: no readable files yet
            return report
        return wh.read(T_MART).filter(
            F.col("report_dt") == F.lit(processing_ts.date())
        )
    finally:
        view.unpersist()


def run_day(
    spark: SparkSession,
    inbox: str,
    warehouse_root: str,
    bank_tables: dict[str, DataFrame],
    processing_ts: dt.datetime,
    *,
    archive: bool = True,
    faithful_full_history: bool = False,
    idempotent: bool = False,
) -> DataFrame:
    """Process one day's inbox end-to-end; returns the day's mart rows.

    ``bank_tables`` supplies the external ``bank.clients/accounts/cards``
    DataFrames (pre-existing Oracle tables in the reference,
    main.py:410-416 — here any DataFrame source: parquet fixtures, JDBC).
    ``idempotent=True`` makes a day replay a partition-level correction
    (fact + mart) instead of the reference's faithful duplication.
    """
    wh = Warehouse(spark, warehouse_root)
    _load_inbox_files(
        wh,
        spark,
        src.scan_inbox(inbox),
        processing_ts,
        idempotent=idempotent,
        archive=archive,
    )
    return build_mart(
        wh,
        bank_tables,
        processing_ts,
        faithful_full_history=faithful_full_history,
        idempotent=idempotent,
    )


def _load_inbox_files(
    wh: Warehouse,
    spark: SparkSession,
    files: list[tuple[str, str]],
    processing_ts: dt.datetime,
    *,
    idempotent: bool,
    archive: bool,
) -> None:
    """The per-file dispatch loop shared by run_day and run_backfill —
    one implementation so the daily path and the range path cannot
    drift. ``files`` must already be in the deterministic
    terminals → blacklist → transactions order (scan_inbox's contract).

    Terminals files carry their OWN forward-only guard here, keyed on
    the DDMMYYYY embedded in the file name vs the SCD2 high-water mark:
    run_backfill's ts-based guard cannot protect the regular nightly
    (its processing_ts is "now", always ahead of history), so a stale
    snapshot lingering in the inbox would be applied at a newer
    processing_ts and silently resurrect old attributes as current
    (ADVICE round 4). A file dated STRICTLY behind the newest
    ``effective_from`` is quarantined; an equal-day re-delivery still
    loads (scd2_apply's replay no-op / same-day correction).

    Two r8 hardenings of that guard:

    - ONE terminals snapshot loads per call — the newest-dated one; the
      rest quarantine as superseded. All files in one call share one
      processing_ts, so applying several snapshots produces either no
      extra history (identical content) or INVERTED intervals (the
      second apply closes versions the first just opened at the same
      ts); and scan_inbox's name order would even apply them
      newest-first (DDMMYYYY sorts April before late March). A
      multi-day catch-up that wants true per-day history is
      ``run_backfill`` — which assigns each day its own ts and calls
      this loop per day.
    - an UNDATED terminals file (no parseable _DDMMYYYY suffix) is
      quarantined, not loaded: ``fdate is None`` used to skip the
      comparison entirely, letting a renamed old snapshot bypass the
      forward-only rule the guard exists for.
    """
    stale_cut: dt.date | None = None
    if any(k == "terminals" for k, _ in files) and wh.has_data(T_HIST):
        latest = (
            wh.read(T_HIST)
            .agg(F.max("effective_from").alias("m"))
            .collect()[0]["m"]
        )
        if latest is not None:
            stale_cut = latest.date()
    dated = [
        p for k, p in files
        if k == "terminals" and src.file_date(p) is not None
    ]
    keep = max(dated, key=lambda p: (src.file_date(p), p)) if dated else None
    for kind, path in files:
        if kind == "terminals":
            fdate = src.file_date(path)
            if fdate is None:
                moved = src.quarantine_file(path)
                print(
                    f"[load] SKIP undated terminals file {path}: no "
                    "parseable _DDMMYYYY date in the name, so the "
                    "forward-only guard cannot vouch for it — "
                    f"quarantined to {moved}"
                )
                continue
            if path != keep:
                moved = src.quarantine_file(path)
                print(
                    f"[load] SKIP terminals snapshot {path}: superseded "
                    f"by {keep} in the same run (one snapshot per "
                    "processing_ts; per-day history is run_backfill's "
                    f"job) — quarantined to {moved}"
                )
                continue
            if stale_cut is not None and fdate < stale_cut:
                moved = src.quarantine_file(path)
                print(
                    f"[load] SKIP stale terminals snapshot {path}: file "
                    f"dated {fdate} but SCD2 history already reaches "
                    f"{stale_cut} (forward-only) — quarantined to {moved}"
                )
                continue
            load_terminals(
                wh, src.read_terminals_xlsx(spark, path), processing_ts
            )
        elif kind == "blacklist":
            load_blacklist(wh, src.read_blacklist_xlsx(spark, path))
        elif kind == "transactions":
            load_transactions(
                wh,
                src.read_transactions_csv(spark, path),
                processing_ts,
                idempotent=idempotent,
            )
        if archive:
            src.archive_file(path)


def run_backfill(
    spark: SparkSession,
    inbox: str,
    warehouse_root: str,
    bank_tables: dict[str, DataFrame],
    start: dt.date,
    end: dt.date,
    *,
    time: dt.time = dt.time(23, 50),
    archive: bool = True,
    faithful_full_history: bool = False,
) -> list[tuple[dt.date, DataFrame]]:
    """Replay a DATE RANGE from one mixed inbox, one day at a time.

    The cron world's repair tool: after an outage the inbox holds
    several days' files at once, and loading them under a single
    ``processing_ts`` would be wrong twice over — SCD2 effective ranges
    collapse onto one instant, and each day's mart must be built from
    that day's dimension state (the point-in-time law run_day
    enforces). So the inbox is scanned ONCE, each file is assigned to
    its day by the DDMMYYYY embedded in the reference's file names,
    and days inside ``[start, end]`` run ascending — each as a normal
    run_day unit: its files in the deterministic kind order, then its
    mart. Files outside the range (or with no parseable date) are left
    in place for the regular nightly to pick up.

    Always idempotent: a backfill is by definition a correction —
    fact/mart days overwrite their partitions, SCD2 re-application is
    a replay-no-op (the scd2_apply invariant), blacklist SCD1 appends
    only genuinely-new rows.

    SCD2 snapshots are FORWARD-ONLY (review finding): ``scd2_apply``
    closes whichever version is currently OPEN, so applying a
    terminals snapshot DATED BEHIND existing history (day-4 nightly
    ran; the day-2 snapshot arrives late) would close the day-4
    version with an inverted interval and resurrect stale attributes
    as current. A terminals file whose day is not strictly ahead of
    the history's newest ``effective_from`` is therefore SKIPPED (a
    printed warning + the file QUARANTINED to ``<inbox>/Rejected/`` —
    leaving it in the scanned inbox would only defer the corruption to
    the next cron tick, which would apply it at a newer processing_ts;
    ADVICE round 4) — a high-water-mark rule. Pure re-deliveries lose
    nothing (re-applying at the tail is the replay no-op anyway); a
    genuinely different mid-history dimension snapshot cannot be
    retrofitted — that is a rebuild-from-snapshots operation,
    deliberately not a backfill flag. Fact/mart days have no such
    constraint (partition overwrites are order-free) and still process.

    A day in the range with NO matching files yields ``(day, None)``
    — surfaced, not skipped, so a typo'd range or a missing correction
    file is visible (review finding). Note a rows-to-ZERO correction
    therefore needs an explicit EMPTY file for the day: file-less days
    deliberately touch nothing.

    Returns ``[(date, mart_report_df | None), ...]`` ascending over
    the full requested range.
    """
    if end < start:
        raise ValueError(f"backfill range is empty: {start} > {end}")
    wh = Warehouse(spark, warehouse_root)
    by_day: dict[dt.date, list[tuple[str, str]]] = {}
    for kind, path in src.scan_inbox(inbox):
        day = src.file_date(path)
        if day is not None and start <= day <= end:
            by_day.setdefault(day, []).append((kind, path))

    out: list[tuple[dt.date, DataFrame | None]] = []
    day = start
    while day <= end:
        if day not in by_day:
            out.append((day, None))
            day += dt.timedelta(days=1)
            continue
        ts = dt.datetime.combine(day, time)
        files = by_day[day]
        term_files = [f for f in files if f[0] == "terminals"]
        if term_files and wh.has_data(T_HIST):
            latest = (
                wh.read(T_HIST)
                .agg(F.max("effective_from").alias("m"))
                .collect()[0]["m"]
            )
            if latest is not None and latest >= ts:
                for _, path in term_files:
                    moved = src.quarantine_file(path)
                    print(
                        f"[backfill] SKIP stale terminals snapshot {path}: "
                        f"dated {ts} but SCD2 history already reaches "
                        f"{latest} (forward-only; rebuild the dimension "
                        f"from snapshots to repair mid-history) — "
                        f"quarantined to {moved}"
                    )
                files = [f for f in files if f[0] != "terminals"]
        # per-day kind order is preserved: scan_inbox emitted kinds in
        # order and the per-day grouping is a stable filter of it
        _load_inbox_files(
            wh, spark, files, ts, idempotent=True, archive=archive
        )
        report = build_mart(
            wh,
            bank_tables,
            ts,
            faithful_full_history=faithful_full_history,
            idempotent=True,
        )
        # pin while this day's inputs are still live: a zero-mart day's
        # report is the raw build plan whose lineage reads the SCD2
        # version directory CURRENT NOW — two later terminals loads in
        # this same range and the retention sweep deletes it, so a
        # caller counting the returned frames after the range completes
        # would crash on a path that no longer exists (r8 review). The
        # mart report is event-sized; the checkpoint is cheap.
        out.append((day, report.localCheckpoint()))
        day += dt.timedelta(days=1)
    return out
