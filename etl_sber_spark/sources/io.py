"""Ingestion readers + inbox protocol (SURVEY.md §2.1 SRC1-SRC4, §2.2 SNK8).

Each reader returns a *typed, normalized* DataFrame: explicit schema, all
string columns trimmed (§1.4 quirk 2 — canonical deviation: the reference
lets padded day-2 values reach the warehouse untrimmed except where SQL
trims ad hoc, main.py:370/399/416), comma-decimal amounts repaired
(quirk 1), Excel serial dates converted (quirk 5), styled-blank xlsx rows
dropped (quirk 4), blacklist columns reordered (reference reorders with
pandas reindex, main.py:214).

Scale design: the transactions CSV is read by Spark executors (splittable,
schema'd, no inference pass); xlsx dims are parsed driver-side (hundreds
of rows — see sources/xlsx.py) and handed to Spark as an Arrow table
(:func:`frame_from_rows`), which plans as a local relation with real size
statistics, so joins against a snapshot broadcast it instead of
shuffling.
"""

from __future__ import annotations

import datetime as dt
import fnmatch
import os
import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas
from ..functions.normalize import comma_decimal, trim_all_strings
from .xlsx import read_table


def read_transactions_csv(spark: SparkSession, path: str) -> DataFrame:
    """`;`-separated daily transactions file → typed staging DataFrame.

    Reference: pd.read_csv(sep=';') + positional executemany into an
    all-varchar staging table (main.py:316-333). Here the scan is
    executor-side with an explicit schema; normalization (trim, comma-
    decimal, timestamp parse) is a codegen'd projection on top:

    - trim every column (quirk 2: day-2 file pads headers AND values);
    - ``amount`` ``'1046,40'`` → DECIMAL(20,2) (quirk 1);
    - ``transaction_date`` → timestamp (main.py:370's
      to_timestamp(trim(...), 'YYYY-MM-DD HH24:MI:SS')).
    """
    raw = (
        spark.read.option("sep", ";")
        .option("header", True)
        .schema(schemas.TRANSACTIONS_RAW)
        .csv(path)
    )
    return normalize_transactions(raw)


def normalize_transactions(raw: DataFrame) -> DataFrame:
    """Shared staging→typed projection (batch and streaming readers).

    Column mapping is positional via TRANSACTIONS_RAW (day-2's padded
    header can't break it); every value trimmed, amount comma-repaired,
    timestamp format-parsed (main.py:370).
    """
    trimmed = trim_all_strings(raw)
    return trimmed.select(
        F.col("transaction_id").alias("trans_id"),
        F.to_timestamp("transaction_date", "yyyy-MM-dd HH:mm:ss").alias(
            "trans_date"
        ),
        comma_decimal("amount").alias("amt"),
        F.col("card_num"),
        F.col("oper_type"),
        F.col("oper_result"),
        F.col("terminal"),
    )


def read_transactions_csv_quarantine(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Quarantining variant of :func:`read_transactions_csv`:
    returns (good, bad) instead of failing the whole load on one
    malformed row.

    The strict reader raises on the first unparseable timestamp/amount
    (ANSI mode) — correct for the golden pipeline, operationally harsh
    for a landing zone fed by third parties. Here parsing uses
    ``try_to_timestamp``/try-cast semantics: rows where any required
    field fails to parse land in ``bad`` (with the raw values intact
    for forensics); ``good`` carries the same schema as the strict
    reader. Pure projections + one filter each — still codegen, still
    one scan (Spark shares it).
    """
    raw = (
        spark.read.option("sep", ";")
        .option("header", True)
        .schema(schemas.TRANSACTIONS_RAW)
        .csv(path)
    )
    trimmed = trim_all_strings(raw).withColumns(
        {
            "_ts": F.try_to_timestamp(
                F.col("transaction_date"), F.lit("yyyy-MM-dd HH:mm:ss")
            ),
            # try_cast, NOT try_to_number: the to_number format grammar
            # has no sign token here, so a valid negative amount (refund
            # / reversal '-100,50') would be quarantined while the
            # strict reader accepts it. try_cast applies the exact cast
            # the strict reader uses, so good/bad routing matches the
            # strict reader's accept set by construction.
            "_amt": F.regexp_replace("amount", ",", ".").try_cast(
                T.DecimalType(20, 2)
            ),
        }
    )
    # a row is bad only when a present value FAILED to parse. A NULL
    # raw field parses to NULL in the strict reader too (casting NULL
    # is not an ANSI error), so quarantining it would silently change
    # which rows load when a landing zone switches readers — the
    # documented contract is accept-set parity (review finding). The
    # strict reader has no NOT NULL constraint on transaction_id
    # either; key/NULL gates belong to downstream quality checks.
    ok = (
        (F.col("transaction_date").isNull() | F.col("_ts").isNotNull())
        & (F.col("amount").isNull() | F.col("_amt").isNotNull())
    )
    good = trimmed.filter(ok).select(
        F.col("transaction_id").alias("trans_id"),
        F.col("_ts").alias("trans_date"),
        F.col("_amt").cast(T.DecimalType(20, 2)).alias("amt"),
        F.col("card_num"),
        F.col("oper_type"),
        F.col("oper_result"),
        F.col("terminal"),
    )
    bad = trimmed.filter(~ok).drop("_ts", "_amt")
    return good, bad


def frame_from_rows(
    spark: SparkSession, rows: list[list], schema: T.StructType
) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (lists in ``schema`` order),
    built through a ``pyarrow.Table`` typed with ``schema``.

    ``createDataFrame(list)`` plans as an RDD scan whose size estimate
    is Long.MaxValue, so every join against the frame shuffles both
    sides. The Arrow table becomes a local relation with its real size,
    which the planner broadcasts. Inputs above Spark's
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB) are
    switched back to an RDD by Spark itself. A value that does not fit
    its field's type raises ``TypeError`` (pyarrow's ``ArrowTypeError``)
    from the conversion."""
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def _cell_str(v):
    """Stringify an xlsx cell for a StringType column. Excel types any
    digit-only cell as NUMERIC (a blacklist passport number, a numeric
    terminal id), which the sheet reader surfaces as int/float — the
    Arrow conversion in :func:`frame_from_rows` would raise TypeError on
    it for a string field and crash the whole load. Integral floats
    render without the spurious '.0'."""
    if v is None:
        return None
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


def read_terminals_xlsx(spark: SparkSession, path: str) -> DataFrame:
    """Terminal snapshot xlsx → typed staging DataFrame (main.py:18-19).

    Parsed on the driver and handed to Spark as an Arrow table
    (:func:`frame_from_rows`): a snapshot plans with its real size, so
    a join against it broadcasts it instead of shuffling."""
    header, rows = read_table(path)
    expected = [f.name for f in schemas.TERMINALS.fields]
    # map by header name (files ship the canonical order, but don't rely on it)
    idx = [header.index(c) for c in expected]
    data = [[_cell_str(r[i]) for i in idx] for r in rows]
    return trim_all_strings(frame_from_rows(spark, data, schemas.TERMINALS))


def read_blacklist_xlsx(spark: SparkSession, path: str) -> DataFrame:
    """Passport-blacklist xlsx → typed staging DataFrame.

    File columns are (date, passport) — reversed relative to the target
    (passport_num, entry_dt); the reference reorders with
    ``df.reindex(columns=['passport','date'])`` and stringifies the date
    for ``to_date(?, 'YYYY-MM-DD')`` (main.py:212-223). Styled-blank rows
    (quirk 4) are dropped by the sheet reader; serials → dates (quirk 5).
    Like the terminals snapshot, the rows reach Spark as an Arrow table
    (:func:`frame_from_rows`), so ``scd1_append``'s joins against it
    broadcast it.
    """
    header, rows = read_table(path, date_cols=("date",))
    pi, di = header.index("passport"), header.index("date")
    data = [[_cell_str(r[pi]), r[di]] for r in rows]
    return trim_all_strings(
        frame_from_rows(spark, data, schemas.PASSPORT_BLACKLIST)
    )


# ---------------------------------------------------------------------------
# Inbox protocol (SRC1 + SNK8)
# ---------------------------------------------------------------------------

#: fnmatch patterns → logical source kind, in DETERMINISTIC processing
#: order: terminals before blacklist before transactions, so the fraud
#: view never joins stale dimension versions (fixes the reference's
#: os.listdir-order hazard — SURVEY.md §3.1).
INBOX_PATTERNS = (
    ("terminals", "terminals*"),
    ("blacklist", "passport*"),
    ("transactions", "transactions*"),
)


def scan_inbox(inbox: str) -> list[tuple[str, str]]:
    """List (kind, absolute_path) for every recognized inbox file, in
    deterministic order: by kind (terminals → blacklist → transactions),
    then by name (which sorts by date for the DDMMYYYY names within one
    month — callers replaying multiple days should pass one day at a
    time, as the cron does)."""
    names = sorted(os.listdir(inbox))
    out = []
    for kind, pat in INBOX_PATTERNS:
        for n in names:
            if fnmatch.fnmatch(n, pat):
                out.append((kind, os.path.join(inbox, n)))
    return out


def file_date(path: str) -> dt.date | None:
    """The DDMMYYYY date embedded in a reference-convention file name
    (``transactions_01032021.txt``), or None when absent/invalid —
    the per-day grouping key for pipeline.run_backfill."""
    m = re.search(r"_(\d{2})(\d{2})(\d{4})\.", os.path.basename(path))
    if not m:
        return None
    try:
        return dt.date(int(m.group(3)), int(m.group(2)), int(m.group(1)))
    except ValueError:
        return None


def quarantine_file(path: str) -> str:
    """Move a REJECTED input to <dir>/Rejected/<name> and return the new
    path. A stale terminals snapshot left in the scanned
    inbox would be re-applied by the next cron tick at a newer
    processing_ts — closing current SCD2 versions and resurrecting old
    attributes — so skipped files must leave the inbox, into a directory
    the operator inspects rather than one the scanner re-reads
    (review finding, ADVICE round 4). Collision-numbered like the
    archive so repeated rejections of a re-delivered name all survive."""
    d, name = os.path.split(path)
    rejected = os.path.join(d, "Rejected")
    os.makedirs(rejected, exist_ok=True)
    dest = os.path.join(rejected, name)
    n = 1
    while os.path.exists(dest):
        n += 1
        dest = os.path.join(rejected, f"{name}.{n}")
    os.rename(path, dest)
    return dest


def archive_file(path: str) -> str:
    """Move a processed file to <dir>/Archive/<name>.backup
    (main.py:535-540). Returns the new path.

    A re-delivered file of the same name archives to ``.backup.2``,
    ``.backup.3``, … — os.rename on POSIX would otherwise silently
    REPLACE the earlier backup, destroying the forensic copy of the
    first delivery (the archive exists precisely to keep raw inputs)."""
    d, name = os.path.split(path)
    archive = os.path.join(d, "Archive")
    os.makedirs(archive, exist_ok=True)
    dest = os.path.join(archive, name + ".backup")
    n = 1
    while os.path.exists(dest):
        n += 1
        dest = os.path.join(archive, f"{name}.backup.{n}")
    os.rename(path, dest)
    return dest
