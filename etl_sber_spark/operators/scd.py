"""Slowly-changing-dimension maintenance (SURVEY.md §2.6 S1-S4).

The reference maintains its terminal dimension as SCD2 via staged CTAS
diffs + UPDATE close-outs + three INSERTs (main.py:72-188), and its
blacklist as an append-only "SCD1" (main.py:240-296). Parquet has no
UPDATE, so ``scd2_apply`` is a read-modify-rewrite: one pass that
classifies every history row and every staged row, producing the complete
next history (the sink swaps it in atomically — sinks/warehouse.py).

Scale design: the diff and the rewrite are one plan with one shuffle.
History and snapshot rows are unioned and hashed once on the dimension
key; one window over each key sees the key's current versions and staged
rows together, and every input row expands into its output rows (itself,
closed or not, plus a tombstone or a new version) with no join and no
driver round-trip. A key's window holds its versions and its staged
rows, so memory per task is bounded by the busiest key, not the table.
"""

from __future__ import annotations

import datetime as dt
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.normalize import max_ts_lit


def _is_current(ts: Column) -> Column:
    """Open at ``ts`` and not deleted (main.py:56-67)."""
    return ts.between(F.col("effective_from"), F.col("effective_to")) & (
        F.col("deleted_flg") == 0
    )


def scd2_current(
    hist: DataFrame, processing_ts: dt.datetime | Column
) -> DataFrame:
    """The as-of view (main.py:56-67): open at ``processing_ts`` and not
    deleted. ``sysdate`` is parameterized per SURVEY.md §3.4."""
    ts = (
        F.lit(processing_ts).cast("timestamp")
        if isinstance(processing_ts, dt.datetime)
        else processing_ts
    )
    return hist.filter(_is_current(ts))


def scd2_apply(
    hist: DataFrame,
    stg: DataFrame,
    key: str,
    attrs: list[str],
    processing_ts: dt.datetime,
) -> DataFrame:
    """Apply one snapshot to an SCD2 history; returns the NEXT history.

    Reproduces main.py:72-188 without UPDATE. Per key, against the
    CURRENT versions (open at ``processing_ts``, not deleted):

    - new: a staged row whose key has no current version (main.py:74-85);
    - changed: a staged row whose key has a current version with any
      differing attribute — once per such version (main.py:110-124).
      Deliberately ``!=``, not ``<=>``: a NULL on either side is not a
      change, the reference's 3-valued logic (SURVEY.md §2.4 F5);
    - deleted: a current version whose key is not staged (main.py:92-103).

    Then:

    1. close-out: open versions (effective_to = the 2999 sentinel) of the
       changed, deleted and reborn keys (below) get effective_to =
       processing_ts - 1s (the reference's ``sysdate - 1/24/60/60``,
       main.py:131-142);
    2. append new rows and new versions of changed rows with defaults
       (deleted_flg=0, effective_from=processing_ts, effective_to=max —
       main.py:143-170 + DDL defaults main.py:48-50);
    3. append open tombstones for deleted keys (deleted_flg=1,
       main.py:171-186).

    Keys compare with SQL ``=``, so a NULL key matches nothing: a staged
    NULL-key row is always new, and a current NULL-key version always
    gets a tombstone and is never closed. Duplicate staged rows of a new
    key are each appended. Replaying an identical snapshot at a later ts
    is a no-op; a changed snapshot replayed at the ts that opened the
    versions it closes writes inverted intervals (pipeline.load_terminals
    refuses that write).

    The result is a full replacement of the history table — the caller
    writes it via an atomic swap (the table can't be overwritten while
    being read, SURVEY.md §4.3.1).

    Plan: one union of history and staged rows, one hash Exchange on
    ``key``, one window per key, one generator — no join, so nothing
    else to shuffle or broadcast.

    Canonical deviation (found by the property suite, documented per
    SURVEY.md §7.4): when a previously-deleted key REAPPEARS in a
    snapshot, its open tombstone is closed alongside the new version.
    The reference would leave the tombstone's effective_to at the 2999
    sentinel forever (its close-out UPDATEs only target changed/deleted
    keys, main.py:131-142) — harmless for its data (no re-adds ever
    occur) but it breaks the one-open-version-per-key invariant.
    """
    cols = [key, *attrs]
    ts = F.lit(processing_ts).cast("timestamp")
    closed_ts = F.lit(processing_ts - dt.timedelta(seconds=1)).cast("timestamp")
    max_ts = max_ts_lit()

    rows = hist.select(
        *cols,
        "deleted_flg",
        "effective_from",
        "effective_to",
        F.lit(False).alias("_staged"),
    ).unionByName(
        stg.select(
            *cols,
            F.lit(None).cast("int").alias("deleted_flg"),
            F.lit(None).cast("timestamp").alias("effective_from"),
            F.lit(None).cast("timestamp").alias("effective_to"),
            F.lit(True).alias("_staged"),
        )
    )
    flg_type = rows.schema["deleted_flg"].dataType
    staged = F.col("_staged")
    keyed = F.col(key).isNotNull()
    is_open = F.col("effective_to") == max_ts
    is_current = F.coalesce(~staged & _is_current(ts), F.lit(False))

    def differs(s, c) -> Column:
        # some attribute differs under SQL `!=` (a NULL side is no change)
        return F.coalesce(
            reduce(lambda x, y: x | y, [s[a] != c[a] for a in attrs]),
            F.lit(False),
        )

    # one window per key: the key's current versions, its staged rows,
    # and whether it has an open tombstone (rows of a NULL key share a
    # window but match nothing, so their window values go unused)
    w = Window.partitionBy(key)
    attr_struct = F.struct(*attrs)
    rows = rows.select(
        "*",
        F.collect_list(F.when(is_current, attr_struct)).over(w).alias("_cur"),
        F.collect_list(F.when(staged, attr_struct)).over(w).alias("_stg"),
        F.bool_or(~staged & is_open & (F.col("deleted_flg") == 1))
        .over(w)
        .alias("_tomb"),
    )
    n_cur = F.size("_cur")
    n_stg = F.size("_stg")
    # the key's open versions close when it changed, was deleted, or is
    # reborn (new, with an open tombstone)
    rows = rows.withColumn(
        "_close",
        keyed
        & (
            F.exists("_stg", lambda s: F.exists("_cur", lambda c: differs(s, c)))
            | ((n_stg == 0) & (n_cur > 0))
            | ((n_cur == 0) & (n_stg > 0) & F.coalesce(F.col("_tomb"), F.lit(False)))
        ),
    )
    to_close = F.col("_close")

    def version(flg: int) -> Column:
        return F.struct(
            *cols,
            F.lit(flg).cast(flg_type).alias("deleted_flg"),
            ts.alias("effective_from"),
            max_ts.alias("effective_to"),
        )

    kept = F.struct(
        *cols,
        "deleted_flg",
        "effective_from",
        F.when(to_close & is_open, closed_ts)
        .otherwise(F.col("effective_to"))
        .alias("effective_to"),
    )
    tombstone = F.when(is_current & (~keyed | (n_stg == 0)), version(1))
    copies = F.when(~keyed | (n_cur == 0), 1).otherwise(
        F.size(F.filter("_cur", lambda c: differs(attr_struct, c)))
    )
    out = F.when(staged, F.array_repeat(version(0), copies)).otherwise(
        F.filter(F.array(kept, tombstone), lambda v: v.isNotNull())
    )
    return rows.select(F.inline(out)).select(hist.columns)


def scd1_append(
    fact: DataFrame, stg: DataFrame, key: str, attrs: list[str]
) -> DataFrame:
    """The blacklist "upsert" (S3) — returns rows to APPEND to the fact.

    Faithful to main.py:240-296 in its append-only shape: new rows
    (anti on key) plus *changed* rows appended WITHOUT removing the old
    version — README calls it SCD1 but the implementation is
    append-only, so a changed key ends up duplicated. The canonical
    keep-latest variant is :func:`scd1_latest`.

    One deliberate hardening over the literal reference (round-3 review
    finding): "changed" means the staged content exists for the key but
    matches NO fact row exactly (null-safe on every attr). The
    reference's literal inner-join-where-neq emits a staged row once
    per DIFFERING OLD VERSION — so after a key's first change, its
    UNCHANGED row re-appends on every subsequent run and the fact grows
    without bound (it also breaks scd1_latest's no-repeated-(key,order)
    precondition). On data the reference ever sees (versions are never
    revisited) the two definitions produce identical appends.
    """
    cols = [key, *attrs]
    stg = stg.select(*cols).alias("stg")
    fct = fact.select(*cols).alias("fct")
    new = stg.join(fct, on=key, how="left_anti")
    exact = F.col(f"stg.{key}") == F.col(f"fct.{key}")
    for a in attrs:
        exact = exact & F.col(f"stg.{a}").eqNullSafe(F.col(f"fct.{a}"))
    changed = (
        stg.join(fct, on=key, how="left_semi")  # key already present...
        .alias("stg")
        .join(fct, exact, "left_anti")  # ...but this exact content is not
        .select(*cols)
    )
    return new.unionByName(changed)


def scd1_latest(fact: DataFrame, key: str, order_col: str) -> DataFrame:
    """Canonical keep-latest view over the append-only SCD1 fact: one row
    per key, the one with the greatest ``order_col`` (deterministic
    because appends never repeat (key, order_col) pairs in this
    pipeline)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.col(order_col).desc())
    return (
        fact.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
