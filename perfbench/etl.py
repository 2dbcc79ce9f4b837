"""The nightly load half of nightly_batch: day after day of
``pipeline.run_day`` over a generated inbox — the write path (CSV and
xlsx ingest, SCD2/SCD1 loads, warehouse appends, the fraud mart with its
band-join rule). The warehouse grows each day, so a cost that scales
with history shows in later days.

Output checks, after each day and outside the timed region:

- the day's fact partition holds exactly the generated transactions
  (row count, distinct ids, amount total);
- the terminal SCD2 history has exactly one open version per terminal,
  matching the day's snapshot, and no inverted interval;
- the day's mart equals a DuckDB replay of the three rules over the
  generated inputs (perfbench/oracle.py).
"""

from __future__ import annotations

import datetime as dt
import os
import time
from decimal import Decimal

from . import gen, oracle
from .harness import Ops, Tracer, wrapped

#: transactions per day: the reference's daily volume
TX_PER_DAY = gen.TX_PER_DAY_REF
#: days a run may process (the inbox is generated day by day)
MAX_DAYS = 200
PROCESS_TIME = dt.time(23, 50)


def check_mart(ops: Ops, day, got: list[tuple], want: list[tuple]) -> bool:
    """The day's mart (canonical rows) against the DuckDB replay."""
    return ops.check(
        got == want,
        f"{day}: mart has {len(got)} rows, DuckDB replay {len(want)}; "
        f"first difference {next((p for p in zip(got, want) if p[0] != p[1]), None)}",
    )


class EtlWorkload:
    """The bank inbox, loaded day by day with ``pipeline.run_day``."""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.inputs = gen.EtlInbox(seed, TX_PER_DAY)
        self.bank_rows = self.inputs.bank_rows()
        self.wh_root = os.path.join(work, "warehouse")
        self.items = 0
        self.excluded = 0.0
        self.inbox_bytes = 0
        self.mart_rows = 0
        self.scd_opened = 0
        self.scd_closed = 0
        self.day = 0

    def prepare(self) -> None:
        """Inputs are written day by day inside the loop (untimed)."""

    def setup(self, spark, tr: Tracer) -> None:
        """Load the bank dimensions and run day 1 untimed: the warm-up
        that settles JIT and codegen. Timed days start at day 2."""
        from etl_sber_spark import schemas

        clients, accounts, cards = self.bank_rows
        self.bank = {
            "clients": spark.createDataFrame(clients, schemas.CLIENTS).localCheckpoint(),
            "accounts": spark.createDataFrame(accounts, schemas.ACCOUNTS).localCheckpoint(),
            "cards": spark.createDataFrame(cards, schemas.CARDS).localCheckpoint(),
        }
        inbox, truth = self._next_day()
        self._run_day(spark, tr, inbox, dt.datetime.combine(truth["date"], PROCESS_TIME))

    def _next_day(self) -> tuple[str, dict]:
        t = time.perf_counter()
        self.day += 1
        inbox = os.path.join(self.work, f"inbox_{self.day:03d}")
        truth = self.inputs.write_day(self.day, inbox)
        self.inbox_bytes += gen.tree_bytes(inbox)
        self.excluded += time.perf_counter() - t
        return inbox, truth

    def _run_day(self, spark, tr: Tracer, inbox: str, ts: dt.datetime):
        from etl_sber_spark import pipeline
        from etl_sber_spark.plans import fraud
        from etl_sber_spark.sinks.warehouse import Warehouse
        from etl_sber_spark.sources import io as src

        targets = [
            (src, "read_transactions_csv", "sources.read_tx", True),
            (src, "read_terminals_xlsx", "sources.read_xlsx", True),
            (src, "read_blacklist_xlsx", "sources.read_xlsx", True),
            (pipeline, "scd2_apply", "scd.scd2_apply", True),
            (pipeline, "scd1_append", "scd.scd1_append", True),
            (Warehouse, "append", "warehouse.write", False),
            (Warehouse, "overwrite_versioned", "warehouse.write", False),
            (pipeline, "data_view", "fraud.view", True),
            (fraud, "rule_blacklisted_passport", "fraud.rule1", True),
            (fraud, "rule_invalid_contract", "fraud.rule2", True),
            (fraud, "rule_city_hopping", "fraud.rule3", True),
        ]
        with wrapped(tr, targets), tr.span("pipeline.run_day"):
            return pipeline.run_day(
                spark, inbox, self.wh_root, self.bank, ts, archive=False
            ).collect()

    def step(self, spark, tr: Tracer, ops: Ops) -> None:
        """One timed day, then its output checks."""
        if self.day >= MAX_DAYS:
            raise RuntimeError(f"the inbox holds at most {MAX_DAYS} days")
        inbox, truth = self._next_day()
        ts = dt.datetime.combine(truth["date"], PROCESS_TIME)
        ok, mart = ops.run("etl_day", self._run_day, spark, tr, inbox, ts)
        if not ok:
            return
        self.items += len(truth["tx"])
        self.mart_rows += len(mart)
        self._check(spark, ops, truth, ts, mart)

    def rates(self, ops: Ops) -> dict:
        return {"etl_rows_per_s": self.items / max(1e-9, sum(ops.times.get("etl_day", [])))}

    def _check(self, spark, ops: Ops, truth: dict, ts: dt.datetime, mart) -> None:
        from pyspark.sql import functions as F

        from etl_sber_spark import pipeline
        from etl_sber_spark.sinks.warehouse import Warehouse

        wh = Warehouse(spark, self.wh_root)
        day = truth["date"]
        fact = (
            wh.read(pipeline.T_FACT)
            .filter(F.col("load_date") == F.lit(day))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("trans_id").alias("ids"),
                F.sum("amt").alias("amt"),
            )
            .collect()[0]
        )
        n = len(truth["tx"])
        cents = sum(t[2] for t in truth["tx"])
        ops.check(
            (fact["n"], fact["ids"], fact["amt"]) == (n, n, Decimal(cents) / 100),
            f"{day}: fact partition {tuple(fact)} != generated ({n}, {n}, {cents / 100})",
        )
        hist = wh.read(pipeline.T_HIST)
        closed_ts = ts - dt.timedelta(seconds=1)
        stats = hist.agg(
            F.sum((F.col("effective_to") < F.col("effective_from")).cast("int")).alias("inv"),
            F.sum((F.col("effective_from") == F.lit(ts)).cast("int")).alias("opened"),
            F.sum((F.col("effective_to") == F.lit(closed_ts)).cast("int")).alias("closed"),
        ).collect()[0]
        self.scd_opened += stats["opened"] or 0
        self.scd_closed += stats["closed"] or 0
        rows = hist.filter(F.col("effective_to") > F.lit(ts)).collect()
        open_rows = {
            r["terminal_id"]: [r["terminal_type"], r["terminal_city"], r["terminal_address"]]
            for r in rows
        }
        n_open = len(rows)
        ops.check(
            not stats["inv"] and n_open == len(open_rows) and open_rows == truth["terminals"],
            f"{day}: SCD2 history broken (inverted={stats['inv']}, open rows "
            f"{n_open}, terminals {len(open_rows)} vs {len(truth['terminals'])})",
        )
        t = time.perf_counter()
        want = oracle.fraud_mart(self.bank_rows, truth, self.inputs.card_num)
        self.excluded += time.perf_counter() - t
        check_mart(ops, day, oracle.mart_rows(mart), want)

    def report(self) -> dict:
        return {
            "days": (self.day, "count"),
            "tx_per_day": (TX_PER_DAY, "count"),
            "stored_bytes_per_input_byte": (
                gen.tree_bytes(self.wh_root) / max(1, self.inbox_bytes), "ratio"),
            "mart_rows": (self.mart_rows, "count"),
        }

    def layer_metrics(self, tr: Tracer, spark_by_layer: dict, sql_by_layer: dict) -> dict:
        return {
            "scd.versions_opened": (self.scd_opened, "count"),
            "scd.versions_closed": (self.scd_closed, "count"),
            "warehouse.bytes_written": (gen.tree_bytes(self.wh_root), "bytes"),
            "warehouse.files_written": (gen.tree_files(self.wh_root), "count"),
            "fraud.mart_rows": (self.mart_rows, "count"),
        }
