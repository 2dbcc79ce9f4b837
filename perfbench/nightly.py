"""nightly_batch: the night's batch work, night after night — the
bank inbox loaded by ``pipeline.run_day`` (etl.py), then the night's
document increment curated against the growing signature/band index and
served (corpus.py), then seeded ANN searches against the serving table.

The write path and the LLM-data layers share one workload because a
run's fixed cost (JVM start, JIT warm-up) is several times one op's:
one process that warms up once and times whole nights measures both in
the run length a separate workload each would spend on set-up.
"""

from __future__ import annotations

import os

from .corpus import CorpusWorkload
from .etl import EtlWorkload
from .harness import Ops, Tracer


class NightlyWorkload:
    #: op kind behind op_geomean_s, and the rate behind items_per_s
    PRIMARY = "night"
    ITEMS = "etl_rows_per_s"

    def __init__(self, seed: int, work: str):
        self.etl = EtlWorkload(seed, os.path.join(work, "etl"))
        self.corpus = CorpusWorkload(seed, os.path.join(work, "corpus"))

    @property
    def excluded(self) -> float:
        """Seconds of set-up spent writing inputs and on output checks."""
        return self.etl.excluded + self.corpus.excluded

    def prepare(self) -> None:
        self.etl.prepare()
        self.corpus.prepare()

    def setup(self, spark, tr: Tracer) -> None:
        """The bank dimensions and an untimed warm-up day, then the
        corpus prebuilds (IVF training, initial signature/band index and
        serving table) and an untimed search, one after the other in
        traced and untraced runs alike."""
        self.etl.setup(spark, tr)
        self.corpus.setup(spark, tr)

    def step(self, spark, tr: Tracer, ops: Ops) -> None:
        """One night: the day's load, the increment, the searches. The
        night's time is the sum of its timed ops (checks excluded)."""
        before = ops.timed
        self.etl.step(spark, tr, ops)
        self.corpus.step(spark, tr, ops)
        ops.times.setdefault("night", []).append(ops.timed - before)

    def rates(self, ops: Ops) -> dict:
        return {**self.etl.rates(ops), **self.corpus.rates(ops)}

    def report(self) -> dict:
        etl = {f"etl.{k}": v for k, v in self.etl.report().items()}
        corpus = {f"corpus.{k}": v for k, v in self.corpus.report().items()}
        return {**etl, **corpus}

    def layer_metrics(self, tr: Tracer, spark_by_layer: dict, sql_by_layer: dict) -> dict:
        return {
            **self.etl.layer_metrics(tr, spark_by_layer, sql_by_layer),
            **self.corpus.layer_metrics(tr, spark_by_layer, sql_by_layer),
        }
