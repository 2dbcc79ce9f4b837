"""The curation half of nightly_batch: JSONL increments curated
against a persisted signature/band index, keepers appended to the index
and assigned to IVF lists in the serving table, with seeded ANN
searches after each increment. Reads beside writes on one growing index; the
duplicate share sets how much LSH work gets confirmed.

Output checks, outside the timed regions:

- every planted exact copy is dropped and no original is dropped;
- exactly the planted malformed lines are quarantined;
- the first search after each increment agrees with brute force on its
  top-1 similarity (recall@k is recorded as a per-layer metric).
"""

from __future__ import annotations

import os
import time

from . import gen
from .harness import Ops, Tracer, wrapped

BASE_DOCS = 1000
BATCH_DOCS = 300
SEARCHES_PER_BATCH = 2
N_LISTS = 16
N_PROBE = 2
TOP_K = 10
MAX_BATCHES = 200

SIG_TABLE = "sig_index"
SERVING_TABLE = "ann_serving"


class _Index:
    """One curated corpus: signature index (path table), its bucketed
    band layout (catalog table), IVF centroids and the serving table."""

    def __init__(self, spark, root: str, band_table: str):
        from etl_sber_spark.sinks.warehouse import Warehouse

        self.spark = spark
        self.wh = Warehouse(spark, root)
        self.band_table = band_table

    def build(self, tr: Tracer, docs_path: str, vecs_path: str) -> None:
        from etl_sber_spark.operators import annindex, incremental
        from etl_sber_spark.operators.dedup import minhash_signatures
        from etl_sber_spark.operators.similarity import _centroid_rows

        spark = self.spark
        vecs = spark.read.parquet(vecs_path)
        with tr.span("annindex.train"):
            cents = tr.materialize(annindex.train_ivf_index(vecs, N_LISTS, 3))
            annindex.save_ivf_index(self.wh, cents)
        self.cents = annindex.load_ivf_index(self.wh).localCheckpoint()
        self.cent_rows = _centroid_rows(self.cents)
        with tr.span("dedup.minhash"):
            sigs = minhash_signatures(spark.read.parquet(docs_path))
            self.wh.append(sigs, SIG_TABLE)
        with tr.span("incremental.band_index"):
            incremental.save_band_index(
                self.wh, self.wh.read(SIG_TABLE), name=self.band_table
            )
        with tr.span("annindex.assign"):
            self.wh.append(
                annindex.materialize_ivf_assignments(
                    vecs, self.cents, cent_rows=self.cent_rows
                ),
                SERVING_TABLE,
            )

    def curate(self, tr: Tracer, batch: dict):
        """One increment; returns ({doc_id: drop_reason}, quarantined)."""
        from pyspark.sql import functions as F

        from etl_sber_spark.operators import annindex, incremental
        from etl_sber_spark.sinks.warehouse import Warehouse
        from etl_sber_spark.sources.corpus import read_documents_jsonl

        spark = self.spark
        targets = [
            (incremental, "minhash_signatures", "dedup.minhash", True, None),
            (incremental, "near_dup_vs_index", "incremental.index_check", True,
             _count),
            (incremental, "lsh_candidate_pairs", "dedup.lsh", True, _count),
            (incremental, "ngram_jaccard", "dedup.verify", True, _confirmed),
            (Warehouse, "append", "warehouse.write", False, None),
            (Warehouse, "append_bucketed", "warehouse.write", False, None),
        ]
        with wrapped(tr, targets):
            with tr.span("corpus.read"):
                good, bad = read_documents_jsonl(spark, batch["jsonl"])
                good = tr.materialize(good)
                quarantined = bad.count()
            with tr.span("incremental.curate"):
                annotated, keepers = incremental.curate_increment(
                    good,
                    self.wh.read(SIG_TABLE),
                    index_bands=spark.table(self.band_table),
                )
                annotated = annotated.localCheckpoint()
                keepers = tr.materialize(keepers)
            reasons = {
                r["doc_id"]: r["drop_reason"]
                for r in annotated.select("doc_id", "drop_reason").collect()
            }
            self.wh.append(keepers, SIG_TABLE)
            incremental.append_band_index(self.wh, keepers, name=self.band_table)
            kept = keepers.select(F.col("doc_id").alias("vec_id"))
            emb = spark.read.parquet(batch["embeddings"]).join(kept, "vec_id")
            with tr.span("annindex.assign"):
                served = tr.materialize(
                    annindex.materialize_ivf_assignments(
                        emb, self.cents, cent_rows=self.cent_rows
                    )
                )
                self.wh.append(served, SERVING_TABLE)
        return reasons, quarantined

    def _query_frame(self, qid: int, vec):
        return self.spark.createDataFrame(
            [(qid, [float(x) for x in vec])], "vec_id long, embedding array<float>"
        )

    def search(self, tr: Tracer, qid: int, vec) -> list:
        from etl_sber_spark.operators.similarity import cosine_topk_ivf

        with tr.span("similarity.search"):
            return cosine_topk_ivf(
                self.wh.read(SERVING_TABLE),
                self._query_frame(qid, vec),
                k=TOP_K,
                n_probe=N_PROBE,
                centroids=self.cents,
                centroid_col="centroid_id",
            ).collect()

    def brute(self, qid: int, vec) -> list:
        from etl_sber_spark.operators.similarity import cosine_topk_bruteforce

        return cosine_topk_bruteforce(
            self.wh.read(SERVING_TABLE), self._query_frame(qid, vec), k=TOP_K
        ).collect()

    def rows_scored(self, qid: int, vec) -> int:
        """Candidates an IVF search scores: serving rows in the query's
        probed lists."""
        from pyspark.sql import functions as F

        from etl_sber_spark.operators.similarity import (
            nearest_centroids_expr,
            quantize_vec_sql,
        )

        lists = (
            self._query_frame(qid, vec)
            .select(
                nearest_centroids_expr(
                    quantize_vec_sql("embedding"), self.cent_rows, N_PROBE
                ).alias("l")
            )
            .collect()[0]["l"]
        )
        return (
            self.wh.read(SERVING_TABLE)
            .filter(F.col("centroid_id").isin(list(lists)))
            .count()
        )


def _count(df) -> int:
    return df.count()


def _confirmed(df) -> int:
    """Verified in-batch pairs at curate_increment's exact threshold."""
    from pyspark.sql import functions as F

    return df.filter(
        F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")) >= 0.8
    ).count()


class CorpusWorkload:
    """The document feed, curated and served increment by increment."""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.items = 0
        self.excluded = 0.0
        self.batch = 0
        self.quarantined = 0
        self.recalls: list[float] = []
        self.scored: list[int] = []
        self.input_bytes = 0

    def prepare(self) -> None:
        self.inputs = os.path.join(self.work, "inputs")
        self.feed = gen.CorpusFeed(self.seed, BASE_DOCS, BATCH_DOCS)
        self.base = self.feed.write_base(self.inputs)
        self.input_bytes = sum(os.path.getsize(p) for p in self.base)

    def setup(self, spark, tr: Tracer) -> None:
        """The engine prebuilds (IVF training, the initial signature and
        band index, the initial serving table) and one untimed search.
        There is no warm-up increment: in nightly_batch the warm-up day
        has already settled the JVM, and a second untimed op would cost
        as much as the timed one (see README.md)."""
        self.index = _Index(
            spark, os.path.join(self.work, "warehouse"), f"band_index_{id(self)}"
        )
        self.index.build(tr, *self.base)
        for qid, vec in self.feed.query_vectors(0, 1):
            self.index.search(tr, qid, vec)

    def _next_batch(self) -> dict:
        t = time.perf_counter()
        self.batch += 1
        truth = self.feed.write_batch(self.batch, self.inputs)
        self.input_bytes += os.path.getsize(truth["jsonl"]) + os.path.getsize(
            truth["embeddings"]
        )
        self.excluded += time.perf_counter() - t
        return truth

    def step(self, spark, tr: Tracer, ops: Ops) -> None:
        """One timed increment and the searches after it, then their
        output checks."""
        if self.batch >= MAX_BATCHES:
            raise RuntimeError(f"the feed holds at most {MAX_BATCHES} increments")
        truth = self._next_batch()
        ok, out = ops.run("curate_batch", self.index.curate, tr, truth)
        if ok:
            self.items += truth["n_docs"]
            self._check_batch(ops, truth, *out)
        for i, (qid, vec) in enumerate(self.feed.query_vectors(self.batch, SEARCHES_PER_BATCH)):
            ok, rows = ops.run("ann_search", self.index.search, tr, qid, vec)
            if ok and i == 0:
                self._check_search(ops, tr, qid, vec, rows)

    def rates(self, ops: Ops) -> dict:
        return {
            "curate_docs_per_s": self.items / max(1e-9, sum(ops.times.get("curate_batch", [])))
        }

    def _check_batch(self, ops: Ops, truth: dict, reasons: dict, quarantined: int) -> None:
        self.quarantined += quarantined
        dropped_copies = sum(reasons.get(c) is not None for c in truth["copies"])
        kept_originals = sum(
            o in reasons and reasons[o] is None for o in truth["originals"]
        )
        ops.check(
            dropped_copies == len(truth["copies"])
            and kept_originals == len(truth["originals"])
            and quarantined == truth["malformed"]
            and len(reasons) == truth["n_docs"],
            f"batch {self.batch}: copies dropped {dropped_copies}/{len(truth['copies'])}, "
            f"originals kept {kept_originals}/{len(truth['originals'])}, "
            f"quarantined {quarantined}/{truth['malformed']}, annotated {len(reasons)}",
        )

    def _check_search(self, ops: Ops, tr: Tracer, qid: int, vec, rows) -> None:
        brute = self.index.brute(qid, vec)
        top = lambda rs: max((r["sim"] for r in rs), default=None)  # noqa: E731
        ids = {r["vec_id"] for r in rows}
        self.recalls.append(len(ids & {r["vec_id"] for r in brute}) / TOP_K)
        if tr.enabled:
            self.scored.append(self.index.rows_scored(qid, vec))
        ops.check(
            rows and top(rows) == top(brute),
            f"search {qid}: IVF top-1 sim {top(rows)} != brute force {top(brute)}",
        )

    def report(self) -> dict:
        return {
            "batches": (self.batch, "count"),
            "docs_per_batch": (BATCH_DOCS, "count"),
            "stored_bytes_per_input_byte": (
                gen.tree_bytes(self.index.wh.root) / max(1, self.input_bytes), "ratio"),
            "quarantined_rows": (self.quarantined, "count"),
            "recall_at_k": (sum(self.recalls) / max(1, len(self.recalls)), "ratio"),
        }

    def layer_metrics(self, tr: Tracer, spark_by_layer: dict, sql_by_layer: dict) -> dict:
        cand = tr.counts.get("dedup.lsh", 0.0)
        conf = tr.counts.get("dedup.verify", 0.0)
        serving = os.path.join(self.index.wh.root, SERVING_TABLE)
        return {
            "corpus.quarantined_rows": (self.quarantined, "count"),
            "dedup.lsh_candidates": (cand, "count"),
            "dedup.confirmed_pairs": (conf, "count"),
            "dedup.pair_precision": (conf / cand if cand else 0.0, "ratio"),
            "incremental.index_pairs": (
                tr.counts.get("incremental.index_check", 0.0), "count"),
            "incremental.index_rows": (self.index.wh.read(SIG_TABLE).count(), "count"),
            "annindex.bytes_written": (gen.tree_bytes(serving), "bytes"),
            "similarity.rows_scored_per_query": (
                sum(self.scored) / max(1, len(self.scored)), "rows"),
            "similarity.recall_at_k": (
                sum(self.recalls) / max(1, len(self.recalls)), "ratio"),
        }
