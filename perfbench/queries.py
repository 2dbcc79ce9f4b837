"""warehouse_queries: a seeded sequence of the registry's relational
queries over a generated star schema, each materialized with a noop
write. Many short, read-only operations: the fixed per-query cost
(plan build, job launch) dominates here.

Output checks: the untimed warm-up pass collects every query's result
and compares it with its DuckDB ``ORACLE`` result, canonicalized as
``tests/diffcheck.py`` does. Each timed execution counts its own output
rows (``DataFrame.observe`` on the noop write) and fails when that count
differs from the oracle's, or when the query's warm-up result did not
match. The DuckDB side is computed before the session starts.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ProcessPoolExecutor

from . import gen
from .harness import Ops, Tracer, nproc, wrapped

#: generated table sizes (gen.write_tables; 0.1 = the sf0.1 shape).
#: The tables are 1/16 of sf0.1, small enough that the fixed per-query
#: cost dominates; lineitem is 3/10 of it (180k rows, 2.8 MB), past the
#: 4-CPU floor of the session's width ratchet (512 KiB per partition)
SCALE = 0.00625
LINEITEM_SCALE = 0.03


def relational_queries() -> list[str]:
    """The registry minus the LLM-data half (plans/llm_queries)."""
    from etl_sber_spark.plans.queries import ORACLE, QUERIES

    return sorted(
        n
        for n, fn in QUERIES.items()
        if fn.__module__.endswith("plans.queries") and n in ORACLE
    )


def canonical(cols: list[str], rows: list[tuple]) -> tuple:
    from tests.diffcheck import canonical_rows

    return tuple(sorted(cols)), canonical_rows(cols, rows)


def oracle_answer(data: str, name: str) -> tuple:
    """The query's ``ORACLE`` SQL run by DuckDB over ``data``, canonical."""
    from etl_sber_spark.plans.queries import ORACLE
    from tests.diffcheck import duck_connect

    con = duck_connect(data)
    try:
        pdf = con.execute(ORACLE[name]).df()
    finally:
        con.close()
    rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
    return canonical(list(pdf.columns), rows)


class QueriesWorkload:
    #: op kind behind op_geomean_s, and the rate behind items_per_s
    PRIMARY = "query"
    ITEMS = "queries_per_s"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.rng = random.Random(seed)
        self.data = os.path.join(work, "tables")
        self.names: list[str] = []
        self.expected: dict[str, tuple] = {}
        self.verdict: dict[str, bool] = {}
        self.items = 0
        #: seconds of setup spent on output checks, not on the engine
        self.excluded = 0.0

    def prepare(self) -> None:
        """Generate the tables and the DuckDB answers (no Spark; one
        process per CPU, as canonicalizing the rows is Python work)."""
        gen.write_tables(self.seed, self.data, SCALE, LINEITEM_SCALE)
        self.names = relational_queries()
        with ProcessPoolExecutor(nproc()) as pool:
            answers = pool.map(oracle_answer, [self.data] * len(self.names), self.names)
            self.expected = dict(zip(self.names, answers))

    def _run_query(self, spark, tr: Tracer, name: str, collect: bool = False):
        """Build the query, then materialize it: a collect whose
        (columns, rows) are returned for checking, or a noop write whose
        observed row count is returned as an ``Observation``."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from etl_sber_spark.plans.queries import QUERIES

        with tr.span("queries.build"):
            df = QUERIES[name](spark, self.data)
        with tr.span("queries.exec"):
            if collect:
                return df.columns, [tuple(r) for r in df.collect()]
            seen = Observation()
            df.observe(seen, F.count(F.lit(1)).alias("rows")).write.format(
                "noop"
            ).mode("overwrite").save()
        return seen

    def setup(self, spark, tr: Tracer) -> None:
        """Untimed warm-up, one pass over every query, one at a time:
        compiles each query's plan and code, warms the JIT and lets the
        shuffle-width ratchet fire before timing. The pass collects each
        result and checks it against the oracle; the comparison is
        charged to ``excluded``."""
        for n in self.names:
            cols, rows = self._run_query(spark, tr, n, collect=True)
            t = time.perf_counter()
            self.check_result(n, cols, rows)
            self.excluded += time.perf_counter() - t

    def check_result(self, name: str, cols: list[str], rows: list[tuple]) -> bool:
        """Record whether a result matches the query's oracle answer;
        every timed run of a mismatching query then counts as failed."""
        self.verdict[name] = canonical(cols, rows) == self.expected[name]
        return self.verdict[name]

    def step(self, spark, tr: Tracer, ops: Ops) -> None:
        """One pass: every query once, in a seeded order. Runs time whole
        passes, so every seed times the same multiset of queries."""
        from etl_sber_spark.plans import queries as plans

        with wrapped(tr, [(plans, "load_table", "sources.tables", False)]):
            for name in self.rng.sample(self.names, len(self.names)):
                ok, seen = ops.run("query", self._run_query, spark, tr, name)
                if not ok:
                    continue
                self.items += 1
                want = len(self.expected[name][1])
                got = seen.get["rows"]
                tr.add("queries.rows_returned", got)
                ops.check(
                    self.verdict[name] and got == want,
                    f"{name}: {got} rows against the DuckDB oracle's {want}"
                    + ("" if self.verdict[name] else "; warm-up result differs"),
                )

    def rates(self, ops: Ops) -> dict:
        return {"queries_per_s": self.items / max(1e-9, sum(ops.times.get("query", [])))}

    def layer_metrics(self, tr: Tracer, spark_by_layer: dict, sql_by_layer: dict) -> dict:
        build = spark_by_layer.get("queries.build", {})
        out = {"queries.eager_jobs": (build.get("jobs", 0), "count")}
        scanned = 0.0
        for layer in ("queries.build", "queries.exec"):
            sql = sql_by_layer.get(layer, {})
            scanned += sql.get("rows_scanned", 0.0)
            for fam in ("scan", "agg", "join", "window", "band"):
                key = f"queries.{fam}_s"
                total = out.get(key, (0.0, "s"))[0] + sql.get(f"{fam}_s", 0.0)
                out[key] = (total, "s")
        out["spark.rows_scanned_per_row_returned"] = (
            scanned / max(1.0, tr.counts.get("queries.rows_returned", 0.0)), "ratio")
        return out

    def report(self) -> dict:
        return {
            "queries_checked": (len(self.verdict), "count"),
            "queries_matching_oracle": (sum(self.verdict.values()), "count"),
        }
