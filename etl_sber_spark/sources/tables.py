"""Parquet table catalog for the driver-generated test data.

Maps to reference SRC6 (table scans — every ``FROM s_20_*`` /
``bank.*`` site, e.g. /root/reference/main.py:410-416): in the rebuild a
"table" is a parquet directory/file; Catalyst gives predicate pushdown,
column pruning and partition pruning on these scans for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import read_parquet

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one parquet table, normalizing physical-type quirks.

    The driver has shipped two physical encodings of timestamps across
    rounds, so the scan tolerates both:

    - INT64(TIMESTAMP(NANOS)), which Spark's reader rejects by default;
      sessions from session.py set ``spark.sql.legacy.parquet.nanosAsLong``
      up front, but the driver brings its own session — set the flag here
      only if it isn't already (no redundant mutation of shared session
      state on every call).
    - TIMESTAMP(MICROS) with isAdjustedToUTC=false, which Spark 4 infers
      as TIMESTAMP_NTZ. The whole engine (SCD sentinels, to_timestamp
      results, band-join unix_micros keys) speaks TIMESTAMP, and mixing
      the two types fails analysis (unions, comparisons), so NTZ columns
      are cast to TIMESTAMP at the scan. Under the UTC session timezone
      (session.py) the cast is wall-clock- and epoch-identity.

    Both conversions are codegen'd projections: no UDF, no driver
    round-trip, so they cost nothing at 100 TB scan scale.

    The scan goes through ``session.read_parquet``: the first scan of a
    table in a session infers its schema from the parquet footers (one
    Spark job); later scans of the unchanged files take the schema from
    the session's cache and start no job. The inferred schema depends on
    the ``nanosAsLong`` flag set above, which is part of the cache key.
    That call also applies the session's shuffle-width ratchet.
    """
    _FLAG = "spark.sql.legacy.parquet.nanosAsLong"
    if spark.conf.get(_FLAG, None) != "true":
        spark.conf.set(_FLAG, "true")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # integer division: epoch-nanos overflow double's mantissa, so
        # `/ 1000` would round the microseconds up
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
    ]
    if ntz:
        df = df.withColumns(
            {c: F.col(c).cast(T.TimestampType()) for c in ntz}
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TABLE_NAMES}


def register_views(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TABLE_NAMES,
) -> dict[str, DataFrame]:
    """Register tables as temp views (mirrors the DuckDB oracle's
    pre-registered views) so plans can be written in Spark SQL too.

    ``names`` restricts registration to the tables a query actually
    reads. Footer inference runs only on a table's first scan in a
    session (later scans reuse the cached schema), but every
    registration still lists the table's files, analyzes its scan and
    replaces a catalog entry, so tables a query never reads are not
    registered."""
    dfs = {n: load_table(spark, sf_dir, n) for n in names}
    for n, df in dfs.items():
        df.createOrReplaceTempView(n)
    return dfs
