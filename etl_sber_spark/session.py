"""SparkSession factory, and the one parquet-scan entry point
(:func:`read_parquet`) with the session's width ratchet and schema cache.

Defaults are sized for the local[32] test box but every knob is
environment-overridable so the same code runs on a real cluster:
on a 1000-executor deployment you would leave master/memory to
spark-submit and only keep the semantic configs (UTC session timezone,
AQE, Arrow) from here.
"""

from __future__ import annotations

import copy
import hashlib
import os
import stat
import threading
import weakref
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "etl_sber_spark",
    *,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    Semantics-relevant settings:
    - ``spark.sql.session.timeZone=UTC``: parquet/duckdb comparisons are
      timezone-naive; pinning UTC makes Spark timestamps bit-identical.
    - AQE on: runtime shuffle-partition coalescing, skew-join splitting,
      broadcast conversion — the scale path for every join/agg here.
    - Arrow on: vectorized createDataFrame / toPandas / pandas UDFs.
    """
    cpus = cpus or default_parallelism()
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    )
    builder = (
        SparkSession.builder.master(
            os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
        )
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # parquet writers downstream: stable timestamp physical type
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # scan granularity: size map tasks so a partition fits executor
        # memory at the target SF (SCALE.md); default 128m, env-tunable
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728"),
        )
        # AQE coalescing target: partitions aim at ~64 MB post-shuffle
        # (default stated for clarity; raise on a real cluster with
        # fast networks — guide §2.2's 100 MB-1 GB band)
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "64m"),
        )
        # the events table is written with nanosecond timestamps; read them
        # as long and convert to microsecond timestamps at scan (tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # Scale-adaptive shuffle sizing (r11, guide §2.2/§2.5): when the
    # expected shuffle volume dwarfs the core count, a per-core
    # shuffle.partitions default leaves every reducer with GBs of
    # state — the 1000× curate profile measured 3.7-7.5 GB of disk
    # spill PER JOIN STAGE at 32 partitions, with AQE's skew splitter
    # silent because uniformly-oversized partitions are not "skewed"
    # (max ≈ median). Setting AQE's initialPartitionNum high starts
    # every shuffle wide and lets coalescing shrink small ones back to
    # ~advisory size, so the SAME code serves both regimes: unset (the
    # default) keeps the bench's per-core layout; the scale tools set
    # it from their input size (tools/scale_smoke_corpus_e2e.py). On a
    # real cluster this is the standing recommendation over a global
    # shuffle.partitions constant.
    init_parts = os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS")
    if init_parts:
        builder = builder.config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            init_parts,
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Input bytes per INITIAL post-shuffle partition for the width ratchet
#: below. Calibrated from the r11 1000×/100× curate profile: ~59 MB of
#: compressed crawl_pages parquet expanded to 2.4-7.4 GB of join-stage
#: shuffle (the shingle/verify explode multiplies scan bytes 40-125×),
#: so one initial partition per ~0.5 MB of input keeps the WORST stage
#: near the 64 MB advisory target. Oversizing is self-correcting — AQE
#: coalescing shrinks every smaller shuffle back to ~advisory size —
#: while undersizing is the measured failure mode (uniformly-oversized
#: reducers spill GBs per stage and the skew splitter stays silent
#: because max ≈ median is not "skew").
WIDEN_BYTES_PER_PARTITION = 512 * 1024

#: Upper bound on the ratcheted width: past this, shuffle block count
#: (M×R, guide §2.2) costs more than residual spill on this class of
#: input; a real cluster deployment sizes via spark-submit conf instead.
WIDEN_CAP = 2048

_WIDEN_CONF = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


def derived_width(input_bytes: int) -> int:
    """AQE initial-partition width for ``input_bytes`` of compressed
    corpus input (0 = leave the session default)."""
    return min(WIDEN_CAP, int(input_bytes) // WIDEN_BYTES_PER_PARTITION)


def input_files(path: str) -> tuple[int, tuple[tuple[str, int, int], ...]]:
    """One walk of a local scan input: ``(total bytes, identity)``.

    The identity is the sorted ``(relative name, size, st_mtime_ns)`` of
    every file under ``path`` (``""`` names a single-file input). Any
    append, rewrite, deletion or versioned swap below ``path`` changes
    it, which is what lets :func:`read_parquet` reuse an inferred
    schema. ``(0, ())`` when unreadable or not a local path (the ratchet
    then stays silent and the scan infers as usual)."""
    try:
        st = os.stat(path)
    except OSError:
        return 0, ()
    if not stat.S_ISDIR(st.st_mode):
        return st.st_size, (("", st.st_size, st.st_mtime_ns),)
    files = []
    for root, _dirs, names in os.walk(path):
        for n in names:
            full = os.path.join(root, n)
            try:
                st = os.stat(full)
            except OSError:
                continue  # removed mid-walk
            files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    files.sort()
    return sum(f[1] for f in files), tuple(files)


def maybe_widen_partitions(spark: SparkSession, input_bytes: int) -> int:
    """Scale-adaptive shuffle-width RATCHET (r12, VERDICT r11 #6 —
    guide §2.2 "derive the width from input size, not a constant").

    Called by :func:`read_parquet` — the table-scan entry point of
    sources/tables.load_table and sinks/warehouse.Warehouse.read — with
    the scanned input's on-disk bytes: when the input is large enough
    that downstream shuffles would leave every reducer with GBs of state
    at the session's per-core default width, raise AQE's
    ``initialPartitionNum`` so shuffles START wide and coalescing
    shrinks the small ones back (start-wide-coalesce-back, the r11
    session knob — now self-sizing). Only ever RAISES the width, never
    lowers it, and defers entirely when the operator-level
    ``SPARK_GRAFT_INITIAL_PARTITIONS`` env var pins an explicit width.

    It fires whenever the derived width exceeds the session's floor —
    the largest of ``defaultParallelism``, ``spark.sql.shuffle.partitions``
    and any width already set — so it is NOT a no-op under the benches:
    sf0.1 ``lineitem`` (~11 MB) derives 20, which widens a 4- or 8-core
    session and leaves a 32-core one alone.
    Returns the width set, or 0 when nothing changed.
    """
    if os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS"):
        return 0  # explicit sizing wins
    width = derived_width(input_bytes)
    if width <= 0 or width <= shuffle_width(spark):
        return 0
    spark.conf.set(_WIDEN_CONF, str(width))
    return width


def shuffle_width(spark: SparkSession) -> int:
    """The width the session's shuffles start at: the largest of
    ``defaultParallelism``, ``spark.sql.shuffle.partitions`` and AQE's
    ``initialPartitionNum`` (which :func:`maybe_widen_partitions`
    raises from input bytes). The ratchet's floor, and the bucket count
    of layouts sized to the session (operators/incremental.py)."""

    def _int_conf(key: str) -> int:
        # no fallback arg: RuntimeConfig.get VALIDATES a fallback string
        # against the conf's requirement (initialPartitionNum must be
        # positive, so a "0" sentinel throws INVALID_CONF_VALUE)
        try:
            return int(spark.conf.get(key))
        except Exception:
            return 0

    return max(
        spark.sparkContext.defaultParallelism,
        _int_conf("spark.sql.shuffle.partitions"),
        _int_conf(_WIDEN_CONF),
    )


#: Inferred scan schemas kept per session (LRU): far above the distinct
#: (table, version) inputs one session scans between rewrites, while an
#: entry is a schema plus a fixed-size key.
SCHEMA_CACHE_SIZE = 256

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


class _SchemaCache:
    """Bounded LRU of inferred parquet schemas for one session."""

    def __init__(self, size: int = SCHEMA_CACHE_SIZE):
        self.size = size
        self._lock = threading.Lock()  # py4j callback threads scan too
        self._entries: OrderedDict[tuple, T.StructType] = OrderedDict()

    def get(self, key: tuple) -> T.StructType | None:
        with self._lock:
            schema = self._entries.get(key)
            if schema is not None:
                self._entries.move_to_end(key)
            return schema

    def put(self, key: tuple, schema: T.StructType) -> None:
        with self._lock:
            self._entries[key] = schema
            self._entries.move_to_end(key)
            while len(self._entries) > self.size:
                self._entries.popitem(last=False)


_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SCHEMAS_LOCK = threading.Lock()


def _schema_cache(spark: SparkSession) -> _SchemaCache:
    """The session's cache, created on first use and dropped with it."""
    with _SCHEMAS_LOCK:
        cache = _SCHEMAS.get(spark)
        if cache is None:
            cache = _SCHEMAS[spark] = _SchemaCache()
        return cache


def read_parquet(
    spark: SparkSession, path: str, *, merge_schema: bool = False
) -> DataFrame:
    """The one parquet-scan entry point (load_table, Warehouse.read).

    One walk of ``path`` (:func:`input_files`) feeds both the width
    ratchet (:func:`maybe_widen_partitions`) and a per-session schema
    cache. Inferring a schema reads footers in a Spark job (~0.1 s per
    scan on 4 cores); a cache hit passes the schema to the reader and
    starts no job. The key is (path, file identity, ``merge_schema``,
    the session's ``nanosAsLong`` value), so an append, a rewrite with
    other columns or a versioned CURRENT swap changes the key and is
    re-inferred exactly as an uncached read would be. A failed
    inference stores nothing, so a table with no data files still
    raises UNABLE_TO_INFER_SCHEMA on every read; an empty identity
    (nothing there, or not a local path) bypasses the cache.
    """
    input_bytes, identity = input_files(path)
    maybe_widen_partitions(spark, input_bytes)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    if not identity:
        return reader.parquet(path)
    # the identity as a digest: a table of many files would otherwise
    # keep its whole listing alive in every entry
    digest = hashlib.sha256(repr(identity).encode()).digest()
    key = (path, digest, merge_schema, spark.conf.get(_NANOS_CONF, None))
    cache = _schema_cache(spark)
    schema = cache.get(key)
    if schema is not None:
        return reader.schema(schema).parquet(path)
    df = reader.parquet(path)
    # a copy: the frame's own schema goes to the caller, and
    # StructType.add mutates in place
    cache.put(key, copy.deepcopy(df.schema))
    return df
