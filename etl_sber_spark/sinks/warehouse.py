"""Path-based parquet warehouse (SURVEY.md §2.2 SNK1-SNK6, §4.3.1/.3).

A "table" is a directory of parquet files under a warehouse root — the
same model as a production data lake, minus a metastore. Three write
modes cover every sink the reference uses:

- ``append``   — fact loads (INSERT INTO … SELECT, main.py:358-377) and
  mart appends (main.py:448-529); optionally partitioned (fact by
  ``load_date``, mart by ``report_dt`` — static partition pruning for
  the daily filters at 100 TB, SURVEY.md §4.3.3);
- ``overwrite_versioned`` — the SCD2 history rewrite. Spark cannot
  overwrite a table it is currently reading (AnalysisException), and a
  plain directory overwrite is not atomic; we write ``v_<n+1>/`` next to
  ``v_<n>/`` and flip a one-line ``CURRENT`` pointer with os.replace
  (atomic on POSIX). Readers that resolved the pointer before the flip
  keep a consistent old version — snapshot isolation for free;
- ``drop`` — staging cleanup (DROP TABLE, main.py:191-207).

No Hive/Delta dependency: on a real cluster the same layout works on any
shared filesystem; swapping in Delta/Iceberg later only changes this
module.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..session import read_parquet


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    # -- catalog ------------------------------------------------------------
    def exists(self, name: str) -> bool:
        d = self._dir(name)
        if not os.path.isdir(d):
            return False
        if os.path.exists(os.path.join(d, "CURRENT")):
            return True
        # Any Hive-style partition directory counts ("<col>=<value>"), not
        # just the two column names this warehouse happens to use most —
        # a table partitioned by e.g. day= or part= must not read as
        # absent. _SUCCESS alone also counts: a committed empty write IS
        # an existing (empty) table.
        return any(
            e.endswith(".parquet")
            or e.startswith("part-")
            or e == "_SUCCESS"
            or ("=" in e and not e.startswith(("_", ".")))
            for e in os.listdir(d)
        )

    def count_or_zero(self, name: str) -> int:
        """``read(name).count()`` when the table holds readable data,
        else 0 — the read-or-zero every CLI summary needs (previously
        copy-pasted per CLI; one definition so the emptiness semantics
        cannot drift — r8 review)."""
        return self.read(name).count() if self.has_data(name) else 0

    def has_data(self, name: str) -> bool:
        """exists() AND ``read()`` can infer a schema. A zero-row
        partitioned write commits only ``_SUCCESS`` — the table exists
        but holds no parquet footer, so a read-or-create caller gating
        on exists() alone would die on UNABLE_TO_INFER_SCHEMA."""
        d = self._dir(name)
        cur = os.path.join(d, "CURRENT")
        if os.path.exists(cur):
            with open(cur) as f:
                d = os.path.join(d, f.read().strip())
        if not os.path.isdir(d):
            return False
        for _sub, dirs, files in os.walk(d):
            # match the reader's visibility rules: Spark ignores
            # '_'/'.'-prefixed paths (_temporary crash debris, _SUCCESS),
            # so files under them must not count as readable data
            dirs[:] = [e for e in dirs if not e.startswith(("_", "."))]
            if any(
                (f.endswith(".parquet") or f.startswith("part-"))
                and not f.startswith(("_", "."))
                for f in files
            ):
                return True
        return False

    def drop(self, name: str) -> None:
        shutil.rmtree(self._dir(name), ignore_errors=True)

    # -- read ---------------------------------------------------------------
    def read(
        self,
        name: str,
        version: int | None = None,
        *,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Read a table; for versioned tables ``version=n`` reads the
        retained historical version ``v_n`` instead of CURRENT — the
        AS-OF debugging primitive on the SCD2 swap layout ("what did the
        history table hold before last night's load?"). Raises
        ValueError for a version that was never written or has been
        garbage-collected past the retention window.

        ``merge_schema=True`` is the SCHEMA-EVOLUTION read: after a
        widened append (a new column added to a table that already
        holds older files), Spark's default read takes the schema of
        ONE footer — whether the new column appears at all depends on
        which file gets sampled, so a widened column can silently
        vanish from some reads and not others. With mergeSchema the
        union schema is computed across all footers (one extra
        footer-reading pass — cost scales with file count, which is
        why it is opt-in, matching Spark's own default) and pre-widening
        rows surface as NULLs — the convention every quality gate in
        this repo already treats as "absent".
        Dropping or retyping a column is NOT schema evolution and
        still fails the merge; that is a rewrite
        (:meth:`overwrite_versioned`), not an append.
        """
        d = self._dir(name)
        cur = os.path.join(d, "CURRENT")
        if version is not None:
            path = os.path.join(d, f"v_{version}")
            if not os.path.isdir(path):
                raise ValueError(
                    f"{name} has no retained version {version}; "
                    f"available: {self.versions(name)}"
                )
        elif os.path.exists(cur):
            with open(cur) as f:
                path = os.path.join(d, f.read().strip())
        else:
            path = d
        # session.read_parquet: the width ratchet (a table big enough to
        # swamp the per-core shuffle width raises initialPartitionNum —
        # how the composed 1000× curate spine sizes itself) and the
        # per-session schema cache, keyed on the files below ``path`` so
        # an append or a CURRENT swap is re-inferred
        return read_parquet(self.spark, path, merge_schema=merge_schema)

    def versions(self, name: str) -> list[int]:
        """Retained version numbers of a versioned table, ascending
        (the last one is CURRENT — except after a crash between the
        version-dir write and the CURRENT flip, when an orphan v_{n+1}
        exists that no reader serves; use :meth:`current_version` when
        "the version readers actually see" is what matters).
        Empty for path/partitioned tables."""
        d = self._dir(name)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(e.split("_")[1])
            for e in os.listdir(d)
            if e.startswith("v_") and e.split("_")[1].isdigit()
        )

    def current_version(self, name: str) -> int | None:
        """The version number the CURRENT pointer resolves to — what
        :meth:`read` actually serves — or ``None`` when the table has
        no CURRENT file (path/partitioned tables, never-written names).
        Unlike ``versions(name)[-1]``, an orphan ``v_{n+1}`` directory
        left by a crash between the version write and the atomic
        CURRENT flip is ignored: readers never saw it, so version
        comparisons (ANN binding stamps, manifests) must not either."""
        cur = os.path.join(self._dir(name), "CURRENT")
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            pointed = f.read().strip()
        return int(pointed.split("_")[1])

    # -- write --------------------------------------------------------------
    def append(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
    ) -> None:
        """Append rows, optionally clustered for zone-map pruning.

        Parquet footers carry per-column min/max stats at file and
        row-group granularity, and Spark's reader skips whole files/row
        groups whose range misses the filter — but only if writes are
        clustered so the ranges are TIGHT. An unsorted append
        interleaves values, every file spans the full key domain, and
        the zone maps prune nothing. Two knobs, by cost:

        - ``sort_by``: ``sortWithinPartitions`` only — NO extra
          shuffle. Files keep whatever task-level key mix they had, but
          rows inside each file are ordered, so the multiple row groups
          of a real (hundreds-of-MB) file get tight disjoint ranges.
          The free option for large appends.
        - ``cluster_by``: ``repartitionByRange`` + sort — ONE range
          shuffle, after which file ranges are globally disjoint:
          a point/range probe on the cluster key reads ~one file out of
          the whole 100 TB append. This is what a nightly fact load
          keyed by (card_num) wants; asserted on actual parquet footers
          in tests/test_warehouse_ops.py.
        """
        if cluster_by:
            df = df.repartitionByRange(*cluster_by).sortWithinPartitions(
                *cluster_by
            )
        elif sort_by:
            df = df.sortWithinPartitions(*sort_by)
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._dir(name))

    def overwrite_partitions(
        self, df: DataFrame, name: str, partition_by: list[str]
    ) -> None:
        """Dynamic partition overwrite: replace ONLY the partitions
        present in ``df``, leave the rest untouched — the idempotent
        daily-load primitive (re-running a day replaces that day's
        partition instead of duplicating it). Path-based equivalent of
        ``INSERT OVERWRITE ... PARTITION`` with
        ``partitionOverwriteMode=dynamic``.

        Isolation caveat (unlike :meth:`overwrite_versioned`): a reader
        holding a DataFrame over the overwritten partition re-executes
        against deleted files (FAILED_READ_FILE). Acceptable for
        closed-partition corrections in a nightly batch; tables read
        concurrently with rewrites belong in the versioned layout.
        """
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(self._dir(name))
        )

    def drop_partition(self, name: str, col: str, value) -> bool:
        """Remove ONE Hive-style partition directory (``<col>=<value>``).

        The missing half of :meth:`overwrite_partitions`: dynamic
        partition overwrite replaces only the partitions PRESENT in the
        written frame, so a correction whose new content is EMPTY (the
        day's rows were all bad and the fixed input has none) replaces
        nothing and the stale partition survives (review finding —
        pipeline.py's idempotent rerun). Values render as Spark writes
        them (dates/ints via str()). Returns True when a directory was
        removed. Not for versioned tables (those swap whole versions).
        """
        d = os.path.join(self._dir(name), f"{col}={value}")
        if not os.path.isdir(d):
            return False
        shutil.rmtree(d)
        return True

    def save_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_col: str,
        n_buckets: int = 32,
        sort: bool = True,
    ) -> None:
        """Write a catalog-managed table bucketed (and sorted) by the
        join key — the co-located-join path for big fact⋈fact joins
        (SURVEY.md §4.3 / SCALE.md): two tables bucketed on the same key
        with the same bucket count sort-merge-join with NO Exchange on
        either side. Bucketed writes require the session catalog
        (``saveAsTable``), so these live in the metastore warehouse dir,
        not the path-based layout above — both are 'tables' to readers.
        """
        w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
        if sort:
            w = w.sortBy(bucket_col)
        w.saveAsTable(name)

    def append_bucketed(
        self,
        df: DataFrame,
        name: str,
        *,
        sort: bool = True,
    ) -> None:
        """Append to a :func:`save_bucketed` table, inheriting its
        bucket spec from the catalog — the append-only-index shape
        (operators/incremental.py's band layout): each append lands as
        new per-bucket files; joins stay Exchange-free on this side
        (Spark adds a local Sort when a bucket spans files — no
        shuffle), bucket pruning keeps working. Spark REFUSES an
        append whose bucketing differs from the table's, so a drifted
        writer cannot silently corrupt the layout (that refusal is the
        reason this re-states the spec at all)."""
        tbl = self.spark.catalog
        if not tbl.tableExists(name):
            raise ValueError(
                f"append_bucketed: table {name!r} does not exist — "
                "create it with save_bucketed first (the append "
                "inherits that table's bucket spec)"
            )
        desc = {
            r.col_name: r.data_type
            for r in self.spark.sql(f"DESCRIBE EXTENDED {name}").collect()
        }
        n_buckets = int(desc.get("Num Buckets", "0"))
        # DESCRIBE renders the spec as "[`a`]" / "[`a`, `b`]" — split
        # per column so a multi-column spec round-trips instead of
        # mangling into one name ("a`, `b") that bucketBy would refuse
        # with a confusing spec-mismatch error.
        bucket_cols = [
            c.strip().strip("`")
            for c in desc.get("Bucket Columns", "").strip("[] ").split(",")
            if c.strip().strip("`")
        ]
        if not n_buckets or not bucket_cols:
            raise ValueError(
                f"append_bucketed: table {name!r} is not bucketed — "
                "appending unbucketed rows would silently break the "
                "co-located-join and bucket-pruning contracts"
            )
        sort_cols = [
            c.strip().strip("`")
            for c in desc.get("Sort Columns", "").strip("[] ").split(",")
            if c.strip().strip("`")
        ]
        w = df.write.mode("append").bucketBy(n_buckets, *bucket_cols)
        if sort:
            w = w.sortBy(*(sort_cols or bucket_cols))
        w.saveAsTable(name)

    def overwrite_versioned(
        self,
        df: DataFrame,
        name: str,
        keep_versions: int = 2,
        *,
        partition_by: list[str] | None = None,
        metadata: dict | None = None,
        refuse: tuple[Column, Callable[[int], str]] | None = None,
    ) -> None:
        """Write the next version directory, then atomically flip CURRENT.

        ``keep_versions`` retains that many trailing versions (CURRENT
        included) for :meth:`read` time travel; older ones are deleted.
        The default keeps CURRENT plus the immediately previous version —
        enough to diff "before vs after last night's load" — because each
        retained version is a full copy of the table (dimension-sized
        here; a fact-sized table at 100 TB would use the partitioned
        layout, not the swap layout).

        ``partition_by`` writes the version directory Hive-partitioned —
        the versioned+partitioned combination a compacted serving layout
        needs: partition pruning / DPP inside the version, snapshot
        isolation across rewrites (a rewrite publishes v_{n+1}; readers
        that resolved CURRENT earlier keep reading intact v_n files,
        never a half-deleted partition — the FAILED_READ_FILE hazard of
        :meth:`overwrite_partitions`).

        ``metadata`` is a small JSON-able dict written as ``_meta.json``
        INSIDE the version directory BEFORE the flip (the '_' prefix
        keeps Spark's reader away from it) — so data and metadata
        publish in the same atomic pointer swap; a separate sidecar
        table would let a reader observe new data with the old
        watermark (review finding, r6 ADVICE). Read it back with
        :meth:`read_metadata`.

        ``refuse=(predicate, message)`` is a guard checked before the
        flip: the write counts the rows matching ``predicate`` as a
        ``DataFrame.observe`` metric of the write job itself (no extra
        job). A non-zero count deletes the unpublished ``v_{n+1}`` and
        raises ``ValueError(message(count))``; CURRENT, the retained
        versions and their metadata are left exactly as they were, so
        nothing is served. A crash between the write and the check
        leaves the same orphan ``v_{n+1}`` a crash before the flip
        always could — never read, replaced by the next write."""
        import json

        d = self._dir(name)
        os.makedirs(d, exist_ok=True)
        cur = os.path.join(d, "CURRENT")
        prev = None
        if os.path.exists(cur):
            with open(cur) as f:
                prev = f.read().strip()
        n = int(prev.split("_")[1]) + 1 if prev else 1
        version = f"v_{n}"
        if refuse is not None:
            predicate, message = refuse
            guard = Observation()
            df = df.observe(guard, F.count(F.when(predicate, 1)).alias("n"))
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(os.path.join(d, version))
        if refuse is not None:
            n_refused = guard.get["n"]
            if n_refused:
                shutil.rmtree(os.path.join(d, version), ignore_errors=True)
                raise ValueError(message(n_refused))
        if metadata is not None:
            with open(os.path.join(d, version, "_meta.json"), "w") as f:
                json.dump(metadata, f)
        tmp = cur + ".tmp"
        with open(tmp, "w") as f:
            f.write(version)
        os.replace(tmp, cur)  # atomic pointer flip
        retained = {f"v_{m}" for m in range(n, n - keep_versions, -1)}
        for e in os.listdir(d):
            if e.startswith("v_") and e not in retained:
                shutil.rmtree(os.path.join(d, e), ignore_errors=True)

    def update_metadata(
        self, name: str, extra: dict, version: int | None = None
    ) -> dict:
        """Merge ``extra`` into a retained version's ``_meta.json`` IN
        PLACE (atomic tmp+rename), WITHOUT a version bump. Reserved for
        metadata-only ENRICHMENT of an artifact whose data rows are
        unchanged — the ann restamp (r9): deriving per-rung probe
        baselines for a pre-r8 quantizer must not publish a v_{n+1},
        because every serving binding and compacted layout stamped
        against the CURRENT version would turn stale for a retrain
        that never happened. Any DATA change must go through
        :meth:`overwrite_versioned`. Returns the merged dict."""
        import json

        d = self._dir(name)
        if version is not None:
            vdir = os.path.join(d, f"v_{version}")
        else:
            cur = os.path.join(d, "CURRENT")
            if not os.path.exists(cur):
                raise ValueError(
                    f"no CURRENT version for table {name!r} — nothing "
                    "to stamp metadata onto"
                )
            with open(cur) as f:
                vdir = os.path.join(d, f.read().strip())
        if not os.path.isdir(vdir):
            raise ValueError(
                f"version directory {vdir!r} does not exist for "
                f"table {name!r}"
            )
        meta_path = os.path.join(vdir, "_meta.json")
        merged = {}
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                merged = json.load(f)
        merged.update(extra)
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(merged, f)
        os.replace(tmp, meta_path)
        return merged

    def read_metadata(self, name: str, version: int | None = None) -> dict | None:
        """The ``metadata`` dict a versioned write published with its
        version (``None`` when absent). Resolves CURRENT like
        :meth:`read`; ``version=n`` reads a retained version's
        metadata."""
        import json

        d = self._dir(name)
        if version is not None:
            vdir = os.path.join(d, f"v_{version}")
        else:
            cur = os.path.join(d, "CURRENT")
            if not os.path.exists(cur):
                return None
            with open(cur) as f:
                vdir = os.path.join(d, f.read().strip())
        meta = os.path.join(vdir, "_meta.json")
        if not os.path.exists(meta):
            return None
        with open(meta) as f:
            return json.load(f)


def warehouse_manifest(wh: Warehouse, *, count_rows: bool = True):
    """One-row-per-table snapshot manifest of a warehouse — the
    reproducibility record a corpus/dataset release ships: for each
    table, its layout (``versioned`` swap / ``partitioned`` / plain
    ``path``), the CURRENT version and retained version count, file
    count, total bytes, and (optionally) row count.

    Columns: ``table``, ``layout``, ``current_version`` (NULL for
    non-versioned), ``n_versions``, ``n_files``, ``n_bytes``,
    ``n_rows`` (NULL with ``count_rows=False`` — the cheap mode walks
    only filesystem metadata; row counts run one parquet-footer count
    job per table). Deterministic ordering by table name.

    Scale: metadata-sized output (one row per table); the byte/file
    walk is driver-side filesystem listing — on object storage this is
    the same LIST the reader performs — and counts are parquet
    metadata-only. It does not fingerprint CONTENT (value hashes).
    """
    rows = []
    for name in sorted(os.listdir(wh.root)):
        d = wh._dir(name)
        if not os.path.isdir(d) or name.startswith(("_", ".")):
            continue
        if not wh.exists(name):
            continue
        versions = wh.versions(name)
        if versions:
            layout = "versioned"
            # the CURRENT pointer, not the highest retained dir: a crash
            # between the version write and the atomic flip leaves an
            # orphan v_{n+1} no reader serves, and the manifest reports
            # what readers SEE (same law as the ANN binding stamps —
            # r7 ADVICE); fall back to the highest dir only if the
            # pointer file is missing entirely (pre-pointer layouts)
            current = wh.current_version(name)
            if current is None:
                current = versions[-1]
            scan_dir = os.path.join(d, f"v_{current}")
        else:
            current = None
            layout = (
                "partitioned"
                if any(
                    "=" in e and not e.startswith(("_", "."))
                    for e in os.listdir(d)
                )
                else "path"
            )
            scan_dir = d
        n_files = 0
        n_bytes = 0
        for base, _, files in os.walk(scan_dir):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(base, f))
        # has_data, not exists: a committed-empty table (zero-row write
        # -> _SUCCESS only) EXISTS by design but holds no parquet
        # footer, and read() would kill the whole manifest with
        # UNABLE_TO_INFER_SCHEMA (r8 review — the has_data docstring
        # names this exact crash)
        n_rows = (
            (wh.read(name).count() if wh.has_data(name) else 0)
            if count_rows
            else None
        )
        rows.append(
            (name, layout, current, len(versions), n_files, n_bytes, n_rows)
        )
    return wh.spark.createDataFrame(
        rows,
        "table string, layout string, current_version int, "
        "n_versions int, n_files int, n_bytes bigint, n_rows bigint",
    )
