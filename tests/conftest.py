from __future__ import annotations

import time
import uuid

import pytest

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from etl_sber_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


def parquet_col_ranges(path_glob: str, col: str):
    """(min, max) span of one column per parquet row group, from real
    footers — the zone maps the reader prunes by. Used by the
    clustering test (test_warehouse_ops)."""
    import glob as _glob

    import pyarrow.parquet as pq

    out = []
    for f in sorted(_glob.glob(path_glob)):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            for i in range(md.row_group(rg).num_columns):
                c = md.row_group(rg).column(i)
                if c.path_in_schema == col:
                    out.append((c.statistics.min, c.statistics.max))
    return out


def jobs_started(spark, fn):
    """``(fn(), number of Spark jobs fn started)``. A sentinel job in a
    second group runs after ``fn``; the status store applies listener
    events in order, so once the sentinel is visible every job ``fn``
    started is counted too. Shared by the job-count pins
    (test_schema_cache, test_terminals_load)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    gid = f"jobs-started-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "job count probe")
    try:
        out = fn()
        sc.setJobGroup(gid + "-sentinel", "sentinel")
        sc.parallelize([0], 1).count()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(gid + "-sentinel"):
            assert time.monotonic() < deadline, "sentinel job never recorded"
            time.sleep(0.05)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(tracker.getJobIdsForGroup(gid))
