"""Sessionization (operators/sessionize.py): hand-computed fixtures and
a DuckDB differential on the synthetic events."""

from __future__ import annotations

import datetime as dt

from etl_sber_spark.operators.sessionize import sessionize

from .conftest import SF_SMALL


def _events(spark, rows):
    return spark.createDataFrame(
        [
            (i, u, dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=m))
            for i, (u, m) in enumerate(rows)
        ],
        ["event_id", "user_id", "ts"],
    )


def test_sessionize_hand_fixture(spark):
    # user 1: events at minute 0, 10, 50 (gap 40 > 30 → split), 70
    # user 2: single event
    df = _events(spark, [(1, 0), (1, 10), (1, 50), (1, 70), (2, 5)])
    got = {
        r.event_id: (r.session_seq, r.session_id)
        for r in sessionize(df, gap_minutes=30).collect()
    }
    assert got == {
        0: (0, 1 * 2**32 + 0),
        1: (0, 1 * 2**32 + 0),
        2: (1, 1 * 2**32 + 1),
        3: (1, 1 * 2**32 + 1),
        4: (0, 2 * 2**32 + 0),
    }


def test_exact_gap_continues_session(spark):
    """A gap of exactly gap_minutes continues the session (the
    closed-interval convention of Spark's session_window)."""
    df = _events(spark, [(1, 0), (1, 30)])
    rows = sessionize(df, gap_minutes=30).collect()
    assert {r.session_seq for r in rows} == {0}


def test_sessionize_vs_duckdb_oracle(spark, tmp_path):
    """Differential: the same lag→flag→cumsum algebra in DuckDB SQL over
    the events table gives identical (event → session) assignment."""
    import duckdb

    from etl_sber_spark.sources.tables import load_table

    e = load_table(spark, SF_SMALL, "events").select("event_id", "user_id", "ts")
    got = {
        r.event_id: r.session_id
        for r in sessionize(e, gap_minutes=30).collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"""
            WITH e AS (
                SELECT event_id, user_id, ts
                FROM read_parquet('{SF_SMALL}/events.parquet')
            ),
            flags AS (
                SELECT *,
                    CASE WHEN lag(ts) OVER w IS NULL
                           OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                              > 30*60*1000000
                         THEN 1 ELSE 0 END AS is_new
                FROM e
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT event_id,
                   user_id * 4294967296 +
                   (SUM(is_new) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - 1) AS session_id
            FROM flags
            """
        ).fetchall()
    )
    assert got == want
