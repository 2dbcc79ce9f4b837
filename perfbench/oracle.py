"""Independent replays the output checks compare against.

``fraud_mart`` recomputes a day's fraud report in DuckDB straight from
the generated inputs (the generator's truth, not the warehouse), by the
reference's three rules:

1. an operation with a blacklisted (as of the operation's day) or
   expired passport — distinct (time, passport, name, phone); the
   expired arm only fires once the blacklist holds any row;
2. an operation on an account whose contract ended before the
   operation's day — one row per operation;
3. operations in different cities within one hour on one card: the
   band self-join's distinct pairs, then per client ``lead`` over
   (time, city) and ``dense_rank`` over city, keeping rank 2 rows whose
   next city differs.
"""

from __future__ import annotations

import datetime as dt


def _render(v) -> str:
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    return str(v)


def mart_rows(rows) -> list[tuple]:
    """Canonical, order-free form of (event_dt, passport, fio, phone,
    event_type) rows from either engine."""
    return sorted(tuple(_render(v) for v in r[:5]) for r in rows)


def fraud_mart(bank_rows, truth: dict, card_nums: list[str]) -> list[tuple]:
    """The day's mart rows, canonicalized (see :func:`mart_rows`)."""
    import duckdb
    import pandas as pd

    from etl_sber_spark.plans.fraud import (
        EVENT_BLACKLISTED,
        EVENT_CITY_HOPPING,
        EVENT_INVALID_CONTRACT,
    )

    clients, accounts, cards = bank_rows
    con = duckdb.connect()
    try:
        con.register(
            "clients",
            pd.DataFrame(
                clients,
                columns=["client_id", "last_name", "first_name", "patronymic",
                         "passport_num", "passport_valid_to", "phone"],
            ),
        )
        con.register(
            "accounts", pd.DataFrame(accounts, columns=["account", "valid_to", "client"])
        )
        con.register(
            "cards",
            pd.DataFrame(
                [(c.strip(), a) for c, a in cards], columns=["card_num", "account"]
            ),
        )
        con.register(
            "tx",
            pd.DataFrame(
                [(tid, ts, card_nums[c], term) for tid, ts, _cents, c, term in truth["tx"]],
                columns=["trans_id", "trans_date", "card_num", "terminal"],
            ),
        )
        con.register(
            "terminals",
            pd.DataFrame(
                [(k, v[1]) for k, v in truth["terminals"].items()],
                columns=["terminal_id", "terminal_city"],
            ),
        )
        con.register(
            "blacklist",
            pd.DataFrame(truth["blacklist"], columns=["passport", "entry_dt"]),
        )
        sql = f"""
        WITH v AS (
          SELECT cl.client_id,
                 concat_ws(' ', cl.last_name, cl.first_name, cl.patronymic) AS name,
                 cl.passport_num, CAST(cl.passport_valid_to AS DATE) AS passport_valid_to,
                 cl.phone, CAST(acc.valid_to AS DATE) AS valid_to,
                 tx.trans_date, t.terminal_city, tx.card_num
          FROM tx
          JOIN cards crd ON crd.card_num = tx.card_num
          JOIN accounts acc ON acc.account = crd.account
          JOIN clients cl ON cl.client_id = acc.client
          JOIN terminals t ON t.terminal_id = tx.terminal
        ),
        r1 AS (
          SELECT DISTINCT trans_date AS event_dt, passport_num AS passport,
                 name AS fio, phone, '{EVENT_BLACKLISTED}' AS event_type
          FROM v
          WHERE passport_num IN (
                  SELECT passport FROM blacklist
                  WHERE CAST(entry_dt AS DATE) <= CAST(v.trans_date AS DATE))
             OR (passport_valid_to < CAST(trans_date AS DATE)
                 AND EXISTS (SELECT 1 FROM blacklist))
        ),
        r2 AS (
          SELECT trans_date AS event_dt, passport_num AS passport, name AS fio,
                 phone, '{EVENT_INVALID_CONTRACT}' AS event_type
          FROM v WHERE CAST(trans_date AS DATE) > valid_to
        ),
        pairs AS (
          SELECT DISTINCT t2.trans_date, t1.passport_num, t1.name, t1.phone,
                 t2.terminal_city
          FROM v t1 JOIN v t2
            ON t1.card_num = t2.card_num
           AND t1.terminal_city <> t2.terminal_city
           AND t1.trans_date <> t2.trans_date
           AND t1.trans_date BETWEEN t2.trans_date - INTERVAL 1 HOUR
                                 AND t2.trans_date + INTERVAL 1 HOUR
        ),
        flagged AS (
          SELECT *,
                 lead(terminal_city) OVER (PARTITION BY name
                     ORDER BY trans_date, terminal_city) AS next_city,
                 dense_rank() OVER (PARTITION BY name ORDER BY terminal_city) AS rnk
          FROM pairs
        ),
        r3 AS (
          SELECT DISTINCT trans_date AS event_dt, passport_num AS passport,
                 name AS fio, phone, '{EVENT_CITY_HOPPING}' AS event_type
          FROM flagged
          WHERE next_city IS NOT NULL AND terminal_city <> next_city AND rnk = 2
        )
        SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
        """
        return mart_rows(con.execute(sql).fetchall())
    finally:
        con.close()
