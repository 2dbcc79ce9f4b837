"""Explicit StructTypes for the pipeline's input, fact and dimension data.

The reference declares all schemas as Oracle DDL (main.py:22-27, 43-51,
218-221, 232-235, 321-330, 341-350); we declare them once here
(the fraud mart's columns are the projection in plans/fraud.py)
and never rely on reader inference (a dirty day-2 file would infer
garbage — SURVEY.md §1.4). Type mapping per SURVEY.md §1.2.
"""

from __future__ import annotations

from pyspark.sql import types as T

#: Raw staging schema for the `;`-CSV transactions file — all strings, as
#: the reference stages them (main.py:321-330); normalization is a
#: projection applied after the scan (sources/io.py).
TRANSACTIONS_RAW = T.StructType(
    [
        T.StructField("transaction_id", T.StringType()),
        T.StructField("transaction_date", T.StringType()),
        T.StructField("amount", T.StringType()),
        T.StructField("card_num", T.StringType()),
        T.StructField("oper_type", T.StringType()),
        T.StructField("oper_result", T.StringType()),
        T.StructField("terminal", T.StringType()),
    ]
)

#: Warehouse fact schema (main.py:341-350).
FACT_TRANSACTIONS = T.StructType(
    [
        T.StructField("trans_id", T.StringType()),
        T.StructField("trans_date", T.TimestampType()),
        T.StructField("card_num", T.StringType()),
        T.StructField("oper_type", T.StringType()),
        T.StructField("amt", T.DecimalType(20, 2)),
        T.StructField("oper_result", T.StringType()),
        T.StructField("terminal", T.StringType()),
        T.StructField("create_date", T.TimestampType()),
    ]
)

#: Terminal dimension snapshot (staging shape, main.py:22-27).
TERMINALS = T.StructType(
    [
        T.StructField("terminal_id", T.StringType()),
        T.StructField("terminal_type", T.StringType()),
        T.StructField("terminal_city", T.StringType()),
        T.StructField("terminal_address", T.StringType()),
    ]
)

#: SCD2 history of the terminal dimension (main.py:43-51): staging
#: attributes + SCD2 bookkeeping columns supplied by the writer
#: (Spark has no DDL column defaults on write — SURVEY.md §1.2).
TERMINALS_HIST = T.StructType(
    list(TERMINALS.fields)
    + [
        T.StructField("deleted_flg", T.IntegerType()),
        T.StructField("effective_from", T.TimestampType()),
        T.StructField("effective_to", T.TimestampType()),
    ]
)

#: Passport blacklist (staging and fact share the shape, main.py:218-221,
#: 232-235).
PASSPORT_BLACKLIST = T.StructType(
    [
        T.StructField("passport_num", T.StringType()),
        T.StructField("entry_dt", T.DateType()),
    ]
)

#: External `bank.*` tables (never created by the reference; schemas
#: inferred from their use in the denormalized view, main.py:410-416).
CLIENTS = T.StructType(
    [
        T.StructField("client_id", T.StringType()),
        T.StructField("last_name", T.StringType()),
        T.StructField("first_name", T.StringType()),
        T.StructField("patronymic", T.StringType()),
        T.StructField("passport_num", T.StringType()),
        T.StructField("passport_valid_to", T.DateType()),
        T.StructField("phone", T.StringType()),
    ]
)

ACCOUNTS = T.StructType(
    [
        T.StructField("account", T.StringType()),
        T.StructField("valid_to", T.DateType()),
        T.StructField("client", T.StringType()),
    ]
)

CARDS = T.StructType(
    [
        T.StructField("card_num", T.StringType()),
        T.StructField("account", T.StringType()),
    ]
)
