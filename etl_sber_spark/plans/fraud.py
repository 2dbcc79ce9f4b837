"""Fraud-report mart dataflow (SURVEY.md §3.3 — main.py:390-531).

``data_view`` is the reference's denormalized 5-way join view
(main.py:392-421); the three rules append to the mart
(main.py:445-529). The reference re-evaluates the view per reference
(4×) — the pipeline builds it once and caches (SURVEY.md §3.3).

Every ``sysdate`` is the explicit ``processing_ts`` parameter
(SURVEY.md §3.4) so replays are deterministic and testable.

Mode policy (SURVEY.md §7.4): canonical semantics by default; the two
observable divergences of the reference are kept behind ``faithful=``
flags with the reference cite:

- J6 trap: the view joins the FULL terminal history (main.py:418), not
  the as-of-current version — a terminal with N versions multiplies its
  transactions N-fold from day 2 on. Canonical joins as-of-current.
- J7: rule 1's mixed AND/OR left join (main.py:467-471) is canonically a
  union of two linear arms (blacklisted-and-active ∪ expired-passport);
  the faithful literal OR-join would plan as BNLJ.
- J9: rule 3's band self-join (main.py:516-525) exists only to feed a
  DISTINCT, so the canonical default is the O(n log n) window EXISTS
  rewrite (operators/bandjoin.py — SURVEY §4.3.2's 100× doctrine);
  ``faithful=True`` keeps the literal join. Row-identical either way —
  this flag changes the PLAN, not the result.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.normalize import full_name
from ..operators.bandjoin import exists_band_partner
from ..operators.scd import scd2_current

#: Mart event-type literals — exact reference strings (main.py:454, 484,
#: 496), kept verbatim for golden fidelity (SURVEY.md §7.4).
EVENT_BLACKLISTED = (
    "Совершение операции при просроченном или заблокированном паспорте"
)
EVENT_INVALID_CONTRACT = "Совершение операции при недействующем договоре"
EVENT_CITY_HOPPING = (
    "Совершение операций в разных городах в течение одного часа"
)


def data_view(
    clients: DataFrame,
    accounts: DataFrame,
    cards: DataFrame,
    fact_transactions: DataFrame,
    terminals_hist: DataFrame,
    processing_ts: dt.datetime,
    *,
    faithful_full_history: bool = False,
) -> DataFrame:
    """The denormalized transaction view (main.py:392-421).

    clients ⋈ accounts ON client_id=client ⋈ cards ON account
    ⋈ fact ON trim(card_num)=card_num AND trunc(create_date)=processing
    date ⋈ terminals.

    Plan notes for 100 TB: the ``create_date`` day-filter is applied to
    the fact BEFORE any join, and when the fact carries its
    ``load_date`` PARTITION column (the pipeline's layout) the
    equivalent partition predicate is added too — ``create_date`` is a
    DATA column, so alone it reaches the scan only as a row filter and
    every historical partition's files are still opened; the
    ``load_date`` predicate prunes them at the FILE level (r7 — the
    pipeline scale smoke measured day-3 mart latency growing with
    history size before this). Semantics-preserving by the loader's
    invariant ``load_date == to_date(create_date)``
    (pipeline.load_transactions stamps both from one processing_ts);
    both filters are kept, so even a hand-written violating row changes
    nothing relative to the reference's create_date-only filter within
    its own partition. Rows that VIOLATE the invariant (hand-backfilled
    or late-loaded under a different load_date) are excluded, where the
    reference's create_date-only filter would include them.

    All four dim joins (cards, accounts, clients, terminals) carry a
    ``F.broadcast`` hint: the hint is unconditional, honored regardless
    of size, and right for the reference's bank dims (thousands of
    rows). The only big-side shuffle key is ``card_num``.
    """
    day = F.lit(processing_ts.date()).cast("date")
    fact_today = fact_transactions.filter(F.to_date("create_date") == day)
    if "load_date" in fact_transactions.columns:
        fact_today = fact_today.filter(F.col("load_date") == day)

    trm = (
        terminals_hist
        if faithful_full_history
        else scd2_current(terminals_hist, processing_ts)
    ).select("terminal_id", "terminal_type", "terminal_city")

    return (
        fact_today.alias("trs")
        .join(
            F.broadcast(cards.alias("crd")),
            F.trim(F.col("crd.card_num")) == F.col("trs.card_num"),
        )
        .join(
            F.broadcast(accounts.alias("acc")),
            F.col("acc.account") == F.col("crd.account"),
        )
        .join(
            F.broadcast(clients.alias("cl")),
            F.col("cl.client_id") == F.col("acc.client"),
        )
        .join(
            F.broadcast(trm.alias("trm")),
            F.col("trs.terminal") == F.col("trm.terminal_id"),
        )
        .select(
            F.col("cl.client_id"),
            full_name("cl.last_name", "cl.first_name", "cl.patronymic").alias(
                "name"
            ),
            F.col("cl.passport_num"),
            F.col("cl.passport_valid_to"),
            F.trim(F.col("crd.card_num")).alias("card_num"),
            F.col("cl.phone"),
            F.col("acc.account"),
            F.col("acc.valid_to"),
            F.col("trs.trans_id"),
            F.col("trs.trans_date"),
            F.col("trs.amt"),
            F.col("trs.oper_result"),
            F.col("trm.terminal_type"),
            F.col("trm.terminal_city"),
        )
    )


def rule_blacklisted_passport(
    view: DataFrame, blacklist: DataFrame, *, faithful: bool = False
) -> DataFrame:
    """Rule 1 (main.py:447-476): operation with an expired or blacklisted
    passport.

    Canonical (default) rewrite of the mixed AND/OR left join (J7): the
    net effect of the reference's join + GROUP BY + client rejoin +
    DISTINCT is the distinct (event_dt, passport, fio, phone) of
    transactions whose passport is (blacklisted with entry_dt <= trans
    day) OR expired (passport_valid_to < trans day). Two linear arms, no
    BNLJ.

    Empty-blacklist quirk, faithfully kept (r8 review): in the
    reference shape an EXPIRED-passport row reaches the output through
    the OR condition matching it against ANY blacklist row — with an
    empty blacklist the left join yields only NULL ``bl`` columns and
    the IS NOT NULL filter empties the whole rule, expired passports
    included. The canonical expired arm therefore carries a
    one-broadcast-row existence gate on the blacklist, so both modes
    stay row-identical on a day-1 run before any passport file ships
    (pinned in tests/test_fraud_parity.py).

    ``faithful=True`` reproduces the reference shape literally: left
    join with the OR condition (Spark plans the OR-arm side as a
    broadcast nested loop — fine at mart scale, documented cost), group
    by (client_id, trans_date), inner rejoin on client_id, distinct.
    tests/test_fraud_parity.py asserts both produce identical rows.
    """
    if faithful:
        bl = F.broadcast(blacklist.alias("bl"))
        v = view.alias("v")
        joined = v.join(
            bl,
            (
                (F.col("bl.passport_num") == F.col("v.passport_num"))
                & (F.col("bl.entry_dt") <= F.to_date(F.col("v.trans_date")))
            )
            | (F.col("v.passport_valid_to") < F.to_date(F.col("v.trans_date"))),
            "left",
        )
        # GROUP BY with empty select list (main.py:472) ≡ dropDuplicates
        keys = (
            joined.filter(F.col("bl.passport_num").isNotNull())
            .select(
                F.col("v.client_id").alias("client_id"),
                F.col("v.trans_date").alias("event_dt"),
            )
            .distinct()
        )
        return (
            keys.join(view.alias("t2"), "client_id", "inner")
            .select(
                F.col("event_dt"),
                F.col("t2.passport_num").alias("passport"),
                F.col("t2.name").alias("fio"),
                F.col("t2.phone").alias("phone"),
            )
            .distinct()
            .withColumn("event_type", F.lit(EVENT_BLACKLISTED))
        )

    arm_blacklisted = view.join(
        F.broadcast(blacklist),
        (view.passport_num == blacklist.passport_num)
        & (blacklist.entry_dt <= F.to_date(view.trans_date)),
        "left_semi",
    )
    arm_expired = view.filter(
        F.col("passport_valid_to") < F.to_date("trans_date")
    ).join(
        # the empty-blacklist existence gate (docstring): rows survive
        # iff the blacklist holds ANY row — one broadcast 0/1-row side
        F.broadcast(blacklist.limit(1)),
        F.lit(True),
        "left_semi",
    )
    return (
        arm_blacklisted.unionByName(arm_expired)
        .select(
            F.col("trans_date").alias("event_dt"),
            F.col("passport_num").alias("passport"),
            F.col("name").alias("fio"),
            F.col("phone"),
        )
        .distinct()
        .withColumn("event_type", F.lit(EVENT_BLACKLISTED))
    )


def rule_invalid_contract(view: DataFrame) -> DataFrame:
    """Rule 2 (main.py:477-488): operation on an inactive contract —
    ``trunc(trans_date) > valid_to``. A pure filter; pushes to the scan."""
    return view.filter(F.to_date("trans_date") > F.col("valid_to")).select(
        F.col("trans_date").alias("event_dt"),
        F.col("passport_num").alias("passport"),
        F.col("name").alias("fio"),
        F.col("phone"),
        F.lit(EVENT_INVALID_CONTRACT).alias("event_type"),
    )


def rule_city_hopping(
    view: DataFrame,
    *,
    faithful: bool = False,
    time_bins: bool | str = False,
) -> DataFrame:
    """Rule 3 (main.py:489-529): operations in different cities within one
    hour.

    Reference shape: band self-join on card_num (±1h, city≠, ts≠ — J9),
    then DISTINCT, then lead/dense_rank windows over the deduplicated
    pairs, then the rank=2 / next≠city filters. The join exists only to
    feed the DISTINCT — an EXISTS test — so the DEFAULT here is the
    O(n log n) window rewrite (operators/bandjoin.py): per-card range
    windows mark transactions with a different-city different-ts partner
    in the band, no pair product ever materializes. ``faithful=True``
    keeps the literal join shape (row-identical by construction; the
    driver-graded q_fraud_rule3_shape runs the rewrite against the
    literal-join DuckDB oracle, hash-proving equivalence — SURVEY
    §4.3.2's 100× doctrine, made the default in round 3).

    Two deliberate canonicalizations (SURVEY.md §2.7, §7.4):
    - window ORDER BY carries a unique tiebreak (trans_date, terminal_city)
      so lead() is deterministic (the reference's order-by-ts-only is
      nondeterministic on ties in both Oracle and Spark);
    - DISTINCT runs BEFORE the windows (the reference evaluates windows
      over the duplicated join product, making lead() depend on the
      duplication factor — an accident of Oracle evaluation order, not a
      semantic).

    ``time_bins`` passes through to the rewrite's hot-key parallelism
    knob (operators/bandjoin.py): ``"auto"`` probes the max per-card
    group count and bins only past the measured crossover — a no-op on
    ordinary daily volumes (the 100× pipeline smoke's hot card is 16k
    rows, far under threshold), row-identical either way.
    """
    if faithful:
        if time_bins is not False:
            raise ValueError(
                "time_bins tunes the EXISTS rewrite; the faithful band "
                "join has no binned mode — drop faithful=True or the "
                "time_bins argument"
            )
        pairs = _hop_pairs_bandjoin(view)
    else:
        pairs = (
            exists_band_partner(
                view.select(
                    "card_num",
                    "terminal_city",
                    "trans_date",
                    "passport_num",
                    "name",
                    "phone",
                ),
                ["card_num"],
                "trans_date",
                "terminal_city",
                time_bins=time_bins,
            )
            .select(
                "trans_date", "passport_num", "name", "phone", "terminal_city"
            )
            .distinct()
        )
    w_lead = Window.partitionBy("name").orderBy("trans_date", "terminal_city")
    w_rank = Window.partitionBy("name").orderBy("terminal_city")
    flagged = pairs.select(
        "trans_date",
        "passport_num",
        "name",
        "phone",
        "terminal_city",
        F.lead("terminal_city", 1).over(w_lead).alias("next_terminal_city"),
        F.dense_rank().over(w_rank).alias("rank"),
    )
    return (
        flagged.filter(
            F.col("next_terminal_city").isNotNull()
            & (F.col("terminal_city") != F.col("next_terminal_city"))
            & (F.col("rank") == 2)
        )
        .select(
            F.col("trans_date").alias("event_dt"),
            F.col("passport_num").alias("passport"),
            F.col("name").alias("fio"),
            F.col("phone"),
            F.lit(EVENT_CITY_HOPPING).alias("event_type"),
        )
        .distinct()
    )


def _hop_pairs_bandjoin(view: DataFrame) -> DataFrame:
    """The reference-literal pair generation: J9 band self-join +
    DISTINCT (kept behind ``faithful=True``)."""
    t1 = view.select(
        "card_num", "terminal_city", "trans_date", "passport_num", "name", "phone"
    ).alias("t1")
    t2 = view.select("card_num", "terminal_city", "trans_date").alias("t2")
    return (
        t1.join(
            t2,
            (F.col("t1.card_num") == F.col("t2.card_num"))
            & (F.col("t1.terminal_city") != F.col("t2.terminal_city"))
            & (F.col("t1.trans_date") != F.col("t2.trans_date"))
            & F.col("t1.trans_date").between(
                F.col("t2.trans_date") - F.expr("INTERVAL 1 HOUR"),
                F.col("t2.trans_date") + F.expr("INTERVAL 1 HOUR"),
            ),
        )
        .select(
            F.col("t2.trans_date").alias("trans_date"),
            F.col("t1.passport_num").alias("passport_num"),
            F.col("t1.name").alias("name"),
            F.col("t1.phone").alias("phone"),
            F.col("t2.terminal_city").alias("terminal_city"),
        )
        .distinct()
    )


def build_fraud_report(
    view: DataFrame,
    blacklist: DataFrame,
    processing_ts: dt.datetime,
    *,
    faithful: bool = False,
) -> DataFrame:
    """All three rules, unioned into one atomic mart append
    (main.py:445-529 runs three INSERTs; §2.8 — one write is atomic).
    ``report_dt`` = the reference's ``sysdate`` default (main.py:437).
    ``faithful=True`` switches rule 1 to the literal OR-join shape and
    rule 3 to the literal band self-join (both proven row-identical in
    tests/test_fraud_parity.py; defaults are the linear/log-linear
    rewrites)."""
    rules = (
        rule_blacklisted_passport(view, blacklist, faithful=faithful)
        .unionByName(rule_invalid_contract(view))
        .unionByName(rule_city_hopping(view, faithful=faithful))
    )
    return rules.select(
        "event_dt",
        "passport",
        "fio",
        "phone",
        "event_type",
        F.lit(processing_ts.date()).cast("date").alias("report_dt"),
    )
