"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (and size arguments):
the same seed writes byte-identical files, a different seed writes
different ones. Nothing here imports Spark — inputs are produced before
the session starts, and their generation time is excluded from
``setup_s``.

- ``EtlInbox``: the nightly bank inbox in the reference's formats —
  ``;``-separated transactions with comma decimals, terminal and
  passport-blacklist snapshots as .xlsx (written with ``zipfile``; no
  Excel engine is installed), plus the external ``bank.*`` dimension
  rows. Terminals churn (SCD2), the blacklist is cumulative, fraud
  triggers are planted and one corporate card is hot.
- ``write_tables``: the TPC-H-like star schema + events/documents/
  embeddings tables the registered queries read, as parquet.
- ``CorpusFeed``: a base corpus plus JSONL increments carrying a stated
  share of exact copies and near-duplicates, with one embedding per
  document.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import zipfile

import numpy as np

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------

#: fixed zip member timestamp, so .xlsx bytes depend on content only
_ZIP_TIME = (1980, 1, 1, 0, 0, 0)
_EXCEL_EPOCH = dt.date(1899, 12, 30)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...) — a day's or a
    batch's content never depends on how much randomness another day
    consumed."""
    return np.random.default_rng([seed, *stream])


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def _col_letter(i: int) -> str:
    out = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        out = chr(65 + r) + out
    return out


def write_xlsx(path: str, rows: list[list]) -> None:
    """Minimal one-sheet OOXML workbook: strings as inline strings,
    numbers as numeric cells (dates are passed as Excel serials)."""
    sheet_rows = []
    for r, row in enumerate(rows, start=1):
        cells = []
        for c, v in enumerate(row):
            ref = f"{_col_letter(c)}{r}"
            if isinstance(v, str):
                cells.append(
                    f'<c r="{ref}" t="inlineStr"><is><t>{_xml_escape(v)}'
                    "</t></is></c>"
                )
            else:
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
        sheet_rows.append(f'<row r="{r}">{"".join(cells)}</row>')
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel_ns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    members = {
        "[Content_Types].xml": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>"
        ),
        "_rels/.rels": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"
        ),
        "xl/workbook.xml": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<workbook xmlns="{ns}" xmlns:r="{rel_ns}"><sheets>'
            '<sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>"
        ),
        "xl/worksheets/sheet1.xml": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<worksheet xmlns="{ns}"><sheetData>{"".join(sheet_rows)}'
            "</sheetData></worksheet>"
        ),
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in members.items():
            info = zipfile.ZipInfo(name, date_time=_ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, body)


def tree_bytes(path: str) -> int:
    """Bytes of all regular files under ``path`` (0 when absent)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def tree_files(path: str) -> int:
    """Number of data files (not ``_``/``.``-prefixed) under ``path``."""
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if not f.startswith(("_", ".")))
    return n


# ---------------------------------------------------------------------------
# nightly_batch: the bank inbox
# ---------------------------------------------------------------------------

#: the reference's measured daily transaction volume
TX_PER_DAY_REF = 15_700
N_CITIES = 40
#: ~1% of all transactions land on card 0, a corporate card used in
#: every city — rule 3 (city hopping) rides it
HOT_EVERY = 97
START_DAY = dt.date(2021, 3, 1)
EXPIRED_PASSPORT = dt.date(2021, 2, 15)
EXPIRED_ACCOUNT = dt.date(2021, 2, 20)
VALID_FOREVER = dt.date(2030, 1, 1)
#: share of a card's transactions made away from its home city
TRAVEL_SHARE = 0.03


class EtlInbox:
    """Day-by-day generator of the nightly inbox (one instance per run;
    days must be written in order because terminal churn and the
    blacklist accumulate). ``write_day`` returns what the day delivered —
    the input side of the output checks (fact rows, SCD2 state, the mart
    replay)."""

    def __init__(self, seed: int, tx_per_day: int):
        self.seed = seed
        self.tx_per_day = tx_per_day
        self.n_cards = max(500, tx_per_day // 8)
        self.n_terminals = max(200, tx_per_day // 40)
        rng = _rng(seed, 0)
        n = self.n_cards
        # card i <-> account ACC<i> <-> client CL<i>
        grp = rng.integers(0, 1000, n)
        tail = rng.integers(0, 10_000, n)
        self.card_num = [
            f"4{grp[i]:03d} {i // 10_000:04d} {i % 10_000:04d} {tail[i]:04d}"
            for i in range(n)
        ]
        series = rng.integers(1000, 10_000, n)
        self.passport = [f"{series[i]:04d} {100_000 + i:06d}" for i in range(n)]
        perm = rng.permutation(np.arange(1, n))
        self.expired_passport = {int(i) for i in perm[:20]}
        self.expired_account = {int(i) for i in perm[20:40]}
        #: clients eligible for the blacklist, in the order they get listed
        self.blacklist_order = [int(i) for i in perm[40:]]
        self.blacklist: list[tuple[str, dt.date]] = []
        self.home_city = rng.integers(0, N_CITIES, n)
        self.terminals: dict[str, list[str]] = {}
        for t in range(self.n_terminals):
            self._add_terminal(rng, t, t % N_CITIES)

    # -- dimension rows (the external bank.* tables) ------------------------
    def bank_rows(self):
        clients, accounts, cards = [], [], []
        for i in range(self.n_cards):
            valid_to = (
                EXPIRED_PASSPORT if i in self.expired_passport else VALID_FOREVER
            )
            clients.append(
                (
                    f"CL{i:07d}",
                    f"Last{i}",
                    f"First{i}",
                    f"Mid{i}",
                    self.passport[i],
                    valid_to,
                    f"+7{i:010d}",
                )
            )
            acc_valid = (
                EXPIRED_ACCOUNT if i in self.expired_account else VALID_FOREVER
            )
            accounts.append((f"ACC{i:07d}", acc_valid, f"CL{i:07d}"))
            # padded like Oracle CHAR columns: the view joins on trim()
            cards.append((self.card_num[i] + "  ", f"ACC{i:07d}"))
        return clients, accounts, cards

    def _add_terminal(self, rng, t: int, city: int) -> None:
        self.terminals[f"T{t:06d}"] = [
            ("POS", "ATM", "ETM")[int(rng.integers(0, 3))],
            f"CITY{city:02d}",
            f"Street {int(rng.integers(1, 500))} bld {t}",
        ]

    def _churn(self, rng) -> None:
        ids = sorted(self.terminals)
        for tid in rng.choice(ids, max(1, len(ids) // 20), replace=False):
            self.terminals[str(tid)][2] += "a"  # re-addressed
        for tid in rng.choice(ids, max(1, len(ids) // 100), replace=False):
            self.terminals[str(tid)][1] = f"CITY{int(rng.integers(0, N_CITIES)):02d}"
        for _ in range(2):  # new terminals open
            t = len(self.terminals)
            self._add_terminal(rng, t, int(rng.integers(0, N_CITIES)))

    def write_day(self, day: int, inbox: str) -> dict:
        """Write day ``day`` (1-based) into ``inbox``; returns its truth."""
        rng = _rng(self.seed, 1, day)
        date = START_DAY + dt.timedelta(days=day - 1)
        stamp = date.strftime("%d%m%Y")
        if day > 1:
            self._churn(rng)
        for i in self.blacklist_order[len(self.blacklist):][:3]:
            self.blacklist.append((self.passport[i], date))
        os.makedirs(inbox, exist_ok=True)

        term_rows = [["terminal_id", "terminal_type", "terminal_city", "terminal_address"]]
        term_rows += [[tid, *attrs] for tid, attrs in sorted(self.terminals.items())]
        write_xlsx(os.path.join(inbox, f"terminals_{stamp}.xlsx"), term_rows)
        bl_rows = [["date", "passport"]] + [
            [(d - _EXCEL_EPOCH).days, p] for p, d in self.blacklist
        ]
        write_xlsx(os.path.join(inbox, f"passport_blacklist_{stamp}.xlsx"), bl_rows)

        n = self.tx_per_day
        by_city: dict[int, list[str]] = {}
        for tid, (_ty, city, _addr) in sorted(self.terminals.items()):
            by_city.setdefault(int(city[4:]), []).append(tid)
        all_terms = sorted(self.terminals)
        hot = rng.random(n) < 1.0 / HOT_EVERY
        cidx = np.where(hot, 0, rng.integers(1, self.n_cards, n))
        secs = np.sort(rng.integers(0, 86_400, n))
        travel = rng.random(n) < TRAVEL_SHARE
        pick = rng.random(n)
        cents = rng.integers(1000, 1_000_000, n)
        op = rng.integers(0, 3, n)
        ok = rng.random(n) < 0.95
        lines = ["transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal"]
        tx = []
        base = dt.datetime.combine(date, dt.time())
        for i in range(n):
            c = int(cidx[i])
            if c == 0 or travel[i]:
                pool = all_terms
            else:
                pool = by_city.get(int(self.home_city[c])) or all_terms
            term = pool[int(pick[i] * len(pool))]
            ts = base + dt.timedelta(seconds=int(secs[i]))
            tid = f"{day:04d}{i:08d}"
            amount = f"{cents[i] // 100},{cents[i] % 100:02d}"
            oper = ("PAYMENT", "WITHDRAW", "DEPOSIT")[int(op[i])]
            res = "SUCCESS" if ok[i] else "REJECT"
            lines.append(
                f"{tid};{ts:%Y-%m-%d %H:%M:%S};{amount};{self.card_num[c]};"
                f"{oper};{res};{term}"
            )
            tx.append((tid, ts, int(cents[i]), c, term))
        with open(os.path.join(inbox, f"transactions_{stamp}.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")

        return {
            "date": date,
            "tx": tx,
            "terminals": {k: list(v) for k, v in self.terminals.items()},
            "blacklist": list(self.blacklist),
        }


# ---------------------------------------------------------------------------
# warehouse_queries: the star schema the registered queries read
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window join small big order group data column query "
    "filter stream vector customer"
).split()
_LANGS = ["en", "es", "zh", "de", "fr"]


def _days(rng, n: int, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    return np.datetime64(start) + rng.integers(0, span + 1, n).astype(
        "timedelta64[D]"
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """2-decimal doubles (the queries cast them to DECIMAL losslessly)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def write_tables(
    seed: int, out_dir: str, scale: float, lineitem_scale: float
) -> dict[str, int]:
    """Write the ten tables under ``out_dir``: lineitem at
    ``lineitem_scale``, the others at ``scale`` (1.0 = the sf1 shape,
    6M lineitem rows; 0.1 is the sf0.1 shape). Event timestamps are
    nanosecond parquet timestamps, the encoding
    ``sources.tables.load_table`` converts at the scan. Returns rows per
    table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(100, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_ord = max(1000, int(1_500_000 * scale))
    n_li = max(4000, int(6_000_000 * lineitem_scale))
    n_ev = max(1000, int(1_000_000 * scale))
    n_doc = max(200, int(50_000 * scale))
    n_emb = max(200, int(20_000 * scale))
    rng = _rng(seed, 2)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{_P_ADJ[a]} {_P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [_P_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": _money(rng, 900.0, 999.9, n_part),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(
                _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)).astype(
                    "datetime64[us]"
                )
            ),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    flags = rng.integers(0, 3, n_li)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in flags],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)).astype(
                    "datetime64[us]"
                )
            ),
        }
    )
    # every event_type group holds 10k+1 rows: the median and p90 then
    # sit exactly on a row ((n-1)*q is integral), so q_percentile needs
    # no interpolation, whose last bit differs between engines
    type_rows = 10 * rng.integers(n_ev // 60, n_ev // 40, len(_EVENT_TYPES)) + 1
    n_ev = int(type_rows.sum())
    ev_type = rng.permutation(np.repeat(np.arange(len(_EVENT_TYPES)), type_rows))
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                (
                    np.datetime64("2024-01-01T00:00:00", "us")
                    + ev_us.astype("timedelta64[us]")
                ).astype("datetime64[ns]")
            ),
            "user_id": pa.array(rng.integers(0, max(50, n_ev // 66), n_ev), pa.int64()),
            "event_type": [_EVENT_TYPES[i] for i in ev_type],
            "value": _money(rng, 0.0, 560.0, n_ev),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
        }
    )
    lens = rng.integers(8, 80, n_doc)
    words = rng.integers(0, len(_DOC_WORDS), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(_DOC_WORDS[w] for w in words[pos:pos + ln]))
        pos += ln
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.integers(0, 5, n_doc)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    vecs = _cluster_vectors(rng, labels)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _cluster_vectors(rng, labels: np.ndarray, dims: int = 64) -> np.ndarray:
    """Unit vectors around one random centre per label."""
    centres = rng.normal(size=(int(labels.max()) + 1, dims))
    v = centres[labels] + 0.6 * rng.normal(size=(len(labels), dims))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


# ---------------------------------------------------------------------------
# nightly_batch: base corpus + JSONL increments
# ---------------------------------------------------------------------------

_SYL = [
    "ka", "lo", "mi", "ne", "su", "ta", "vo", "ri", "da", "pe", "zu", "ga",
    "bo", "xi", "fe", "ru", "no", "sa", "te", "wi",
]
#: 400 distinct words: random documents practically never share a
#: word 3-gram run long enough to look like near-duplicates
CORPUS_VOCAB = [a + b for a in _SYL for b in _SYL]
#: malformed JSONL lines planted per increment (quarantine path)
MALFORMED_PER_BATCH = 2
#: shares of an increment that are exact copies / near-duplicates
COPY_SHARE = 0.15
NEAR_SHARE = 0.15


class CorpusFeed:
    """Base corpus + increments. Each increment holds fresh originals,
    exact copies (``COPY_SHARE``) and near-duplicates (``NEAR_SHARE``,
    the source text plus one marker token) of earlier originals, plus
    malformed lines. Copies and near-dups carry larger ids than every
    original of their increment, so dedup (which keeps the smaller id)
    must drop them and never an original."""

    def __init__(self, seed: int, base_docs: int, batch_docs: int):
        self.seed = seed
        self.batch_docs = batch_docs
        rng = _rng(seed, 3)
        self.centres = rng.normal(size=(10, 64))
        ids = list(range(base_docs))
        self.base = [self._doc(rng, i) for i in ids]
        self.base_vecs = self._vecs(rng, base_docs)
        #: originals delivered so far: id -> (text, vector)
        self.originals = {
            d["doc_id"]: (d["text"], v) for d, v in zip(self.base, self.base_vecs)
        }

    def _doc(self, rng, doc_id: int) -> dict:
        n = int(rng.integers(25, 90))
        words = rng.integers(0, len(CORPUS_VOCAB), n)
        return {
            "doc_id": doc_id,
            "text": " ".join(CORPUS_VOCAB[w] for w in words),
            "lang": _LANGS[int(rng.integers(0, 5))],
            "source": f"src{int(rng.integers(0, 20))}",
        }

    def _vecs(self, rng, n: int) -> np.ndarray:
        labels = rng.integers(0, 10, n)
        v = self.centres[labels] + 0.6 * rng.normal(size=(n, 64))
        return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)

    def write_base(self, out_dir: str) -> tuple[str, str]:
        """Base corpus as (documents parquet, embeddings parquet)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(out_dir, exist_ok=True)
        docs = os.path.join(out_dir, "base_documents.parquet")
        vecs = os.path.join(out_dir, "base_embeddings.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([d["doc_id"] for d in self.base], pa.int64()),
                    "text": [d["text"] for d in self.base],
                    "lang": [d["lang"] for d in self.base],
                    "source": [d["source"] for d in self.base],
                }
            ),
            docs,
        )
        _write_vecs(vecs, [d["doc_id"] for d in self.base], self.base_vecs)
        return docs, vecs

    def write_batch(self, b: int, out_dir: str) -> dict:
        """Write increment ``b`` (1-based) as ``batch_<b>.jsonl`` +
        ``batch_<b>_embeddings.parquet``; returns its truth."""
        rng = _rng(self.seed, 4, b)
        os.makedirs(out_dir, exist_ok=True)
        n = self.batch_docs
        n_copy = int(n * COPY_SHARE)
        n_near = int(n * NEAR_SHARE)
        n_orig = n - n_copy - n_near
        base_id = 10_000_000 * b
        docs, vecs, ids = [], [], []
        for i in range(n_orig):
            d = self._doc(rng, base_id + i)
            docs.append(d)
            ids.append(d["doc_id"])
        orig_vecs = self._vecs(rng, n_orig)
        vecs.extend(orig_vecs)
        pool = sorted(self.originals) + ids  # earlier originals + this batch's
        pool_vec = {**{k: v for k, (_t, v) in self.originals.items()}}
        pool_text = {k: t for k, (t, _v) in self.originals.items()}
        for d, v in zip(docs, orig_vecs):
            pool_vec[d["doc_id"]] = v
            pool_text[d["doc_id"]] = d["text"]
        copies: list[int] = []
        for j in range(n_copy + n_near):
            src = pool[int(rng.integers(0, len(pool)))]
            doc_id = base_id + 5_000_000 + j
            text = pool_text[src]
            if j >= n_copy:
                text = f"{text} rep{j}"
            else:
                copies.append(doc_id)
            docs.append(
                {"doc_id": doc_id, "text": text, "lang": "en", "source": "mirror"}
            )
            ids.append(doc_id)
            v = pool_vec[src] + rng.normal(scale=1e-4, size=64)
            vecs.append((v / np.linalg.norm(v)).astype(np.float32))
        lines = [json.dumps(d, separators=(",", ":")) for d in docs]
        # malformed: one truncated line, one row without its text
        lines.append('{"doc_id":%d,"text":"trunc' % (base_id + 9_000_000))
        lines.append(json.dumps({"doc_id": base_id + 9_000_001, "lang": "en"}))
        jsonl = os.path.join(out_dir, f"batch_{b}.jsonl")
        with open(jsonl, "w") as f:
            f.write("\n".join(lines) + "\n")
        emb = os.path.join(out_dir, f"batch_{b}_embeddings.parquet")
        _write_vecs(emb, ids, np.stack(vecs))
        for d, v in zip(docs[:n_orig], orig_vecs):
            self.originals[d["doc_id"]] = (d["text"], v)
        return {
            "jsonl": jsonl,
            "embeddings": emb,
            "originals": ids[:n_orig],
            "copies": copies,
            "n_docs": n,
            "malformed": MALFORMED_PER_BATCH,
        }

    def query_vectors(self, b: int, n: int) -> list[tuple[int, np.ndarray]]:
        """``n`` search vectors after increment ``b``: a served original's
        vector nudged by 1e-4, so the exact top-1 is known to exist."""
        rng = _rng(self.seed, 5, b)
        keys = sorted(self.originals)
        out = []
        for q in range(n):
            src = keys[int(rng.integers(0, len(keys)))]
            v = self.originals[src][1] + rng.normal(scale=1e-4, size=64)
            out.append((-(b * 1000 + q + 1), (v / np.linalg.norm(v)).astype(np.float32)))
        return out


def _write_vecs(path: str, ids, vecs: np.ndarray) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(list(ids), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            }
        ),
        path,
    )
