"""Self-checks of the benchmark's input generators and output checks.
They start no Spark session:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

from perfbench import gen, oracle
from perfbench.corpus import CorpusWorkload
from perfbench.etl import check_mart
from perfbench.harness import Ops, Tracer, tail
from perfbench.queries import QueriesWorkload, canonical


def _tree(root) -> dict[str, bytes]:
    """Relative path -> bytes of every file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _etl_inbox(seed: int, root) -> dict[str, bytes]:
    inbox = gen.EtlInbox(seed, 600)
    for day in (1, 2, 3):
        inbox.write_day(day, os.path.join(root, f"day{day}"))
    return _tree(root)


def _corpus_feed(seed: int, root) -> dict[str, bytes]:
    feed = gen.CorpusFeed(seed, 120, 40)
    feed.write_base(root)
    for b in (1, 2):
        feed.write_batch(b, root)
    return _tree(root)


def _tables(seed: int, root) -> dict[str, bytes]:
    gen.write_tables(seed, root, scale=0.0005, lineitem_scale=0.0005)
    return _tree(root)


def test_generators_are_byte_identical_for_one_seed(tmp_path):
    for make in (_etl_inbox, _corpus_feed, _tables):
        a = make(11, tmp_path / make.__name__ / "a")
        b = make(11, tmp_path / make.__name__ / "b")
        assert a and a == b, make.__name__


def test_another_seed_changes_the_inputs(tmp_path):
    for make in (_etl_inbox, _corpus_feed, _tables):
        a = make(11, tmp_path / make.__name__ / "a")
        c = make(12, tmp_path / make.__name__ / "c")
        assert a.keys() == c.keys(), make.__name__
        same = {k for k in a if a[k] == c[k]}
        # every file changes but the fixed TPC-H dimensions
        assert same <= {"nation.parquet", "region.parquet"}, (make.__name__, same)


def test_etl_inbox_uses_the_reference_formats(tmp_path):
    inbox = gen.EtlInbox(3, 600)
    truth = inbox.write_day(1, str(tmp_path))
    names = sorted(os.listdir(tmp_path))
    assert names == [
        "passport_blacklist_01032021.xlsx",
        "terminals_01032021.xlsx",
        "transactions_01032021.txt",
    ]
    with open(tmp_path / names[2]) as f:
        header, first = f.readline().strip(), f.readline().strip()
    assert header.split(";")[0] == "transaction_id"
    amount = first.split(";")[2]
    assert "," in amount and "." not in amount  # comma decimals
    assert len(truth["tx"]) == 600


def test_corrupted_mart_is_counted(tmp_path):
    inbox = gen.EtlInbox(3, 600)
    truth = inbox.write_day(1, str(tmp_path))
    want = oracle.fraud_mart(inbox.bank_rows(), truth, inbox.card_num)
    assert want, "the day plants fraud triggers"
    ops = Ops()
    assert check_mart(ops, truth["date"], list(want), want)
    corrupted = want[:-1] + [want[-1][:4] + ("NOT_AN_EVENT",)]
    assert not check_mart(ops, truth["date"], corrupted, want)
    assert not check_mart(ops, truth["date"], want[1:], want)
    assert ops.failed == 2


def _batch_reasons(truth: dict) -> dict:
    """What a correct curation returns: originals kept, every copy and
    near-duplicate dropped."""
    ids = []
    with open(truth["jsonl"]) as f:
        for line in f:
            try:
                d = json.loads(line)
            except ValueError:
                continue
            if "text" in d:
                ids.append(d["doc_id"])
    originals = set(truth["originals"])
    return {i: None if i in originals else "dup" for i in ids}


def test_corrupted_curation_is_counted(tmp_path):
    feed = gen.CorpusFeed(5, 100, 40)
    truth = feed.write_batch(1, str(tmp_path))
    reasons = _batch_reasons(truth)
    assert len(reasons) == truth["n_docs"]
    wl = CorpusWorkload(5, str(tmp_path))
    ops = Ops()
    wl._check_batch(ops, truth, reasons, truth["malformed"])
    assert ops.failed == 0
    dropped_original = {**reasons, truth["originals"][0]: "dup"}
    wl._check_batch(ops, truth, dropped_original, truth["malformed"])
    kept_copy = {**reasons, truth["copies"][0]: None}
    wl._check_batch(ops, truth, kept_copy, truth["malformed"])
    wl._check_batch(ops, truth, reasons, truth["malformed"] - 1)
    assert ops.failed == 3


class _Seen:
    """Stands in for the Observation of a timed noop write."""

    def __init__(self, rows: int):
        self.get = {"rows": rows}


def test_corrupted_query_result_is_counted(tmp_path):
    wl = QueriesWorkload(1, str(tmp_path))
    cols = ["k", "v"]
    good = [(1, 2.0), (2, 3.5)]
    wl.names = ["q_good", "q_bad", "q_short"]
    wl.expected = {n: canonical(cols, good) for n in wl.names}
    assert wl.check_result("q_good", cols, list(reversed(good)))  # order-free
    assert not wl.check_result("q_bad", cols, [(1, 2.0), (2, 3.6)])
    assert wl.check_result("q_short", cols, good)
    # q_short's warm-up matched; its timed run loses a row by itself
    wl._run_query = lambda spark, tr, name, collect=False: _Seen(
        1 if name == "q_short" else 2
    )
    ops = Ops()
    wl.step(None, Tracer(), ops)  # one pass
    assert (ops.attempted, ops.failed) == (3, 2)


def test_an_op_that_raises_is_counted_and_the_loop_goes_on():
    ops = Ops()

    def boom():
        raise RuntimeError("engine failed")

    assert ops.run("op", boom) == (False, None)
    assert ops.run("op", lambda: 42) == (True, 42)
    assert (ops.attempted, ops.failed, len(ops.times["op"])) == (2, 1, 1)


def test_tail_keeps_ten_samples_beyond_it():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    v, p, n = tail([float(i) for i in range(1, 31)])
    assert (v, n) == (20.0, 30) and abs(p - 100 * 20 / 30) < 1e-9
    assert sum(x > v for x in range(1, 31)) == 10


def test_self_time_excludes_children():
    tr = Tracer()
    tr.spans = [
        {"id": 0, "name": "outer", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "inner", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "inner", "parent": 0, "start": 5.0, "end": 6.0},
    ]
    assert tr.self_times() == {"outer": 6.0, "inner": 4.0}
    assert tr.self_time_violations() == []
    tr.spans[2]["end"] = 11.0
    assert tr.self_time_violations() == ["inner outside outer"]


def test_benchmark_json_matches_the_printed_metrics():
    from perfbench import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_self_times_split_by_root():
    tr = Tracer()
    tr.spans = [
        {"id": 0, "name": "bench.setup", "parent": None, "start": 0.0, "end": 5.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "name": "b", "parent": 1, "start": 1.5, "end": 2.0},
        {"id": 3, "name": "bench.loop", "parent": None, "start": 5.0, "end": 9.0},
        {"id": 4, "name": "a", "parent": 3, "start": 6.0, "end": 7.0},
    ]
    assert tr.under("bench.setup") == {1, 2}
    assert tr.self_times(tr.under("bench.setup")) == {"a": 1.5, "b": 0.5}
    assert tr.self_times(tr.under("bench.loop")) == {"a": 1.0}
