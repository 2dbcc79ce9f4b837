"""Measurement plumbing shared by the workloads: the closed-loop op
recorder, latency statistics, the span tracer with Spark counters, and
machine/process probes.

Spans are kept in memory and written out when the run ends. A span is
(name, start, end, parent); a layer's self time is its span minus the
part its child spans cover. In traced runs every Spark job started
inside a span is tagged with the span's id (``setJobGroup``), and the
job/stage/SQL data are read once from the status REST API at the end,
so per-span counters cost nothing while the loop runs.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import sys
import time
import traceback
import urllib.request


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; with fewer than eleven samples, the maximum."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 11:
        return s[-1], 100.0, n
    i = n - 11
    return s[i], 100.0 * (i + 1) / n, n


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def geomean(values: list[float]) -> float:
    return statistics.geometric_mean(values) if values else 0.0


# ---------------------------------------------------------------------------
# op recorder
# ---------------------------------------------------------------------------


class Ops:
    """Closed-loop bookkeeping: one client, each op starts when the
    previous returned. ``timed`` accumulates only the measured regions;
    output checks run outside them and mark the op failed."""

    def __init__(self) -> None:
        self.times: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.timed = 0.0
        self.first_op_at: float | None = None
        self.failures: list[str] = []

    def run(self, kind: str, fn, *args):
        """Time ``fn(*args)``; returns (ok, result). An exception counts
        as a failed op and is reported on stderr."""
        self.attempted += 1
        t0 = time.perf_counter()
        if self.first_op_at is None:
            self.first_op_at = t0
        try:
            out = fn(*args)
        except Exception:  # the loop must go on; the op counts as failed
            self.timed += time.perf_counter() - t0
            self.fail(f"{kind} raised:\n{traceback.format_exc()}")
            return False, None
        dt = time.perf_counter() - t0
        self.timed += dt
        self.times.setdefault(kind, []).append(dt)
        log(f"{kind} {dt:.3f} s")
        return True, out

    def fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why)
        print(f"[perfbench] FAILED: {why}", file=sys.stderr)

    def check(self, ok: bool, why: str) -> bool:
        """An output check on the last op: a failure adds to error_rate."""
        if not ok:
            self.fail(why)
        return ok


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans. Disabled tracers make ``span`` a no-op and
    ``materialize`` the identity, so one workload body serves both the
    untraced and the traced run."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counts: dict[str, float] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def materialize(self, df):
        """Inside a span, force the lazy frame a layer returned so its
        work lands in that span (traced runs only)."""
        if not self.enabled or df is None:
            return df
        return df.localCheckpoint(eager=True)

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            self.counts[key] = self.counts.get(key, 0) + value

    def under(self, root: str) -> set[int]:
        """Ids of the spans below the root span(s) named ``root``."""
        ids: set[int] = set()
        for s in self.spans:  # parents precede their children
            p = s["parent"]
            if p is not None and (p in ids or self.spans[p]["name"] == root):
                ids.add(s["id"])
        return ids

    def self_times(self, ids: set[int] | None = None) -> dict[str, float]:
        """Per span name: summed self time (span minus the union of its
        children's intervals, which nest and do not overlap), over the
        spans in ``ids`` (default: all)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None or (ids is not None and s["id"] not in ids):
                continue
            own = (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def self_time_violations(self) -> list[str]:
        """Spans whose children cover more than the span itself."""
        bad = []
        for s in self.spans:
            kids = [c for c in self.spans if c["parent"] == s["id"]]
            covered = sum(c["end"] - c["start"] for c in kids)
            if covered > (s["end"] - s["start"]) + 1e-6:
                bad.append(s["name"])
            for c in kids:
                if c["start"] < s["start"] - 1e-6 or c["end"] > s["end"] + 1e-6:
                    bad.append(f"{c['name']} outside {s['name']}")
        return bad


@contextlib.contextmanager
def wrapped(tr: Tracer, targets: list[tuple]):
    """Within the block, replace ``module.attr`` by a version that runs
    inside span ``name`` — how the traced run records spans around
    public functions the package calls internally. Each target is
    (module, attr, name, materialize[, count]): ``materialize`` forces
    the returned frame inside the span; ``count(frame)``, when given,
    is added to ``tr.counts[name]`` after the span closes. A disabled
    tracer patches nothing."""
    if not tr.enabled:
        yield
        return
    saved = []
    for mod, attr, name, mat, *count in targets:
        fn = getattr(mod, attr)

        def traced(*a, _fn=fn, _name=name, _mat=mat, _count=count, **k):
            with tr.span(_name):
                out = _fn(*a, **k)
                if _mat:
                    out = tr.materialize(out)
            if _count and _count[0] is not None:
                tr.add(_name, _count[0](out))
            return out

        saved.append((mod, attr, fn))
        setattr(mod, attr, traced)
    try:
        yield
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)


# ---------------------------------------------------------------------------
# Spark status REST API (traced runs: UI on)
# ---------------------------------------------------------------------------


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


_NUM = re.compile(r"([-\d.,]+)\s*(ms|s|min|h|B|KiB|MiB|GiB|TiB)?")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0}


def _metric_total(value: str) -> tuple[float, str | None]:
    """Parse a SQL-metric string ('total (min, med, max)\\n1.2 s (...)'
    or '12,345') to (number, unit) of its total."""
    line = value.split("\n")[1] if "\n" in value else value
    m = _NUM.match(line.strip())
    if not m:
        return 0.0, None
    try:
        return float(m.group(1).replace(",", "")), m.group(2)
    except ValueError:
        return 0.0, None


#: operator families for per-family execution self time, in priority
#: order: a fused codegen stage is charged to its highest-priority member
FAMILIES = (
    ("band", ("BroadcastNestedLoopJoin", "CartesianProduct")),
    ("window", ("Window",)),
    ("join", ("Join",)),
    ("agg", ("Aggregate",)),
    ("scan", ("Scan",)),
)


def _family(names: list[str]) -> str | None:
    for fam, keys in FAMILIES:
        if any(k in n for n in names for k in keys):
            return fam
    return None


def spark_counters(spark, tracer: Tracer) -> dict:
    """Per-span Spark counters from the status API: jobs, tasks,
    shuffle bytes, spill bytes, GC seconds, plus per-family execution
    time and scanned rows from SQL metrics."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    # the listener bus is asynchronous: wait until the store shows no
    # job still running
    deadline = time.time() + 20
    jobs = _get(f"{base}/jobs")
    while time.time() < deadline and any(
        j.get("status") == "RUNNING" for j in jobs
    ):
        time.sleep(0.25)
        jobs = _get(f"{base}/jobs")
    stages = _get(f"{base}/stages?status=complete")
    stage_by_id: dict[int, dict] = {}
    for s in stages:
        stage_by_id.setdefault(s["stageId"], s)
    per_span: dict[int, dict] = {}
    job_span: dict[int, int] = {}
    for j in jobs:
        grp = j.get("jobGroup") or ""
        if not grp.startswith("span-"):
            continue
        sid = int(grp[5:])
        job_span[j["jobId"]] = sid
        c = per_span.setdefault(
            sid,
            {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0, "gc_s": 0.0},
        )
        c["jobs"] += 1
        c["tasks"] += j.get("numCompletedTasks", 0)
        for st in j.get("stageIds", []):
            s = stage_by_id.get(st)
            if s is None:
                continue
            c["shuffle_bytes"] += s.get("shuffleWriteBytes", 0)
            c["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get(
                "diskBytesSpilled", 0
            )
            c["gc_s"] += s.get("jvmGcTime", 0) / 1000.0
    sql: dict[int, dict] = {}
    try:
        execs = _get(f"{base}/sql?details=true&planDescription=false&length=1000000")
    except OSError:
        execs = []
    for e in execs:
        ids = (
            e.get("successJobIds", [])
            + e.get("failedJobIds", [])
            + e.get("runningJobIds", [])
        )
        spans = {job_span[i] for i in ids if i in job_span}
        if len(spans) != 1:
            continue
        sid = spans.pop()
        acc = sql.setdefault(sid, {"rows_scanned": 0.0})
        nodes = e.get("nodes", [])
        members: dict[int, list[str]] = {}
        for n in nodes:
            cg = n.get("wholeStageCodegenId")
            if cg is not None:
                members.setdefault(cg, []).append(n["nodeName"])
        for n in nodes:
            name = n["nodeName"]
            metrics = {m["name"]: m["value"] for m in n.get("metrics", [])}
            if "Scan" in name and "number of output rows" in metrics:
                acc["rows_scanned"] += _metric_total(metrics["number of output rows"])[0]
            if name.startswith("WholeStageCodegen"):
                cg = int(re.sub(r"\D", "", name.split("(")[-1]) or -1)
                fam = _family(members.get(cg, []))
                val, unit = _metric_total(metrics.get("duration", ""))
            elif n.get("wholeStageCodegenId") is None:
                fam = _family([name])
                times = [
                    _metric_total(v)
                    for k, v in metrics.items()
                    if "time" in k and "shuffle" not in k and "fetch" not in k
                ]
                val = sum(t[0] * _UNIT_S.get(t[1] or "", 0) for t in times)
                unit = "s"
            else:
                continue
            if fam is None:
                continue
            acc[f"{fam}_s"] = acc.get(f"{fam}_s", 0.0) + val * _UNIT_S.get(
                unit or "", 0
            )
    return {"per_span": per_span, "sql": sql}


def ui_conf(trace: bool) -> dict[str, str]:
    """Session settings for traced runs: the UI (and its status store)
    on, retention raised so no job of the run is evicted."""
    if not trace:
        return {}
    return {
        "spark.ui.port": "0",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


# ---------------------------------------------------------------------------
# machine / process probes
# ---------------------------------------------------------------------------


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, MB; 0 when unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1
