#!/usr/bin/env python3
"""Benchmark launcher: one seeded workload per invocation, closed loop
with one client, on ``local[nproc]`` from this single process.

    python3 perfbench/run.py --workload nightly_batch --seed 1 --seconds 5 --trace 0

Untraced (``--trace 0``) runs print the end-to-end metrics; traced
(``--trace 1``) runs record spans around the set-up and the timed steps
(Spark UI and its status API on), then run as many steps untraced, and
print the per-layer metrics plus the tracing overhead. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``.

Run it from the repository root; it reads and writes only below that
directory (``.perfbench_work/`` is removed at exit, traces land in
``.perfbench_out/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

PROC_T0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("nightly_batch", "warehouse_queries")

#: end-to-end metrics (untraced) and per-layer metrics (traced), with
#: units — the same lists BENCHMARK.json declares
END_TO_END = {
    "setup_s": "s",
    "op_geomean_s": "s",
    "items_per_s": "1/s",
}
PER_LAYER = {
    "ingest.self_s": "s",
    "engine.self_s": "s",
    "sink.self_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "session.initial_partitions": "count",
    "trace.overhead_s": "s",
}

#: span name -> role in the per-layer JSON (everything else: engine)
ROLES = {
    "sources.read_tx": "ingest",
    "sources.read_xlsx": "ingest",
    "sources.tables": "ingest",
    "corpus.read": "ingest",
    "warehouse.write": "sink",
    "queries.exec": "sink",
}


def pin_machine(work: str, trace: bool) -> dict:
    """Pin the session's environment before pyspark is imported."""
    from perfbench.harness import nproc

    n = nproc()
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    # a quarter of RAM, at most 4g: the session.py default (16g) exceeds
    # small hosts, and the inputs here need far less
    driver_gb = max(1, min(4, mem_kb // (4 * 1024 * 1024)))
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
              "SPARK_GRAFT_INITIAL_PARTITIONS", "SPARK_GRAFT_MAX_PARTITION_BYTES",
              "SPARK_GRAFT_ADVISORY_PARTITION_BYTES"):
        os.environ.pop(k, None)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(n),
            "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_UI": "true" if trace else "false",
            "TMPDIR": tmp,
            # no hsperfdata file under the system temp dir, for the
            # launcher JVM and the driver JVM alike
            "JAVA_TOOL_OPTIONS": " ".join(
                filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])
            ),
            "TZ": "UTC",
            "PYTHONPATH": os.pathsep.join(
                [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
            ),
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    time.tzset()
    return {"nproc": n, "driver_mem": f"{driver_gb}g"}


def start_spark(work: str, trace: bool):
    from etl_sber_spark.session import get_spark
    from perfbench.harness import ui_conf

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "catalog"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        **ui_conf(trace),
    }
    return get_spark("perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def jvm_pid():
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def make_workload(name: str, seed: int, work: str):
    if name == "nightly_batch":
        from perfbench.nightly import NightlyWorkload as W
    else:
        from perfbench.queries import QueriesWorkload as W
    return W(seed, work)


def run_steps(wl, spark, tr, ops, seconds: float, max_steps: float = float("inf")) -> int:
    """Closed loop, one client: whole steps (a night, a query pass)
    until ``seconds`` of op time are spent; at least one."""
    steps = 0
    while ops.timed < seconds and steps < max_steps:
        wl.step(spark, tr, ops)
        steps += 1
    return steps


def initial_partitions(spark) -> int:
    """AQE's initialPartitionNum (unset: spark.sql.shuffle.partitions)."""
    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    value = spark.conf.get(key, None)
    return int(value if value is not None else spark.conf.get("spark.sql.shuffle.partitions"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "etl_sber_spark")):
        print(
            "perfbench: the etl_sber_spark package is not next to "
            f"{HERE}; run from a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    trace = bool(args.trace)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        return _run(args, trace, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        print(f"[perfbench] wall {time.perf_counter() - PROC_T0:.1f} s", file=sys.stderr)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _run(args, trace: bool, work: str) -> int:
    machine = pin_machine(work, trace)
    from bench import _proc_stat_jiffies
    from perfbench import harness
    from perfbench.harness import Ops, Tracer

    steal0, total0 = _proc_stat_jiffies()
    load0 = os.getloadavg()
    excluded = 0.0  # input generation + oracle preparation

    wl = make_workload(args.workload, args.seed, os.path.join(work, "a"))
    t = time.perf_counter()
    wl.prepare()
    excluded += time.perf_counter() - t
    harness.log(f"prepare {time.perf_counter() - t:.1f} s")

    t = time.perf_counter()
    spark = start_spark(work, trace)
    harness.log(f"session {time.perf_counter() - t:.1f} s")
    try:
        parts_before = initial_partitions(spark)
        off = Tracer(spark, enabled=False)
        # traced runs record the set-up too: IVF training and the other
        # prebuilds are layers whose cost lands in setup_s
        tr = Tracer(spark, enabled=trace)
        t = time.perf_counter()
        with tr.span("bench.setup"):
            wl.setup(spark, tr)
        harness.log(f"setup {time.perf_counter() - t:.1f} s")
        excluded += wl.excluded  # generation/checks inside setup
        ops = Ops()
        if not trace:
            t = time.perf_counter()
            run_steps(wl, spark, off, ops, args.seconds)
            harness.log(f"loop {time.perf_counter() - t:.1f} s, timed {ops.timed:.1f} s")
            setup_s = ops.first_op_at - PROC_T0 - excluded
            metrics, extra = end_to_end(ops, wl, setup_s)
            attempted, failed = ops.attempted, ops.failed
        else:
            # steps inside spans, then as many steps untraced in the same
            # process. The per-op difference estimates what the spans,
            # their materializations and job-group tags cost. It leaves
            # out the UI and its status store, which are on for both
            # halves; and the untraced steps come later, with a warmer
            # JIT (inflating it) and, in nightly_batch, on a warehouse
            # and index the traced nights grew (deflating it)
            with tr.span("bench.loop"):
                steps = run_steps(wl, spark, tr, ops, args.seconds / 2)
            plain = Ops()
            run_steps(wl, spark, off, plain, float("inf"), max_steps=steps)
            metrics, extra = per_layer(spark, tr, wl, (ops.timed - plain.timed) / max(1, ops.attempted))
            extra["trace.overhead_ratio"] = (
                (ops.timed - plain.timed) / max(1e-9, plain.timed), "ratio")
            attempted = ops.attempted + plain.attempted
            failed = ops.failed + plain.failed
            extra["trace_file"] = (write_trace(args, tr, metrics, extra), "")
        parts_after = initial_partitions(spark)
        if trace:
            metrics["session.initial_partitions"] = float(parts_after)
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        harness.log(f"stop {time.perf_counter() - t:.1f} s")

    steal1, total1 = _proc_stat_jiffies()
    machine.update(
        {
            "loadavg_start": round(load0[0], 2),
            "loadavg_end": round(os.getloadavg()[0], 2),
            "cpu_steal_pct": round(
                100.0 * (steal1 - steal0) / max(1, total1 - total0), 3
            ),
            "initial_partitions_before": parts_before,
            "initial_partitions_after": parts_after,
        }
    )
    for k, v in machine.items():
        print(f"{args.workload} {k} = {v}")
    for k, (v, unit) in extra.items():
        v = v if isinstance(v, str) else repr(v)
        print(f"{args.workload} {k} = {v} {unit}".rstrip())
    print(f"{args.workload} error_rate = {failed / max(1, attempted)!r} ratio "
          f"({failed} of {attempted} ops)")
    for k, v in metrics.items():
        print(f"{args.workload} {k} = {v!r} {units(trace)[k]}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": units(trace)[k]} for k, v in metrics.items()
        },
    }
    print(json.dumps(result))
    return 0


def units(trace: bool) -> dict:
    return PER_LAYER if trace else END_TO_END


def latency_lines(ops) -> dict:
    """Per op kind: median, tail, and where the tail sits
    (``p<percentile> of n=<samples>``)."""
    from perfbench.harness import median, tail

    out = {}
    for kind, t in ops.times.items():
        v, p, n = tail(t)
        out[f"{kind}_p50_s"] = (median(t), "s")
        out[f"{kind}_tail_s"] = (v, "s")
        out[f"{kind}_tail"] = (f"p{p:.1f} of n={n}", "")
    return out


def end_to_end(ops, wl, setup_s: float) -> tuple[dict, dict]:
    """The BENCHMARK.json metrics (generic names, one set per workload)
    and the same figures under the workload's own names. The op metric
    is a geometric mean, not a median: a pass times thirty different
    queries whose latencies have gaps between them, so their median
    jumps from one query to the next between runs."""
    from perfbench.harness import geomean, vm_hwm_mb

    rates = wl.rates(ops)
    pid = jvm_pid()
    metrics = {
        "setup_s": setup_s,
        "op_geomean_s": geomean(ops.times.get(wl.PRIMARY, [])),
        "items_per_s": rates[wl.ITEMS],
    }
    extra = latency_lines(ops)
    extra.update({k: (v, "1/s") for k, v in rates.items()})
    # printed, not bounded: the JVM's peak RSS follows its GC timing and
    # varies by a fifth between identical runs
    extra["peak_rss_mb"] = (vm_hwm_mb() + (vm_hwm_mb(pid) if pid else 0.0), "MB")
    return metrics, {**extra, **wl.report()}


def per_layer(spark, tr, wl, overhead: float) -> tuple[dict, dict]:
    """The BENCHMARK.json per-layer metrics (roles and Spark totals over
    the timed steps, measured on every workload) and, as extra lines,
    every layer's own metrics: self time per span name, the workload's
    counts, and Spark counters per span name. Spans below the set-up
    are reported apart, prefixed ``setup.``."""
    from perfbench.harness import spark_counters

    loop, setup = tr.under("bench.loop"), tr.under("bench.setup")
    selfs = tr.self_times(loop)
    counters = spark_counters(spark, tr)
    roles = {"ingest": 0.0, "engine": 0.0, "sink": 0.0}
    for name, v in selfs.items():
        roles[ROLES.get(name, "engine")] += v
    totals = {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0, "gc_s": 0.0}
    by_layer: dict[str, dict] = {}
    for sid, c in counters["per_span"].items():
        if sid not in loop and sid not in setup:
            continue  # the root spans' own jobs: the benchmark's checks
        name = tr.spans[sid]["name"]
        if sid in setup:
            name = f"setup.{name}"
        else:
            for k in totals:
                totals[k] += c[k]
        lay = by_layer.setdefault(name, {k: 0 for k in totals})
        for k in totals:
            lay[k] += c[k]
    sql_by_layer: dict[str, dict] = {}
    for sid, c in counters["sql"].items():
        if sid in loop:
            lay = sql_by_layer.setdefault(tr.spans[sid]["name"], {})
            for k, v in c.items():
                lay[k] = lay.get(k, 0.0) + v
    metrics = {
        "ingest.self_s": roles["ingest"],
        "engine.self_s": roles["engine"],
        "sink.self_s": roles["sink"],
        "spark.jobs": float(totals["jobs"]),
        "spark.tasks": float(totals["tasks"]),
        "spark.shuffle_bytes": float(totals["shuffle_bytes"]),
        "spark.spill_bytes": float(totals["spill_bytes"]),
        "spark.gc_s": float(totals["gc_s"]),
        "session.initial_partitions": 0.0,  # set by the caller
        "trace.overhead_s": overhead,
    }
    layers = {f"{k}_s": (v, "s") for k, v in sorted(selfs.items())}
    layers.update(
        {f"setup.{k}_s": (v, "s") for k, v in sorted(tr.self_times(setup).items())}
    )
    layers.update(wl.layer_metrics(tr, by_layer, sql_by_layer))
    for name, c in sorted(by_layer.items()):
        for k, v in c.items():
            layers[f"spark.{k}[{name}]"] = (v, SPARK_UNITS[k])
    layers["self_time_violations"] = (len(tr.self_time_violations()), "count")
    return metrics, layers


#: units of the per-span Spark counters
SPARK_UNITS = {"jobs": "count", "tasks": "count", "shuffle_bytes": "bytes",
               "spill_bytes": "bytes", "gc_s": "s"}


def write_trace(args, tr, metrics: dict, layers: dict) -> str:
    """Spans and metrics of a traced run, as JSON under .perfbench_out/."""
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "spans": tr.spans,
                "per_layer": metrics,
                "layers": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
                "self_time_violations": tr.self_time_violations(),
            },
            f,
            indent=1,
        )
    return os.path.relpath(path, ROOT)


if __name__ == "__main__":
    # import the benchmark as a package: the script directory itself must
    # not shadow top-level modules (this package has a queries.py)
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    sys.exit(main())
