#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload nexmark_q5 --seed 1 --seconds 5 --trace 0

Builds the program and the benchmark from source into `.bench_build/`
(see build.py), runs the workload in a fresh JVM on `local[4]`, checks the
outputs, prints one line per metric, and prints as the last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With `--trace 0`
the metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
Exits non-zero without a result line if the build or a run fails.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("nexmark_q5", "nexmark_q8", "batch_sf01")
JVM_TIMEOUT_S = 150
# batch_sf01: a warm-up pass and a timed pass over the sf0.1 fixture
BATCH_TIMEOUT_S = 900
EXPECTED = HERE / "expected" / "batch_sf01.json"
FAIL_FIELDS = ("missing", "wrong", "extra", "duplicate", "late", "dropped", "other")


def tail_rank(n, q=0.99, beyond=10):
    """1-based rank of the highest percentile (at most q) that leaves at
    least `beyond` samples above it, or None if there are too few."""
    rank = min(math.ceil(q * n), n - beyond)
    return rank if rank >= 1 else None


def at_rank(values, rank):
    return sorted(values)[rank - 1]


def percentile(values, q):
    """Nearest-rank percentile."""
    return at_rank(values, max(1, math.ceil(q * len(values))))


def tally(checks):
    """(attempted, failed, correct) over the per-phase output checks.

    Attempted counts the expected results. Failed counts missing, wrong,
    extra, duplicate and late results, rows the state operators dropped as
    later than the watermark, and errors ("other"). Late results are
    failures but not wrong outputs."""
    attempted = sum(c["expected"] for c in checks.values())
    failed = sum(c[f] for c in checks.values() for f in FAIL_FIELDS)
    wrong = sum(c[f] for c in checks.values() for f in FAIL_FIELDS if f != "late")
    return attempted, failed, wrong == 0


def run_jvm(classes, main, args, log, timeout=JVM_TIMEOUT_S):
    """Run a benchmark JVM; returns (spawn wall time in ms, report)."""
    work = build.BUILD / "work" / f"{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    report = work / "report.json"
    cmd = build.java_cmd(classes, main) + args + [
        "--work", str(work), "--report", str(report)]
    try:
        with open(log, "w") as out:
            t0 = time.time() * 1000.0
            subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, check=True,
                           timeout=timeout, cwd=build.ROOT)
        return t0, json.loads(report.read_text())
    except (subprocess.SubprocessError, OSError, ValueError) as e:
        tail = Path(log).read_text()[-4000:] if Path(log).exists() else ""
        sys.stderr.write(f"benchmark JVM failed: {e}\n{tail}\n")
        sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def batch_end_to_end(rep, setup_s):
    return {
        "setup_s": (setup_s, "s"),
        "time_to_result_s": (rep["time_to_result_s"], "s"),
        "live_heap_mb": (rep["live_heap_mb"], "MiB"),
    }, {"errors": rep["errors"], "wrong": rep["wrong"], "peak_rss_mb": rep["peak_rss_kb"] / 1024.0}


def batch_per_layer(rep):
    def unit(name):
        for suffix, u in (("_s", "s"), ("_bytes", "bytes"), ("ns_per_row", "ns")):
            if name.endswith(suffix):
                return u
        return "count"
    return ({k: (v, unit(k)) for k, v in rep["layers"].items()},
            {"errors": rep["errors"], "entry_counters": rep["entry_counters"]})


def end_to_end(rep, setup_s):
    lat = rep["latency_ms"]
    rank = tail_rank(len(lat))
    if rank is None:
        sys.stderr.write(f"only {len(lat)} latency samples\n")
        sys.exit(1)
    notes = {"latency_samples": len(lat),
             "latency_tail_percentile": round(100.0 * rank / len(lat), 3),
             "peak_rss_mb": rep["peak_rss_kb"] / 1024.0}
    return {
        "setup_s": (setup_s, "s"),
        "events_per_s": (rep["events"] / rep["drain_s"], "events/s"),
        "latency_p50_ms": (percentile(lat, 0.5), "ms"),
        "latency_p99_ms": (at_rank(lat, rank), "ms"),
        "live_heap_mb": (rep["live_heap_mb"], "MiB"),
    }, notes


def per_layer(rep):
    layers, raw = rep["layers"], rep["raw"]

    def p(key, q):
        return percentile(raw[key], q) if raw[key] else 0.0

    units = {
        "gen.ns_per_event": "ns", "batch.count": "count",
        "shuffle.bytes_per_event": "bytes/event", "shuffle.records_per_event": "records/event",
        "task.cpu_ms_per_kevent": "ms/kevent", "task.gc_ms_per_kevent": "ms/kevent",
        "state.operators": "count", "state.rows_total_peak": "rows",
        "state.memory_bytes_peak": "bytes", "state.commit_ms_per_batch": "ms",
        "state.update_ms_per_batch": "ms", "state.removal_ms_per_batch": "ms",
        "state.rows_dropped_by_watermark": "rows", "sink.results": "count",
        "events_per_s_local1": "events/s", "trace.overhead_share": "share",
    }
    out = {k: (layers[k], u) for k, u in units.items()}
    out.update({k: (v, "s" if k.startswith("tables.") else "ns")
                for k, v in layers.items() if k.startswith(("tables.", "kernel."))})
    out["source.backlog_events_p99"] = (p("backlog_events", 0.99), "events")
    out["batch.duration_ms_p50"] = (p("batch_duration_ms", 0.5), "ms")
    out["batch.duration_ms_p99"] = (p("batch_duration_ms", 0.99), "ms")
    for k in ("planning", "add_batch", "wal_commit", "commit_offsets"):
        out[f"batch.{k}_ms_p50"] = (p(f"batch_{k}_ms", 0.5), "ms")
    return out, {"counters": layers["counters"], "self_ms": rep["self_ms"]}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="batch_sf01 only: directory of the sf0.1 parquet tables")
    ap.add_argument("--record-expected", action="store_true",
                    help="batch_sf01 only: write this run's row counts and hashes as the expected values")
    a = ap.parse_args(argv)
    if (a.workload == "batch_sf01") != (a.data is not None):
        ap.error("--data is required for batch_sf01 and only for it")

    classes = build.build()
    logs = build.BUILD / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    log = logs / f"{a.workload}-{a.seed}-t{a.trace}.log"
    trace = ["--trace", str(a.trace)]
    if a.data:
        args = ["--data", a.data, "--expected", str(EXPECTED)] + trace
        if a.record_expected:
            args += ["--record", str(EXPECTED)]
        t0, rep = run_jvm(classes, "perfbench.BatchBench", args, log, BATCH_TIMEOUT_S)
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds)] + trace
        t0, rep = run_jvm(classes, "perfbench.StreamBench", args, log)
    setup_s = (rep["setup_done_ms"] - t0) / 1000.0

    if a.data:
        metrics, notes = batch_per_layer(rep) if a.trace else batch_end_to_end(rep, setup_s)
    elif a.trace:
        metrics, notes = per_layer(rep)
        spans = {"spans": rep["spans"], "self_ms": rep["self_ms"]}
        log.with_suffix(".spans.json").write_text(json.dumps(spans))
    else:
        metrics, notes = end_to_end(rep, setup_s)
    report(a, metrics, notes, rep["checks"])


def report(a, metrics, notes, checks):
    attempted, failed, correct = tally(checks)

    for name, (value, unit) in metrics.items():
        print(f"{a.workload:12s} {name:34s} {value:16.6g} {unit}")
    print(f"{a.workload:12s} {'failed_share':34s} {failed / attempted:16.6g} fraction"
          f"  ({failed} of {attempted} results)")
    print(json.dumps({"notes": notes, "checks": checks}))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
