"""Spark counter ledger: the event log parsed into per-job-group counters.

The traced run enables Spark's event log and runs every op (and every
phase of an op) under its own job group. ``parse_event_log`` turns the
log into ``{job_group: {counter: value}}``; ``diff`` prints the per-op
counter difference between two traced captures:

    python3 perfbench/ledger.py diff A.json B.json

Counts and byte totals repeat exactly at the same seed; the ``_s``
entries are executor times and vary from run to run.
"""

from __future__ import annotations

import json
import os
import sys

COUNTS = (
    "jobs",
    "stages",
    "tasks",
    "records_read",
    "records_written",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
    "result_bytes",
)
TIMES = ("executor_run_s", "executor_cpu_s", "gc_s")
FIELDS = COUNTS + TIMES


def empty() -> dict:
    return {k: 0 for k in FIELDS}


def find_log(log_dir: str) -> str:
    logs = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return os.path.join(log_dir, logs[0])


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def parse_event_log(path: str) -> dict[str, dict]:
    """Per-job-group counters from one uncompressed, non-rolling log."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}

    def row(g: str) -> dict:
        return groups.setdefault(g, empty())

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = _group(ev.get("Properties"))
                if g:
                    row(g)["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                g = _group(ev.get("Properties"))
                if g:
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
                    row(g)["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if g is None or m is None:
                    continue
                r = row(g)
                r["tasks"] += 1
                r["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                r["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                r["result_bytes"] += m.get("Result Size", 0)
                r["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                sr = m.get("Shuffle Read Metrics", {})
                r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                r["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                inp = m.get("Input Metrics", {})
                r["input_bytes"] += inp.get("Bytes Read", 0)
                r["records_read"] += inp.get("Records Read", 0)
                outp = m.get("Output Metrics", {})
                r["output_bytes"] += outp.get("Bytes Written", 0)
                r["records_written"] += outp.get("Records Written", 0)
    return groups


def total(groups: dict[str, dict], prefix: str) -> dict:
    """Counters summed over the groups whose id starts with ``prefix``."""
    out = empty()
    for g, r in groups.items():
        if g.startswith(prefix):
            for k in FIELDS:
                out[k] += r[k]
    return out


def diff(a: dict, b: dict) -> list[str]:
    """Per-op counter differences between two captures."""
    lines = []
    ops_a, ops_b = a["ops"], b["ops"]
    for op in sorted(set(ops_a) | set(ops_b)):
        ra, rb = ops_a.get(op, empty()), ops_b.get(op, empty())
        for k in FIELDS:
            va, vb = ra.get(k, 0), rb.get(k, 0)
            if k in COUNTS and va != vb:
                lines.append(f"{op:40s} {k:22s} {va:>14} -> {vb:<14} ({vb - va:+})")
            elif k in TIMES and (va or vb):
                lines.append(f"{op:40s} {k:22s} {va:>14.3f} -> {vb:<14.3f} ({vb - va:+.3f})")
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 3 or argv[0] != "diff":
        print("usage: python3 perfbench/ledger.py diff A.json B.json", file=sys.stderr)
        return 2
    with open(argv[1]) as fa, open(argv[2]) as fb:
        a, b = json.load(fa), json.load(fb)
    print(f"A: {argv[1]} ({a['workload']}, seed {a['seed']})")
    print(f"B: {argv[2]} ({b['workload']}, seed {b['seed']})")
    lines = diff(a, b)
    print("\n".join(lines) if lines else "no counter differences")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
