"""Event log -> per-span layer table.

Joins the jobs of an uncompressed Spark event log (rolling v2 directory
``eventlog_v2_*/events_*`` or a single file) to the benchmark's spans by job
description (``<span name>#<span id>``, see harness.Tracer), and sums each
span's task metrics, including the Arrow-node SQL metrics that split
Python-worker time and bytes from JVM compute.

Usage:
    python3 perfbench/layers.py EVENTLOG SPANS.json [--wall-untraced SECONDS]

Prints one row per span; ``--wall-untraced`` adds the tracing overhead line
(the traced rep's wall time minus the given untraced wall time).
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

# Task-level sums kept per span. Times in seconds, sizes in MB.
_PY_METRICS = {
    "time to run Python workers": ("python_s", 1e-3),
    "time to start Python workers": ("python_start_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "data sent to Python workers": ("python_sent_mb", 1 / 2**20),
    "data returned from Python workers": ("python_returned_mb", 1 / 2**20),
}
SUMS = (
    "executor_run_s",
    "executor_cpu_s",
    "executor_gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "shuffle_fetch_wait_s",
    "spill_disk_mb",
    "input_mb",
    "input_rows",
    "output_mb",
    *(v[0] for v in _PY_METRICS.values()),
)


def event_files(path: Path) -> list[Path]:
    if path.is_file():
        return [path]
    files = sorted(path.glob("eventlog_v2_*/events_*")) or sorted(path.glob("events_*"))
    # rolling logs are numbered events_<n>_<appId>: order by n
    return sorted(files, key=lambda p: (p.parent.name, int(p.name.split("_")[1]) if p.name.split("_")[1].isdigit() else 0))


def _task_sums(ev: dict) -> dict[str, float]:
    tm = ev.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    out = {
        "executor_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "executor_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "executor_gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / 2**20,
        "shuffle_read_mb": (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20,
        "shuffle_fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
        "spill_disk_mb": tm.get("Disk Bytes Spilled", 0) / 2**20,
        "input_mb": (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20,
        "input_rows": (tm.get("Input Metrics") or {}).get("Records Read", 0),
        "output_mb": (tm.get("Output Metrics") or {}).get("Bytes Written", 0) / 2**20,
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = _PY_METRICS.get(acc.get("Name"))
        if key is not None:
            out[key[0]] = out.get(key[0], 0.0) + float(acc.get("Update") or 0) * key[1]
    return out


def parse_eventlog(path: Path) -> dict:
    """Jobs (id -> description, start, end, stage ids) and per-stage task
    records (metrics sums and run times)."""
    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, list[dict]] = defaultdict(list)
    for f in event_files(path):
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "desc": props.get("spark.job.description"),
                        "start": ev["Submission Time"] / 1e3,
                        "end": None,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    run_s = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
                    stage_tasks[ev["Stage ID"]].append({"run_s": run_s, **_task_sums(ev)})
    return {"jobs": jobs, "stage_tasks": stage_tasks}


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    busy, cur_end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= cur_end:
            continue
        busy += e - max(s, cur_end)
        cur_end = e
    return busy


def skew(run_times: list[float]) -> float:
    """Straggler ratio of one stage: slowest task over the median task."""
    if len(run_times) < 2:
        return 1.0
    med = statistics.median(run_times)
    return max(run_times) / med if med > 0 else 1.0


def layer_table(log: dict, spans: list[dict]) -> list[dict]:
    """One row per span. Job metrics roll up from a span to its ancestors;
    ``self_s`` is the span's duration minus what its child spans cover."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def owner(desc: str | None) -> int | None:
        if not desc or "#" not in desc:
            return None
        sid = desc.rsplit("#", 1)[1]
        return int(sid) if sid.isdigit() and int(sid) in by_id else None

    # a stage listed by several jobs (skipped re-use) ran under the first
    stage_job: dict[int, int] = {}
    for jid in sorted(log["jobs"]):
        for st in log["jobs"][jid]["stages"]:
            stage_job.setdefault(st, jid)
    jobs_of: dict[int, list[int]] = defaultdict(list)
    for jid, job in log["jobs"].items():
        sid = owner(job["desc"])
        while sid is not None:
            jobs_of[sid].append(jid)
            sid = by_id[sid]["parent"]

    rows = []
    for s in spans:
        lo, hi = s["start"], s["end"]
        jids = set(jobs_of[s["id"]])
        row = {k: 0.0 for k in SUMS}
        stages = [st for st, jid in stage_job.items() if jid in jids and log["stage_tasks"].get(st)]
        skews = []
        for st in stages:
            tasks = log["stage_tasks"][st]
            for t in tasks:
                for k in SUMS:
                    row[k] += t.get(k, 0.0)
            skews.append((sum(t["shuffle_read_mb"] for t in tasks), skew([t["run_s"] for t in tasks])))
        intervals = [(log["jobs"][j]["start"], log["jobs"][j]["end"] or hi) for j in jids]
        busy = _union_s(intervals, lo, hi)
        kids = [(c["start"], c["end"]) for c in children[s["id"]]]
        row.update(
            span=s["name"],
            id=s["id"],
            parent=s["parent"],
            wall_s=hi - lo,
            self_s=(hi - lo) - _union_s(kids, lo, hi),
            busy_s=busy,
            idle_s=(hi - lo) - busy,
            jobs=len(jids),
            stages=len(stages),
            tasks=sum(len(log["stage_tasks"][st]) for st in stages),
            skew_max=max((k for _, k in skews), default=1.0),
            # the post-shuffle stage that read the most: the salted stage
            # for the LID span
            skew_shuffled=max(skews)[1] if any(r > 0 for r, _ in skews) else 1.0,
        )
        rows.append(row)
    return rows


COLUMNS = [
    ("span", "{:<34}"),
    ("wall_s", "{:>8.3f}"),
    ("self_s", "{:>8.3f}"),
    ("busy_s", "{:>8.3f}"),
    ("idle_s", "{:>8.3f}"),
    ("jobs", "{:>5d}"),
    ("tasks", "{:>6d}"),
    ("executor_run_s", "{:>8.2f}"),
    ("executor_cpu_s", "{:>8.2f}"),
    ("executor_gc_s", "{:>7.2f}"),
    ("python_s", "{:>8.2f}"),
    ("python_sent_mb", "{:>8.2f}"),
    ("python_returned_mb", "{:>8.2f}"),
    ("shuffle_write_mb", "{:>8.2f}"),
    ("shuffle_read_mb", "{:>8.2f}"),
    ("spill_disk_mb", "{:>7.2f}"),
    ("skew_max", "{:>6.2f}"),
]


def format_table(rows: list[dict]) -> str:
    by_id = {r["id"]: r for r in rows}

    def depth(r):
        d = 0
        while r["parent"] is not None:
            r, d = by_id[r["parent"]], d + 1
        return d

    head = " ".join(f"{name:>{len(fmt.format(0 if 'd}' in fmt else 0.0))}}" if name != "span" else f"{name:<34}" for name, fmt in COLUMNS)
    lines = [head]
    for r in rows:
        cells = []
        for name, fmt in COLUMNS:
            v = r[name]
            if name == "span":
                v = ("  " * depth(r) + v)[:34]
            elif fmt.endswith("d}"):
                v = int(v)
            cells.append(fmt.format(v))
        lines.append(" ".join(cells))
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("eventlog", type=Path)
    ap.add_argument("spans", type=Path)
    ap.add_argument("--wall-untraced", type=float, default=None)
    args = ap.parse_args(argv)
    spans = json.loads(args.spans.read_text())
    rows = layer_table(parse_eventlog(args.eventlog), spans)
    print(format_table(rows))
    if args.wall_untraced is not None:
        roots = [r["wall_s"] for r in rows if r["parent"] is None]
        print(f"tracing overhead: {sum(roots) - args.wall_untraced:+.3f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
