"""Warm-query fixed cost of queries() leaves: for each pass of a leaf, the
py4j calls its plan build makes, the classes Janino compiles, the Spark
jobs it runs and the tasks among them that run Python workers.

Also the CPU (user + system) the JVM's Python descendants, the worker
daemon and its workers, spend during the pass: a Python task's fixed
cost, paid before it reads a row, shows there.

Usage: python tools/warm_floor.py SF_DIR LEAF [LEAF ...] [--passes N]

SF_DIR holds the fixture tables (documents.parquet, ...). Pass 1 of the
first leaf is cold: the JVM, the Python workers and the generated-class
cache warm up. On every later pass a leaf should compile 0 classes, and
its Python tasks should be only those of its own UDFs (Arrow crossings),
never ones that merely ship a small Python-side lookup table.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# RDD scopes (and the one RDD class) whose tasks feed rows through a
# Python worker
PYTHON_SCOPES = ("Python", "Pandas", "Arrow")


def _is_python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        scope = json.loads(rdd.get("Scope") or "{}").get("name", "")
        if rdd.get("Name") == "PythonRDD" or any(s in scope for s in PYTHON_SCOPES):
            return True
    return False


def _python_cpu_s(root_pid: int) -> float:
    """User + system CPU of root_pid's Python descendants, plus that of
    the children they have reaped (a worker that exits is reaped by the
    daemon), read from /proc/<pid>/stat."""
    kids: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm, fields = stat[stat.index("(") + 1 : stat.rindex(")")], stat[stat.rindex(")") + 2 :].split()
        kids.setdefault(int(fields[1]), []).append(int(entry))
        if comm.startswith("python"):
            stats[int(entry)] = fields
    ticks, todo = 0, list(kids.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        if pid in stats:
            ticks += sum(int(f) for f in stats[pid][11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _tasks_per_pass(log_dir: str) -> dict[str, dict[str, int]]:
    """{job description: {"jobs", "tasks", "python_tasks"}} from the event log."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    stage_pass, python_stage, out = {}, set(), {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description", "")
                out.setdefault(desc, {"jobs": 0, "tasks": 0, "python_tasks": 0})["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_pass[sid] = desc
            elif kind == "SparkListenerStageSubmitted" and _is_python_stage(ev["Stage Info"]):
                python_stage.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                counts = out[stage_pass[ev["Stage ID"]]]
                counts["tasks"] += 1
                counts["python_tasks"] += ev["Stage ID"] in python_stage
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("leaves", nargs="+")
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()

    import __spark_entry__ as entry
    from ccnet_spark_spark.session import get_spark

    log_dir = tempfile.mkdtemp(prefix="warm_floor_")
    spark = get_spark(
        app_name="warm_floor",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        },
    )
    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    client = sc._gateway._gateway_client
    send, calls = client.send_command, [0]

    def counting_send(*a, **k):
        calls[0] += 1
        return send(*a, **k)

    client.send_command = counting_send
    qs = entry.queries()
    rows = []
    for leaf in args.leaves:
        for i in range(1, args.passes + 1):
            key = f"{leaf}#{i}"
            sc.setJobDescription(key)
            compiles0, py_cpu0, t0 = codegen.getCount(), _python_cpu_s(jvm_pid), time.perf_counter()
            calls[0] = 0
            df = qs[leaf](spark, args.sf_dir)
            build_calls, build_s = calls[0], time.perf_counter() - t0
            n = len(df.toPandas())
            wall_s = time.perf_counter() - t0
            py_cpu_s = _python_cpu_s(jvm_pid) - py_cpu0
            rows.append((key, n, wall_s, build_s, build_calls, codegen.getCount() - compiles0, py_cpu_s))
    client.send_command = send
    spark.stop()
    tasks = _tasks_per_pass(log_dir)
    shutil.rmtree(log_dir, ignore_errors=True)
    print(f"{'pass':<28}{'rows':>7}{'wall_s':>8}{'build_s':>8}{'py4j':>7}{'compiles':>9}{'jobs':>6}{'tasks':>7}{'py_tasks':>9}{'py_cpu_s':>9}")
    for key, n, wall_s, build_s, build_calls, compiles, py_cpu_s in rows:
        t = tasks.get(key, {"jobs": 0, "tasks": 0, "python_tasks": 0})
        print(
            f"{key:<28}{n:>7}{wall_s:>8.2f}{build_s:>8.2f}{build_calls:>7}{compiles:>9}"
            f"{t['jobs']:>6}{t['tasks']:>7}{t['python_tasks']:>9}{py_cpu_s:>9.2f}"
        )


if __name__ == "__main__":
    main()
