"""Profile queries() leaves: perfbench/layers.py's span table and per-pass counters.

Usage: python tools/profile_queries.py [--sf DIR] [--passes N] [--plans DIR] LEAF...

Runs the named ``__spark_entry__.queries()`` leaves over the tables in DIR,
in one Spark session with the event log on. Each pass is a span
``<leaf>#<pass>`` with children ``build`` (the plan build, eager jobs
included) and ``action`` (``toPandas()``); what a pass materializes
(``session.materialize``) is freed when the pass ends. After the session
stops it prints the layer table, then one counter row per pass: rows;
build_s and the py4j calls of the build; Janino compiles; py_tasks, the
tasks of stages whose RDDs are a PythonRDD or sit under a
Python/Pandas/Arrow scope; py_cpu_s, the CPU of the JVM's descendants
(the Python worker daemon and its workers); and catalyst_ms, the
analysis, optimization and planning phases of the executed plan.

Pass 1 of the first leaf is cold. ``--plans DIR`` writes DIR/<leaf>.txt,
the formatted physical plan of the leaf's first build; ``--passes 0``
builds each leaf once (span ``<leaf>#0``) and runs no action. Cores come
from SPARK_GRAFT_CPUS (``session.get_spark``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(ROOT), str(ROOT / "perfbench")]

import harness  # noqa: E402
import layers  # noqa: E402

# RDD scopes (and the one RDD class) whose tasks feed rows through a Python worker
PYTHON_SCOPES = ("Python", "Pandas", "Arrow")
CATALYST_PHASES = ("analysis", "optimization", "planning")


def _is_python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        scope = json.loads(rdd.get("Scope") or "{}").get("name", "")
        if rdd.get("Name") == "PythonRDD" or any(s in scope for s in PYTHON_SCOPES):
            return True
    return False


def python_tasks(log_dir: Path, log: dict, spans: list[dict]) -> dict[int, int]:
    """{root span id: tasks of its Python stages}. A stage listed by
    several jobs ran under the first, as in layers.layer_table."""
    py_stages = set()
    for f in layers.event_files(log_dir):
        with open(f) as fh:
            for line in fh:
                if '"SparkListenerStageSubmitted"' in line:
                    info = json.loads(line)["Stage Info"]
                    if _is_python_stage(info):
                        py_stages.add(info["Stage ID"])
    parent = {s["id"]: s["parent"] for s in spans}
    out, seen = defaultdict(int), set()
    for jid in sorted(log["jobs"]):
        job = log["jobs"][jid]
        owner = (job["desc"] or "").rsplit("#", 1)[-1]
        sid = int(owner) if owner.isdigit() and int(owner) in parent else None
        while sid is not None and parent[sid] is not None:
            sid = parent[sid]
        for st in job["stages"]:
            if st not in seen and st in py_stages and sid is not None:
                out[sid] += len(log["stage_tasks"].get(st, ()))
            seen.add(st)
    return out


def python_cpu_s(jvm_pid: int) -> float:
    """User + system CPU of the JVM's descendants and of the children they reaped."""
    with open(f"/proc/{jvm_pid}/stat") as fh:
        stat = fh.read()
    own = sum(int(f) for f in stat[stat.rindex(")") + 2 :].split()[11:15]) / os.sysconf("SC_CLK_TCK")
    return harness.tree_cpu_s(jvm_pid) - own


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("leaves", nargs="+", metavar="LEAF")
    ap.add_argument("--sf", default="/root/testdata/sf0.01", help="directory of the fixture tables")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--plans", type=Path, default=None, help="write <leaf>.txt plans here")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from ccnet_spark_spark.session import get_spark, query_scope

    qs = entry.queries()
    unknown = [q for q in args.leaves if q not in qs]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    log_dir = Path(tempfile.mkdtemp(prefix="profile_queries_"))
    spark = get_spark(app_name="profile_queries", extra_conf=harness.trace_conf(log_dir))
    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    client = sc._gateway._gateway_client
    send, calls = client.send_command, [0]

    def counting_send(*a, **k):
        calls[0] += 1
        return send(*a, **k)

    client.send_command = counting_send
    tracer, counters = harness.Tracer(sc), []
    for leaf in args.leaves:
        for i in range(1, args.passes + 1) if args.passes > 0 else (0,):
            with tracer.span(f"{leaf}#{i}") as span, query_scope():
                compiles0 = codegen.getCount()
                py_cpu0 = python_cpu_s(jvm_pid)
                with tracer.span("build") as build:
                    calls[0] = 0
                    df = qs[leaf](spark, args.sf)
                    py4j = calls[0]
                if args.plans and i <= 1:
                    args.plans.mkdir(parents=True, exist_ok=True)
                    plan = sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
                    (args.plans / f"{leaf}.txt").write_text(plan)
                rows = None
                if i:
                    with tracer.span("action"):
                        rows = len(df.toPandas())
                phases = df._jdf.queryExecution().tracker().phases()
                catalyst_ms = sum(phases.apply(k).durationMs() for k in CATALYST_PHASES if phases.contains(k))
                compiles = codegen.getCount() - compiles0
                py_cpu_s = python_cpu_s(jvm_pid) - py_cpu0
            build_s = build["end"] - build["start"]
            counters.append((span["id"], span["name"], rows, build_s, py4j, compiles, py_cpu_s, catalyst_ms))
    client.send_command = send
    spark.stop()  # flushes and closes the event log

    log = layers.parse_eventlog(log_dir)
    py_tasks = python_tasks(log_dir, log, tracer.spans)
    shutil.rmtree(log_dir, ignore_errors=True)
    print(layers.format_table(layers.layer_table(log, tracer.spans)))
    print()
    print(f"{'pass':<34}{'rows':>8}{'build_s':>9}{'py4j':>7}{'compiles':>9}{'py_tasks':>9}{'py_cpu_s':>9}{'catalyst_ms':>12}")
    for sid, name, rows, build_s, py4j, compiles, py_cpu_s, catalyst_ms in counters:
        print(
            f"{name:<34}{'-' if rows is None else rows:>8}{build_s:>9.2f}{py4j:>7}{compiles:>9}"
            f"{py_tasks[sid]:>9}{py_cpu_s:>9.2f}{catalyst_ms:>12}"
        )


if __name__ == "__main__":
    main()
