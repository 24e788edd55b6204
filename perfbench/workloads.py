"""The benchmark's workloads and the run that measures one of them.

A run sets up several times (a fresh JVM each, the median is reported),
makes the seeded input, runs the warm-up reps while the oracle is
computed beside it, then runs timed reps for ``--seconds`` (at least
MIN_REPS). Every output is checked against the oracle outside the timed
region. A traced run then restarts the SparkContext in the same JVM with
the event log on, repeats the reps under spans, probes every layer (the
staged caption pass, the curated cascade, the composition queries) and
turns the log into the per-layer metrics.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import harness
import inputs
import layers
from harness import WORK, NullTracer, RssSampler, Session, Tracer, log, retained_storage_mb

SETUPS = 2  # fresh-JVM set-ups per run; setup_s is their median
MIN_REPS = 2  # timed reps per run at least, however long they take
TRACED_REPS = 2  # keeps a traced run, which repeats the reps, within 3 minutes
CAPTION_PAIRS = 10_000  # bench.py's smallest size; executor work is ~2/3 of a rep (README, Sizing)
DOCUMENTS = 500
DOCUMENTS_SEED = 0
# the composition leaf of one pass: the largest composition floor (22 eager
# jobs before the final action); a warm pass is ~5 s on 4 cores
COMPOSITION_QUERIES = ["corpus_build_trim"]
CURATED = {"image_gates": True, "caption_budget": 10, "model_gates": True}


class Outcome:
    """Operations attempted and failed (raised, or output differs from the
    oracle) across the run: every pipeline rep and pass, every query."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, error: str | None, what: str) -> None:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            log(f"FAILED {what}: {error}")


def _storage_rdds(spark) -> dict[int, float]:
    return {i.id(): (i.memSize() + i.diskSize()) / 2**20 for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


# --------------------------------------------------------- caption pipeline
class CaptionPipeline:
    """``Pipeline(spark, Config(cutoffs=...)).run(pairs).drop("bytes")`` into
    ``write_result``: the bench.py headline shape. Executor-bound: global
    line dedup shuffle, two Arrow crossings (LID, fused tokenize+perplexity),
    the salted repartition and the hash-distributed partitioned sink; the
    scan prunes the payload and Pipeline.run fires no eager jobs."""

    name = "caption_pipeline"
    warmup_reps = 1

    def __init__(self, spark, seed: int, outcome: Outcome, pool: ThreadPoolExecutor) -> None:
        from ccnet_spark_spark.operators.bucket import load_cutoffs_dict

        self.spark = spark
        self.outcome = outcome
        self.cutoffs = load_cutoffs_dict()
        self.input = inputs.pairs_input(spark, seed, CAPTION_PAIRS)
        self._oracle = pool.submit(inputs.caption_oracle, self.input["path"], self.cutoffs)

    def _check(self, sink: str, what: str, want=None) -> None:
        try:
            want = self._oracle.result() if want is None else want
            bad = inputs.caption_mismatches(inputs.read_caption_sink(sink), want)
        except Exception as e:  # an unreadable sink is a failure too
            self.outcome.record(f"check raised {type(e).__name__}: {e}", what)
            return
        self.outcome.record(f"{bad} rows differ from the oracle" if bad else None, what)

    def rep(self, tracer) -> dict:
        from pyspark.sql import functions as F

        from ccnet_spark_spark.plans.pipeline import Config, Pipeline
        from ccnet_spark_spark.sources.tables import write_result

        spark = self.spark
        sink = str(WORK / "out" / "caption")
        t0 = time.perf_counter()
        try:
            with tracer.span("pipeline.build"):
                out = Pipeline(spark, Config(cutoffs=self.cutoffs)).run(spark.read.parquet(self.input["path"]))
                out = out.drop("bytes")
            with tracer.span("sink"):
                write_result(out.withColumn("lang", F.coalesce("lang", F.lit(inputs.NULL_LANG))), sink)
        except Exception as e:  # a failing rep is counted, never dropped
            self.outcome.record(f"{type(e).__name__}: {e}", "caption_pipeline rep")
            return {"ok": False}
        wall = time.perf_counter() - t0
        self._check(sink, "caption_pipeline rep")
        return {"ok": True, "wall_s": wall, "retained_mb": retained_storage_mb(spark)}

    def staged(self, tracer) -> dict:
        """The pipeline again, one operator stage at a time: each stage calls
        the operator's public function on the previous stage's output, which
        the benchmark materializes with its own localCheckpoint and releases
        at the end. A last stage runs the curated cascade's payload crossing
        (image gates, then the fused model gates) over the same pairs."""
        from pyspark.sql import functions as F

        from ccnet_spark_spark.functions.scrub import scrub_expr
        from ccnet_spark_spark.operators import bucket, dedup, lid, perplexity, verdict
        from ccnet_spark_spark.operators.image_quality import ImageGateConfig, keep_expr
        from ccnet_spark_spark.operators.length import DEFAULT_MIN_LEN
        from ccnet_spark_spark.operators.multimodal import model_gate_passthrough
        from ccnet_spark_spark.session import release_local_checkpoint
        from ccnet_spark_spark.sources.tables import write_result

        spark = self.spark
        held = []

        def pin(df):
            df = df.localCheckpoint()
            held.append(df)
            return df

        sink = str(WORK / "out" / "caption_staged")
        pairs = spark.read.parquet(self.input["path"])
        with tracer.span("staged"):
            with tracer.span("scan"):
                base = pin(
                    pairs.drop("bytes")
                    .withColumn("original_length", F.length("caption").cast("int"))
                    .withColumn("original_nlines", F.size(F.split(F.col("caption"), "\n")).cast("int"))
                    .withColumn("too_short", F.coalesce(F.col("original_length") < DEFAULT_MIN_LEN, F.lit(True)))
                )
            with tracer.span("dedup"):
                enriched = pin(dedup.line_dedup(base.filter(~F.col("too_short")).select("image_id", "caption")))
            with tracer.span("lid"):
                enriched = lid.with_lang(enriched, "dedup_caption")
                enriched = pin(lid.salted_repartition(enriched, spark.sparkContext.defaultParallelism, "lang", id_col="image_id"))
            with tracer.span("perplexity"):
                enriched = pin(perplexity.with_tokenized_and_perplexity(enriched, "dedup_caption").drop("tokenized"))
            with tracer.span("finish"):
                out = bucket.with_bucket(base.join(enriched, "image_id", "left"), bucket.load_cutoffs(spark, cutoffs=self.cutoffs))
                out = out.withColumn("scrubbed_caption", scrub_expr(F.coalesce(F.col("dedup_caption"), F.col("caption"))))
                out = pin(verdict.with_verdict(out).drop("too_short"))
            with tracer.span("sink"):
                write_result(out.withColumn("lang", F.coalesce("lang", F.lit(inputs.NULL_LANG))), sink)
            with tracer.span("multimodal"):
                pin(model_gate_passthrough(pairs.filter(keep_expr(ImageGateConfig(), "caption")), tau=0.1))
        for df in held:
            release_local_checkpoint(df)
        self._check(sink, "caption_pipeline staged pass")
        return {"sink_files": sum(1 for _ in Path(sink).rglob("*.parquet"))}

    def curated(self, tracer) -> dict:
        """The curated DataComp cascade over the same pairs and sink: the
        scan reads payload bytes, the fused model gates ship them across the
        Arrow boundary, and Pipeline.run fires two localCheckpoints. Checked
        against the join form of the model gates (a different plan for the
        same stage; every other operator is shared), computed untraced."""
        from pyspark.sql import functions as F

        from ccnet_spark_spark.plans.pipeline import Config, Pipeline
        from ccnet_spark_spark.sources.tables import write_result

        spark = self.spark
        want = inputs.curated_oracle(spark, self.input["path"], Config(cutoffs=self.cutoffs, **CURATED))
        sink = str(WORK / "out" / "curated")
        before = _storage_rdds(spark)
        with tracer.span("curated"):
            with tracer.span("curated.build"):
                cfg = Config(cutoffs=self.cutoffs, model_gates_mode="fused", **CURATED)
                out = Pipeline(spark, cfg).run(spark.read.parquet(self.input["path"])).drop("bytes")
            built = _storage_rdds(spark)
            with tracer.span("curated.sink"):
                write_result(out.withColumn("lang", F.coalesce("lang", F.lit(inputs.NULL_LANG))), sink)
        self._check(sink, "curated_cascade", want)
        new = [mb for rdd, mb in built.items() if rdd not in before]
        return {"checkpoints": len(new), "checkpoint_mb": sum(new)}


# ------------------------------------------------------ composition queries
class CompositionQueries:
    """One pass runs each composition leaf once: build the DataFrame, then
    collect it. Inputs are small, so plan build, eager checkpoint jobs,
    per-job overhead and idle driver gaps dominate. One op is one query,
    compared with its DuckDB twin."""

    name = "composition_queries"
    warmup_reps = 1

    def __init__(self, spark, seed: int, outcome: Outcome, pool: ThreadPoolExecutor) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.outcome = outcome
        # a fixed table, like the fixtures the DuckDB twins are defined on:
        # the seed does not change it
        self.input = inputs.documents_input(DOCUMENTS_SEED, DOCUMENTS)
        self.queries = {q: entry.queries()[q] for q in COMPOSITION_QUERIES}
        self._oracle = pool.submit(self._twins, self.input["sf_dir"])

    @staticmethod
    def _twins(sf_dir: str) -> inputs.QueryOracle:
        oracle = inputs.QueryOracle(sf_dir)
        for q in COMPOSITION_QUERIES:
            oracle.expected(q)
        return oracle

    def rep(self, tracer) -> dict:
        spark, sf_dir = self.spark, self.input["sf_dir"]
        per_query = {}
        for q, build in self.queries.items():
            before = retained_storage_mb(spark)
            t0 = time.perf_counter()
            try:
                with tracer.span(f"q.{q}"):
                    with tracer.span(f"q.{q}.build"):
                        df = build(spark, sf_dir)
                    with tracer.span(f"q.{q}.action"):
                        got = df.toPandas()
            except Exception as e:  # a failing query is counted, never dropped
                self.outcome.record(f"{type(e).__name__}: {e}", q)
                continue
            t2 = time.perf_counter()
            # the plan that executed is the collected DataFrame's own
            phases = df._jdf.queryExecution().tracker().phases()
            per_query[q] = {
                "s": t2 - t0,
                "catalyst_ms": sum(phases.apply(k).durationMs() for k in ("analysis", "optimization", "planning") if phases.contains(k)),
                "retained_mb": retained_storage_mb(spark) - before,
            }
            try:
                error = self._oracle.result().mismatch(q, got)
            except Exception as e:  # a check that raises is a failure too
                error = f"check raised {type(e).__name__}: {e}"
            self.outcome.record(error, q)
        return {
            "ok": len(per_query) == len(self.queries),
            "wall_s": sum(v["s"] for v in per_query.values()),
            "queries": per_query,
            "retained_mb": retained_storage_mb(spark),
        }


WORKLOADS = {w.name: w for w in (CaptionPipeline, CompositionQueries)}


# ----------------------------------------------------------------- the run
def timed_reps(work, tracer, seconds: float, min_reps: int, rss_pid: int | None = None) -> list[dict]:
    """Reps until ``seconds`` have passed, at least ``min_reps``. Each rep
    records the share of the machine's CPU time the hypervisor stole while
    it ran; with ``rss_pid`` also the CPU time and peak RSS of that process
    tree."""
    reps: list[dict] = []
    deadline = time.perf_counter() + seconds
    sampler = RssSampler(rss_pid) if rss_pid else None
    if sampler:
        sampler.start()
    try:
        while len(reps) < min_reps or time.perf_counter() < deadline:
            if sampler:
                cpu, _ = harness.tree_cpu_s(rss_pid), sampler.take()
            steal, t0 = harness.cpu_steal_s(), time.perf_counter()
            with tracer.span(f"rep{len(reps)}"):
                rep = work.rep(tracer)
            rep["steal_share"] = (harness.cpu_steal_s() - steal) / (harness.NPROC * (time.perf_counter() - t0))
            if sampler:
                rep.update(cpu_s=harness.tree_cpu_s(rss_pid) - cpu, peak_rss_mb=sampler.take())
            reps.append(rep)
    finally:
        if sampler:
            sampler.stop()
    return reps


def median_ok(reps: list[dict], key: str) -> float:
    """Median over the reps that succeeded; 0 when none did (the run then
    reports failures, and JSON has no NaN)."""
    vals = [r[key] for r in reps if r.get("ok")]
    return statistics.median(vals) if vals else 0.0


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    """Returns (result, provenance); ``result`` is the contract's last line."""
    outcome = Outcome()
    session = Session()
    load_start = os.getloadavg()
    phases: dict[str, float] = {}
    clock = time.perf_counter()

    def phase(name: str) -> float:
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now
        return phases[name]

    try:
        with ThreadPoolExecutor(max_workers=1) as pool:
            # a traced run reports no setup_s; one set-up keeps it short
            samples = harness.setup_samples(session, 1 if trace else SETUPS)
            phase("setups")
            prov = harness.provenance(session.spark)
            work = WORKLOADS[workload](session.spark, seed, outcome, pool)
            phase("input")
            for _ in range(work.warmup_reps):
                work.rep(NullTracer())
            warmup_s = phase("warmup")
            reps = timed_reps(work, NullTracer(), seconds, MIN_REPS, session.jvm_pid)
            phase("timed_reps")
            wall = median_ok(reps, "wall_s")
            metrics = {
                "setup_s": (harness.median_of(samples, "setup_s"), "s"),
                "wall_s": (wall, "s"),
                "cpu_s": (median_ok(reps, "cpu_s"), "s"),
                "peak_rss_mb": (median_ok(reps, "peak_rss_mb"), "MB"),
            }
            if trace:

                def other(cls):
                    return cls(session.spark, seed, outcome, pool)

                traced_reps, rows, extra = traced_pass(session, work, other)
                metrics = layer_metrics(rows, samples, warmup_s, reps, traced_reps, extra)
                phase("traced")
        prov.update(
            workload=workload,
            seed=seed,
            input_rows=work.input["rows"],
            input_digest=work.input["digest"],
            setup_samples_s=[round(s["setup_s"], 3) for s in samples],
            rep_wall_s=[round(r["wall_s"], 3) for r in reps if r.get("ok")],
            rep_cpu_s=[round(r["cpu_s"], 2) for r in reps if r.get("ok")],
            rep_peak_rss_mb=[round(r["peak_rss_mb"], 1) for r in reps if r.get("ok")],
            rep_steal_pct=[round(100 * r["steal_share"], 2) for r in reps],
            loadavg=[load_start, os.getloadavg()],
        )
        if workload == "caption_pipeline":
            prov["images_per_s"] = round(work.input["rows"] / wall, 1) if wall else 0.0
        else:
            prov["query_s"] = {q: [round(r["queries"][q]["s"], 3) for r in reps if q in r["queries"]] for q in COMPOSITION_QUERIES}
    finally:
        session.close()
    phase("close")
    prov["phase_s"] = {k: round(v, 3) for k, v in phases.items()}
    result = {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, prov


def traced_pass(session: Session, work, other):
    """Warm-up and timed reps again under spans with the event log on. Then
    every layer is probed, whichever the workload: the staged caption pass,
    the curated cascade, and one pass of the composition queries unless the
    reps already ran them. ``other(cls)`` makes the workload ``cls`` on the
    traced session when ``work`` is not one. Returns (reps, layer rows,
    extra counts and the composition passes)."""
    log_dir = WORK / "trace"
    shutil.rmtree(log_dir, ignore_errors=True)
    session.restart(harness.trace_conf(log_dir))
    work.spark = session.spark
    tracer = Tracer(session.spark.sparkContext)
    with tracer.span("warmup"):
        work.rep(tracer)
    reps = timed_reps(work, tracer, 0, TRACED_REPS)
    caption = work if isinstance(work, CaptionPipeline) else other(CaptionPipeline)
    extra = {"staged": caption.staged(tracer), "curated": caption.curated(tracer), "passes": reps}
    if not isinstance(work, CompositionQueries):
        with tracer.span("probe"):
            extra["passes"] = [other(CompositionQueries).rep(tracer)]
    tracer.dump(log_dir / "spans.json")
    session.close()  # flushes and closes the event log
    rows = layers.layer_table(layers.parse_eventlog(log_dir), tracer.spans)
    log("per-span layer table:\n" + layers.format_table(rows))
    return reps, rows, extra


def layer_metrics(rows, samples, warmup_s, untraced_reps, reps, extra) -> dict[str, tuple[float, str]]:
    """Per-layer metrics: medians over the traced timed reps, the staged
    pass's stage rows, the curated cascade's spans, the composition passes
    and the set-up samples."""
    kids: dict = {}
    for r in rows:
        kids.setdefault(r["parent"], {}).setdefault(r["span"], []).append(r)
    rep_rows = [r for r in rows if r["parent"] is None and r["span"].startswith("rep")]
    # the composition passes: the timed reps, or the probe pass
    pass_rows = rep_rows + [r for r in rows if r["parent"] is None and r["span"] == "probe"]

    def med(values) -> float:
        values = list(values)
        return statistics.median(values) if values else 0.0

    def under(parents, name):
        return [c for p in parents for c in kids.get(p["id"], {}).get(name, [])]

    staged_rows = [r for r in rows if r["parent"] is None and r["span"] == "staged"]
    curated_rows = [r for r in rows if r["parent"] is None and r["span"] == "curated"]
    staged, curated = extra["staged"], extra["curated"]

    def stage(name, key):
        return med(r[key] for r in under(staged_rows, name))

    def cascade(name, key):
        return med(r[key] for r in under(curated_rows, name))

    def rep(key):
        return med(r[key] for r in rep_rows)

    # warm reps reuse the Python workers: their start cost lands on the warm-up
    warmup_rows = [r for r in rows if r["parent"] is None and r["span"] == "warmup"]

    untraced_wall = median_ok(untraced_reps, "wall_s")
    traced_wall = median_ok(reps, "wall_s")
    ok = [r for r in reps if r.get("ok")]
    m = {
        "session.start_s": (harness.median_of(samples, "start_s"), "s"),
        "session.ship_pkg_s": (harness.median_of(samples, "ship_pkg_s"), "s"),
        "session.warmup_s": (warmup_s, "s"),
        "traced.wall_s": (traced_wall, "s"),
        "tracing_overhead_s": (traced_wall - untraced_wall, "s"),
        "retained_storage_mb": (med(r["retained_mb"] for r in ok), "MB"),
        "curated.s": (med(r["wall_s"] for r in curated_rows), "s"),
        "curated.scan_input_mb": (med(r["input_mb"] for r in curated_rows), "MB"),
        "pipeline.build_s": (cascade("curated.build", "wall_s"), "s"),
        "pipeline.build_jobs": (cascade("curated.build", "jobs"), "count"),
        "pipeline.checkpoints": (curated.get("checkpoints", 0), "count"),
        "pipeline.checkpoint_mb": (curated.get("checkpoint_mb", 0.0), "MB"),
        "dedup.s": (stage("dedup", "wall_s"), "s"),
        "dedup.shuffle_write_mb": (stage("dedup", "shuffle_write_mb"), "MB"),
        "dedup.spill_mb": (stage("dedup", "spill_disk_mb"), "MB"),
        "lid.s": (stage("lid", "wall_s"), "s"),
        "lid.python_s": (stage("lid", "python_s"), "s"),
        "lid.python_sent_mb": (stage("lid", "python_sent_mb"), "MB"),
        "lid.python_returned_mb": (stage("lid", "python_returned_mb"), "MB"),
        "lid.skew_ratio": (stage("lid", "skew_shuffled"), "ratio"),
        "perplexity.s": (stage("perplexity", "wall_s"), "s"),
        "perplexity.python_s": (stage("perplexity", "python_s"), "s"),
        "perplexity.python_sent_mb": (stage("perplexity", "python_sent_mb"), "MB"),
        "perplexity.python_returned_mb": (stage("perplexity", "python_returned_mb"), "MB"),
        "multimodal.s": (stage("multimodal", "wall_s"), "s"),
        "multimodal.python_s": (stage("multimodal", "python_s"), "s"),
        "multimodal.python_sent_mb": (stage("multimodal", "python_sent_mb"), "MB"),
        "finish.s": (stage("finish", "wall_s"), "s"),
        "scan.input_mb": (rep("input_mb"), "MB"),
        "scan.rows": (rep("input_rows"), "count"),
        "sink.s": (stage("sink", "wall_s"), "s"),
        "sink.files": (staged.get("sink_files", 0), "count"),
        "sink.write_mb": (stage("sink", "output_mb"), "MB"),
        "sink.shuffle_write_mb": (stage("sink", "shuffle_write_mb"), "MB"),
    }
    for q in COMPOSITION_QUERIES:
        qrows = under(pass_rows, f"q.{q}")
        brows = under(qrows, f"q.{q}.build")
        arows = under(qrows, f"q.{q}.action")
        py = [r["queries"][q] for r in extra["passes"] if q in r.get("queries", {})]
        m.update(
            {
                f"{q}.s": (med(x["wall_s"] for x in qrows), "s"),
                f"{q}.build_s": (med(x["wall_s"] for x in brows), "s"),
                f"{q}.build_jobs": (med(x["jobs"] for x in brows), "count"),
                f"{q}.jobs": (med(x["jobs"] for x in qrows), "count"),
                f"{q}.action_busy_s": (med(x["busy_s"] for x in arows), "s"),
                f"{q}.action_idle_s": (med(x["idle_s"] for x in arows), "s"),
                f"{q}.idle_s": (med(x["idle_s"] for x in qrows), "s"),
                f"{q}.python_s": (med(x["python_s"] for x in qrows), "s"),
                f"{q}.catalyst_ms": (statistics.fmean(x["catalyst_ms"] for x in py) if py else 0.0, "ms"),
                f"{q}.retained_mb": (med(x["retained_mb"] for x in py), "MB"),
            }
        )
    m.update(
        {
            "executor.run_s": (rep("executor_run_s"), "s"),
            "executor.cpu_s": (rep("executor_cpu_s"), "s"),
            "executor.gc_s": (rep("executor_gc_s"), "s"),
            "python.s": (rep("python_s"), "s"),
            "python.start_s": (med(r["python_start_s"] for r in warmup_rows), "s"),
            "python.sent_mb": (rep("python_sent_mb"), "MB"),
            "python.returned_mb": (rep("python_returned_mb"), "MB"),
            "shuffle.write_mb": (rep("shuffle_write_mb"), "MB"),
            "shuffle.read_mb": (rep("shuffle_read_mb"), "MB"),
            "spill.disk_mb": (rep("spill_disk_mb"), "MB"),
            "stage.skew_max": (rep("skew_max"), "ratio"),
            "driver.idle_s": (rep("idle_s"), "s"),
            "jobs": (rep("jobs"), "count"),
            "stages": (rep("stages"), "count"),
            "tasks": (rep("tasks"), "count"),
        }
    )
    for q in COMPOSITION_QUERIES:
        parts = m[f"{q}.build_s"][0] + m[f"{q}.action_busy_s"][0] + m[f"{q}.action_idle_s"][0]
        if m[f"{q}.s"][0]:
            log(f"{q}: build + action busy + action idle = {parts:.3f} s of {m[f'{q}.s'][0]:.3f} s wall")
    return m
