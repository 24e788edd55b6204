"""SparkSession factory.

Mirrors the session concerns of the reference (Arrow for pandas
interchange, tuned shuffle partitions — /root/reference/test_pipeline.py:80-95)
but adds the scale knobs the reference left to spark-submit conf
(/root/reference/cluster_run.sh:14-44): AQE with skew-join handling,
explicit shuffle-partition sizing, UTC timezone (for oracle comparison),
and optional Iceberg catalog wiring gated on the runtime jar being present.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def driver_memory_for(mem_total_kb: int | None) -> str:
    """Default heap of a local[N] driver JVM (SPARK_GRAFT_DRIVER_MEM or
    spark-submit conf win; a cluster submit sizes its own): half of the
    host's RAM, 1g-48g, 48g when the RAM is unknown. A fixed 48g let a
    test JVM grow to 14 GB RSS on a 16 GB host, where the kernel killed
    it."""
    if mem_total_kb is None:
        return "48g"
    return f"{max(1, min(48, mem_total_kb // 2**21))}g"


def _mem_total_kb() -> int | None:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def iceberg_configured() -> bool:
    """True if an Iceberg runtime jar is importable on the Spark classpath.

    The production deployment reads/writes Iceberg tables; this sandbox image
    has no iceberg-spark-runtime jar, so table IO falls back to
    hive-partitioned parquet with the same logical contract
    (see sources/tables.py).
    """
    import glob

    import pyspark

    jars = glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "*iceberg*"))
    return bool(jars) or bool(os.environ.get("SPARK_GRAFT_ICEBERG_JAR"))


def release_local_checkpoint(df) -> None:
    """Free the executor storage blocks behind a DataFrame returned by
    `localCheckpoint()`. `Dataset.unpersist()` only clears cache-manager
    entries — NOT the checkpointed RDD's blocks (verified empirically:
    `getRDDStorageInfo` still lists them afterwards); without this the
    blocks live until the JVM-side Dataset is garbage-collected, so an
    iterative trainer (BPE, connected components) accumulates one full
    vocab/label copy per round for the life of the session. Reaches the
    LogicalRDD's backing rdd through the query execution; best-effort
    (silent no-op when the plan isn't a checkpointed LogicalRDD)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


# one frame list per open query_scope, innermost last
_scopes: list[list[DataFrame]] = []


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly compute `df` into executor storage (``localCheckpoint()``)
    and return the frame that reads it back — the one place the engine
    pins a frame with several consumers so its subtree runs once. Inside
    a ``query_scope()`` the frame is recorded in the innermost scope,
    which frees it on exit; outside any scope nothing is recorded and
    the blocks live until the Dataset is garbage-collected."""
    out = df.localCheckpoint()
    if _scopes:
        _scopes[-1].append(out)
    return out


@contextmanager
def query_scope():
    """Free, on exit (an exception included), every frame `materialize`
    returned inside this scope but not inside a nested one — a nested
    scope frees only its own frames. A frame materialized inside the
    scope, or any plan reading it, cannot be used after the scope ends.
    Yields the list of frames recorded so far."""
    frames: list[DataFrame] = []
    _scopes.append(frames)
    try:
        yield frames
    finally:
        _scopes[:] = [s for s in _scopes if s is not frames]  # by identity: lists compare by value
        for df in frames:
            release_local_checkpoint(df)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A small in-memory table (rows = tuples in schema order; schema a
    StructType or DDL string) as a DataFrame that plans as a
    ``LocalRelation``: the rows travel to the JVM once as an Arrow batch
    and live in the plan itself. ``createDataFrame(list)`` instead plans
    an ``ExistingRDD`` over pickled rows, so every query that scans it
    (e.g. to broadcast a lookup table) runs a defaultParallelism-task job
    through Python workers just to unpickle a handful of rows. Use it for
    lookup tables and other tiny frames only — the rows are copied into
    every plan that references them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type) for col, field in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def _submitted_conf():
    """SparkConf carrying whatever spark-submit configured.

    Subtle but load-bearing: ``SparkConf()`` before the py4j gateway exists
    is a PURE-PYTHON empty conf — under spark-submit it would report no
    spark.master and get_spark would silently override the cluster master
    with local mode (verified: spark-submit --master local[3] resolved to
    local[*] without this). Initializing the gateway first attaches to the
    JVM spark-submit already launched (env PYSPARK_GATEWAY_PORT), whose
    system properties carry --master/--conf.

    ...but ONLY attach, never spawn: in a plain python launch,
    _ensure_initialized would start the JVM BEFORE the builder sets
    spark.driver.memory, which is pre-launch-only — the driver would
    silently run on the 1g default heap and OOM on real inputs (verified:
    the 480k-pair pipeline OOMed exactly this way). So the gateway is
    touched only when spark-submit already created it (PYSPARK_GATEWAY_PORT
    in the env) or a context already exists in-process."""
    from pyspark import SparkConf

    try:
        # 4.x module path first, then the 3.x path: a blanket failure here
        # would silently re-introduce the cluster-master-downgrade bug on
        # PySpark 3 clusters (ADVICE r2).
        try:
            from pyspark.core.context import SparkContext  # PySpark >= 4
        except ImportError:
            from pyspark.context import SparkContext  # PySpark 3.x

        if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
            SparkContext._ensure_initialized()
    except Exception:
        pass  # Connect-only or future API drift: fall back to python conf
    return SparkConf()


def _resolve_master(cores: int | str | None, submitted_has_master: bool) -> tuple[str | None, int | None]:
    """(master-to-set-or-None, local core count-or-None). Explicit cores (arg
    or SPARK_GRAFT_CPUS) force local[N]; else a spark-submit master is
    inherited (None = don't call .master() — overriding it would silently
    downgrade a cluster job to single-JVM local mode); else local[*]."""
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is not None or not submitted_has_master:
        master = f"local[{cores if cores is not None else '*'}]"
        n_cores = os.cpu_count() or 8 if cores in ("*", None) else int(cores)
        return master, n_cores
    return None, None  # inherit the submitted master


def get_spark(
    app_name: str = "ccnet_spark_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Master resolution: an explicit ``cores`` argument (or SPARK_GRAFT_CPUS)
    wins -> local[N]. Otherwise, a master already configured by spark-submit
    / an existing SparkConf is INHERITED untouched — on a real cluster this
    function must never silently downgrade the job to single-JVM local mode.
    Only when neither exists does it default to local[*].

    Engine tunables are applied set-if-absent: anything the operator passed
    via spark-submit --conf takes precedence over our local-sandbox defaults
    (driver memory in particular is only meaningful pre-JVM-launch and must
    stay under spark-submit's control on a cluster).
    """
    submitted = _submitted_conf()
    master, n_cores = _resolve_master(cores, submitted.contains("spark.master"))
    if shuffle_partitions is None and n_cores is not None:
        # ~cores for local runs; a real cluster submit sets its own
        # (rule of thumb: 2-3x total executor cores, or rely on AQE coalesce).
        shuffle_partitions = max(int(n_cores), 8)

    b = SparkSession.builder.appName(app_name)
    if master is not None:
        b = b.master(master)

    def conf_if_absent(builder, key, value):
        return builder if submitted.contains(key) else builder.config(key, value)

    if shuffle_partitions is not None:
        b = conf_if_absent(b, "spark.sql.shuffle.partitions", str(shuffle_partitions))
    for key, value in [
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.adaptive.localShuffleReader.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.execution.arrow.maxRecordsPerBatch", "10000"),
        ("spark.sql.session.timeZone", "UTC"),
        # ObjectHashAggregate (collect_list/min_by — the regroup and
        # dedup_keep aggregations) falls back to SORT-based aggregation
        # after only 128 distinct groups per task (SPARK-17949 default),
        # which turns every many-group aggregation into a full sort with
        # per-row object serialization — measured 6x on the regroup stage
        # at sf0.1. 128k groups bounds the in-memory agg-buffer overhead
        # to ~tens of MB per task (safe at any partition size; beyond it
        # the sort fallback still protects giant aggregation states), so
        # this is scale-safe, not a local-mode tune. Overridable via
        # spark-submit like every conf here.
        ("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072"),
        # Spark's generated-class cache holds 100 entries by default, fewer
        # than the ~160 sources one corpus_build_trim pass generates: the
        # LRU evicted each class before its reuse, so every warm pass
        # recompiled ~163 classes in Janino (measured: warm pass ~5.0 s ->
        # ~4.2 s with this and the next conf, 4-core VM). A thousand small
        # classes cost a few MB of metaspace. Static conf: it sizes a
        # JVM-wide cache on first use, so it only takes effect when set
        # before the first query of the JVM — here, at session build.
        ("spark.sql.codegen.cache.maxEntries", "1000"),
        # The cache key is the generated source, which by default names its
        # class after the whole-stage codegen id. Under AQE that id depends
        # on the order stages are re-planned in and varies between passes,
        # so identical stage code came back under a new name (and a
        # recompile) on 7-14 stages of every warm corpus_build_trim pass.
        # Without the id the source is stable; only generated class names
        # in stack traces lose it.
        ("spark.sql.codegen.useIdInClassName", "false"),
        # PySpark 4 captures the Python call site (a stack walk plus py4j
        # round trips) on EVERY DataFrame/Column API call, only to decorate
        # error messages: turning it off halves the py4j calls of a
        # corpus_build_trim plan build (measured ~7,600 -> ~3,900). Error
        # messages then lose their "== DataFrame ==" Python call-site
        # fragment (the error class, message and JVM stack are unchanged);
        # pass --conf spark.python.sql.dataFrameDebugging.enabled=true to
        # get it back while debugging.
        ("spark.python.sql.dataFrameDebugging.enabled", "false"),
        ("spark.driver.maxResultSize", "4g"),
        ("spark.sql.parquet.compression.codec", "zstd"),
        ("spark.serializer", "org.apache.spark.serializer.KryoSerializer"),
        ("spark.ui.enabled", "false"),
        # Keep binary image payloads from blowing file-split planning:
        # 128MB splits are the parquet default sweet spot at scale.
        ("spark.sql.files.maxPartitionBytes", "134217728"),
    ]:
        b = conf_if_absent(b, key, value)
    if master is not None:
        # driver memory is ours to size only when we launch the local JVM
        heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory_for(_mem_total_kb())
        b = conf_if_absent(b, "spark.driver.memory", heap)
    if iceberg_configured():
        # Production path: a hadoop-catalog Iceberg warehouse. Safe to set
        # only when the jar is actually on the classpath.
        warehouse = os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/ccnet_spark_warehouse")
        b = (
            b.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.local.type", "hadoop")
            .config("spark.sql.catalog.local.warehouse", warehouse)
        )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
