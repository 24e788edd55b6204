"""Table IO + checkpoint/lineage sidecar.

Logical contract = Iceberg tables (north_rule). When the Iceberg runtime jar
is on the classpath (session.iceberg_configured) the writers address
``local.db.<name>`` through SQL/DataFrameWriterV2; in this sandbox (no jar)
the same calls land on hive-partitioned parquet paths with identical
partition columns, pruning behavior and resume semantics — swap-in is a
config change, not a code change.

Covers reference S6-S9 (/root/reference/pipe_save.py):
- write_result: overwrite, partitioned by (lang, bucket) — the reference's
  output contract (pipe_save.py:30-54).
- read_partition: ONE (lang,bucket) partition. The reference composes paths
  by hand (pipe_save.py:72,79); we express the prune as .where() filters and
  let Catalyst/Iceberg do the path math (partition pruning is visible in
  the explain as PartitionFilters).
- read_all: the whole dataset.
- sidecar: per-partition lineage + metrics rows (FIXTURES.md F4); resume =
  anti-join of input partitions against completed sidecar rows, so a killed
  run re-processes exactly the unfinished partitions.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import SIDECAR_SCHEMA
from ..session import iceberg_configured, local_frame


def _hashable(dt: T.DataType) -> bool:
    """True when Spark's hash expressions accept the type: maps and
    variants are rejected at analysis, also nested in arrays/structs."""
    if isinstance(dt, (T.MapType, T.VariantType)):
        return False
    if isinstance(dt, T.ArrayType):
        return _hashable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_hashable(f.dataType) for f in dt)
    return True


def write_result(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("lang", "bucket"),
    cluster_by: tuple[str, ...] = (),
) -> None:
    """Hive-partitioned parquet sink. cluster_by additionally co-locates
    each hive partition's rows (hash repartition on the partition keys) and
    SORTS them within files on the cluster columns — sorted files compress
    better (similar values adjacent → RLE/dictionary pages) and carry tight
    per-ROW-GROUP min/max statistics on the cluster keys, so a predicate
    scan skips most row groups (the poor man's Z-order; measured: median
    row-group span on the cluster key drops ~3x even with only 3 row
    groups per file, and shrinks linearly with file size — verified
    through parquet footers in tests/test_clustered_write.py). Global
    repartitionByRange is deliberately NOT used: with fewer range splits
    than hive groups the leading partition columns consume every boundary
    and the cluster column never gets sliced."""
    if cluster_by:
        if partition_cols:
            df = df.repartition(*[F.col(c) for c in partition_cols])
        df = df.sortWithinPartitions(*[F.col(c) for c in partition_cols + cluster_by])
    elif partition_cols:
        # hash-distribute rows to the writers (what Iceberg's
        # write.distribution-mode=hash does; guide §6 "coalesce on write"):
        # without it every task writes one file per hive combo it happens
        # to hold — measured 512 files and 4-9 s for the bench sink vs 16
        # files and 1-4 s distributed. A deterministic salt bounds skew:
        # each hive combo spreads over at most parallelism/8 writer groups
        # (so a hot language still fans out on a large cluster; salt is
        # xxhash64 of the row, never rand() — retry-safe, SPARK-38388).
        # The salt hashes only the columns xxhash64 accepts (no map or
        # variant inside); fully duplicate rows share one salt, so a
        # duplicate-heavy combo still lands on one writer.
        spark = df.sparkSession
        par = spark.sparkContext.defaultParallelism
        fpp = max(1, par // 8)
        hashable = [F.col(f.name) for f in df.schema if _hashable(f.dataType)]
        salt = F.pmod(F.xxhash64(*hashable), F.lit(fpp))
        df = df.repartition(par, *[F.col(c) for c in partition_cols], salt)
    (df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path))


def compact_result(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 1_000_000,
    partition_cols: tuple[str, ...] = (),
) -> int:
    """Small-file compaction — the maintenance job every incrementally-
    loaded table needs (each micro-batch/partition load leaves its own
    files; thousands of tiny files tank scan planning and HDFS/S3 metadata).
    Rewrites the dataset into ceil(rows / target_rows_per_file) files via a
    round-robin repartition (or per-hive-partition layout when
    partition_cols given), then swaps directories: write to sibling tmp ->
    rename old out of the way -> rename new in -> drop old. Readers see
    either the old complete dataset or the new one, never a MIX of files —
    but the two renames are not one atomic operation: there is a brief
    window in which `path` does not exist (a concurrent reader errors and
    must retry), and a crash between the renames leaves the table offline
    until the stale-`old` guard below is resolved (``old`` then holds the
    complete pre-compaction data — rename it back to recover). True
    always-available swaps need a symlink flip or a table format with
    atomic snapshot commit; the Iceberg deployment uses
    rewrite_data_files, which has neither window. Returns the file count
    after compaction."""
    import shutil

    tmp = path.rstrip("/") + "_compact_tmp"
    old = path.rstrip("/") + "_compact_old"
    # a previous crashed compaction may have left either sibling behind; tmp
    # is always discardable, but a leftover `old` means the prior swap died
    # between its two renames — refuse rather than guess which copy is live
    if os.path.exists(old):
        raise RuntimeError(
            f"stale {old} exists — a previous compaction died mid-swap. "
            f"{old} holds the COMPLETE pre-compaction dataset: if {path} is "
            f"missing or partial, recover by renaming {old} back to {path}; "
            f"otherwise delete {old}. Then compact again."
        )
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    df = spark.read.parquet(path)
    n_rows = df.count()
    n_files = max(1, -(-n_rows // target_rows_per_file))
    if partition_cols:
        writer = df.repartition(n_files, *[F.col(c) for c in partition_cols])
        writer.write.mode("overwrite").partitionBy(*partition_cols).parquet(tmp)
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    # verify BEFORE the swap — a bad rewrite must never replace good data
    if spark.read.parquet(tmp).count() != n_rows:
        shutil.rmtree(tmp)
        raise RuntimeError(f"compaction row-count mismatch for {path}; aborted before swap")
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    out = 0
    for root, _dirs, files in os.walk(path):
        out += sum(1 for f in files if f.endswith(".parquet"))
    return out


# ---------------------------------------------------------------- Iceberg
def iceberg_partition_transforms(
    partition_cols: tuple[str, ...] = ("lang", "bucket"),
    bucket_by: tuple[int, str] | None = (64, "image_id"),
) -> list:
    """The partition spec of the production table: identity transforms on
    (lang, bucket) + bucket(N, image_id). Exposed separately so the spec
    construction is unit-testable without the runtime jar (the jar is only
    needed at createOrReplace time, not to build the transform expressions)."""
    from pyspark.sql.functions import partitioning

    parts = [F.col(c) for c in partition_cols]
    if bucket_by:
        parts.append(partitioning.bucket(bucket_by[0], bucket_by[1]))
    return parts


def write_result_iceberg(
    df: DataFrame,
    table: str = "local.db.pairs_result",
    partition_cols: tuple[str, ...] = ("lang", "bucket"),
    bucket_by: tuple[int, str] | None = (64, "image_id"),
) -> None:
    """Production writer: Iceberg createOrReplace, partitioned by
    (lang, bucket) + bucket(N, image_id) so the verdict join-back is a
    storage-partitioned (shuffle-free) join. Requires the
    iceberg-spark-runtime jar + catalog conf (session.get_spark wires the
    'local' hadoop catalog when the jar is present); raises RuntimeError
    otherwise so callers fall back to write_result()."""
    if not iceberg_configured():
        raise RuntimeError(
            "Iceberg runtime jar not on classpath; use write_result() (hive-partitioned parquet, same logical contract)"
        )
    parts = iceberg_partition_transforms(partition_cols, bucket_by)
    df.writeTo(table).using("iceberg").partitionedBy(*parts).createOrReplace()


def read_iceberg(spark: SparkSession, table: str = "local.db.pairs_result") -> DataFrame:
    if not iceberg_configured():
        raise RuntimeError("Iceberg runtime jar not on classpath")
    return spark.read.table(table)


def read_all(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_partition(spark: SparkSession, path: str, lang: str, bucket: str) -> DataFrame:
    # .where on partition columns -> Catalyst partition pruning; never
    # hand-build .../lang=X/bucket=Y paths like the reference does.
    return spark.read.parquet(path).where((F.col("lang") == lang) & (F.col("bucket") == bucket))


# ------------------------------------------------------------ checkpointing
def sidecar_path(result_path: str) -> str:
    return result_path.rstrip("/") + "_sidecar"


def completed_partitions(spark: SparkSession, result_path: str) -> list[str]:
    p = sidecar_path(result_path)
    if not os.path.exists(p):
        return []
    return [r.partition_id for r in spark.read.parquet(p).select("partition_id").distinct().collect()]


def pending_partitions(spark: SparkSession, all_partitions: list[str], result_path: str) -> list[str]:
    done = set(completed_partitions(spark, result_path))
    return [p for p in all_partitions if p not in done]


def append_sidecar(spark: SparkSession, result_path: str, partition_id: str, result_df: DataFrame, run_id: str | None = None) -> None:
    """Append one lineage+metrics row for a completed input partition.
    Metrics follow the A3 rollup shape (/root/reference/pipe_save.py:105-122)
    plus keep/drop counts and a per-bucket map."""
    run_id = run_id or uuid.uuid4().hex[:12]
    agg = result_df.agg(
        F.count(F.lit(1)).alias("n_in"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        F.sum("length").alias("sum_length"),
        F.sum("original_length").alias("sum_original_length"),
    ).collect()[0]
    buckets = {r["bucket"]: r["n"] for r in result_df.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect() if r["bucket"]}
    row = {
        "partition_id": partition_id,
        "run_id": run_id,
        "n_in": agg["n_in"],
        "n_kept": agg["n_kept"],
        "n_dropped": agg["n_dropped"],
        "sum_length": agg["sum_length"],
        "sum_original_length": agg["sum_original_length"],
        "by_bucket": buckets,
    }
    import datetime

    row["completed_at"] = datetime.datetime.now(datetime.timezone.utc)
    sidecar = local_frame(spark, [tuple(row[f.name] for f in SIDECAR_SCHEMA)], SIDECAR_SCHEMA)
    sidecar.write.mode("append").parquet(sidecar_path(result_path))


def run_resumable(
    spark: SparkSession,
    input_partitions: dict[str, DataFrame],
    result_path: str,
    run_one,
) -> list[str]:
    """Process each input partition exactly once across restarts:
    skip sidecar-completed partitions, write each result partition, append
    its sidecar row last (write-then-mark => at-least-once per partition,
    idempotent because each partition overwrites its own subdirectory)."""
    processed = []
    for pid in pending_partitions(spark, list(input_partitions), result_path):
        result = run_one(input_partitions[pid])
        result.write.mode("overwrite").parquet(os.path.join(result_path, f"part_id={pid}"))
        append_sidecar(spark, result_path, pid, result)
        processed.append(pid)
    return processed
