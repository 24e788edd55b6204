"""write_result(cluster_by=...): clustered output must (a) round-trip rows
exactly, (b) not cost size vs unclustered (sorted similar values compress
better), and (c) carry tight per-row-group min/max statistics on the
cluster key — verified through parquet footer metadata. Small
parquet.block.size forces many row groups per file so (c) is observable at
test scale; at production file sizes the same mechanism yields hundreds of
prunable row groups per file."""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ccnet_spark_spark.sources.tables import write_result


@pytest.fixture()
def small_row_groups(spark):
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 64 * 1024)
    yield
    if old is None:
        hconf.unset("parquet.block.size")
    else:
        hconf.set("parquet.block.size", old)


def _bytes(path):
    return sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def _pp_rowgroup_spans(path):
    spans = []
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            for ci in range(meta.num_columns):
                col = meta.row_group(rg).column(ci)
                if col.path_in_schema == "perplexity" and col.statistics is not None:
                    spans.append(col.statistics.max - col.statistics.min)
    return spans


def test_clustered_write_roundtrip_smaller_prunable(spark, small_row_groups, tmp_path):
    # enough rows that each (lang,bucket) file exceeds the 64 KB row-group
    # budget several times over — smaller inputs yield one row group per
    # file, whose span necessarily covers the file's whole (sorted) range
    n = 120_000
    df = spark.range(n).select(
        F.concat(F.lit("img"), F.lpad(F.col("id").cast("string"), 10, "0")).alias("image_id"),
        (F.pmod(F.xxhash64("id"), 5)).cast("string").alias("lang"),
        (F.pmod(F.xxhash64("id", F.lit(1)), 3)).cast("string").alias("bucket"),
        (F.pmod(F.xxhash64("id", F.lit(2)), 10_000) / 10.0).alias("perplexity"),
    ).cache()
    plain, clustered = str(tmp_path / "plain"), str(tmp_path / "clustered")
    # plain partitionBy: the size/row-group comparison below is against
    # the SCATTERED baseline (one file per task x hive combo) the
    # cluster_by claim was always about; write_result hash-distributes
    # plain writes too, which can compress better than the sorted form
    df.write.mode("overwrite").partitionBy("lang", "bucket").parquet(plain)
    write_result(df, clustered, cluster_by=("perplexity",))
    df.unpersist()

    # (a) exact row round-trip
    a = spark.read.parquet(plain).orderBy("image_id").collect()
    b = spark.read.parquet(clustered).orderBy("image_id").collect()
    assert a == b

    # (b) sorting must not cost size
    assert _bytes(clustered) <= _bytes(plain)

    # (c) row-group pp spans: sorted files cover narrow slices, unsorted
    # files cover nearly the whole 0..999.9 range in every row group
    plain_spans = _pp_rowgroup_spans(plain)
    clustered_spans = _pp_rowgroup_spans(clustered)
    assert plain_spans and clustered_spans
    import statistics

    assert min(plain_spans) > 800  # unsorted: every row group ~full range
    # sorted: the typical row group covers less than half the range the
    # unsorted layout forces (measured ~1/3 with 3 row groups per file —
    # shrinks further as files grow: production-size files hold hundreds
    # of row groups, each a sliver)
    assert statistics.median(clustered_spans) < 0.5 * statistics.median(plain_spans)


class TestCompaction:
    def test_compact_preserves_rows_reduces_files(self, spark, tmp_path):
        from ccnet_spark_spark.sources.tables import compact_result

        path = str(tmp_path / "frag")
        # simulate 20 incremental loads -> >= 20 small files
        for i in range(20):
            spark.createDataFrame(
                [(i * 100 + j, f"text {i}-{j}") for j in range(50)],
                "doc_id long, text string",
            ).coalesce(1).write.mode("append").parquet(path)
        before = spark.read.parquet(path).orderBy("doc_id").collect()
        import glob
        n_before = len(glob.glob(path + "/*.parquet"))
        assert n_before >= 20

        n_after = compact_result(spark, path, target_rows_per_file=500)
        assert n_after == 2  # 1000 rows / 500
        after = spark.read.parquet(path).orderBy("doc_id").collect()
        assert after == before
        assert not glob.glob(path + "_compact_*")  # no litter

    def test_compact_aborts_before_swap_on_mismatch(self, spark, tmp_path, monkeypatch):
        from ccnet_spark_spark.sources import tables as t

        path = str(tmp_path / "frag2")
        spark.createDataFrame([(1, "a")], "doc_id long, text string").write.parquet(path)
        real_read = spark.read.parquet
        # sabotage the verification read of the tmp dir only
        class FakeReader:
            def parquet(self, p):
                df = real_read(p)
                return df.limit(0) if p.endswith("_compact_tmp") else df
        monkeypatch.setattr(type(spark), "read", property(lambda s: FakeReader()))
        with pytest.raises(RuntimeError, match="row-count mismatch"):
            t.compact_result(spark, path, target_rows_per_file=10)
        monkeypatch.undo()
        # original data untouched
        assert spark.read.parquet(path).count() == 1


def test_schema_evolution_merge_on_read(spark, tmp_path):
    """Incremental loads evolve schemas (a new metadata column appears in
    later batches). mergeSchema read unions the schemas; old rows carry
    NULL for the new column — the pattern the engine's incremental loads
    rely on (Iceberg handles this natively; parquet needs the option)."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "old row")], "doc_id long, text string").write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame(
        [(2, "new row", "en")], "doc_id long, text string, lang string"
    ).write.mode("append").parquet(path)
    got = spark.read.option("mergeSchema", True).parquet(path)
    assert set(got.columns) == {"doc_id", "text", "lang"}
    rows = {r.doc_id: r.lang for r in got.collect()}
    assert rows == {1: None, 2: "en"}
