"""Focused pins for round-6 internal changes: the hash-distributed
partitioned write must be row-identical to the scattered form with a
bounded file count, and the codec header fast path must agree with the
grammar-walk spec on every header shape."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from ccnet_spark_spark import codecs
from ccnet_spark_spark.sources.tables import write_result


def test_distributed_write_row_identical_and_bounded_files(spark, tmp_path):
    n = 20_000
    df = spark.range(n).select(
        F.concat(F.lit("img"), F.lpad(F.col("id").cast("string"), 10, "0")).alias("image_id"),
        (F.pmod(F.xxhash64("id"), 4)).cast("string").alias("lang"),
        (F.pmod(F.xxhash64("id", F.lit(1)), 3)).cast("string").alias("bucket"),
        (F.pmod(F.xxhash64("id", F.lit(2)), 1000) / 10.0).alias("perplexity"),
    )
    dist, scat = str(tmp_path / "dist"), str(tmp_path / "scat")
    write_result(df, dist)
    df.write.mode("overwrite").partitionBy("lang", "bucket").parquet(scat)
    a = spark.read.parquet(dist)
    b = spark.read.parquet(scat)
    assert a.count() == b.count() == n
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    n_combos = 4 * 3
    par = spark.sparkContext.defaultParallelism
    fpp = max(1, par // 8)
    dist_files = glob.glob(f"{dist}/*/*/*.parquet")
    # each hive combo is spread over at most parallelism/8 salt groups,
    # and groups landing in one task merge into one file
    assert len(dist_files) <= n_combos * fpp
    assert len(dist_files) >= n_combos  # every combo still written


def test_write_result_salt_skips_unhashable_columns(spark, tmp_path):
    # xxhash64 rejects maps (also nested) at analysis: the salt must hash
    # only the other columns, and the rows must land unchanged
    df = spark.range(40).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("lang"),
        F.lit("head").alias("bucket"),
        F.create_map(F.lit("k"), F.col("id")).alias("by_key"),
        F.array(F.create_map(F.lit("k"), F.col("id"))).alias("maps"),
    )
    out = str(tmp_path / "maps")
    write_result(df, out)
    got = spark.read.parquet(out)
    assert got.count() == 40
    assert {r["id"]: r["by_key"]["k"] for r in got.collect()} == {i: i for i in range(40)}


HEADERS = [
    b"P6 3 2 255\n",
    b"QJ 3 2 4\n",
    b"P6  3 2 255\n",          # double space -> grammar walk
    b"P6 3 2 255 \n",          # extra ws before terminator
    b"P6 # tool\n3 2 255\n",   # comment -> grammar walk
    b"P6\n3\n2\n255\n",        # newline separators
    b"P6 3 2 255\n#raster-starts-with-hash",
]


def _grammar_walk(data: bytes):
    toks, i, n = [], 0, 0
    while len(toks) < 4:
        if i >= len(data):
            raise ValueError("trunc")
        c = data[i : i + 1]
        if c == b"#":
            nl = data.index(b"\n", i)
            n += 1
            i = nl + 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(data) and not data[j : j + 1].isspace() and data[j : j + 1] != b"#":
                j += 1
            toks.append(data[i:j])
            i = j
    if i >= len(data) or not data[i : i + 1].isspace():
        raise ValueError("missing ws")
    return toks, i + 1, n


@pytest.mark.parametrize("head", HEADERS)
def test_parse_header_fast_path_matches_grammar(head):
    data = head + b"x" * 18
    assert codecs.parse_header(data) == _grammar_walk(data)


def test_strict_header_ints_rejected():
    # int(b"1_6") == 16 — the class the quarantine spec rejects must raise
    # in the decoders too, not silently canonicalize
    bad = b"P6 1_6 2 255\n" + b"x" * 96
    with pytest.raises(ValueError):
        codecs.decode_ppm(bad)

