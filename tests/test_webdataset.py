"""WebDataset tar-shard sink (sources/webdataset.py)."""

import hashlib
import os
import re
import tarfile

import pytest
from pyspark.sql import functions as F

from ccnet_spark_spark.sources.webdataset import assign_shards, write_webdataset
from ccnet_spark_spark.synth import generate_pairs


def test_assign_shards_budget_bound(spark):
    """Contiguous packing: every shard's byte total stays within budget +
    one payload (the prefix-sum guarantee), shard ids are dense from 0."""
    pairs = generate_pairs(spark, 120)
    out = assign_shards(pairs, budget_bytes=32_768).select("image_id", "n_bytes", "shard_id")
    rows = out.collect()
    totals, max_item = {}, max(r["n_bytes"] for r in rows)
    for r in rows:
        totals[r["shard_id"]] = totals.get(r["shard_id"], 0) + r["n_bytes"]
    assert sorted(totals) == list(range(len(totals)))
    for sid, tot in totals.items():
        assert tot <= 32_768 + max_item, (sid, tot)


def test_assign_shards_substreams_deterministic(spark):
    """Substream mode is a pure function of the row set: identical under
    repartition; stream recoverable from shard_id."""
    pairs = generate_pairs(spark, 150)
    a = assign_shards(pairs, budget_bytes=32_768, substreams=4)
    b = assign_shards(pairs.repartition(7), budget_bytes=32_768, substreams=4)
    ra = sorted((r["image_id"], r["shard_id"]) for r in a.collect())
    rb = sorted((r["image_id"], r["shard_id"]) for r in b.collect())
    assert ra == rb
    assert {sid >> 40 for _, sid in ra} <= {0, 1, 2, 3}


def test_assign_shards_validates(spark):
    pairs = generate_pairs(spark, 5)
    with pytest.raises(ValueError, match="budget_bytes"):
        assign_shards(pairs, 0)
    with pytest.raises(ValueError, match="substreams"):
        assign_shards(pairs, 100, substreams=0)


def test_write_webdataset_roundtrip(spark, tmp_path):
    """Tars on disk reconstruct the exact corpus: payload bytes, captions,
    webdataset <key>.<ext> naming; manifest matches the files."""
    pairs = generate_pairs(spark, 60)
    out = str(tmp_path / "wds")
    manifest = write_webdataset(pairs, out, budget_bytes=65_536).collect()
    src = {
        r["image_id"]: (bytes(r["bytes"]), r["fmt"], r["caption"])
        for r in pairs.select("image_id", "bytes", "fmt", "caption").collect()
    }
    seen = {}
    for m in manifest:
        assert os.path.basename(m["tar_path"]) == f"shard-{m['shard_id']:012x}.tar"
        with open(m["tar_path"], "rb") as f:
            blob = f.read()
        assert hashlib.sha256(blob).hexdigest() == m["tar_sha256"]
        with tarfile.open(m["tar_path"]) as tar:
            names = tar.getnames()
            payloads = [n for n in names if not n.endswith(".txt")]
            assert m["n_items"] == len(payloads)
            for n in payloads:
                key, ext = n.rsplit(".", 1)
                data = tar.extractfile(n).read()
                cap_member = f"{key}.txt"
                cap = (
                    tar.extractfile(cap_member).read().decode("utf-8")
                    if cap_member in names
                    else None
                )
                seen[key] = (data, ext, cap)
    assert seen == src


def test_write_webdataset_deterministic(spark, tmp_path):
    """Two independent writes produce byte-identical shards (retry /
    re-run safety)."""
    pairs = generate_pairs(spark, 40)
    m1 = {
        r["shard_id"]: r["tar_sha256"]
        for r in write_webdataset(pairs, str(tmp_path / "a"), 65_536).collect()
    }
    m2 = {
        r["shard_id"]: r["tar_sha256"]
        for r in write_webdataset(pairs, str(tmp_path / "b"), 65_536).collect()
    }
    assert m1 == m2


def test_write_webdataset_null_caption_omitted(spark, tmp_path):
    """NULL captions write no .txt member (webdataset's missing-field
    convention) instead of crashing or writing 'None'."""
    pairs = generate_pairs(spark, 2).withColumn("caption", F.lit(None).cast("string"))
    manifest = write_webdataset(pairs, str(tmp_path / "n"), 65_536).collect()
    for m in manifest:
        with tarfile.open(m["tar_path"]) as tar:
            assert all(not n.endswith(".txt") for n in tar.getnames())


def test_write_webdataset_null_payload_names_row(spark, tmp_path):
    """A sample without a payload member is not a trainable sample (the
    reader drops it), so a NULL payload fails the write with an error
    that names its row instead of an unlabelled TypeError."""
    pairs = generate_pairs(spark, 4)
    bad = sorted(r["image_id"] for r in pairs.select("image_id").collect())[1]
    pairs = pairs.withColumn(
        "bytes", F.when(F.col("image_id") == bad, F.lit(None).cast("binary")).otherwise(F.col("bytes"))
    )
    with pytest.raises(Exception, match=re.escape(f"image_id='{bad}': NULL payload")):
        write_webdataset(pairs, str(tmp_path / "np"), budget_bytes=1 << 20).collect()


def test_read_webdataset_roundtrip(spark, tmp_path):
    """Reader reconstructs the written corpus exactly: payload bytes,
    fmt from the member extension, caption from the .txt member (NULL
    when absent)."""
    from ccnet_spark_spark.sources.webdataset import read_webdataset

    pairs = generate_pairs(spark, 50).withColumn(
        "caption", F.when(F.col("image_id") != "img0000000003", F.col("caption"))
    )
    out = str(tmp_path / "wds")
    write_webdataset(pairs, out, budget_bytes=65_536, substreams=2).collect()
    back = {
        r["image_id"]: (bytes(r["bytes"]), r["fmt"], r["caption"])
        for r in read_webdataset(spark, out).collect()
    }
    src = {
        r["image_id"]: (bytes(r["bytes"]), r["fmt"], r["caption"])
        for r in pairs.select("image_id", "bytes", "fmt", "caption").collect()
    }
    assert back == src
    assert back["img0000000003"][2] is None


def test_read_webdataset_caption_required(spark, tmp_path):
    from ccnet_spark_spark.sources.webdataset import read_webdataset

    pairs = generate_pairs(spark, 6).withColumn(
        "caption", F.when(F.col("image_id") > "img0000000002", F.col("caption"))
    )
    out = str(tmp_path / "wreq")
    write_webdataset(pairs, out, budget_bytes=65_536).collect()
    got = sorted(r["image_id"] for r in read_webdataset(spark, out, caption_required=True).collect())
    assert got == ["img0000000003", "img0000000004", "img0000000005"]


def test_read_webdataset_skips_caption_only_orphans(spark, tmp_path):
    """A tar member set with a .txt but no payload (half-written sample)
    yields no row instead of a NULL-bytes row."""
    import io
    import tarfile as tf

    from ccnet_spark_spark.sources.webdataset import read_webdataset

    out = tmp_path / "orph"
    out.mkdir()
    buf = io.BytesIO()
    with tf.open(fileobj=buf, mode="w", format=tf.USTAR_FORMAT) as tar:
        for name, data in [("good.ppm", b"P6 1 1 255 abc"), ("good.txt", b"cap"),
                           ("orphan.txt", b"no payload")]:
            info = tf.TarInfo(name=name)
            info.size = len(data)
            tar.addfile(info, io.BytesIO(data))
    (out / "shard-000000000000.tar").write_bytes(buf.getvalue())
    rows = read_webdataset(spark, str(out)).collect()
    assert [(r["image_id"], r["caption"]) for r in rows] == [("good", "cap")]


def test_read_webdataset_shard_is_partition_unit(spark, tmp_path):
    """The tar scan parallelizes across shards: the binaryFile relation
    carries one row per tar, so tasks stream whole archives."""
    from ccnet_spark_spark.sources.webdataset import read_webdataset

    out = str(tmp_path / "par")
    manifest = write_webdataset(generate_pairs(spark, 80), out, budget_bytes=16_384).collect()
    assert len(manifest) > 2
    assert read_webdataset(spark, out).count() == 80
