"""WebDataset-style tar-shard sink + byte-budget shard assignment.

Multimodal training jobs do not read 10^12 small image files; they
stream FIXED-SIZE tar shards (the public WebDataset convention: each
sample is `<key>.<ext>` for the payload plus `<key>.txt` for the
caption, shards target a byte budget like 1 GiB). This module is the
writer side the reference pipeline lacks and a training-data engine
needs: assign every pair to a shard by a deterministic byte-budget
prefix sum, then write one tar per shard from the executors.

Engine addition (no reference counterpart); the tar layout follows the
public webdataset spec only.

Scale notes:
- Shard ASSIGNMENT is the same contiguous prefix-sum shape as
  `q_pack_sequences`: shard_id = floor(bytes_before / budget) over a
  deterministic id order, each shard lands within one payload of the
  budget. The one global stream is operators/sample.prefix_sum (range
  buckets of the id order, no single-task window); the `substreams`
  form — like operators/aspect.pack_batches — runs one prefix sum per
  content-hash sub-stream (sha256-prefix, engine-portable), shard ids
  globally unique via stream-offset arithmetic.
- The WRITE groups by shard_id (one shuffle of the payload bytes — the
  unavoidable one: bytes must co-locate to become a tar) and each group
  writes exactly one tar via applyInPandas. Tar bytes are DETERMINISTIC
  (USTAR, zeroed mtime/uid/gid, entries in id order), so retries and
  re-runs produce byte-identical shards and the sink is idempotent.
"""

from __future__ import annotations

import hashlib
import uuid
import io
import os
import tarfile

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.sample import prefix_sum

# stream-offset stride for globally-unique shard ids in substream mode
_STREAM_STRIDE = 1 << 40


def _stream_col(id_col: str, substreams: int) -> Column:
    # first sha256 hex byte mod substreams — the operators/sample.py /
    # operators/aspect.py content-hash family (deterministic, both engines)
    byte = F.conv(F.substring(F.sha2(F.col(id_col).cast("string"), 256), 1, 2), 16, 10)
    return (byte.cast("int") % substreams).alias("_stream")


def assign_shards(
    df: DataFrame,
    budget_bytes: int,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    substreams: int | None = None,
) -> DataFrame:
    """df + shard_id (long) + n_bytes (long): contiguous byte-budget
    packing in deterministic id order. substreams=None = one global
    stream (exact, the bucketed operators/sample.prefix_sum); substreams=S
    = per-stream prefix sums, shard_id = stream * 2^40 + local shard."""
    if budget_bytes <= 0:
        raise ValueError(f"budget_bytes must be positive, got {budget_bytes}")
    size = F.length(F.col(bytes_col)).cast("long").alias("n_bytes")
    out = df.withColumn("n_bytes", size)
    if substreams is None:
        out = prefix_sum(out, [id_col], "n_bytes", "_before", inclusive=False)
        shard = F.floor(F.coalesce(F.col("_before"), F.lit(0)) / budget_bytes).cast("long")
        return out.withColumn("shard_id", shard).drop("_before")
    if not 0 < substreams <= 256:
        raise ValueError(f"substreams must be in 1..256, got {substreams}")
    w = (
        Window.partitionBy("_stream")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_bytes").over(w), F.lit(0))
    return (
        out.withColumn("_stream", _stream_col(id_col, substreams))
        .withColumn(
            "shard_id",
            (
                F.col("_stream").cast("long") * _STREAM_STRIDE
                + F.floor(before / budget_bytes)
            ),
        )
        .drop("_stream")
    )


def assign_shards_sql(
    pairs_table: str,
    budget_bytes: int,
    id_col: str = "image_id",
    nbytes_expr: str = "n_bytes",
    substreams: int | None = None,
) -> str:
    """DuckDB twin over a table carrying a byte-size column (the metadata
    fixture's n_bytes stands in for length(bytes), same as the image
    gates' twin)."""
    if substreams is None:
        return (
            f"select *, cast(floor(coalesce(sum({nbytes_expr}) over "
            f"(order by {id_col} rows between unbounded preceding and 1 preceding), 0) "
            f"/ {budget_bytes}) as bigint) as shard_id from {pairs_table}"
        )
    return (
        f"select * exclude (_stream), cast(_stream * {_STREAM_STRIDE} + "
        f"floor(coalesce(sum({nbytes_expr}) over (partition by _stream order by {id_col} "
        f"rows between unbounded preceding and 1 preceding), 0) / {budget_bytes}) "
        f"as bigint) as shard_id from (select *, "
        f"cast(('0x' || substr(sha256(cast({id_col} as varchar)), 1, 2)) as int) "
        f"% {substreams} as _stream from {pairs_table})"
    )


def _tar_bytes(rows) -> bytes:
    """One deterministic USTAR archive: per sample `<id>.<fmt>` (payload)
    then `<id>.txt` (UTF-8 caption; omitted when NULL), entries in id
    order, zeroed mtime/uid/gid so re-runs are byte-identical. A sample
    without a payload member is one read_webdataset drops, so a NULL
    payload raises, naming its row, before any tar byte is built."""
    rows = sorted(rows, key=lambda r: r["image_id"])
    for r in rows:
        if r["bytes"] is None:
            raise ValueError(
                f"image_id={r['image_id']!r}: NULL payload; a webdataset sample needs one "
                "(drop such rows first, e.g. with Config.quarantine)"
            )
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tar:
        for r in rows:
            payload = bytes(r["bytes"])
            for name, data in ((f"{r['image_id']}.{r['fmt']}", payload),) + (
                ((f"{r['image_id']}.txt", r["caption"].encode("utf-8")),)
                if r["caption"] is not None
                else ()
            ):
                info = tarfile.TarInfo(name=name)
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                tar.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def read_webdataset(spark, path: str, caption_required: bool = False) -> DataFrame:
    """Read webdataset tar shards back into a pairs DataFrame
    (image_id, bytes, fmt, caption) — the SOURCE half of this module,
    and the exact shape a training job's data loader implements: the
    shard (tar file) is the unit of parallelism, each task streams
    whole archives sequentially (no random access, no per-sample file
    listing — the point of the format at 10^12 samples).

    Spark-first: the built-in `binaryFile` source lists + reads the
    tars (so globbing, partition sizing, and locality are Catalyst's
    problem), then ONE mapInPandas unpacks samples — members are
    grouped by key, `<key>.txt` becomes the caption (NULL when the
    member is absent, mirroring the writer), any other extension is
    the payload with `fmt` = extension. caption_required=True drops
    caption-less samples at the source (the common training filter)."""
    import pandas as pd

    def op(batches):
        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tar:
                    samples: dict[str, dict] = {}
                    for member in tar:
                        if not member.isfile():
                            continue
                        key, _, ext = member.name.rpartition(".")
                        data = tar.extractfile(member).read()
                        s = samples.setdefault(key, {"caption": None})
                        if ext == "txt":
                            s["caption"] = data.decode("utf-8")
                        else:
                            s["bytes"], s["fmt"] = bytearray(data), ext
                    for key, s in samples.items():
                        if "bytes" not in s:
                            continue  # caption-only orphan: no trainable payload
                        if caption_required and s["caption"] is None:
                            continue
                        rows.append(
                            {
                                "image_id": key,
                                "bytes": s["bytes"],
                                "fmt": s["fmt"],
                                "caption": s["caption"],
                            }
                        )
            yield pd.DataFrame(rows, columns=["image_id", "bytes", "fmt", "caption"])

    tars = spark.read.format("binaryFile").load(os.path.join(path, "*.tar"))
    return tars.select("content").mapInPandas(
        op, schema="image_id string, bytes binary, fmt string, caption string"
    )


def write_webdataset(
    df: DataFrame,
    path: str,
    budget_bytes: int,
    substreams: int | None = None,
) -> DataFrame:
    """Write pairs (image_id, bytes, fmt, caption) as webdataset tar
    shards under `path` (shard-<shard_id 12 hex>.tar) and RETURN the
    manifest as a DataFrame (shard_id, n_items, n_bytes, tar_sha256,
    tar_path) — the sidecar a training job reads instead of listing
    10^6 tars. Grouping by shard_id is the one payload shuffle; each
    group writes its single tar idempotently (same input -> same
    bytes -> same name)."""
    import pandas as pd

    os.makedirs(path, exist_ok=True)
    assigned = assign_shards(df, budget_bytes, substreams=substreams).select(
        "image_id", "bytes", "fmt", "caption", "shard_id"
    )

    def _write(pdf: pd.DataFrame) -> pd.DataFrame:
        shard_id = int(pdf["shard_id"].iloc[0])
        blob = _tar_bytes(pdf.to_dict("records"))
        tar_path = os.path.join(path, f"shard-{shard_id:012x}.tar")
        # per-ATTEMPT staging name: two concurrent attempts of one task
        # (speculative execution / zombie task) must never interleave
        # writes into one staging file — os.replace still publishes
        # atomically and last-writer-wins over identical bytes (ADVICE r5)
        tmp = f"{tar_path}.inprogress-{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, tar_path)  # atomic publish; retries overwrite equal bytes
        return pd.DataFrame(
            [
                {
                    "shard_id": shard_id,
                    "n_items": len(pdf),
                    "n_bytes": int(pdf["bytes"].map(len).sum()),
                    "tar_sha256": hashlib.sha256(blob).hexdigest(),
                    "tar_path": tar_path,
                }
            ]
        )

    manifest_schema = (
        "shard_id long, n_items long, n_bytes long, tar_sha256 string, tar_path string"
    )
    return assigned.groupBy("shard_id").applyInPandas(_write, schema=manifest_schema)
