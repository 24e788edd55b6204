"""Multimodal (image payload) operators.

Images are opaque binary columns + typed metadata (w, h, fmt) — the engine
never shuffles pixels through Python in the text pipeline. These operators
are the decode/feature path for when pixels ARE the workload: implemented
as Arrow-batched mapInPandas so each task decodes its partition's images
vectorized, with the sandbox codecs (ppm/qjpg); real jpeg/png decode slots
in behind codecs.decode when Pillow is available (NotImplementedError
otherwise — plumbing, schema and batch shape are real and tested).

One payload rule for every image, audio and video operator, kept once in
`_per_payload`: a NULL payload gives NULL outputs for its row, keeping the
id (the passthrough forms fail closed instead: the scrub gives NULL bytes
with count 0, the model gates false/false, validate and quarantine
`bad_header`; frame_sample emits no frames), and a corrupt payload raises
a ValueError whose message starts with the row's id, e.g.
`image_id='img…': truncated image header`.
"""

from __future__ import annotations

import itertools
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .. import codecs

STATS_SCHEMA = (
    "image_id string, w int, h int, fmt string, mean_r double, mean_g double, "
    "mean_b double, brightness double, phash_check long"
)


def _per_payload(pdf: pd.DataFrame, fn, *cols: str, id_col: str = "image_id") -> list:
    """fn(payload bytes, *row values of cols) for every row of one Arrow
    batch, in row order, under the module's payload rule: a NULL payload
    gives None, and a ValueError from fn is re-raised with the row's id."""
    out = []
    for row_id, data, *vals in zip(pdf[id_col], pdf["bytes"], *(pdf[c] for c in cols)):
        if data is None:
            out.append(None)
            continue
        try:
            out.append(fn(bytes(data), *vals))
        except ValueError as e:
            raise ValueError(f"{id_col}={row_id!r}: {e}") from e
    return out


def _narrow(df: DataFrame, fn, schema: str, *cols: str, id_col: str = "image_id") -> DataFrame:
    """The narrow operator form: one mapInPandas over (id, bytes, *cols)
    emitting (id, outputs...) per row, where fn returns the outputs after
    the id in schema order and a NULL payload gives all-NULL outputs.
    Batches are built with dtype=object: with one NULL row pandas would
    otherwise infer float64 for an int column, and a long such as
    phash_check would come back with its low bits lost."""
    names = StructType.fromDDL(schema).names
    nulls = (None,) * (len(names) - 1)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = _per_payload(pdf, fn, *cols, id_col=id_col)
            rows = [(row_id, *(nulls if o is None else o)) for row_id, o in zip(pdf[id_col], outs)]
            yield pd.DataFrame(rows, columns=names, dtype=object)

    return df.select(id_col, "bytes", *cols).mapInPandas(op, schema=schema)


def _ahash(pixels: np.ndarray) -> int:
    gray = pixels.mean(axis=2)
    bits = (gray > gray.mean()).flatten()[:64]
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return int(np.int64(np.uint64(out)))


def image_stats(df: DataFrame) -> DataFrame:
    """Decode -> per-channel means + brightness + recomputed average-hash.
    phash_check must equal the stored phash column (payload-fidelity probe
    usable in-flight at any pipeline stage)."""

    def row(data, fmt):
        px = codecs.decode(data, fmt)
        means = px.reshape(-1, 3).mean(axis=0)
        return (px.shape[1], px.shape[0], fmt, *map(float, means), float(means.mean()), _ahash(px))

    return _narrow(df, row, STATS_SCHEMA, "fmt")


def scrub_image_metadata(df: DataFrame) -> DataFrame:
    """Image-side PII scrub — the payload analog of the caption regex
    scrub: strip every header comment (the PPM/Netpbm carrier for EXIF-ish
    creator/GPS tags) and re-emit the canonical header, leaving raster
    bytes untouched so decoded pixels are bit-identical (the north rule's
    payload invariant holds by construction, not by tolerance). The narrow
    form of scrub_metadata_passthrough: (image_id, bytes, fmt,
    n_meta_removed), where n_meta_removed is the per-image audit count the
    metrics sidecar aggregates and a NULL payload stays NULL with count 0.
    Real EXIF strip for jpeg/png slots in behind codecs.strip_metadata
    when Pillow is available."""
    return scrub_metadata_passthrough(df.select("image_id", "bytes", "fmt"))


def scrub_metadata_passthrough(pairs: DataFrame) -> DataFrame:
    """Pipeline form of the metadata scrub: ONE mapInPandas rewrites the
    payload column in place on the FULL row (every other column rides
    along) and appends the n_meta_removed audit count — zero shuffle, the
    payload crosses Arrow once (the same cost class as the fused model
    gates; at 10^12 rows this is local memory bandwidth, not network).
    NULL payloads stay NULL with count 0 (the metadata gates own them)."""
    schema = StructType([*pairs.schema, *StructType.fromDDL("n_meta_removed int")])

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            scrubbed = _per_payload(pdf, codecs.strip_metadata, "fmt")
            out = pdf.copy()
            out["bytes"] = [None if s is None else s[0] for s in scrubbed]
            out["n_meta_removed"] = [0 if s is None else s[1] for s in scrubbed]
            yield out

    return pairs.mapInPandas(op, schema=schema)


RESIZE_SCHEMA = "image_id string, bytes binary, w int, h int, fmt string"


def resize(df: DataFrame, target: int = 16) -> DataFrame:
    """Nearest-neighbor resize to target x target, re-encoded lossless ppm:
    resize_to with the same target on both sides.
    (Real bilinear/Lanczos requires Pillow — same plumbing.)"""
    side = F.lit(target)
    return resize_to(
        df.select("image_id", "bytes", "fmt", side.alias("target_w"), side.alias("target_h"))
    )


def resize_to(
    df: DataFrame, target_w_col: str = "target_w", target_h_col: str = "target_h"
) -> DataFrame:
    """Per-ROW-target nearest-neighbor resize + lossless ppm re-encode —
    the downstream of operators/aspect.aspect_bucket (each image resizes
    to ITS bucket's training resolution, the SDXL practice); `resize` is
    its single-square-target form. Output pixel (y, x) samples source
    (y*H//th, x*W//tw) clipped — all-integer, so an independent
    re-implementation is bit-exact. Rows with NULL targets
    (bad dims upstream) are dropped — they have no bucket to train in."""

    def row(data, fmt, tw, th):
        px = codecs.decode(data, fmt)
        tw, th = int(tw), int(th)
        ys = (np.arange(th) * px.shape[0] // th).clip(0, px.shape[0] - 1)
        xs = (np.arange(tw) * px.shape[1] // tw).clip(0, px.shape[1] - 1)
        return codecs.encode_ppm(px[np.ix_(ys, xs)]), tw, th, "ppm"

    tw, th = F.col(target_w_col), F.col(target_h_col)
    src = df.where(tw.isNotNull() & th.isNotNull())
    src = src.withColumns({"_tw": tw.cast("int"), "_th": th.cast("int")})
    return _narrow(src, row, RESIZE_SCHEMA, "fmt", "_tw", "_th")


EMBED_SCHEMA = "image_id string, embedding array<float>"


def _image_vec(data: bytes, fmt: str, dim: int = 64) -> np.ndarray:
    """The image-tower spec as a pure function (shared by image_embedding
    and model_gate_passthrough so the two paths can never drift):
    downsample to 8x8 grayscale -> flatten -> L2-normalize, float32."""
    px = codecs.decode(data, fmt).astype(np.float32)
    gray = px.mean(axis=2)
    ys = (np.arange(8) * gray.shape[0] // 8).clip(0, gray.shape[0] - 1)
    xs = (np.arange(8) * gray.shape[1] // 8).clip(0, gray.shape[1] - 1)
    v = gray[np.ix_(ys, xs)].flatten()[:dim]
    if len(v) < dim:
        v = np.pad(v, (0, dim - len(v)))
    n = float(np.linalg.norm(v)) or 1.0
    return (v / n).astype(np.float32)


ENTROPY_SCHEMA = "image_id string, entropy double, n_gray int, flat boolean"


def image_entropy(df: DataFrame, flat_threshold: float = 1.0) -> DataFrame:
    """Grayscale-histogram Shannon entropy per image + flat-image verdict —
    the LAION-style low-information gate (solid colors, blank thumbnails,
    single-tone placeholders score near 0 bits). One Arrow-batched decode;
    gray = (R+G+B)//3 in integer arithmetic, 256-bin bincount, entropy over
    the nonzero bins in float64. The op sequence is the shared spec the
    independent fixture re-implements (tools/make_fixtures.py), so the
    doubles are bit-identical — the same convention image_embedding's
    fixture uses. `flat` = entropy < flat_threshold (1 bit default: fires
    on solid + near-solid, never on natural noise)."""

    def row(data, fmt):
        px = codecs.decode(data, fmt).astype(np.int64)
        gray = (px[:, :, 0] + px[:, :, 1] + px[:, :, 2]) // 3
        cnt = np.bincount(gray.reshape(-1), minlength=256)
        nz = cnt[cnt > 0]
        p = nz / nz.sum()
        ent = float(-(p * np.log2(p)).sum())
        return ent, int((cnt > 0).sum()), bool(ent < flat_threshold)

    return _narrow(df, row, ENTROPY_SCHEMA, "fmt")


def image_embedding(df: DataFrame, dim: int = 64) -> DataFrame:
    """Deterministic fake feature-extractor: downsample to 8x8 grayscale ->
    flatten -> L2-normalize (a real CLIP/ViT encoder would slot in here;
    the libs are not in this container — Spark-side plumbing is identical)."""

    def row(data, fmt):
        return (_image_vec(data, fmt, dim).tolist(),)

    return _narrow(df, row, EMBED_SCHEMA, "fmt")


def caption_embedding(df: DataFrame, dim: int = 64, text_col: str = "caption") -> DataFrame:
    """Deterministic fake text encoder: hashed bag-of-words with signs
    (feature hashing). Spec, fixed so an independent re-implementation is
    bit-identical (tools/make_fixtures.py):
      tokens = caption.lower().split() (whitespace runs; NULL/empty -> all
      zeros); per token d = blake2b(utf8, digest_size=8) as big-endian
      uint64; bucket = d % dim; sign = +1 if ((d >> 6) & 1) == 0 else -1;
      accumulate float32 counts; normalize v/(np.linalg.norm(v) or 1) in
      float32. A real CLIP text tower slots in behind the same signature."""
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = [_caption_vec(caption, dim).tolist() for caption in pdf[text_col]]
            yield pd.DataFrame({"image_id": pdf["image_id"], "embedding": vecs})

    return df.select("image_id", text_col).mapInPandas(op, schema=EMBED_SCHEMA)


# per-worker token -> 64-bit digest memo: natural text re-uses vocabulary
# heavily (and the caption tower was measured 3x the image tower's cost,
# ~1 blake2b per token OCCURRENCE), so each unique token is hashed once
# per long-lived Python worker. The digest is a pure function of the
# token, so the accumulated vector is bit-identical; the cap bounds
# memory on adversarial vocabularies. On overflow the older half goes
# (dict insertion order), so the recent working vocabulary stays warm.
_TOK_DIGEST_CACHE: dict[str, int] = {}
_TOK_DIGEST_CACHE_MAX = 1 << 20


def _tok_digest(tok: str) -> int:
    d = _TOK_DIGEST_CACHE.get(tok)
    if d is None:
        import hashlib

        if len(_TOK_DIGEST_CACHE) >= _TOK_DIGEST_CACHE_MAX:
            n_evict = len(_TOK_DIGEST_CACHE) - _TOK_DIGEST_CACHE_MAX // 2
            for old in list(itertools.islice(_TOK_DIGEST_CACHE, n_evict)):
                del _TOK_DIGEST_CACHE[old]
        d = int.from_bytes(hashlib.blake2b(tok.encode("utf-8"), digest_size=8).digest(), "big")
        _TOK_DIGEST_CACHE[tok] = d
    return d


def _caption_vec(caption: str | None, dim: int = 64) -> np.ndarray:
    """The caption-tower spec as a pure function (shared by
    caption_embedding and model_gate_passthrough)."""
    v = np.zeros(dim, dtype=np.float32)
    toks = (caption or "").lower().split()
    if toks:
        ds = [_tok_digest(t) for t in toks]
        idx = np.fromiter((d % dim for d in ds), dtype=np.int64, count=len(ds))
        sgn = np.fromiter(
            (1.0 if ((d >> 6) & 1) == 0 else -1.0 for d in ds), dtype=np.float32, count=len(ds)
        )
        # ONE ordered scatter-add instead of a numpy scalar `+=` per token
        # (measured the dominant cost); np.add.at applies updates in index
        # order, so the float32 accumulation is bit-identical to the
        # sequential loop the fixtures pin.
        np.add.at(v, idx, sgn)
    n = float(np.linalg.norm(v)) or 1.0
    return (v / n).astype(np.float32)


def caption_image_alignment(
    pairs: DataFrame, tau: float = 0.1, dim: int = 64, img_emb: DataFrame | None = None
) -> DataFrame:
    """CLIP-score-style caption-image alignment filter (the LAION keep
    rule: drop pairs whose image and caption embeddings disagree). Both
    towers are one Arrow crossing each over narrow projections (pixels
    and text never meet in one Python batch); the cosine and the verdict
    are JVM expressions. Equi-join on image_id — at 10^12 scale both
    sides are co-partitioned outputs of the same scan, and AQE plans the
    local join; no all-pairs shape anywhere. A pair with an empty/zero
    caption vector gets alignment NULL and aligned=false (never NaN)."""
    from .similarity import _dot, _norm

    # img_emb: pass a precomputed (and typically localCheckpoint'd) image
    # tower so a caller composing several embedding consumers (e.g. the
    # pipeline's model_gates stage) decodes each payload exactly once
    img = (img_emb if img_emb is not None else image_embedding(pairs, dim=dim)).withColumnRenamed(
        "embedding", "_iv"
    )
    cap = caption_embedding(pairs, dim=dim).withColumnRenamed("embedding", "_cv")
    a = F.col("_iv").cast("array<double>")
    b = F.col("_cv").cast("array<double>")
    denom = _norm(a) * _norm(b)
    # zero-norm guard BEFORE the division: ANSI mode (Spark 4 default)
    # raises on 0/0 rather than producing NaN
    alignment = F.when(denom != 0, F.round(_dot(a, b) / denom, 4))
    return (
        img.join(cap, "image_id")
        .withColumn("alignment", alignment)
        .select(
            "image_id",
            "alignment",
            F.coalesce(F.col("alignment") >= tau, F.lit(False)).alias("aligned"),
        )
    )


def model_gate_passthrough(
    pairs: DataFrame, tau: float = 0.1, dim: int = 64, text_col: str = "caption"
) -> DataFrame:
    """The ZERO-SHUFFLE form of the model-gate stage: ONE mapInPandas
    computes both towers + the head scores + the alignment cosine per row
    and appends boolean verdict columns (model_keep, aligned) to the FULL
    row — the payload round-trips through Arrow once instead of the rows
    semi-joining id keep-sets. Semantics pinned equal to the join form
    (model_score_gates + caption_image_alignment) by pytest on the whole
    400-pair corpus.

    When each form wins at 10^12 rows: the join form's keep-sets are
    id-only frames, but merging them back is a shuffle of the surviving
    pair rows — payload bytes included unless the consumer's projection
    drops them (Catalyst prunes; the bench pipeline does). The fused form
    never shuffles ANY column at any consumer: its cost is one extra
    Arrow crossing of the payload, local memory bandwidth instead of
    network. Rows the decoder cannot score (NULL payload) fail closed on
    both verdicts, matching model_score_gates' NULL policy and the join
    form's coalesce on alignment."""
    from .model_heads import (
        AESTHETIC_SEED,
        AESTHETIC_THRESHOLD,
        NSFW_SEED,
        NSFW_THRESHOLD,
        head_weights,
    )

    w_aes = np.array(head_weights(dim, AESTHETIC_SEED), dtype=np.float64)
    w_nsfw = np.array(head_weights(dim, NSFW_SEED), dtype=np.float64)
    schema = StructType([*pairs.schema, *StructType.fromDDL("model_keep boolean, aligned boolean")])

    def row(data, fmt, caption):
        iv = _image_vec(data, fmt, dim).astype(np.float64)
        aes = round(float(iv @ w_aes), 4)
        nsfw = round(float(iv @ w_nsfw), 4)
        cv = _caption_vec(caption, dim).astype(np.float64)
        denom = float(np.sqrt(iv @ iv) * np.sqrt(cv @ cv))
        return (
            aes >= AESTHETIC_THRESHOLD and nsfw < NSFW_THRESHOLD,
            denom != 0 and round(float(iv @ cv) / denom, 4) >= tau,
        )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            verdicts = _per_payload(pdf, row, "fmt", text_col)
            out = pdf.copy()
            out["model_keep"] = [v is not None and v[0] for v in verdicts]
            out["aligned"] = [v is not None and v[1] for v in verdicts]
            yield out

    return pairs.mapInPandas(op, schema=schema)


# ------------------------------------------------------ video / audio ops
FRAME_SCHEMA = "video_id string, frame_idx int, frame_bytes binary, w int, h int"


def frame_sample(df: DataFrame, every_k: int = 2) -> DataFrame:
    """Frame sampling over concatenated-P6-ppm video payloads: parse the
    container by walking frame headers (header line gives w,h -> frame byte
    length), emit every k-th frame as its own payload row. Real byte-level
    demux in mapInPandas (Arrow batches; payload crosses once per video,
    never per row) — the pattern a real codec slots into: swap the ppm
    walker for an mp4 demuxer behind the same signature. Scale notes as for
    image ops: narrow projection first, one Arrow crossing, output is
    per-frame rows ready for the image operators (stats/resize/embed). A
    frame whose header or raster is cut short raises, never emits a short
    frame."""

    def frames(data):
        out, pos, idx = [], 0, 0
        while pos < len(data):
            nl = data.index(b"\n", pos)
            magic, w, h, _maxv = data[pos:nl].split()
            if magic != b"P6":
                raise ValueError(f"bad frame header at byte {pos}")
            w, h = int(w), int(h)
            end = nl + 1 + w * h * 3
            if end > len(data):
                raise ValueError(f"frame {idx} at byte {pos} is truncated")
            if idx % every_k == 0:
                out.append((idx, data[pos:end], w, h))
            pos, idx = end, idx + 1
        return out

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            per_video = _per_payload(pdf, frames, id_col="video_id")
            rows = [(vid, *f) for vid, fs in zip(pdf["video_id"], per_video) for f in fs or ()]
            yield pd.DataFrame(
                rows, columns=["video_id", "frame_idx", "frame_bytes", "w", "h"], dtype=object
            )

    return df.select("video_id", "bytes").mapInPandas(op, schema=FRAME_SCHEMA)


AUDIO_STATS_SCHEMA = (
    "audio_id string, n_samples bigint, duration_ms bigint, rms double, peak int"
)


def audio_stats(df: DataFrame) -> DataFrame:
    """Waveform feature extraction over s16le mono PCM payloads: sample
    count, duration, RMS level, absolute peak — numpy-vectorized per Arrow
    batch in mapInPandas. The real-codec story mirrors images: compressed
    formats (mp3/flac) would decode behind the same signature (soundfile /
    ffmpeg gates, absent in this container — the PCM math IS real)."""

    def row(data, rate):
        pcm = np.frombuffer(data, dtype="<i2")
        return (
            len(pcm),
            int(len(pcm) * 1000 // int(rate)),
            # empty payload -> 0.0, not NaN (np.mean([]) warns+NaNs)
            round(float(np.sqrt(np.mean(pcm.astype(np.float64) ** 2))), 4) if len(pcm) else 0.0,
            # widen first: abs(-32768) overflows int16 and would drop a full-scale negative peak
            int(np.abs(pcm.astype(np.int32)).max()) if len(pcm) else 0,
        )

    return _narrow(df, row, AUDIO_STATS_SCHEMA, "sample_rate", id_col="audio_id")


# --------------------------------------------------- ingestion quarantine
QUARANTINE_SCHEMA = "image_id string, fmt string, ok boolean, reason string"

_MAGIC_FOR_FMT = {"ppm": b"P6", "qjpg": b"QJ"}


def classify_payload(data: bytes, fmt: str | None, meta_w: int, meta_h: int) -> str:
    """Classify one payload against the format spec + its metadata columns.

    This is the SHARED REASON SPEC, checked in order (the independent
    fixture validator in tools/make_fixtures.py re-implements the same
    ladder from the format spec without importing this module):

    - ``unsupported_fmt``  fmt column names no known codec
    - ``bad_header``       header does not tokenize to magic + 3 integer
                           fields terminated by a single whitespace byte
    - ``bad_magic``        header magic disagrees with the fmt column
    - ``dims_mismatch``    header (w, h) disagree with the metadata columns
                           (or the metadata dims are missing/unparseable)
    - ``bad_raster``       raster byte count != w*h*3
    - ``ok``
    """
    import re

    magic = _MAGIC_FOR_FMT.get(fmt or "")
    if magic is None:
        return "unsupported_fmt"
    try:
        toks, off, _ = codecs.parse_header(data)
    except ValueError:
        return "bad_header"
    # integer fields must be PURE signed digit runs: Python int() also
    # accepts underscore grouping (int(b'1_6') == 16), which the spec —
    # and the independent regex validator — do not (r5 review finding)
    if not all(re.fullmatch(rb"[+-]?\d+", t) for t in toks[1:]):
        return "bad_header"
    w, h = int(toks[1]), int(toks[2])
    if toks[0] != magic:
        return "bad_magic"
    try:
        mw, mh = int(meta_w), int(meta_h)
    except (TypeError, ValueError):  # NULL metadata (None) or NaN from Arrow
        return "dims_mismatch"
    if w != mw or h != mh:
        return "dims_mismatch"
    if len(data) - off != w * h * 3:
        return "bad_raster"
    return "ok"


def validate_payloads(df: DataFrame) -> DataFrame:
    """Ingestion-time payload quarantine: classify every image payload
    ok/broken WITHOUT failing the job — at 10^12 ingested rows corrupt
    payloads (truncated fetches, mislabeled formats, dimension lies in
    upstream metadata) are a statistical certainty, and one bad row must
    never kill a stage. Header-only checks: the raster is length-checked,
    never decoded, so the per-row cost is O(header) + len().

    One Arrow-batched pass over (image_id, bytes, fmt, w, h); output is
    the NARROW verdict frame (no payload). Routing at scale: join the
    verdict back on image_id (both sides are co-partitioned outputs of
    the same scan) or re-run the classifier inside one full-row
    mapInPandas writing partitionBy('ok') — never `.where()` the verdict
    frame's two branches separately off one decode (the multi-consumer
    replay gotcha, SCALE.md)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            reasons = _per_payload(pdf, classify_payload, "fmt", "w", "h")
            reasons = [r or "bad_header" for r in reasons]  # a NULL payload has no header
            ok = [r == "ok" for r in reasons]
            yield pd.DataFrame(
                {"image_id": pdf["image_id"], "fmt": pdf["fmt"], "ok": ok, "reason": reasons}
            )

    return df.select("image_id", "bytes", "fmt", "w", "h").mapInPandas(
        op, schema=QUARANTINE_SCHEMA
    )


def quarantine_passthrough(pairs: DataFrame) -> DataFrame:
    """Pipeline form of the quarantine: ONE full-row mapInPandas that
    emits only rows whose payload classifies ``ok`` — the stage-0 filter
    that makes the rest of the pipeline safe to run on real ingested
    data (payload_scrub and every decode stage PARSE headers and raise on
    corrupt bytes; one truncated fetch in 10^12 rows must not kill the
    job). NULL payloads are broken by definition here (classified
    bad_header) — run this AFTER any stage that owns NULL-payload rows,
    or before, if NULL payloads should drop. Zero shuffle; the payload
    crosses Arrow once, headers only are parsed (raster length-checked,
    never decoded). For a quarantine SINK (keep the bad rows + reasons
    for operator review) use validate_payloads and write its verdict
    frame partitioned by reason."""
    cols = list(pairs.columns)
    for c in ("image_id", "bytes", "fmt", "w", "h"):
        if c not in cols:
            raise ValueError(f"quarantine requires the pair column {c!r}")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ok = [r == "ok" for r in _per_payload(pdf, classify_payload, "fmt", "w", "h")]
            out = pdf[pd.Series(ok, index=pdf.index)]
            if len(out):
                yield out

    return pairs.mapInPandas(op, schema=pairs.schema)
