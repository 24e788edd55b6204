"""Pure-python/numpy image codecs for the binary payload column.

The sandbox has no Pillow/opencv, so the engine ships two deterministic
self-describing formats (FIXTURES.md F1):

- ``ppm``  — lossless: standard binary P6 header + raw RGB24.
- ``qjpg`` — lossy stand-in: pixels quantized to a step grid, then stored
  raw with a ``QJ`` header. Decode reconstructs mid-bin values; with the
  default step=4 the max per-channel error is 2 → PSNR ≈ 46 dB, above the
  40 dB fidelity gate (BASELINE.json input_hint).

Real JPEG/PNG decode slots in behind the same (bytes -> HxWx3 uint8)
interface when Pillow is available (see operators/multimodal.py).
"""

from __future__ import annotations

import numpy as np

QJPG_STEP = 4


def encode_ppm(pixels: np.ndarray) -> bytes:
    h, w, _ = pixels.shape
    return b"P6 %d %d 255\n" % (w, h) + pixels.astype(np.uint8).tobytes()


# canonical single-space header ("P6 w h 255\n" / "QJ w h step\n") — the
# overwhelmingly common case; matching it skips the byte-by-byte grammar
# walk below (measured ~20 us/payload). The general loop stays the spec
# for comment-carrying / multi-whitespace headers and produces identical
# results for canonical ones (same tokens, same offset, zero comments).
import re as _re

_CANONICAL_HEADER = _re.compile(rb"\A(\S+) (\d+) (\d+) (\d+)\n")


def parse_header(data: bytes) -> tuple[list[bytes], int, int]:
    """Tokenize a Netpbm-style ASCII header (magic + three ints) honoring
    the spec's `#` comments: a `#` anywhere between tokens starts a comment
    that runs to end-of-line. Returns (4 tokens, raster offset — the byte
    after the single whitespace that terminates the header, comment count).
    Real-world PPM carries tool/EXIF-ish comments here (`# Created by
    GIMP`, `# GPS ...`) — the image-side PII surface strip_metadata()
    scrubs; qjpg's `QJ w h step` header follows the same token grammar."""
    m = _CANONICAL_HEADER.match(data)
    if m and b"#" not in m.group(1):
        return [m.group(1), m.group(2), m.group(3), m.group(4)], m.end(), 0
    toks: list[bytes] = []
    i, n_comments = 0, 0
    while len(toks) < 4:
        if i >= len(data):
            raise ValueError("truncated image header")
        c = data[i : i + 1]
        if c == b"#":
            nl = data.index(b"\n", i)
            n_comments += 1
            i = nl + 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(data) and not data[j : j + 1].isspace() and data[j : j + 1] != b"#":
                j += 1
            toks.append(data[i:j])
            i = j
    # exactly ONE whitespace byte terminates the header (per spec — raster
    # bytes may legitimately start with 0x23 or whitespace values)
    if i >= len(data) or not data[i : i + 1].isspace():
        raise ValueError("missing header-terminating whitespace")
    return toks, i + 1, n_comments


_DIGITS = _re.compile(rb"\d+\Z")


def _int_tok(tok: bytes) -> int:
    """Strict header-int parse: bare int() accepts underscore grouping and
    sign prefixes (int(b"1_6") == 16) — the exact class classify_payload
    rejects — so a spec-invalid header like "1_6" must raise here too, not
    be silently canonicalized (ADVICE r5)."""
    if not _DIGITS.match(tok):
        raise ValueError(f"non-numeric header token: {tok!r}")
    return int(tok)


def decode_ppm(data: bytes) -> np.ndarray:
    (magic, w, h, _maxv), off, _ = parse_header(data)
    if magic != b"P6":
        raise ValueError(f"not a P6 ppm: {magic!r}")
    w, h = _int_tok(w), _int_tok(h)
    return np.frombuffer(data[off:], dtype=np.uint8).reshape(h, w, 3)


def strip_metadata(data: bytes, fmt: str) -> tuple[bytes, int]:
    """Image-side PII scrub: drop every header comment (the PPM analog of
    EXIF GPS/creator tags) and re-emit the canonical single-line header.
    The raster bytes are copied untouched, so decoded pixels are
    bit-identical (PSNR = inf) — the north rule's payload invariant holds
    by construction. Returns (clean bytes, comments removed). Idempotent:
    a canonical payload passes through byte-identical with count 0."""
    if fmt not in ("ppm", "qjpg"):
        raise NotImplementedError(
            f"fmt={fmt!r}: metadata scrub for jpeg/png EXIF requires Pillow, "
            "not present in this sandbox; plumbing is format-agnostic"
        )
    (magic, w, h, last), off, n_comments = parse_header(data)
    expect = b"P6" if fmt == "ppm" else b"QJ"
    if magic != expect:
        raise ValueError(f"fmt={fmt!r} but magic={magic!r}")
    return b"%s %d %d %d\n" % (magic, _int_tok(w), _int_tok(h), _int_tok(last)) + data[off:], n_comments


def encode_qjpg(pixels: np.ndarray, step: int = QJPG_STEP) -> bytes:
    h, w, _ = pixels.shape
    q = (pixels.astype(np.uint8) // step).astype(np.uint8)
    return b"QJ %d %d %d\n" % (w, h, step) + q.tobytes()


def decode_qjpg(data: bytes) -> np.ndarray:
    (magic, w, h, step), off, _ = parse_header(data)
    if magic != b"QJ":
        raise ValueError(f"not a qjpg: {magic!r}")
    w, h, step = _int_tok(w), _int_tok(h), _int_tok(step)
    q = np.frombuffer(data[off:], dtype=np.uint8).reshape(h, w, 3)
    return np.clip(q.astype(np.int32) * step + step // 2, 0, 255).astype(np.uint8)


def decode(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "ppm":
        return decode_ppm(data)
    if fmt == "qjpg":
        return decode_qjpg(data)
    raise NotImplementedError(
        f"fmt={fmt!r}: real image codecs (jpeg/png/webp) require Pillow, "
        "not present in this sandbox; plumbing is format-agnostic"
    )


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)
