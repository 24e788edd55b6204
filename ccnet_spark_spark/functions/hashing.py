"""Hashing primitives: line hashes, MinHash signatures, SimHash,
polynomial document fingerprints.

Line hash mirrors the reference's H2 (/root/reference/pipe_line.py:204-206):
``substring(sha2(normalized, 256), 1, 16)`` — 64 bits as hex text. A faster
``xxhash64`` variant exists for the scale path (same dedup semantics, true
int64, no hex materialization); the sha2 prefix is kept as default because
it is reproducible in DuckDB/python for the correctness oracle.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_HEX_CHARS = 16  # 16 hex chars = 64 bits (reference comment pipe_line.py:205)


def line_hash_expr(col: Column | str, algo: str = "sha2") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    if algo == "xxhash64":
        return F.xxhash64(c)
    return F.substring(F.sha2(c, 256), 1, HASH_HEX_CHARS)


def line_hash_sql(expr: str) -> str:
    """DuckDB twin of the default sha2 line hash."""
    return f"substr(sha256({expr}), 1, {HASH_HEX_CHARS})"


def line_hash_py(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()[:HASH_HEX_CHARS]


# ------------------------------------------------------------------ MinHash
# Signature sentinels for shingle-less docs (< n tokens): 'z' sorts after any
# hex char; int64 max sorts after any xxhash64 min. Docs carrying a sentinel
# signature are EXCLUDED from LSH banding (see operators/dedup.py
# minhash_lsh_candidates) — they would otherwise all band-match each other.
SENTINEL_SHA2 = "z"
SENTINEL_XXHASH = 2**63 - 1


def word_shingles_expr(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a token array, as built-in expressions:
    transform(sequence(0, size-n), i -> concat_ws(' ', tokens[i..i+n-1])).
    Empty result when fewer than n tokens (or a null array).

    The short case MUST be guarded explicitly: Spark's sequence(0, negative)
    yields a DESCENDING sequence (e.g. [0, -1]), not an empty array, and the
    element_at(tokens, 0) it would drive throws under ANSI mode. CASE WHEN
    only evaluates the matching branch, so the guard is airtight."""
    idx = F.sequence(F.lit(0), F.size(tokens) - n)
    shingles = F.transform(idx, lambda i: F.concat_ws(" ", *[F.element_at(tokens, i + j + 1) for j in range(n)]))
    return F.when(F.size(tokens) >= n, shingles).otherwise(F.array().cast("array<string>"))


def word_shingles_sql(toks: str, n: int) -> str:
    """DuckDB twin of word_shingles_expr: space-joined word n-grams, empty
    list when fewer than n tokens."""
    gram = " || ' ' || ".join(f"list_extract({toks}, i + {j + 1})" for j in range(n))
    return (
        f"case when len({toks}) >= {n} then "
        f"list_transform(range(0, len({toks}) - {n - 1}), i -> {gram}) "
        f"else [] end"
    )


def minhash_sql(shingles_expr: str, num_hashes: int = 16) -> str:
    """DuckDB twin of the sha2 MinHash in operators/dedup.minhash_signatures:
    for num_hashes <= 8, all per-seed hashes are 8-hex SLICES of one sha256
    digest per shingle (one hash computation instead of num_hashes — the
    digest's 64 hex chars hold exactly 8 disjoint 32-bit coordinates);
    beyond 8, seeded independent digests."""
    if num_hashes <= 8:
        parts = [
            f"coalesce(list_min(list_transform({shingles_expr}, "
            f"x -> substr(sha256(x), {8 * s + 1}, 8))), 'z')"
            for s in range(num_hashes)
        ]
    else:
        parts = [
            f"coalesce(list_min(list_transform({shingles_expr}, x -> substr(sha256('{s}:' || x), 1, 8))), 'z')"
            for s in range(num_hashes)
        ]
    return "[" + ", ".join(parts) + "]"


def band_keys_expr(signature: Column, num_bands: int, rows_per_band: int) -> Column:
    """LSH banding: array of 'bandIdx|h1h2...' strings; docs sharing any band
    key are candidate near-duplicates. Signature elements may be hex strings
    (sha2 path) or int64 (xxhash64 fast path) — cast to string either way."""
    bands = []
    for b in range(num_bands):
        parts = [
            F.element_at(signature, b * rows_per_band + r + 1).cast("string")
            for r in range(rows_per_band)
        ]
        bands.append(F.concat_ws("|", F.lit(str(b)), *parts))
    return F.array(*bands)


# ------------------------------------------------------------------ SimHash
def simhash64(tokens: list[str]) -> int:
    """64-bit SimHash over tokens (weights=1). blake2b-derived per-token bits
    so it is deterministic across workers/runs."""
    acc = np.zeros(64, dtype=np.int64)
    for t in tokens:
        digest = hashlib.blake2b(t.encode("utf-8"), digest_size=8).digest()
        bits = np.unpackbits(np.frombuffer(digest, dtype=np.uint8)).astype(np.int64)
        acc += 2 * bits - 1
    out = 0
    for i in range(64):
        if acc[i] > 0:
            out |= 1 << i
    return int(np.int64(np.uint64(out)))


def simhash_pandas(texts: pd.Series) -> pd.Series:
    """Batch SimHash, vectorized where it counts: each UNIQUE token in the
    batch is blake2b-hashed ONCE (web corpora share vocabulary heavily —
    a 10k-doc batch has ~2M token occurrences but only thousands of
    distinct tokens), bits unpacked into one (U, 64) ±1 matrix, and each
    doc's accumulator is a row-gather + sum. Bit-identical to simhash64
    (asserted by tests): duplicate tokens stack weight via repeated
    gather indices. Measured 11.1 s -> 2.6 s on the sf0.1 near-dup query."""
    tok_lists = [(t or "").split() for t in texts]
    index: dict[str, int] = {}
    for toks in tok_lists:
        for t in toks:
            if t not in index:
                index[t] = len(index)
    if index:
        digests = b"".join(
            hashlib.blake2b(t.encode("utf-8"), digest_size=8).digest() for t in index
        )
        bytes_mat = np.frombuffer(digests, dtype=np.uint8).reshape(-1, 8)
        bits = np.unpackbits(bytes_mat, axis=1).astype(np.int64) * 2 - 1  # (U, 64) of ±1
    out = []
    for toks in tok_lists:
        if not toks:
            out.append(0)
            continue
        idx = np.fromiter((index[t] for t in toks), dtype=np.int64, count=len(toks))
        acc = bits[idx].sum(axis=0)
        h = 0
        for i in np.nonzero(acc > 0)[0]:
            h |= 1 << int(i)
        if h >= 2**63:
            h -= 2**64
        out.append(h)
    return pd.Series(out, dtype="int64")


def make_simhash_udf():
    """Arrow-vectorized simhash UDF. Built here (not at call sites) because
    pandas-UDF type-hint resolution needs `pd` in the defining module's
    globals under `from __future__ import annotations`."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def simhash_udf(texts: pd.Series) -> pd.Series:
        return simhash_pandas(texts)

    return simhash_udf


def hamming64_expr(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit hashes: popcount of the XOR.
    (bit_count counts set bits of the two's-complement representation, so
    negative int64 values behave as their raw 64 bits — same as DuckDB.)"""
    return F.bit_count(a.bitwiseXOR(b))


# ------------------------------------------------------- document fingerprint
FP_MOD = 1_000_003


def fingerprint_expr(tokens: Column) -> Column:
    """Order-sensitive polynomial fingerprint, pure built-ins:
    sum over i of (i+1) * (ascii(first char) * 31 + token length) mod FP_MOD.
    SQL-twin reproducible in DuckDB (fingerprint_sql).

    i is widened to long BEFORE the multiply: sequence() yields array<int>,
    and for very long token arrays (~>500k tokens, plausible in raw web
    documents) the int32 product would overflow — an arithmetic error under
    ANSI mode. DuckDB's range() is already BIGINT, so the twins agree."""
    idx = F.sequence(F.lit(1), F.size(tokens))
    terms = F.zip_with(
        idx,
        tokens,
        lambda i, w: (i.cast("long") * (F.ascii(F.substring(w, 1, 1)) * 31 + F.length(w))) % FP_MOD,
    )
    return F.coalesce(F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: (acc + x) % FP_MOD), F.lit(0).cast("long"))


def fingerprint_sql(tokens_expr: str) -> str:
    # outer bigint cast: DuckDB's list_sum over integers returns HUGEINT,
    # which lands in pandas as float64 and hash-mismatches Spark's int64.
    return (
        f"cast(coalesce(list_sum(list_transform(range(1, len({tokens_expr}) + 1), "
        f"i -> (i * (ascii(substr(list_extract({tokens_expr}, i), 1, 1)) * 31 "
        f"+ length(list_extract({tokens_expr}, i)))) % {FP_MOD})) % {FP_MOD}, 0) as bigint)"
    )
