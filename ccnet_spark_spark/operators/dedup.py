"""Deduplication operators.

Line-level (the reference's core dedup, /root/reference/pipe_line.py:218-249):
- dedup_keep: keep ONE copy of each repeated (normalized) line. The reference
  uses dropDuplicates -> arbitrary survivor (its own dev.md:42-90 shows
  nondeterministic counts); we deterministically keep the minimum
  (id, line_id) per hash via min_by aggregation — documented strengthening
  (SURVEY.md §7 risk 1) so the oracle F1 gate is exact.
- dedup_nokeep: lines whose hash occurs >1x are removed entirely
  (groupBy count>1 + left_anti join, reference H6).
- regroup: re-assemble surviving lines into documents (reference H7).

Document-level (training-data additions, scale path for 100 TB):
- exact_dedup: hash-groupBy on normalized full text.
- minhash_lsh_dedup: shingle -> MinHash signature -> LSH band bucketing ->
  candidate pairs -> Jaccard verify -> connected drop (keep min id per
  bucket). All built-in expressions; the only shuffles are the band-key
  explode-groupBy and the final semi-join.
- simhash_dedup: 64-bit SimHash (vectorized pandas UDF) + exact-band
  grouping on rotated chunks.
- embedding near-dup: see operators/similarity.py.
"""

from __future__ import annotations

# module-level so pandas-UDF type hints resolve under
# `from __future__ import annotations` (stringified hints are looked up
# in the DEFINING module's globals)
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hashing
from ..functions.normalize import normalize_for_dedup_expr
from ..functions.textstats import word_tokens_expr, word_tokens_sql
from ..session import materialize


def _dedup_tokens(text_col: str) -> Column:
    """Word tokens of the dedup-normalized text (shingle input of the
    MinHash and Jaccard operators)."""
    return F.split(normalize_for_dedup_expr(F.col(text_col)), "\\s+")


# --------------------------------------------------------------- line level
def dedup_keep(lines: DataFrame, id_col: str = "image_id", scope: str = "global") -> DataFrame:
    """Keep exactly one copy of each repeated line: the (id, line_id)-minimal
    one. A single min_by hash-aggregation — ONE shuffle by hash_value, no
    window sort, no join, map-side partial aggregation applies (vs the
    reference's dropDuplicates, same shuffle but arbitrary survivor).

    scope='global' (reference semantics: a line repeated across documents
    keeps ONE copy in the whole corpus) or 'document' (cheaper common
    variant: dedup within each document only — grouping adds id, so the
    shuffle co-partitions with the regroup that follows)."""
    group = ["hash_value"] if scope == "global" else [F.col(id_col), "hash_value"]
    row = F.struct(F.col(id_col), F.col("line_id"), F.col("line"))
    key = F.struct(F.col(id_col), F.col("line_id"))
    return (
        lines.groupBy(*group)
        .agg(F.min_by(row, key).alias("keeper"))
        .select(
            F.col(f"keeper.{id_col}").alias(id_col),
            F.col("keeper.line_id").alias("line_id"),
            F.col("keeper.line").alias("line"),
        )
    )


def dedup_nokeep(lines: DataFrame) -> DataFrame:
    """Remove ALL copies of any line whose hash occurs more than once
    (reference H6 semantics).

    count(*) over (partition by hash_value) = 1 — ONE shuffle of the line
    set (the reference's groupBy+left_anti form shuffles it twice).
    Measured at sf0.1/local[32], interleaved 4-rep A/B on the bench's most
    expensive query: window min 1.01 s / median 1.26 s vs join min 1.97 s
    / median 2.11 s — ~1.9x (VERDICT r2 #3).

    NULL hash semantics (matters only if callers hash a nullable column —
    the engine's own line hashes are never null): a NULL hash is unknown
    content, not a duplicate of other unknowns, so NULL-hash rows always
    survive, as in the reference's left_anti join (which never matches
    NULL keys) — without the explicit isNull arm the window would group
    all NULLs into one partition and drop them all."""
    w = Window.partitionBy("hash_value")
    return (
        lines.withColumn("_cnt", F.count(F.lit(1)).over(w))
        .where((F.col("_cnt") == 1) | F.col("hash_value").isNull())
        .drop("_cnt")
    )


def regroup(lines: DataFrame, id_col: str = "image_id") -> DataFrame:
    """Surviving lines -> one row per doc (reference H7,
    /root/reference/pipe_line.py:228-249): sort_array(collect_list(struct))
    restores original line order; dedup_caption + kept line ids + counts.

    Narrow by design: only (id, line_id, line) aggregate here — wide
    columns re-join by id afterwards (see lines.py module doc)."""
    pairs = F.sort_array(F.collect_list(F.struct(F.col("line_id"), F.col("line"))))
    return (
        lines.groupBy(id_col)
        .agg(pairs.alias("kept"))
        .select(
            id_col,
            F.concat_ws("\n", F.col("kept.line")).alias("dedup_caption"),
            F.col("kept.line_id").alias("line_ids_kept"),
            F.size("kept").cast("int").alias("nlines"),
        )
        .withColumn("length", F.length("dedup_caption").cast("int"))
    )


def line_dedup(df: DataFrame, id_col: str = "image_id", text_col: str = "caption", variant: str = "keep", hash_algo: str = "sha2", scope: str = "global") -> DataFrame:
    """Full line-level dedup: explode -> normalize+hash -> dedup -> regroup.
    Returns (id, dedup_caption, line_ids_kept, nlines, length); docs whose
    every line was removed simply vanish (same as the reference — a doc
    survives iff >=1 line survives)."""
    from .lines import explode_lines, with_line_hash

    lines = with_line_hash(explode_lines(df, id_col, text_col), algo=hash_algo)
    lines = lines.select(id_col, "line_id", "line", "hash_value")
    survivors = dedup_keep(lines, id_col, scope=scope) if variant == "keep" else dedup_nokeep(lines)
    return regroup(survivors, id_col)


# ----------------------------------------------------------- document level
def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact near-free dedup: keep the min-id doc per normalized-text hash.
    One shuffle (groupBy hash), survivors via left_semi join."""
    hashed = df.withColumn("_h", hashing.line_hash_expr(normalize_for_dedup_expr(F.col(text_col))))
    keepers = hashed.groupBy("_h").agg(F.min(id_col).alias(id_col))
    return hashed.join(keepers, on=[id_col], how="left_semi").drop("_h")


def minhash_signatures(df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, shingle_n: int = 3, algo: str = "sha2") -> DataFrame:
    """Explode shingles -> per-seed hash columns -> groupBy(id).min.

    Deliberately NOT a nested array expression (transform-inside-transform):
    Catalyst inlines the shingle-construction subtree into every per-seed
    transform, exploding codegen size and recomputing the tokenizer per
    element. The explode+agg form materializes each shingle once, gets
    map-side partial min aggregation, and shuffles only (id, 8x8-byte mins).
    Docs with no shingles get a sentinel signature (shorter than
    shingle_n words).

    algo='sha2' (default): hex signatures, reproducible in DuckDB for the
    oracle gate. For num_hashes <= 8 the per-seed hashes are 8-hex SLICES
    of ONE sha256 digest per shingle, materialized as its own projected
    column — the digest's 64 hex chars hold exactly 8 disjoint 32-bit
    coordinates, so one hash computation replaces num_hashes of them
    (measured ~20-25% off the banded near-dup queries at sf0.1; the
    remainder is normalize/explode/shuffle). Beyond 8, seeded independent
    digests. algo='xxhash64': the PRODUCTION
    fast path — one JVM xxhash64 per (seed, shingle), int64 signatures,
    cheaper still. For identical shingle sets all variants band
    identically, which is what makes the fast path oracle-checkable on
    exact-dup labels."""
    with_toks = df.select(F.col(id_col), _dedup_tokens(text_col).alias("_toks"))
    sh = hashing.word_shingles_expr(F.col("_toks"), n=shingle_n)
    exploded = with_toks.select(F.col(id_col), F.explode_outer(sh).alias("_shingle"))
    present = F.col("_shingle").isNotNull()
    if algo == "xxhash64":
        per_seed = [F.xxhash64(F.lit(s), F.col("_shingle")) for s in range(num_hashes)]
        sentinel = F.lit(hashing.SENTINEL_XXHASH)  # > any real hash; typed long
    elif num_hashes <= 8:
        # materialize the digest as its own projected column so it is
        # provably hashed ONCE per shingle (not re-evaluated inside each
        # min-aggregate expression)
        exploded = exploded.withColumn("_digest", F.sha2(F.col("_shingle"), 256))
        per_seed = [F.substring(F.col("_digest"), 8 * s + 1, 8) for s in range(num_hashes)]
        sentinel = F.lit(hashing.SENTINEL_SHA2)  # > any hex char
    else:
        per_seed = [
            F.substring(F.sha2(F.concat(F.lit(f"{s}:"), F.col("_shingle")), 256), 1, 8)
            for s in range(num_hashes)
        ]
        sentinel = F.lit(hashing.SENTINEL_SHA2)  # > any hex char
    mins = [F.min(F.when(present, h)).alias(f"_mh{s}") for s, h in enumerate(per_seed)]
    # has_shingles is the EXPLICIT empty-doc marker: banding filters on it
    # rather than on the sentinel value, so a real min hash that happens to
    # collide with the sentinel (possible in principle on the int64 path)
    # can never be mistaken for "no shingles"
    agged = exploded.groupBy(id_col).agg(*mins, F.max(present).alias("has_shingles"))
    sig = F.array(*[F.coalesce(F.col(f"_mh{s}"), sentinel) for s in range(num_hashes)])
    return agged.select(id_col, sig.alias("signature"), "has_shingles")


def minhash_lsh_candidates(sigs: DataFrame, id_col: str, num_bands: int = 4, rows_per_band: int = 4) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing >=1 LSH band.

    Shingle-less docs (< shingle_n tokens) are excluded before banding: they
    all share every band key, so one short-doc-heavy corpus would otherwise
    create a single skewed band group generating O(k^2) candidate pairs (and
    minhash_lsh_dedup would silently drop every shingle-less doc but one as
    "near duplicates"). A doc too short to shingle has no MinHash evidence
    of similarity to anything — correct candidate set for it is empty.

    The filter uses the explicit `has_shingles` column carried by
    minhash_signatures when present (the sentinel VALUE check alone could
    in principle alias a real int64 min hash equal to 2^63-1); bare
    signature frames built elsewhere fall back to the sentinel check, which
    the SQL twins mirror as sig[1] <> sentinel."""
    if "has_shingles" in sigs.columns:
        real = sigs.where(F.col("has_shingles"))
    else:
        first = F.element_at(F.col("signature"), 1).cast("string")
        real = sigs.where(~first.isin(hashing.SENTINEL_SHA2, str(hashing.SENTINEL_XXHASH)))
    # materialize the narrow (id, signature) frame ONCE before the band
    # self-join: both join sides derive from it, and without this the
    # whole signature pipeline (shingle explode + one sha2/xxhash per
    # shingle + the min aggregation) plans and EXECUTES twice — the map
    # side's dominant cost paid double (plan-audited: 2 SortAggregate
    # signature subtrees -> 1). At 10^12 rows this is the persisted
    # signature table every production MinHash pipeline writes anyway
    # (~80 B/doc), the same discipline as corpus_build's survivor
    # snapshot.
    real = materialize(real.select(id_col, "signature"))
    banded = real.select(
        id_col, F.explode(hashing.band_keys_expr(F.col("signature"), num_bands, rows_per_band)).alias("band_key")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on="band_key")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_lsh_dedup(df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, num_bands: int = 4, shingle_n: int = 3, algo: str = "sha2") -> DataFrame:
    """Near-dup removal: any doc that shares an LSH band with a smaller-id
    doc is dropped (union-find-free approximation: min-id wins per pair).
    At 100 TB the band groupBy is the only wide shuffle; band keys are
    short strings, signatures never leave the narrow plan.
    algo='xxhash64' is the production fast path (see minhash_signatures)."""
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n, algo=algo)
    pairs = minhash_lsh_candidates(sigs, id_col, num_bands, num_hashes // num_bands)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=[id_col], how="left_anti")


def simhash_dedup(df: DataFrame, id_col: str, text_col: str, prefix_bits: int = 16) -> DataFrame:
    """SimHash near-dup: vectorized pandas-UDF simhash64, bucket by the top
    prefix_bits, keep min-id per bucket. (Rows-only correctness check — the
    bit math is not portably SQL-expressible.)"""
    simhash_udf = hashing.make_simhash_udf()
    shift = 64 - prefix_bits
    hashed = df.withColumn(
        "simhash", simhash_udf(normalize_for_dedup_expr(F.col(text_col)))
    ).withColumn("_bucket", F.shiftrightunsigned(F.col("simhash"), shift))
    keepers = hashed.groupBy("_bucket").agg(F.min(id_col).alias(id_col))
    return hashed.join(keepers, on=[id_col], how="left_semi").drop("_bucket")


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    prefix_bits: int = 16,
    max_hamming: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs with a semantic radius: bucket by the top
    prefix_bits of the 64-bit simhash (docs in different buckets are never
    compared — the equi-join IS the pair-space pruning at scale), then
    verify candidates by exact hamming distance <= max_hamming
    (hamming64_expr = popcount of xor, pure JVM bit ops).

    Trade-off identical to MinHash banding: a true near-dup pair whose
    differing bits straddle the prefix is missed; multiple rotated-prefix
    passes tighten recall. The caller controls normalization via text_col
    (pass a pre-normalized column for dedup-grade matching)."""
    simhash_udf = hashing.make_simhash_udf()
    # materialize the narrow (id, simhash) frame ONCE: the bucket
    # self-join consumes it on both sides (and per rotation pass), and
    # constraint inference additionally double-evaluates a filtered UDF
    # column (guide §4.4) — plan-audited 12 ArrowEvalPython subtrees for
    # one logical UDF pass over a 3-branch union corpus. At scale this is
    # the persisted fingerprint table, same as the MinHash signatures.
    hashed = materialize(df.select(F.col(id_col), simhash_udf(F.col(text_col)).alias("simhash")))
    return hash64_neardup_pairs(hashed, id_col, "simhash", prefix_bits, max_hamming)


def hash64_neardup_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    prefix_bits: int = 16,
    max_hamming: int = 8,
    passes: int = 1,
) -> DataFrame:
    """Radius near-dup pairs over ANY precomputed 64-bit fingerprint column
    — the same bucket-then-verify shape simhash_neardup_pairs uses, exposed
    for fingerprints that arrive with the data: perceptual IMAGE hashes
    (the pairs table's phash column — near-identical images differ in a few
    phash bits), content-defined chunk hashes, etc. Bucket by the top
    prefix_bits (equi-join prunes the pair space; never all-pairs), verify
    by exact popcount(xor) <= max_hamming in pure JVM bit ops.

    passes > 1 tightens recall: pass p buckets on the hash ROTATED left by
    p x prefix_bits, so near-dups whose differing bits straddle one prefix
    window share a bucket in another (rotation preserves hamming distance;
    pair sets are unioned + distinct'ed). 64/prefix_bits passes guarantee
    any pair with max_hamming < number-of-clean-windows is found in some
    window; each extra pass costs one more bucket shuffle of (id, hash)."""
    hashed = df.select(F.col(id_col), F.col(hash_col).alias("_h"))
    per_pass = []
    for p in range(max(passes, 1)):
        rot = (p * prefix_bits) % 64
        rotated = (
            F.col("_h")
            if rot == 0
            else F.shiftleft("_h", rot).bitwiseOR(F.shiftrightunsigned("_h", 64 - rot))
        )
        bucketed = hashed.withColumn("_bucket", F.shiftrightunsigned(rotated, 64 - prefix_bits))
        a = bucketed.select(F.col(id_col).alias("id_a"), F.col("_h").alias("_ha"), "_bucket")
        b = bucketed.select(F.col(id_col).alias("id_b"), F.col("_h").alias("_hb"), "_bucket")
        per_pass.append(
            a.join(b, "_bucket")
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("hamming", hashing.hamming64_expr(F.col("_ha"), F.col("_hb")).cast("long"))
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
        )
    out = per_pass[0]
    for extra in per_pass[1:]:
        out = out.union(extra)
    return out.distinct() if len(per_pass) > 1 else out


def lsh_then_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    num_bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    algo: str = "sha2",
) -> DataFrame:
    """THE 100 TB near-dup shape: MinHash LSH banding prunes the pair space,
    then exact n-gram Jaccard verifies ONLY the banded candidates. No
    all-pairs anywhere: the wide shuffles are the band-key join (short keys)
    and two id-equi-joins fetching the candidates' distinct-shingle arrays.
    ngram_jaccard_pairs (raw shared-shingle self-join, quadratic within
    shingle buckets) remains as the exactness baseline only.
    algo='xxhash64' is the production fast path (see minhash_signatures)."""
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n, algo=algo)
    cand = minhash_lsh_candidates(sigs, id_col, num_bands, num_hashes // num_bands)
    with_toks = df.select(F.col(id_col), _dedup_tokens(text_col).alias("_toks"))
    sh = with_toks.select(
        F.col(id_col),
        F.array_distinct(hashing.word_shingles_expr(F.col("_toks"), n=shingle_n)).alias("_sh"),
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sha"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_shb"))
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = F.size("_sha") + F.size("_shb") - inter
    # shingle-less docs are filtered out of banding (sentinel signatures),
    # so candidates always have >=1 shingle; the guard stays as a belt for
    # callers feeding candidate pairs from elsewhere
    jac = F.when(union > 0, F.round(inter / union, 4)).otherwise(F.lit(0.0))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def fuzzy_decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
    num_hashes: int = 8,
    num_bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    algo: str = "sha2",
) -> DataFrame:
    """FUZZY benchmark decontamination: drop corpus docs whose exact n-gram
    Jaccard against ANY eval document reaches `threshold` — the leak the
    exact 8-gram pass (decontaminate) can't see once eval text is lightly
    paraphrased, truncated or reflowed. Same two-stage shape as
    lsh_then_jaccard, but cross-corpus: corpus and eval sides are
    MinHash-signed independently, candidates come from an equi-join of
    band keys with the EVAL side broadcast (eval suites are benchmark-
    sized; the corpus never self-joins and never shuffles text), and only
    banded candidates pay the exact-Jaccard verify. Recall follows LSH
    banding (an above-threshold pair missed by every band is missed here
    too — exact copies always band); both engines band identically, so
    the dropped set is deterministic."""
    sigs_c = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n, algo=algo)
    sigs_e = minhash_signatures(eval_df, eval_id_col, eval_text_col, num_hashes, shingle_n, algo=algo)
    rows = num_hashes // num_bands

    def banded(sigs, col):
        real = sigs.where(F.col("has_shingles")) if "has_shingles" in sigs.columns else sigs
        return real.select(
            col, F.explode(hashing.band_keys_expr(F.col("signature"), num_bands, rows)).alias("band_key")
        )

    cand = (
        banded(sigs_c, id_col)
        .join(F.broadcast(banded(sigs_e, eval_id_col)), on="band_key")
        .select(id_col, eval_id_col)
        .distinct()
    )

    def shingle_sets(frame, col, tcol):
        toks = _dedup_tokens(tcol)
        return frame.select(
            F.col(col), F.array_distinct(hashing.word_shingles_expr(toks, n=shingle_n)).alias("_sh")
        )

    sc = shingle_sets(df, id_col, text_col).withColumnRenamed("_sh", "_shc")
    se = shingle_sets(eval_df, eval_id_col, eval_text_col).withColumnRenamed("_sh", "_she")
    inter = F.size(F.array_intersect("_shc", "_she"))
    union = F.size("_shc") + F.size("_she") - inter
    jac = F.when(union > 0, F.round(inter / union, 4)).otherwise(F.lit(0.0))
    hits = (
        cand.join(sc, id_col)
        .join(F.broadcast(se), eval_id_col)
        .where(jac >= threshold)
        .select(id_col)
        .distinct()
    )
    return df.join(hits, on=id_col, how="left_anti")


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3, threshold: float = 0.8) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs found via shared
    shingles: explode shingles, self-join on shingle, count shared, compute
    |A∩B| / (|A|+|B|-|A∩B|), filter >= threshold. Quadratic only within
    shingle buckets — at scale, run AFTER minhash banding to verify."""
    with_toks = df.select(F.col(id_col), _dedup_tokens(text_col).alias("_toks"))
    # the distinct-set SIZE rides ALONG the exploded rows (computed in the
    # same projection as the explode) instead of being re-derived by a
    # separate explode+groupBy joined back per side — the old form ran the
    # shingle explode FOUR times (self-join a/b + sizes joined to a and b)
    # and paid two extra joins; this runs it twice (the self-join's two
    # sides, the irreducible minimum) and the count rides as one int per
    # row. n_a/n_b are constant per id, so folding them into the grouping
    # key changes nothing.
    arr = F.array_distinct(hashing.word_shingles_expr(F.col("_toks"), n=shingle_n))
    sh = with_toks.select(F.col(id_col), F.explode(arr).alias("shingle"))
    # set sizes computed DIRECTLY per doc (size(array_distinct(...)) in one
    # map pass) instead of the old explode + groupBy(id).count() — same
    # value by definition, but removes a full second shingle explode AND
    # its id-keyed shuffle; the tiny (id, n) frame joins onto the
    # aggregated pair frame below. (Deliberately NOT folded into the
    # exploded rows: carrying the size through the self-join creates an
    # alias chain that constraint inference pushes into the scan as an
    # O(tokens^2) re-inlined filter — measured 3 s -> 90 s.)
    sizes = with_toks.select(F.col(id_col), F.size(arr).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(b, on="shingle")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    shared = shared.join(sa, "id_a").join(sb, "id_b")
    # the threshold filter is deliberately NULL-TOLERANT (coalesce): a
    # null-rejecting `jaccard >= t` lets InferFiltersFromConstraints derive
    # isnotnull(n_a/n_b), which predicate pushdown substitutes through the
    # _n alias all the way into the SCAN as
    # isnotnull(size(array_distinct(transform(..split(..)..)))) — with the
    # split() re-inlined into every lambda element, an O(tokens^2)-per-doc
    # filter (measured 3 s -> 90 s on sf0.1). jaccard is never null for
    # emitted rows (pairs share >= 1 shingle so the denominator >= 1), so
    # coalesce(., 0.0) changes nothing about the result.
    jac = F.round(F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")), 4)
    return (
        shared.withColumn("jaccard", jac)
        .where(F.coalesce(F.col("jaccard"), F.lit(0.0)) >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    eval_text_col: str | None = None,
    shingle_n: int = 8,
) -> DataFrame:
    """Benchmark decontamination — the standard training-data hygiene step
    (drop any training document sharing a word n-gram with an evaluation
    set; GPT-3 appendix C / Llama-style, typically n = 8..13). Published
    upstream pipelines run this right after dedup; the reference predates
    the practice, so this extends its filter family.

    Shape: the eval side collapses to a DISTINCT n-gram set — benchmarks
    are tiny relative to a 10^12-row corpus, so it is BROADCAST; the
    corpus side explodes shingles (narrow (id, gram) projection — the
    payload never explodes), inner-joins the gram set, and the hit ids
    anti-join the full rows. The corpus is never compared
    against itself — cost is O(corpus grams) + one anti-join."""
    etext = eval_text_col or text_col

    # materialize the token array in its own select BEFORE the shingle
    # transform: passing the split() expression straight into
    # word_shingles_expr inlines it into every element_at of every lambda
    # element — O(shingle_n x tokens) re-splits per row (measured 20 s vs
    # 1.4 s on 5k docs at n=8)
    def _grams(frame: DataFrame, cols: list[str], text: str) -> DataFrame:
        toked = frame.select(*cols, word_tokens_expr(text).alias("_toks"))
        return toked.select(
            *cols,
            F.explode(hashing.word_shingles_expr(F.col("_toks"), n=shingle_n)).alias("_gram"),
        )

    eval_grams = F.broadcast(_grams(eval_df, [], etext).distinct())
    doc_grams = _grams(df, [id_col], text_col)
    hit_ids = doc_grams.join(eval_grams, "_gram").select(id_col).distinct()
    return df.join(hit_ids, id_col, "left_anti")


def decontaminate_sql(
    corpus_rel: str,
    eval_rel: str,
    id_col: str,
    text_col: str,
    shingle_n: int = 8,
) -> str:
    """DuckDB twin as a WITH body (caller selects from `decontaminated`)."""
    toks = word_tokens_sql(text_col)
    shingles = hashing.word_shingles_sql("toks", shingle_n)
    return (
        f"eval_grams as (select distinct unnest({shingles}) as gram "
        f"from (select {toks} as toks from {eval_rel}) e), "
        f"doc_grams as (select {id_col}, unnest({shingles}) as gram "
        f"from (select {id_col}, {toks} as toks from {corpus_rel}) d), "
        f"hits as (select distinct {id_col} from doc_grams join eval_grams using (gram)), "
        f"decontaminated as (select c.* from {corpus_rel} c "
        f"where not exists (select 1 from hits h where h.{id_col} = c.{id_col}))"
    )


def hash64_decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    hash_col: str,
    eval_hash_col: str | None = None,
    prefix_bits: int = 16,
    max_hamming: int = 3,
    passes: int = 4,
) -> DataFrame:
    """IMAGE-side benchmark decontamination — the perceptual-hash analog of
    decontaminate(): drop every training row whose 64-bit fingerprint
    (phash) is within hamming radius max_hamming of ANY evaluation-set
    fingerprint, so eval images (and their crops/re-encodes, which move a
    few phash bits) never leak into training data. DataComp/LAION-style
    hygiene the text 8-gram pass cannot see.

    Shape (10^12-safe): the eval set is tiny relative to the corpus, so its
    (hash, bucket) projection is BROADCAST; the corpus is bucketed by the
    top prefix_bits of the hash per rotated pass — same rotate-left trick as
    hash64_neardup_pairs, a cross-set bucket join instead of a self-join —
    and candidates verify by exact popcount(xor) <= max_hamming in pure JVM
    bit ops. Hit ids anti-join the full rows; the corpus is never compared
    against itself and the payload never enters the join.

    EXACTNESS: rotation preserves hamming distance, so a pair whose
    differing bits all avoid one prefix_bits-wide window shares a bucket in
    the pass that rotates that window to the top. With the defaults
    (prefix_bits=16, passes=4 => 4 disjoint clean-window candidates) any
    pair at hamming <= 3 has at least one clean window — recall is 100%,
    not approximate, which is what lets the DuckDB oracle be the plain
    all-pairs radius predicate. Raising max_hamming above passes-1 trades
    that guarantee for recall-by-rotation (documented in
    hash64_neardup_pairs)."""
    ehash = eval_hash_col or hash_col
    corpus = df.select(F.col(id_col), F.col(hash_col).alias("_h"))
    evals = eval_df.select(F.col(ehash).alias("_eh"))
    hits = []
    for p in range(max(passes, 1)):
        rot = (p * prefix_bits) % 64

        def _bucket(col: Column) -> Column:
            rotated = (
                col if rot == 0 else F.shiftleft(col, rot).bitwiseOR(F.shiftrightunsigned(col, 64 - rot))
            )
            return F.shiftrightunsigned(rotated, 64 - prefix_bits)

        eside = F.broadcast(evals.select("_eh", _bucket(F.col("_eh")).alias("_bucket")))
        hits.append(
            corpus.withColumn("_bucket", _bucket(F.col("_h")))
            .join(eside, "_bucket")
            .where(hashing.hamming64_expr(F.col("_h"), F.col("_eh")) <= max_hamming)
            .select(id_col)
        )
    contaminated = hits[0]
    for extra in hits[1:]:
        contaminated = contaminated.union(extra)
    return df.join(contaminated.distinct(), id_col, "left_anti")


def build_bloom_words(hashes: DataFrame, hv_col: str, m_bits: int = 1 << 17, k: int = 5) -> list[int]:
    """Distributed Bloom-filter build as ONE narrow Spark aggregation, no
    Python in the plan: each hash explodes into its k bit positions
    (xxhash64(seed, hv) pmod m), positions group into 64-bit words via
    bit_or — map-side partial ORs make the shuffle at most m/64 rows per
    task — and the driver collects just the m/64-long word list (m=2^17 ->
    2048 longs = 16 KiB).

    Sizing is the caller's contract: fpp ≈ (1 - e^(-k·n/m))^k; the default
    (m=2^17, k=5) gives ~0.9 % at n=10k. At 10^12-row scale a single
    driver-resident array is sized in GBs — the same build works (m_bits
    scales, the aggregation shape is unchanged) but the probe side should
    ship the words via a broadcast join or Spark's own runtime bloom
    pruning rather than a plan literal; documented at the probe."""
    if m_bits <= 0 or m_bits % 64:
        # the probe reconstructs m as len(words) * 64 — a non-multiple here
        # would silently change the modulus between build and probe
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    pos = F.explode(
        F.array(*[F.pmod(F.xxhash64(F.lit(i), F.col(hv_col)), F.lit(m_bits)) for i in range(k)])
    ).alias("_pos")
    words = (
        hashes.select(pos)
        .select(
            (F.col("_pos") / 64).cast("int").alias("_w"),
            F.expr("shiftleft(1L, cast(_pos % 64 as int))").alias("_b"),
        )
        .groupBy("_w")
        .agg(F.bit_or("_b").alias("_bits"))
    )
    # Arrow collect: a large filter (m=2^25 -> 524k words) takes minutes
    # through row-by-row py4j collect() but <1 s via toPandas()
    pdf = words.toPandas()
    out = [0] * (m_bits // 64)
    for w, b in zip(pdf["_w"].to_numpy(), pdf["_bits"].to_numpy()):
        out[int(w)] = int(b)
    return out


# above this many 64-bit words the probe switches from a plan-literal to a
# broadcast bit array (measured crossover, see bloom_might_contain)
BLOOM_LITERAL_MAX_WORDS = 4096


def bloom_might_contain(df: DataFrame, hv_col: str, words: list[int], k: int = 5) -> DataFrame:
    """Adds boolean `_bloom_hit`: False = DEFINITELY absent from the set the
    words were built over; True = maybe present (fpp false positives).
    The k bit positions are always computed JVM-side (F.xxhash64 —
    bit-identical to the build); only the bit LOOKUP varies by bloom size:

    - literal (a word list of at most BLOOM_LITERAL_MAX_WORDS — the
      contract/dev scale): the bit array rides the plan as ONE hex-string
      literal (words packed little-endian, so bit `pos` lives at byte
      pos/8, bit pos%8; each probe is substring + conv + shift + mask, all
      inside codegen, zero Python). Measured probe cost is O(m) per row — UTF8String.substring
      scans from the string start — so this path is capped at
      BLOOM_LITERAL_MAX_WORDS (32 KiB of plan text). A 2048-element
      array<long> literal instead costs ~1.3 s of plan overhead PER QUERY
      (a 2048-node expression tree) and a from_json-folded array literal
      evaluates even slower (measured 6-7 s / 100k rows) — the string
      literal is the fastest plan-embedded form.
    - broadcast (a larger word list, or a SparkContext.broadcast handle
      of an int64 numpy array): the words ship ONCE per executor as a
      broadcast numpy int64 array and the lookup is a vectorized Arrow
      UDF doing pure numpy gathers — measured ~0.3 s / 100k rows for a
      2^25-bit bloom where the string literal takes minutes (the O(m)
      substring scan) and a binary literal ~2.6 s (per-row slice+hex
      allocation). This is the 10^12-scale shape: a GB-sized bloom can
      never be a plan literal, and the gather is the same arithmetic
      Spark's own runtime bloom pruning does JVM-side.
    """
    prebroadcast = hasattr(words, "value")  # a SparkContext.broadcast handle
    n_words = len(words.value) if prebroadcast else len(words)
    m_bits = n_words * 64
    pos_cols = [
        F.pmod(F.xxhash64(F.lit(i), F.col(hv_col)), F.lit(m_bits)) for i in range(k)
    ]
    if not prebroadcast and n_words <= BLOOM_LITERAL_MAX_WORDS:
        import struct

        blob = b"".join(struct.pack("<q", int(w)) for w in words).hex()
        out = df.withColumn("_blob", F.lit(blob))
        conds = []
        for i, pc in enumerate(pos_cols):
            out = out.withColumn(f"_bp{i}", pc)
            conds.append(
                f"((cast(conv(substring(_blob, cast(_bp{i} div 8 as int) * 2 + 1, 2), 16, 10) "
                f"as int) >> cast(_bp{i} % 8 as int)) & 1) = 1"
            )
        out = out.withColumn("_bloom_hit", F.expr(" and ".join(conds)))
        return out.drop("_blob", *[f"_bp{i}" for i in range(k)])

    import numpy as np

    # a reuse loop (one snapshot, many batches) should broadcast the words
    # ONCE and pass the handle — re-broadcasting a 32 MiB array per batch
    # is measurable overhead (BENCH.md, "Bloom-prefiltered ingestion
    # dedup in its winning regime")
    if prebroadcast:
        bc = words
    else:
        bc = df.sparkSession.sparkContext.broadcast(np.array(words, dtype=np.int64))

    @F.pandas_udf("boolean")
    def _probe(pos_arr: pd.Series) -> pd.Series:
        if len(pos_arr) == 0:
            return pd.Series([], dtype=bool)
        w = bc.value
        m = np.stack(pos_arr.to_numpy())  # (rows, k) int64
        # (x >> b) & 1 is sign-safe: arithmetic shift only pollutes bits
        # ABOVE b, the mask ignores them
        hit = (((w[m >> 6] >> (m & 63)) & 1) == 1).all(axis=1)
        return pd.Series(hit)

    return df.withColumn("_bloom_hit", _probe(F.array(*pos_cols)))


def _hashed_sides(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    hash_algo: str,
    corpus_hv_col: str | None,
) -> tuple[DataFrame, DataFrame]:
    """(batch + its `_hv` normalized-text hash, the corpus `_hv` projection):
    the inputs of both incremental dedup operators. corpus_hv_col reads a
    stored hash column instead of re-hashing corpus text."""
    hv = hashing.line_hash_expr(normalize_for_dedup_expr(F.col(text_col)), algo=hash_algo)
    corpus_hv = F.col(corpus_hv_col) if corpus_hv_col is not None else hv
    return batch.withColumn("_hv", hv), corpus.select(corpus_hv.alias("_hv"))


def _keep_min_fresh(batch: DataFrame, fresh: DataFrame, id_col: str) -> DataFrame:
    """Rows of `batch` that are the min id of their hash among `fresh`
    (the batch rows whose hash the corpus lacks): keep-min within the batch."""
    keep_min = fresh.groupBy("_hv").agg(F.min(F.col(id_col)).alias(id_col)).select(id_col)
    return batch.join(keep_min, id_col, "left_semi")


def incremental_dedup_bloom(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    hash_algo: str = "sha2",
    m_bits: int = 1 << 17,
    k: int = 5,
    words: list[int] | None = None,
    corpus_hv_col: str | None = None,
) -> DataFrame:
    """Bloom-prefiltered cross-snapshot dedup — EXACTLY the output of
    incremental_dedup (the bloom is an accelerator, not an approximation),
    which is what makes it oracle-checkable against the same exact twin.

    At 10^12 scale the anti-join against the committed corpus shuffles the
    whole new batch even though typically <1 % of it collides. Here a Bloom
    filter built over the corpus hash projection (one narrow aggregation,
    build_bloom_words) splits the batch on the scan: rows whose hash misses
    the bloom are definitely new and BYPASS every join; the might-contain
    sliver (true dups + ~fpp false positives) pays the exact check, which
    also corrects every false positive. The sliver check never shuffles
    the corpus: the sliver's distinct hashes broadcast into a semi-join
    that extracts the (sliver-sized) set of truly-committed hashes, which
    broadcasts back into the sliver anti-join — the corpus is only ever
    SCANNED, exactly like the bloom build. (Premise: sliver << corpus;
    with a high-dup batch use incremental_dedup, whose anti-join is then
    no worse.) Both paths union and keep-min dedup within the batch,
    identical to the exact operator. This is the standard bloom-prefilter
    ingestion shape (Iceberg/Delta MERGE implementations do the same with
    file-level bloom/minmax).

    words: prebuilt bloom (build_bloom_words) — the production ingestion
    loop builds ONCE per committed snapshot and reuses across batches.
    corpus_hv_col: name of a precomputed hash column on `corpus` (the
    committed hash SIDECAR, as measured in BENCH.md "Bloom-prefiltered
    ingestion dedup in its winning regime") — at scale the
    corpus hash projection is stored, not recomputed from text per batch."""
    batch_h, corpus_h = _hashed_sides(batch, corpus, text_col, hash_algo, corpus_hv_col)
    if words is None:
        words = build_bloom_words(corpus_h, "_hv", m_bits=m_bits, k=k)
    probed = bloom_might_contain(batch_h, "_hv", words, k=k)
    # probed feeds THREE plan branches (definitely-new, the sliver, and
    # the sliver's broadcast distinct) — materialize once or the batch
    # scan + probe run three times per call (measured: BENCH.md,
    # "Bloom-prefiltered ingestion dedup in its winning regime")
    probed = materialize(probed)
    definitely_new = probed.where(~F.col("_bloom_hit")).drop("_bloom_hit")
    maybe = probed.where(F.col("_bloom_hit")).drop("_bloom_hit")
    committed = corpus_h.join(
        F.broadcast(maybe.select("_hv").distinct()), "_hv", "left_semi"
    )
    checked = maybe.join(F.broadcast(committed), "_hv", "left_anti")
    fresh = definitely_new.unionByName(checked)
    return _keep_min_fresh(batch, fresh, id_col)


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    hash_algo: str = "sha2",
    corpus_hv_col: str | None = None,
) -> DataFrame:
    """Cross-snapshot exact dedup: drop new-batch documents whose normalized
    text hash already exists in the ingested corpus — the ingestion-time
    variant of exact_dedup that the checkpoint/resume protocol
    (sources/tables.py sidecar) implies: each incremental load dedups
    against everything already committed, touching only the NEW batch plus
    one hash-projection scan of the corpus (never re-deduping the corpus
    against itself). Also dedups within the batch (keep-min), so the result
    is append-ready. corpus_hv_col: precomputed hash column on `corpus`
    (the committed hash sidecar) instead of re-hashing corpus text."""
    batch_h, corpus_h = _hashed_sides(batch, corpus, text_col, hash_algo, corpus_hv_col)
    fresh = batch_h.join(corpus_h, "_hv", "left_anti")
    return _keep_min_fresh(batch, fresh, id_col)
