"""Deterministic content-hash sampling.

The reference's sampling knob (isSample/sampleRate,
/root/reference/pipe_line.py:76-79) and Spark's own ``df.sample(fraction,
seed)`` are only reproducible for one engine + partitioning; re-running on
a different cluster layout (or in DuckDB for the oracle) yields a
different row set. A CONTENT-hash sample — keep rows whose
sha256(id) prefix falls below a threshold — is stable across engines,
stage retries, cluster sizes and time: the production pattern for carving
a fixed dev/eval slice out of a 100 TB corpus (every run sees the same
rows, and appending new data never reshuffles previously-sampled ids).

Pure built-in expressions, so the predicate rides inside the scan's
codegen'd filter; the identical formula runs in DuckDB for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.classic.column import Column as ClassicColumn

from ..session import local_frame, materialize


def _threshold_hex(rate_256: int) -> str:
    # 1..255 only: format(256, '02x') is the 3-char '100', and a 2-char
    # prefix compared against it keeps ~17/256 of rows instead of all —
    # rate 256 means "don't sample", which is not this operator's job
    if not 0 < rate_256 < 256:
        raise ValueError(f"rate_256 must be in 1..255 (256 = no sampling), got {rate_256}")
    return format(rate_256, "02x")


def hash_sample(df: DataFrame, id_col: str | Column, rate_256: int) -> DataFrame:
    """Keep rows whose sha256(cast(id as string)) first hex byte is below
    rate_256 — an exact rate_256/256 expected fraction (e.g. 26 ≈ 10.2 %),
    deterministic per id."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    prefix = F.substring(F.sha2(c.cast("string"), 256), 1, 2)
    return df.where(prefix < F.lit(_threshold_hex(rate_256)))


def hash_sample_sql(id_expr: str, rate_256: int) -> str:
    """DuckDB twin of the sampling predicate (for oracle_sql entries)."""
    return f"substr(sha256(cast({id_expr} as varchar)), 1, 2) < '{_threshold_hex(rate_256)}'"


def _stratum_threshold_hex(rate_256: int) -> str:
    # per-stratum rates additionally allow 256 = keep the whole stratum:
    # 'zz' sorts after every hex prefix, so `prefix < 'zz'` is always true
    if rate_256 == 256:
        return "zz"
    return _threshold_hex(rate_256)


def stratified_hash_sample(
    df: DataFrame,
    id_col: str | Column,
    stratum_col: str,
    rates_256: dict[str, int],
    default_256: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-rebalancing knob a
    training pipeline runs before tokenization (downsample the head
    language, keep the tail languages whole). Same content-hash predicate
    as hash_sample, but the threshold comes from a BROADCAST-joined rates
    table keyed by stratum (per-language rate in 0..256; 0 drops the
    stratum, 256 keeps all of it; strata absent from the dict get
    default_256). The big side never shuffles — the join is broadcast and
    the predicate rides the scan."""
    spark = df.sparkSession
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    rows = [
        (s, "00" if r == 0 else _stratum_threshold_hex(r)) for s, r in sorted(rates_256.items())
    ]
    # rates columns carry a private prefix: joining on a bare "stratum"
    # name and drop("stratum") would silently drop a same-named USER column
    rates_df = local_frame(spark, rows, "__rates_stratum string, __rates_thr string")
    default_thr = "00" if default_256 == 0 else _stratum_threshold_hex(default_256)
    prefix = F.substring(F.sha2(c.cast("string"), 256), 1, 2)
    joined = df.join(
        F.broadcast(rates_df), df[stratum_col] == rates_df["__rates_stratum"], "left"
    )
    return joined.where(
        prefix < F.coalesce(F.col("__rates_thr"), F.lit(default_thr))
    ).drop("__rates_stratum", "__rates_thr")


def stratified_hash_sample_sql(
    id_expr: str, stratum_expr: str, rates_256: dict[str, int], default_256: int = 0
) -> str:
    """DuckDB twin: the rates table folded into a CASE chain (identical
    semantics — the broadcast join IS a lookup table)."""

    def thr(r: int) -> str:
        return "00" if r == 0 else _stratum_threshold_hex(r)

    arms = " ".join(f"when {stratum_expr} = '{s}' then '{thr(r)}'" for s, r in sorted(rates_256.items()))
    return (
        f"substr(sha256(cast({id_expr} as varchar)), 1, 2) < "
        f"(case {arms} else '{thr(default_256)}' end)"
    )


def alpha_mix_rates(
    counts: dict[str, int], alpha: float = 0.3, target_frac: float = 0.5
) -> dict[str, int]:
    """XLM/mBERT-style temperature mixing: per-language keep rates (in the
    sampler's 0..256 units) that reshape the corpus toward the multinomial
    q_l ∝ p_l^alpha (alpha < 1 upsamples tail languages RELATIVELY by
    downsampling the head less aggressively than proportional sampling
    would). target_frac is the overall budget: Σ kept ≈ target_frac · N
    when no language saturates (rates cap at 256 = keep-all).

    Pure driver-side integer/float arithmetic over the collected per-lang
    counts (languages are bounded — the same driver-side-scalars
    discipline as the other trainers), shared VERBATIM by the engine and
    the oracle builder so both sides fold identical thresholds into the
    sampling predicate."""
    n_total = sum(counts.values())
    if not n_total:
        return {}
    weights = {l: (c / n_total) ** alpha for l, c in counts.items()}
    wsum = sum(weights.values())
    out = {}
    for lang, c in sorted(counts.items()):
        target_rows = weights[lang] / wsum * target_frac * n_total
        out[lang] = min(256, int(256 * target_rows / c))
    return out


def alpha_mix_sample(
    df: DataFrame,
    lang_col: str = "lang",
    id_col: str | Column = "doc_id",
    alpha: float = 0.3,
    target_frac: float = 0.5,
) -> DataFrame:
    """Compose alpha_mix_rates with the content-hash stratified sampler:
    one counts aggregation (collected — languages are bounded), then the
    broadcast-rates scan predicate. Deterministic across engines,
    retries and cluster layouts like every hash sample here."""
    counts = {r[0]: int(r[1]) for r in df.groupBy(lang_col).count().collect() if r[0] is not None}
    rates = alpha_mix_rates(counts, alpha, target_frac)
    return stratified_hash_sample(df, id_col, lang_col, rates)


def group_quota(
    df: DataFrame, group_col: str, quota: int, id_col: str | Column = "image_id"
) -> DataFrame:
    """Keep AT MOST `quota` rows per group, deterministically — the
    LAION/DataComp balancing knob (cap the head language / domain /
    source at K rows) where stratified_hash_sample's fixed RATES don't
    fit because group sizes are unknown or the target is an absolute cap.

    Selection = the quota smallest (sha256(id), id) pairs per group:
    content-defined, so the kept set is identical across engines, stage
    retries and cluster layouts, and uniformly random w.r.t. any data
    ordering.

    Scale shape — the payload never shuffles: the quota-th smallest hash
    per group (the CUTOFF) is computed on a NARROW (group, id, hash)
    projection (one window shuffle of ids only), broadcast as a
    per-group threshold table, and applied as a scan-side predicate on
    the full rows — the learned-threshold version of
    stratified_hash_sample. Groups smaller than the quota produce no
    cutoff row and are kept whole; NULL groups are one group
    (null-safe join). Assumes id_col is unique (the boundary tie-break
    compares ids)."""
    if quota <= 0:
        raise ValueError(f"quota must be positive, got {quota}")
    # reserved-column collision guard (same class of check as
    # epoch_shuffle/token_budget_select; ADVICE r5): a user column named
    # like the join aliases would be silently clobbered and dropped
    for reserved in ("__gq_g", "__gq_cut_h", "__gq_cut_id"):
        if reserved in df.columns:
            raise ValueError(f"group_quota reserves column name {reserved!r}")
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.sha2(c.cast("string"), 256)

    from pyspark.sql.window import Window

    narrow = df.select(
        F.col(group_col).alias("__gq_g"), c.alias("__gq_id"), h.alias("__gq_h")
    )
    w = Window.partitionBy("__gq_g").orderBy("__gq_h", "__gq_id")
    cut = (
        narrow.withColumn("__gq_rn", F.row_number().over(w))
        .where(F.col("__gq_rn") == quota)
        .select(
            "__gq_g",
            F.col("__gq_h").alias("__gq_cut_h"),
            F.col("__gq_id").alias("__gq_cut_id"),
        )
    )
    joined = df.join(
        F.broadcast(cut), df[group_col].eqNullSafe(F.col("__gq_g")), "left"
    )
    keep = (
        F.col("__gq_cut_h").isNull()
        | (h < F.col("__gq_cut_h"))
        | ((h == F.col("__gq_cut_h")) & (c <= F.col("__gq_cut_id")))
    )
    return joined.where(keep).drop("__gq_g", "__gq_cut_h", "__gq_cut_id")


def group_quota_sql(table: str, group_expr: str, quota: int, id_expr: str) -> str:
    """DuckDB twin: identical window cutoff + identical boundary
    predicate (sha256 hex strings compare identically in both engines)."""
    h = f"sha256(cast({id_expr} as varchar))"
    return (
        f"with __t as (select * from {table}), "
        f"__cut as (select __gq_g, __gq_h as __cut_h, __gq_id as __cut_id from ("
        f"select {group_expr} as __gq_g, {id_expr} as __gq_id, {h} as __gq_h, "
        f"row_number() over (partition by {group_expr} order by {h}, {id_expr}) as __rn "
        f"from __t) where __rn = {quota}) "
        f"select __t.* from __t left join __cut "
        f"on {group_expr} is not distinct from __cut.__gq_g "
        f"where __cut.__cut_h is null or {h} < __cut.__cut_h "
        f"or ({h} = __cut.__cut_h and {id_expr} <= __cut.__cut_id)"
    )


def weighted_repeat(
    df: DataFrame,
    stratum_col: str,
    factors: dict[str, float],
    default: float = 1.0,
    id_col: str | Column = "image_id",
    copy_col: str = "copy_idx",
) -> DataFrame:
    """Materialize a training MIXTURE: each stratum's rows repeat
    `factors[stratum]` times — the Pile/DoReMi-style epoch weighting
    (upsample high-quality / tail strata, downsample the head) applied
    at corpus-assembly time so the training loader stays a sequential
    shard reader.

    Fractional factors are deterministic per row: factor 2.3 = 2 full
    copies + a third copy for the ~30% of ids whose content-hash prefix
    falls under the fraction (the hash_sample trick on a decorrelated
    hash — sha256(id || ':rep')). Factor 0.x downsamples; factor 0
    drops the stratum. copy_idx (1..n) distinguishes copies for
    downstream shuffling/sharding.

    Scale shape: a broadcast factors table + a map-side explode of
    sequence(1, n_copies) — NO shuffle; output volume is the mixture's
    by construction. Deterministic across engines/retries/layouts, so
    the DuckDB twin reproduces it row-for-row."""
    spark = df.sparkSession
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    if any(f < 0 for f in factors.values()) or default < 0:
        raise ValueError("repeat factors must be >= 0")
    for reserved in ("__rep_stratum", "__rep_whole", "__rep_thr"):
        if reserved in df.columns:
            raise ValueError(f"weighted_repeat reserves column name {reserved!r}")

    def split(f: float) -> tuple[int, str]:
        whole = int(f)
        frac_256 = round((f - whole) * 256)
        # '00' = no fractional copy; frac rounds to a 0..256 rate
        if frac_256 >= 256:  # e.g. 1.999 -> just another whole copy
            return whole + 1, "00"
        return whole, "zz" if frac_256 == 256 else format(frac_256, "02x") if frac_256 else "00"

    rows = [(s, *split(f)) for s, f in sorted(factors.items())]
    fdf = local_frame(spark, rows, "__rep_stratum string, __rep_whole int, __rep_thr string")
    d_whole, d_thr = split(default)
    prefix = F.substring(F.sha2(F.concat(c.cast("string"), F.lit(":rep")), 256), 1, 2)
    joined = df.join(
        F.broadcast(fdf), df[stratum_col] == fdf["__rep_stratum"], "left"
    )
    n = F.coalesce(F.col("__rep_whole"), F.lit(d_whole)) + F.when(
        prefix < F.coalesce(F.col("__rep_thr"), F.lit(d_thr)), F.lit(1)
    ).otherwise(F.lit(0))
    # sequence(1, 0) is DESCENDING in Spark, not empty — guard explicitly
    seq = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(F.array().cast("array<int>"))
    return (
        joined.withColumn(copy_col, F.explode(seq))
        .drop("__rep_stratum", "__rep_whole", "__rep_thr")
    )


def weighted_repeat_sql(
    table: str,
    stratum_expr: str,
    factors: dict[str, float],
    default: float = 1.0,
    id_expr: str = "image_id",
    copy_col: str = "copy_idx",
) -> str:
    """DuckDB twin: factors CASE chains + unnest(range(1, n+1)) — range
    with an empty interval yields no rows, matching the guarded
    sequence."""

    def split(f: float) -> tuple[int, str]:
        whole = int(f)
        frac_256 = round((f - whole) * 256)
        if frac_256 >= 256:
            return whole + 1, "00"
        return whole, "zz" if frac_256 == 256 else format(frac_256, "02x") if frac_256 else "00"

    whole_arms = " ".join(
        f"when {stratum_expr} = '{s}' then {split(f)[0]}" for s, f in sorted(factors.items())
    )
    thr_arms = " ".join(
        f"when {stratum_expr} = '{s}' then '{split(f)[1]}'" for s, f in sorted(factors.items())
    )
    d_whole, d_thr = split(default)
    prefix = f"substr(sha256(cast({id_expr} as varchar) || ':rep'), 1, 2)"
    n = (
        f"((case {whole_arms} else {d_whole} end) + "
        f"(case when {prefix} < (case {thr_arms} else '{d_thr}' end) then 1 else 0 end))"
    )
    return (
        f"select __t.*, cast(u.gs as int) as {copy_col} from {table} as __t, "
        f"lateral unnest(range(1, {n} + 1)) as u(gs)"
    )


def epoch_shuffle(
    df: DataFrame, epoch: int, id_col: str | Column = "doc_id", shard_chars: int = 1
) -> DataFrame:
    """Deterministic TRAINING-ORDER shuffle: the data-loading side of the
    pipeline (WebDataset/Megatron practice) needs a reproducible global
    read order per epoch that (a) every worker can recompute without
    coordination, (b) survives stage retries and cluster layouts, and
    (c) decorrelates across epochs. Global order for epoch e is the pair
    (shard, pos): shard = the first ``shard_chars`` hex chars of
    sha256(id || ':' || e) — a bounded-cardinality content-defined key —
    and pos = row_number within the shard ordered by (hash, id).

    Scale shape: no global window (a single row_number over 10^12 rows
    would serialize through ONE task) — the only shuffle is the
    per-shard window over a narrow (id, hash) projection, parallel
    across 16^shard_chars shards; readers consume shards in lexical
    order, positions within each. Content-defined like hash_sample /
    group_quota, so the order is identical across engines and retries;
    changing ``epoch`` re-keys every hash and yields a fresh
    decorrelated permutation."""
    from pyspark.sql.window import Window

    if not 1 <= shard_chars <= 64:
        # shard_chars=0 would put EVERY row in one shard — exactly the
        # single-task global window this operator exists to avoid
        raise ValueError(f"shard_chars must be in 1..64, got {shard_chars}")
    for reserved in ("_es_h", "shard", "pos"):
        if reserved in df.columns:
            raise ValueError(f"epoch_shuffle would clobber input column {reserved!r}")
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.sha2(F.concat(c.cast("string"), F.lit(f":{int(epoch)}")), 256)
    out = df.withColumn("_es_h", h).withColumn(
        "shard", F.substring("_es_h", 1, shard_chars)
    )
    w = Window.partitionBy("shard").orderBy("_es_h", c)
    return out.withColumn("pos", F.row_number().over(w)).drop("_es_h")


def epoch_shuffle_sql(table: str, epoch: int, id_expr: str, shard_chars: int = 1) -> str:
    """DuckDB twin: identical sha256 keying, identical window."""
    h = f"sha256(cast({id_expr} as varchar) || ':{int(epoch)}')"
    return (
        f"select *, substring({h}, 1, {shard_chars}) as shard, "
        f"row_number() over (partition by substring({h}, 1, {shard_chars}) "
        f"order by {h}, {id_expr}) as pos from {table}"
    )


def _sort_key(spark, key: str | Column) -> tuple[Column, bool, bool]:
    """(value, descending, nulls first) of one window order key: a name,
    a Column, or a sort order such as ``F.col("x").desc()``, which PySpark
    only keeps on the JVM side."""
    if isinstance(key, str):
        return F.col(key), False, True
    node = key._jc.node()
    if node.getClass().getSimpleName() != "SortOrder":
        return key, False, True
    value = ClassicColumn(spark._jvm.org.apache.spark.sql.Column(node.child()))
    desc = node.sortDirection().getClass().getSimpleName() == "Descending$"
    return value, desc, node.nullOrdering().getClass().getSimpleName() == "NullsFirst$"


def prefix_sum(
    df: DataFrame,
    keys: list[str | Column],
    value: str | Column,
    out: str,
    inclusive: bool = True,
) -> DataFrame:
    """df + `out` = ``F.sum(value).over(Window.orderBy(*keys).rowsBetween(
    unboundedPreceding, 0 if inclusive else -1))``, NULLs included, with no
    task seeing every row: (1) the driver takes defaultParallelism-quantile
    boundaries of the LEADING key once, from the 64·buckets rows with the
    smallest xxhash64 of the keys (no ``rand()``), as plan literals;
    (2) ``Window.partitionBy(bucket).orderBy(*keys)`` sums inside a
    bucket; (3) per-bucket totals become offsets, broadcast-joined back.
    A bucket counts the boundaries at or below the leading key (reversed
    for a descending key), a monotone function of it, so buckets are runs
    of the order and the result is exact for ANY boundaries; they only
    affect balance. Integer and decimal sums are exact; a double sum may
    differ from the global window's in the last bits."""
    for reserved in ("_ps_b", "_ps_off", out):
        if reserved in df.columns:
            raise ValueError(f"prefix_sum would clobber input column {reserved!r}")
    spark = df.sparkSession
    specs = [_sort_key(spark, k) for k in keys]
    lead, desc, nulls_first = specs[0]
    n_buckets = spark.sparkContext.defaultParallelism
    sampled = (
        df.select(lead.alias("_ps_v"), F.xxhash64(*[s[0] for s in specs]).alias("_ps_h"))
        .where(F.col("_ps_v").isNotNull())
        .orderBy("_ps_h", "_ps_v")
        .limit(64 * n_buckets)
        .collect()
    )
    vals = sorted((r[0] for r in sampled), key=lambda v: (v != v, v))  # NaN last, as in Spark
    # a repeated boundary leaves a bucket empty: balance only, like any boundary choice
    bounds = [vals[i * len(vals) // n_buckets] for i in range(1, n_buckets)] if vals else []
    k = len(bounds)
    rank = sum((F.when(lead >= F.lit(b), 1).otherwise(0) for b in bounds), F.lit(0))
    bucket = F.when(lead.isNull(), 0 if nulls_first else k).otherwise(k - rank if desc else rank)
    bucketed = df.withColumn("_ps_b", bucket)

    v = F.col(value) if isinstance(value, str) else value
    frame_end = Window.currentRow if inclusive else -1
    w = Window.partitionBy("_ps_b").orderBy(*keys).rowsBetween(Window.unboundedPreceding, frame_end)
    run = bucketed.withColumn(out, F.sum(v).over(w))
    # k+1 bucket sums from one global aggregate: one partition, no exchange for the offsets
    sums = F.array(*[F.sum(F.when(F.col("_ps_b") == i, v)) for i in range(k + 1)])
    totals = bucketed.agg(sums.alias("_t")).select(F.posexplode("_t").alias("_ps_b", "_ps_t"))
    before = Window.orderBy("_ps_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select("_ps_b", F.sum("_ps_t").over(before).alias("_ps_off"))
    off, cur = F.col("_ps_off"), F.col(out)
    return (
        run.join(F.broadcast(offsets), "_ps_b")
        .withColumn(out, F.coalesce(off + cur, cur, off).cast(run.schema[out].dataType))
        .drop("_ps_b", "_ps_off")
    )


def token_budget_select(
    df: DataFrame,
    budget: int,
    score_col: str = "score",
    cost_col: str = "cost",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-first CORPUS SELECTION under a token budget (the
    FineWeb-Edu construction: keep the best-scored documents until the
    training-token budget is spent). Selection = the rows of the total
    order (score desc, sha256(id), id) whose prefix_sum of cost stays
    <= budget: the greedy prefix, not knapsack, for any number of
    distinct scores. INTEGER costs (token counts) keep every partial sum
    exact, equal to the DuckDB twin's global running sum. NULL and NaN
    score/cost rows are excluded (a NaN orders differently per engine).
    The narrow (id, score, cost) input is materialized: prefix_sum
    reads it three times (sample, bucket windows, bucket totals)."""
    base = materialize(df.where(
        F.col(score_col).isNotNull()
        & F.col(cost_col).isNotNull()
        & ~F.isnan(F.col(score_col).cast("double"))
        & ~F.isnan(F.col(cost_col).cast("double"))
    ))
    keys = [F.col(score_col).desc(), F.sha2(F.col(id_col).cast("string"), 256), id_col]
    return prefix_sum(base, keys, cost_col, "_cum").where(F.col("_cum") <= int(budget)).drop("_cum")


def token_budget_select_sql(
    table: str, budget: int, score_expr: str, cost_expr: str, id_expr: str
) -> str:
    """DuckDB twin: the STRAIGHT greedy prefix over the identical total
    order — one global running sum (fine at oracle scale), integer-exact."""
    h = f"sha256(cast({id_expr} as varchar))"
    return (
        f"select * exclude (_cum) from (select *, sum({cost_expr}) over ("
        f"order by {score_expr} desc, {h}, {id_expr} "
        f"rows between unbounded preceding and current row) as _cum "
        f"from (select * from {table}) "
        f"where {score_expr} is not null and {cost_expr} is not null "
        f"and not isnan(cast({score_expr} as double)) "
        f"and not isnan(cast({cost_expr} as double))) "
        f"where _cum <= {int(budget)}"
    )
