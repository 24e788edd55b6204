"""Gopher/MassiveText repetition + quality rules and C4-style line filters.

These are the published web-corpus quality-filter heuristics (Rae et al. 2021
"Scaling Language Models" appendix A1.1; Raffel et al. 2020 C4 §2.2) that a
100 TB caption-cleaning pipeline runs alongside ccnet's perplexity bucketing
(reference analogue: the min-length keep/drop gate in
/root/reference/pipe_load.py:164-170 — its only heuristic filter; these
extend that family with the repetition- and line-level rules the
reference lacks).

Scale notes:
- the n-gram statistics use the EXPLODE + groupBy shape (one shuffle keyed by
  (doc_id, n, gram), map-side partial aggregation) rather than per-document
  array lambdas: counting duplicates inside an array with filter() lambdas is
  O(distinct x total) per document, quadratic on long documents, while the
  exploded groupBy is O(total) per document and handles any document length.
  Same reasoning as the MinHash signature builder (operators/dedup.py).
- the word-level rules and C4 line filters are pure map-side expressions
  (whole-stage codegen, zero shuffle, zero Python).

Every statistic has a DuckDB SQL twin generator next to it so the driver's
oracle gate checks the math end-to-end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ccnet_spark_spark.functions.hashing import word_shingles_expr, word_shingles_sql
from ccnet_spark_spark.functions.textstats import word_tokens_expr, word_tokens_sql

# Gopher thresholds (Rae et al. 2021, table A1): drop when value EXCEEDS.
TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
# Gopher word gates (same table): keep inside these bounds. The minimum
# word count stays a per-call min_words: Gopher's assumes full web pages,
# and the corpus queries pass their own.
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN = 3.0, 10.0
MAX_SYMBOL_WORD_RATIO = 0.1
MIN_ALPHA_WORD_FRAC = 0.8


# ---------------------------------------------------------------- n-grams
def gopher_ngram_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3),
    dup_ns: tuple[int, ...] = (5,),
) -> DataFrame:
    """Per-document Gopher repetition statistics over word n-grams:

    - top_{n}gram_char_frac: characters covered by the single most frequent
      n-gram (count x gram length) / whitespace-normalized text length.
    - dup_{n}gram_char_frac: characters covered by ALL n-grams occurring
      more than once (sum of count x gram length over duplicated grams) /
      normalized length, clamped to 1.0. Occurrence-weighted — overlapping
      occurrences are counted per occurrence, not per character position
      (the cheap upper bound every published reimplementation of the rule
      uses at scale); documented so the threshold semantics are explicit.
    - keep_rep: true iff every statistic is at or under its Gopher threshold.

    Shape: one plain explode PER n size, unioned (narrow — union adds no
    shuffle), then groupBy (doc, n, gram) count and a conditional
    re-aggregation per doc. Two shuffles, the second over <= |docs| x |ns|
    rows; no per-doc quadratic lambda, so arbitrarily long documents stay
    O(tokens). A (0, '') sentinel branch keeps zero-gram docs flowing
    through the aggregation (n=0 matches no conditional agg), avoiding a
    join-back shuffle to resurrect them.

    Measured pitfall (sf0.1, 5000 docs, local[32]): the tempting
    single-explode alternative — explode(concat(transform(shingles(n),
    g -> struct(n, g)) for n in ns)) — runs ~30 s vs ~2 s for this shape;
    exploding a concat of struct-tagging lambda transforms defeats codegen
    (Catalyst re-inlines the nested lambda subtrees), while a generator
    over a plain shingle array stays fast. Don't \"optimize\" this back
    into one scan without re-measuring."""
    base = df.select(F.col(id_col), word_tokens_expr(text_col).alias("_toks"))
    return _repetition_stats(base, id_col, top_ns, dup_ns)


def _repetition_stats(
    base: DataFrame,
    id_col: str,
    top_ns: tuple[int, ...],
    dup_ns: tuple[int, ...],
    word_keep: Column | None = None,
) -> DataFrame:
    """gopher_ngram_stats' aggregation over `base` (id_col + the `_toks`
    array). `word_keep`, an expression over base's columns, rides the
    sentinel branch, which every doc emits exactly once, and comes out as
    max(word_keep): the gram branches carry NULL, which max ignores. It
    adds no shuffle."""
    ns = sorted(set(top_ns) | set(dup_ns))
    base = base.withColumn("_total_chars", F.length(F.array_join(F.col("_toks"), " ")))
    sentinel = [F.lit(0).alias("_n"), F.lit("").alias("_gram")]
    gram_keep, count_keep, aggs = [], [], []
    if word_keep is not None:
        sentinel.append(word_keep.alias("_word_keep"))
        gram_keep = [F.lit(None).cast("boolean").alias("_word_keep")]
        count_keep = [F.max("_word_keep").alias("_word_keep")]
        aggs = [F.max("_word_keep").alias("word_keep")]
    branches = [base.select(id_col, "_total_chars", *sentinel)]
    for n in ns:
        branches.append(
            base.select(
                id_col,
                "_total_chars",
                F.lit(n).alias("_n"),
                F.explode(word_shingles_expr(F.col("_toks"), n)).alias("_gram"),
                *gram_keep,
            )
        )
    exploded = branches[0]
    for b in branches[1:]:
        exploded = exploded.union(b)
    counts = (
        exploded.groupBy(id_col, "_total_chars", "_n", "_gram")
        .agg(F.count(F.lit(1)).alias("_cnt"), *count_keep)
        .withColumn("_chars", F.col("_cnt") * F.length("_gram"))
    )
    denom = F.greatest(F.first("_total_chars"), F.lit(1))
    for n in top_ns:
        aggs.append(
            F.round(
                F.coalesce(F.max(F.when(F.col("_n") == n, F.col("_chars"))), F.lit(0)) / denom, 4
            ).alias(f"top_{n}gram_char_frac")
        )
    for n in dup_ns:
        aggs.append(
            F.round(
                F.least(
                    F.lit(1.0),
                    F.coalesce(
                        F.sum(F.when((F.col("_n") == n) & (F.col("_cnt") >= 2), F.col("_chars"))),
                        F.lit(0).cast("long"),
                    )
                    / denom,
                ),
                4,
            ).alias(f"dup_{n}gram_char_frac")
        )
    out = counts.groupBy(id_col).agg(*aggs)
    keep = F.lit(True)
    for n in top_ns:
        keep = keep & (F.col(f"top_{n}gram_char_frac") <= TOP_NGRAM_MAX.get(n, 0.16))
    for n in dup_ns:
        keep = keep & (F.col(f"dup_{n}gram_char_frac") <= DUP_NGRAM_MAX.get(n, 0.10))
    return out.withColumn("keep_rep", keep)


def gopher_gates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3),
    dup_ns: tuple[int, ...] = (5,),
    min_words: int = 5,
) -> DataFrame:
    """Gopher word gates AND n-gram repetition gates FUSED into one scan:
    (doc_id, word_keep, keep_rep) with the same semantics as
    gopher_word_rules(...).keep ∧-joined with gopher_ngram_stats(...).keep_rep,
    but without the second scan of the table or the doc_id join between the
    two families.

    How: the word-rule verdict is a pure map-side expression over the same
    tokens the n-gram branches explode, so it is computed once on the
    sentinel branch and carried through both aggregations (see
    _repetition_stats). Shuffle count is identical to gopher_ngram_stats
    alone. Composed pipelines (corpus_build, quality_chain) use this; the
    standalone per-family operators remain the unit-oracled entries."""
    base = df.select(
        F.col(id_col), F.col(text_col).alias("_text"), word_tokens_expr(text_col).alias("_toks")
    )
    word_keep = _word_keep(_word_stats(F.col("_text"), F.col("_toks")), min_words)
    return _repetition_stats(base, id_col, top_ns, dup_ns, word_keep).select(
        id_col, "word_keep", "keep_rep"
    )


def gopher_ngram_stats_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3),
    dup_ns: tuple[int, ...] = (5,),
) -> str:
    ns = sorted(set(top_ns) | set(dup_ns))
    toks = word_tokens_sql(text_col)
    gram_lists = " || ".join(
        f"list_transform({word_shingles_sql('toks', n)}, g -> {{'n': {n}, 'gram': g}})" for n in ns
    )
    stat_cols, keep_terms = [], []
    for n in top_ns:
        stat_cols.append(
            f"round(coalesce(max(case when n = {n} then chars end), 0)"
            f" / greatest(any_value(total_chars), 1), 4) as top_{n}gram_char_frac"
        )
        keep_terms.append(f"top_{n}gram_char_frac <= {TOP_NGRAM_MAX.get(n, 0.16)}")
    for n in dup_ns:
        stat_cols.append(
            f"round(least(1.0, coalesce(sum(case when n = {n} and cnt >= 2 then chars end), 0)"
            f" / greatest(any_value(total_chars), 1)), 4) as dup_{n}gram_char_frac"
        )
        keep_terms.append(f"dup_{n}gram_char_frac <= {DUP_NGRAM_MAX.get(n, 0.10)}")
    # the (0, '') sentinel keeps zero-gram docs in the aggregation (mirrors
    # the Spark plan — no join-back); keep_rep uses lateral alias references
    return (
        f"with base as (select {id_col}, {toks} as toks from {table}), "
        f"tagged as (select {id_col}, length(array_to_string(toks, ' ')) as total_chars, "
        f"unnest([{{'n': 0, 'gram': ''}}] || {gram_lists}) as g from base), "
        f"counts as (select {id_col}, total_chars, g.n as n, g.gram as gram, "
        f"count(*) as cnt, count(*) * length(g.gram) as chars "
        f"from tagged group by {id_col}, total_chars, g.n, g.gram) "
        f"select {id_col}, {', '.join(stat_cols)}, "
        + " and ".join(keep_terms)
        + f" as keep_rep from counts group by {id_col}"
    )


# ------------------------------------------------------------------ lines
def gopher_line_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document duplicate-line statistics (Gopher A1.1): fraction of line
    occurrences whose line appears more than once in the document, and the
    character-weighted version. Explode lines -> groupBy (doc, line) -> one
    conditional re-aggregation; same scale shape as the n-gram stats."""
    counts = (
        df.select(id_col, F.explode(F.split(F.col(text_col), "\n")).alias("_line"))
        .groupBy(id_col, "_line")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    dup = F.col("_cnt") >= 2
    chars = F.col("_cnt") * F.length("_line")
    return counts.groupBy(id_col).agg(
        F.sum("_cnt").alias("n_lines"),
        F.round(
            F.coalesce(F.sum(F.when(dup, F.col("_cnt"))), F.lit(0).cast("long")) / F.sum("_cnt"), 4
        ).alias("dup_line_frac"),
        F.round(
            F.coalesce(F.sum(F.when(dup, chars)), F.lit(0).cast("long"))
            / F.greatest(F.sum(chars), F.lit(1)),
            4,
        ).alias("dup_line_char_frac"),
    )


def gopher_line_stats_sql(rel: str, id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB twin over a relation (table name or parenthesized subquery)."""
    return (
        f"with lines as (select {id_col}, unnest(string_split({text_col}, chr(10))) as line "
        f"from {rel}), "
        f"counts as (select {id_col}, line, count(*) as cnt from lines group by all) "
        f"select {id_col}, cast(sum(cnt) as bigint) as n_lines, "
        f"round(coalesce(sum(case when cnt >= 2 then cnt end), 0) / sum(cnt), 4) as dup_line_frac, "
        f"round(coalesce(sum(case when cnt >= 2 then cnt * length(line) end), 0)"
        f" / greatest(sum(cnt * length(line)), 1), 4) as dup_line_char_frac "
        f"from counts group by {id_col}"
    )


# ------------------------------------------------------------- word rules
def _word_stats(text: Column, toks: Column) -> dict[str, Column]:
    """The four Gopher word statistics of a document, rounded to 4dp, as
    expressions over its text and its word_tokens_expr array."""
    words = F.greatest(F.size(toks), F.lit(1))
    sum_len = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    hashes = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    ellipses = F.floor((F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))) / 3)
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    return {
        "word_count": F.size(toks).cast("long"),
        "mean_word_len": F.round(sum_len / words, 4),
        "symbol_word_ratio": F.round((hashes + ellipses) / words, 4),
        "alpha_word_frac": F.round(alpha / words, 4),
    }


def _word_keep(stats: dict[str, Column], min_words: int) -> Column:
    """The Gopher word gates over _word_stats' values (or columns holding
    them): the fused and standalone verdicts compare the same rounded
    values, so they cannot diverge."""
    return (
        stats["word_count"].between(min_words, MAX_WORDS)
        & stats["mean_word_len"].between(MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN)
        & (stats["symbol_word_ratio"] < MAX_SYMBOL_WORD_RATIO)
        & (stats["alpha_word_frac"] >= MIN_ALPHA_WORD_FRAC)
    )


def gopher_word_rules(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", min_words: int = 5
) -> DataFrame:
    """Gopher word-level quality gates as pure map-side expressions:
    word count bounds, mean word length bounds, symbol-to-word ratio
    ('#' and '...' occurrences per word), fraction of words containing an
    alphabetic character. `keep` ands the gates. Zero shuffle, zero Python."""
    stats = _word_stats(F.col(text_col), word_tokens_expr(text_col))
    out = df.select(id_col, *(c.alias(name) for name, c in stats.items()))
    return out.withColumn("keep", _word_keep({name: F.col(name) for name in stats}, min_words))


def gopher_word_rules_sql(
    table: str, id_col: str = "doc_id", text_col: str = "text", min_words: int = 5
) -> str:
    toks = word_tokens_sql(text_col)
    words = f"greatest(len({toks}), 1)"
    sum_len = f"list_sum(list_transform({toks}, t -> length(t)))"
    hashes = f"(length({text_col}) - length(replace({text_col}, '#', '')))"
    ellipses = f"floor((length({text_col}) - length(replace({text_col}, '...', ''))) / 3)"
    alpha = f"len(list_filter({toks}, t -> regexp_matches(t, '[a-z]')))"
    return (
        f"with stats as (select {id_col}, cast(len({toks}) as bigint) as word_count, "
        f"round(coalesce({sum_len}, 0) / {words}, 4) as mean_word_len, "
        f"round(({hashes} + {ellipses}) / {words}, 4) as symbol_word_ratio, "
        f"round({alpha} / {words}, 4) as alpha_word_frac from {table}) "
        f"select *, (word_count between {min_words} and {MAX_WORDS}) "
        f"and (mean_word_len between {MIN_MEAN_WORD_LEN} and {MAX_MEAN_WORD_LEN}) "
        f"and (symbol_word_ratio < {MAX_SYMBOL_WORD_RATIO}) "
        f"and (alpha_word_frac >= {MIN_ALPHA_WORD_FRAC}) as keep from stats"
    )


# ------------------------------------------------------------- C4 filters
# terminal punctuation per C4 §2.2 (period, !, ?, closing quote)
_TERMINAL_RE = "[.!?\"”']$"


def c4_line_filters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_words: int = 3,
    min_kept_lines: int = 1,
) -> DataFrame:
    """C4-style cleanup (Raffel et al. 2020 §2.2), line-granular: keep only
    lines that end in terminal punctuation, have >= min_line_words words, and
    don't mention javascript; drop the whole document when it contains
    'lorem ipsum' or a curly brace, or when fewer than min_kept_lines lines
    survive. Returns per-doc kept-line count, the cleaned text, and `keep`.
    Pure map-side array expressions — no shuffle, no Python."""
    text = F.col(text_col)
    lines = F.split(text, "\n")
    kept = F.filter(
        lines,
        lambda l: F.trim(l).rlike(_TERMINAL_RE)
        & (F.size(F.split(F.trim(l), r"\s+")) >= min_line_words)
        & ~F.lower(l).contains("javascript"),
    )
    return df.select(
        id_col,
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, "\n").alias("clean_text"),
        (
            (F.size(kept) >= min_kept_lines)
            & ~F.lower(text).contains("lorem ipsum")
            & ~text.contains("{")
        ).alias("keep"),
    )


def c4_line_filters_sql(
    rel: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_words: int = 3,
    min_kept_lines: int = 1,
) -> str:
    terminal = _TERMINAL_RE.replace("'", "''")
    lines = f"string_split({text_col}, chr(10))"
    kept = (
        f"list_filter({lines}, l -> regexp_matches(trim(l), '{terminal}') "
        f"and len(regexp_split_to_array(trim(l), '\\s+')) >= {min_line_words} "
        f"and not contains(lower(l), 'javascript'))"
    )
    return (
        f"select {id_col}, cast(len({lines}) as bigint) as n_lines, "
        f"cast(len({kept}) as bigint) as n_kept, "
        # coalesce: DuckDB array_to_string([]) is NULL, Spark array_join is ''
        f"coalesce(array_to_string({kept}, chr(10)), '') as clean_text, "
        f"(len({kept}) >= {min_kept_lines}) "
        f"and not contains(lower({text_col}), 'lorem ipsum') "
        f"and not contains({text_col}, '{{') as keep "
        f"from {rel}"
    )
