"""Duplicate-PASSAGE detection — the dedup granularity between the line
level (reference's core: pipe_hash.py/pipe_dedup.py line-hash sets) and
the document level (exact_dedup / MinHash-LSH): find the token spans of a
document that also occur elsewhere in the corpus, so a trimmer can cut the
boilerplate instead of dropping the whole document (Lee et al. 2022
"Deduplicating Training Data Makes Language Models Better" §3 ExactSubstr;
RefinedWeb/FineWeb run the same idea at n-gram granularity).

Not a suffix array: the published exact-substring dedup builds one, which
is a single-machine construction. The Spark-scale equivalent used here is
n-gram anchored — a token n-gram occurring at more than one (doc, pos) in
the corpus marks every position it covers as duplicated, and per document
the covered positions merge into maximal token intervals (gaps-and-islands
over a window). Spans shorter than the anchor n cannot be found — that is
the documented recall bound, matching what n-gram-based production
pipelines accept.

Scale shape: explode (doc, pos, gram) -> global gram count (ONE shuffle,
map-side partial counts) -> semi-join the duplicated grams back to their
positions (gram-keyed shuffle of the duplicated sliver only) -> per-doc
window merge (doc-keyed shuffle of dup positions only). The text column
never shuffles; positions are ints. No all-pairs comparison anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ccnet_spark_spark.functions.hashing import word_shingles_expr, word_shingles_sql
from ccnet_spark_spark.functions.textstats import word_tokens_expr, word_tokens_sql


def duplicate_passage_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_n: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """(id, start_tok, end_tok, dup_tokens) — maximal merged token intervals
    covered by word n-grams that occur at >= min_occurrences positions in
    the whole corpus (including other positions of the same document, so
    within-doc boilerplate is found too). Positions are 0-based token
    indices into the whitespace-split lowercase text; end_tok is inclusive.
    """
    grams = (
        df.select(F.col(id_col), word_tokens_expr(text_col).alias("_toks"))
        .select(
            id_col,
            F.posexplode(word_shingles_expr(F.col("_toks"), n=gram_n)).alias("_pos", "_gram"),
        )
    )
    # ONE pass, ONE gram-keyed shuffle: count(*) over (partition by gram)
    # >= min_occurrences. The previous aggregate -> semi-join-back form
    # explodes the corpus TWICE and pays a second gram-keyed exchange (or
    # an unbounded broadcast of the duplicated-gram set — at 100 TB that
    # set is corpus-sized for boilerplate-heavy crawls, so the broadcast
    # form does not scale). Same window-over-join win as dedup_nokeep
    # (operators/dedup.py); exact string equality on the gram, no hashing.
    w_g = Window.partitionBy("_gram")
    dup_pos = (
        grams.withColumn("_cnt", F.count(F.lit(1)).over(w_g))
        .where(F.col("_cnt") >= min_occurrences)
        .select(id_col, "_pos")
    )
    # gaps-and-islands: each dup gram covers [pos, pos+n-1]; merge intervals
    # that overlap or touch. prev_max_end tracks the furthest coverage of
    # earlier positions; a new island starts when this gram begins past it.
    w = Window.partitionBy(id_col).orderBy("_pos")
    prev_max_end = F.max(F.col("_pos") + gram_n - 1).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dup_pos.withColumn(
        "_brk",
        F.when(F.col("_pos") > F.coalesce(prev_max_end, F.lit(-2)) + 1, 1).otherwise(0),
    ).withColumn("_island", F.sum("_brk").over(w))
    return (
        flagged.groupBy(id_col, "_island")
        .agg(
            F.min("_pos").alias("start_tok"),
            (F.max("_pos") + gram_n - 1).alias("end_tok"),
        )
        .withColumn("dup_tokens", (F.col("end_tok") - F.col("start_tok") + 1).cast("long"))
        .select(id_col, "start_tok", "end_tok", "dup_tokens")
    )


def dup_passage_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_n: int = 8,
    max_dup_frac: float = 0.5,
) -> DataFrame:
    """Per-document rollup of duplicate_passage_spans: total duplicated
    tokens, token count, duplicated fraction, and the RefinedWeb-style
    keep flag (drop documents that are mostly boilerplate). Documents with
    no duplicated span appear with zeros — the trimmer needs every doc."""
    spans = duplicate_passage_spans(df, id_col, text_col, gram_n=gram_n)
    per_doc = spans.groupBy(id_col).agg(F.sum("dup_tokens").alias("dup_tokens"))
    base = df.select(F.col(id_col), F.size(word_tokens_expr(text_col)).alias("n_tokens"))
    out = base.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
    )
    frac = F.round(F.col("dup_tokens") / F.greatest(F.col("n_tokens"), F.lit(1)), 4)
    return out.withColumn("dup_frac", frac).withColumn(
        "keep_passage", F.col("dup_frac") <= max_dup_frac
    )


def trim_duplicate_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_n: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """The trimming step the spans exist for: remove every token covered by
    a duplicated passage and stitch the remainder back together in order —
    (id, trimmed_text, kept_tokens, removed_tokens), one row per input doc
    (fully-duplicated docs come back with empty text, not dropped: the
    caller's length filter decides their fate, same division of labor as
    the line-dedup + min_len chain).

    Spans are computed on lowercased tokens but trimming keeps the ORIGINAL
    casing — whitespace token boundaries are identical, so positions line
    up. Shape: explode spans to covered positions (spans per doc are few
    and merged, so this is ~|duplicated tokens| rows), left-anti join the
    (id, pos, token) explode against them, regroup with
    sort_array(collect_list(struct)) — the regroup operator's pattern."""
    spans = duplicate_passage_spans(df, id_col, text_col, gram_n, min_occurrences)
    covered = spans.select(
        id_col, F.explode(F.sequence(F.col("start_tok"), F.col("end_tok"))).alias("_pos")
    )
    toks = df.select(
        F.col(id_col), F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("_pos", "_tok")
    )
    kept = toks.join(covered, [id_col, "_pos"], "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_pos", "_tok"))), lambda s: s["_tok"]
            ),
            " ",
        ).alias("trimmed_text"),
        F.count(F.lit(1)).alias("kept_tokens"),
    )
    base = df.select(
        F.col(id_col), F.size(F.split(F.trim(F.col(text_col)), r"\s+")).alias("_n")
    )
    kept_n = F.coalesce(F.col("kept_tokens"), F.lit(0)).cast("long")
    return base.join(agg, id_col, "left").select(
        id_col,
        F.coalesce(F.col("trimmed_text"), F.lit("")).alias("trimmed_text"),
        kept_n.alias("kept_tokens"),
        (F.col("_n") - kept_n).cast("long").alias("removed_tokens"),
    )


def duplicate_passage_spans_sql(
    rel: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_n: int = 8,
    min_occurrences: int = 2,
) -> str:
    """DuckDB twin as a WITH body; caller selects from `spans`."""
    toks = word_tokens_sql(text_col)
    return (
        f"base as (select {id_col}, {toks} as toks from {rel}), "
        f"grams as (select {id_col}, generate_subscripts(sh, 1) - 1 as pos, unnest(sh) as gram "
        f"from (select {id_col}, {word_shingles_sql('toks', gram_n)} as sh from base)), "
        f"dupg as (select gram from grams group by gram having count(*) >= {min_occurrences}), "
        f"dup as (select g.{id_col}, g.pos from grams g where exists "
        f"(select 1 from dupg d where d.gram = g.gram)), "
        f"isl as (select {id_col}, pos, case when pos > coalesce(max(pos + {gram_n} - 1) over "
        f"(partition by {id_col} order by pos rows between unbounded preceding and 1 preceding), -2) + 1 "
        f"then 1 else 0 end as brk from dup), "
        f"grp as (select {id_col}, pos, sum(brk) over (partition by {id_col} order by pos) as island from isl), "
        f"spans as (select {id_col}, cast(min(pos) as int) as start_tok, "
        f"cast(max(pos) + {gram_n} - 1 as int) as end_tok, "
        f"cast(max(pos) + {gram_n} - min(pos) as bigint) as dup_tokens "
        f"from grp group by {id_col}, island)"
    )
