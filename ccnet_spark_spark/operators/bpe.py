"""On-corpus BPE tokenizer TRAINING — the offline step behind the
reference's SentencePiece model (cc_net ships per-language sp.model
artifacts it trained elsewhere; pipe_tokenized.py:24-33 only loads them).
Like the perplexity-cutoff trainer (operators/bucket.py), the engine
implements the trainer itself, Spark-shaped.

Scale shape — the corpus is touched ONCE: the only corpus-sized pass
builds the (word, freq) vocabulary (explode + groupBy, map-side partial
counts). Every BPE merge iteration then runs over the VOCAB-sized frame
(|distinct words| — thousands-to-millions of rows even at 100 TB, and
each row is a short symbol array):

- pair statistics: explode adjacent symbol pairs weighted by word freq,
  one groupBy; winners are max by (count, then lexical pair) — a
  deterministic total order, so training is reproducible across
  partitionings and engines;
- BATCHED rounds (batch_size > 1): a real tokenizer train is 30k-100k
  merges; one Spark job per merge would be 30k+ sequential driver-loop
  jobs of pure fixed overhead. Instead each round learns up to
  `batch_size` merges at once: collect the top `candidate_window`
  pairs in total order, greedily select pairs that are SYMBOL-DISJOINT
  from every pair already selected this round (no shared left/right/
  merged string). Disjointness makes the batch exact where it matters:
  merging (a,b) can neither create nor destroy adjacencies of a pair
  that shares no symbol with it, so every selected pair's recorded
  count IS its true count at application time. The one divergence from
  classic sequential BPE is that a pair involving a JUST-merged symbol
  (x, ab) cannot outrank the round's later selections — it waits one
  round. The schedule is fully deterministic and is implemented
  identically by the independent fixture oracle. batch_size=1 reduces
  exactly to classic BPE (greedy-select-1 == global argmax);
- merge application is the canonical leftmost-greedy list merge in a
  pandas UDF, the round's merges applied sequentially inside ONE pass.
  This is a deliberate exception to the JVM-only rule: the frame it
  runs over is the VOCABULARY, not the corpus (the corpus never crosses
  Python), and the equivalent single-pass JVM string replace is NOT
  standard BPE (on a run like "a a a a" one non-rescanning pass yields
  [aa, a, a] where BPE's same-pass scan yields [aa, aa]);
- the driver holds only the merge list (num_merges rows); the vocab
  frame is materialized each round so the replayed lineage stays
  flat, and the PREVIOUS round's checkpoint is unpersisted once the new
  one materializes — executor block storage holds one vocab copy, not
  num_merges copies.

Unicode note: symbol splitting uses Spark's split(word, ''), which
operates on UTF-16 code units in the JVM — a non-BMP character (emoji,
rare CJK) splits into two surrogate halves, where the pure-Python
fixture's tuple(w) splits code points. The trainer is therefore
BMP-exact only; for non-BMP corpora swap the splitter for a
codepoint-safe regex (documented here rather than paid for in the hot
path — the synthetic corpus and cc_net's targets are BMP).

The oracle is a checked-in fixture from an INDEPENDENT pure-Python BPE
(tools/make_fixtures.py — Counter over tuples, explicit merge loop with
the same batched schedule; shares nothing with this implementation).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textstats import word_tokens_expr
from ..session import local_frame, materialize, release_local_checkpoint


def build_word_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the lowercased whitespace-split corpus — the one
    corpus-sized pass. Empty tokens (from empty docs) are dropped."""
    return (
        df.select(F.explode(word_tokens_expr(text_col)).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _make_merge_udf(batch: list[tuple[str, str]]):
    """One vocab pass applying the round's merges sequentially, each with
    the canonical leftmost-rescan list merge."""

    @F.pandas_udf("array<string>")
    def merge_udf(sym: pd.Series) -> pd.Series:
        out = []
        for s in sym:
            s = list(s)
            for left, right in batch:
                merged = left + right
                res, i, n = [], 0, len(s)
                while i < n:
                    if i + 1 < n and s[i] == left and s[i + 1] == right:
                        res.append(merged)
                        i += 2
                    else:
                        res.append(s[i])
                        i += 1
                s = res
            out.append(s)
        return pd.Series(out)

    return merge_udf


def select_disjoint(
    candidates: list[tuple[str, str, int]], batch_size: int
) -> list[tuple[str, str, int]]:
    """Greedy symbol-disjoint selection over candidates ALREADY in the
    total order (cnt desc, left asc, right asc). A candidate is selected
    iff none of {left, right, left+right} collides with any selected
    pair's {left, right, merged}. Shared verbatim (same rule, independent
    code) with the fixture oracle in tools/make_fixtures.py."""
    selected: list[tuple[str, str, int]] = []
    used: set[str] = set()
    for left, right, cnt in candidates:
        if len(selected) >= batch_size:
            break
        if left in used or right in used or (left + right) in used:
            continue
        selected.append((left, right, cnt))
        used.update((left, right, left + right))
    return selected


def train_bpe(
    spark: SparkSession,
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 20,
    batch_size: int = 1,
    candidate_window: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (merges, vocab):
    merges — (rank int, left string, right string, merged string,
    pair_count long), the learned merge table in application order;
    vocab — (word, symbols string [space-joined], freq) after ALL merges,
    i.e. the trained tokenizer applied to its own vocabulary — trainer and
    encoder checked in one artifact.

    batch_size: merges learned per Spark round (see module docstring);
    1 = classic sequential BPE. candidate_window: how deep into the
    sorted pair list the greedy disjoint selection may scan (part of the
    deterministic schedule, mirrored by the fixture); default
    max(64, 8 * batch_size)."""
    if candidate_window is None:
        candidate_window = max(64, 8 * batch_size)
    vocab = materialize(
        build_word_vocab(df, text_col).withColumn("sym", F.expr("filter(split(word, ''), x -> x != '')"))
    )
    merges: list[tuple[int, str, str, str, int]] = []
    while len(merges) < num_merges:
        pairs = (
            vocab.where(F.size("sym") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(slice(sym, 1, size(sym) - 1), (x, i) -> struct(x as l, sym[i + 1] as r))"
                    )
                ).alias("_p"),
            )
            .groupBy(F.col("_p.l").alias("left"), F.col("_p.r").alias("right"))
            .agg(F.sum("freq").alias("cnt"))
        )
        # TakeOrdered collect of the candidate window — no full sort
        top = (
            pairs.orderBy(F.col("cnt").desc(), F.col("left").asc(), F.col("right").asc())
            .limit(candidate_window)
            .collect()
        )
        if not top:
            break
        batch = select_disjoint(
            [(r["left"], r["right"], int(r["cnt"])) for r in top],
            min(batch_size, num_merges - len(merges)),
        )
        for left, right, cnt in batch:
            merges.append((len(merges), left, right, left + right, cnt))
        prev = vocab
        vocab = materialize(
            vocab.withColumn("sym", _make_merge_udf([(l, r) for l, r, _ in batch])(F.col("sym")))
        )
        # the new checkpoint is computed (materialize is eager); free the
        # previous round's blocks so executor storage holds ONE vocab copy,
        # not one per round (the last round's belongs to the caller's scope)
        release_local_checkpoint(prev)
    merges_df = local_frame(
        spark, merges, "rank int, left string, right string, merged string, pair_count long"
    )
    vocab_df = vocab.select("word", F.array_join(F.col("sym"), " ").alias("symbols"), "freq")
    return merges_df, vocab_df
