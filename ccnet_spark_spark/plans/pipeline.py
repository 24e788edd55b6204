"""The end-to-end quality-filter pipeline.

Step list mirrors the reference's 9-step enum
(/root/reference/pipe_line.py:37-59: real_len -> hash -> dedup -> regroup ->
lid -> sp -> lm -> pp_bucket -> drop), re-planned Spark-first:

- every input row survives to the output with an auditable (keep,
  drop_reason) verdict instead of silently vanishing,
- the explode/dedup sub-plan is NARROW (image bytes never explode/shuffle;
  one join-back by image_id at the end — on Iceberg, a storage-partitioned
  join when the table is bucketed by image_id),
- model stages are Arrow pandas UDFs behind a salted repartition on
  (lang, salt) to spread language skew,
- bucketing is a broadcast join against the cutoff table,
- scrub is a codegen'd regexp_replace chain.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scrub import scrub_expr
from ..operators import bucket as bucket_op
from ..operators import dedup, lid, perplexity, tokenize, verdict
from ..operators.length import DEFAULT_MIN_LEN
from ..session import materialize

# Step names (superset of the reference enum; scrub/verdict are north_rule
# additions).
ALL_STEPS = ["real_len", "dedup", "lid", "sp", "lm", "pp_bucket", "scrub", "verdict", "drop"]

# columns the pipeline appends (RESULT_SCHEMA minus the input columns)
ENGINE_COLUMNS = [
    "original_length",
    "original_nlines",
    "length",
    "nlines",
    "dedup_caption",
    "line_ids_kept",
    "lang",
    "score",
    "tokenized",
    "perplexity",
    "bucket",
    "scrubbed_caption",
    "keep",
    "drop_reason",
]


@dataclass
class Config:
    min_len: int = DEFAULT_MIN_LEN
    dedup_variant: str = "keep"  # "keep" | "nokeep" (reference H5/H6)
    dedup_scope: str = "global"  # "global" (reference) | "document"
    hash_algo: str = "sha2"  # "sha2" (oracle-reproducible) | "xxhash64" (fast path)
    # fastText LID weights; None (or missing) -> stub LID. Both refuse
    # below models.LID_THRESHOLD, the reference's 0.5.
    lid_model_path: str | None = None
    # when 'lid' is NOT in steps, take language labels from this input
    # column instead (pre-labeled corpora / externally-run LID) — the
    # tokenize/LM/bucket stages need a lang either way
    lang_col: str | None = None
    lm_dir: str | None = None
    # engine addition: score perplexity with a TRAINED bigram-LM artifact
    # (jobs/run_train.py --mode lm output dir) instead of the stub/real
    # KenLM — the fully self-contained path with no external weights.
    # Rows the LID refused (lang NULL) get NULL perplexity -> bucket
    # 'all', same as the stub path.
    lm_artifact: str | None = None
    # engine addition: identify language with a TRAINED char-trigram NB
    # artifact (jobs/run_train.py --mode nb-lid output dir) instead of the
    # stub/real fastText — lang becomes pure broadcast joins (zero Python
    # in the LID stage). NB argmaxes over the trained languages for every
    # non-NULL caption (fastText behavior; the stub's refusal threshold
    # does not apply), so `score` is NULL on this path; NULL captions keep
    # NULL lang -> bucket 'all' as before.
    lid_artifact: str | None = None
    selected_langs: list[str] | None = None
    # None -> fixtures/cutoffs.csv (bucket.load_cutoffs_dict reads any other file)
    cutoffs: dict[str, tuple[float, float]] | None = None
    observe: bool = False  # attach an Observation with run metrics (rows/kept/chars)
    # engine addition (off by default — not a reference step): after line
    # dedup, cut corpus-duplicated token passages out of dedup_caption
    # (operators/passages.py). Trimmed text is a space-joined token stream
    # (newline structure is not preserved); `length` is recomputed, nlines
    # keeps the pre-trim line count.
    passage_trim: bool = False
    passage_gram_n: int = 8
    # engine addition (off by default): LAION/DataComp image+caption
    # metadata gates (operators/image_quality.py, ImageGateConfig
    # defaults) as the FIRST filter — a pure scan predicate (no join, no
    # Python) that cuts every downstream stage. Requires the pair columns
    # (w, h, fmt, bytes).
    image_gates: bool = False
    # engine addition (off by default): image-side PII scrub FIRST — strip
    # payload header comments (the PPM carrier for EXIF-ish creator/GPS
    # tags) before any retention decision, so everything downstream —
    # gates, dedup, sinks — sees clean payloads. One Arrow crossing of the
    # full row (multimodal.scrub_metadata_passthrough); pixels are
    # bit-identical by construction. Requires the pair columns (bytes, fmt).
    payload_scrub: bool = False
    # engine addition (off by default): payload QUARANTINE as stage 0 —
    # drop rows whose payload fails header/metadata validation
    # (multimodal.classify_payload) BEFORE anything parses them: the
    # metadata scrub and every decode stage raise on corrupt bytes, and
    # one truncated fetch in 10^12 ingested rows must not kill the job.
    # One full-row Arrow crossing, headers only (raster never decoded).
    # Requires the pair columns (bytes, fmt, w, h).
    quarantine: bool = False
    # engine additions (off by default) completing the DataComp-style
    # cost-ordered cascade AFTER the scan-predicate gates: first the
    # boilerplate-caption budget (ONE window-count shuffle over gate
    # survivors — drop captions repeated on more than `caption_budget`
    # images; NULL captions exempt), then the model gates (decode gate+
    # budget survivors ONCE -> image tower, materialized because it
    # feeds both the aesthetic/NSFW linear heads and the caption-image
    # alignment cosine). Requires the pair schema (image_id, bytes, fmt).
    caption_budget: int | None = None
    model_gates: bool = False
    # "join" = towers over narrow projections + id semi-joins (keep-sets
    # never carry payload; the join prunes bytes when the consumer does);
    # "fused" = one mapInPandas appends the verdicts to the full row —
    # zero shuffle at ANY consumer, one extra Arrow payload crossing
    # (multimodal.model_gate_passthrough; pinned equal by pytest)
    model_gates_mode: str = "join"
    align_tau: float = 0.1
    # subset of ALL_STEPS; without "drop" the intermediate `tokenized`
    # column stays in the output
    steps: list[str] = field(default_factory=lambda: list(ALL_STEPS))


class Pipeline:
    def __init__(self, spark: SparkSession, config: Config | None = None):
        self.spark = spark
        self.config = config or Config()
        steps = self.config.steps
        if "lm" in steps and "sp" not in steps and not self.config.lm_artifact:
            raise ValueError('step "lm" scores the "sp" tokens: add "sp" to steps, or set lm_artifact')

    def run(self, pairs: DataFrame, id_col: str = "image_id", text_col: str = "caption") -> DataFrame:
        """Run over any (id, text[, payload...]) table: image+caption pairs
        by default; plain document tables (the reference's native domain)
        via id_col/text_col — all other columns ride along untouched."""
        cfg = self.config
        df = pairs
        # engine-produced columns shadow same-named input columns: rename
        # collisions to src_* so e.g. a document table's own `lang` survives
        # beside the LID result
        for col in ENGINE_COLUMNS:
            if col in df.columns:
                df = df.withColumnRenamed(col, f"src_{col}")
        if cfg.quarantine:
            from ..operators.multimodal import quarantine_passthrough

            # FIRST, before the scrub: strip_metadata raises on corrupt
            # headers, so a corrupt corpus with payload_scrub on would
            # fail the stage without this gate
            df = quarantine_passthrough(df)
        if cfg.payload_scrub:
            from ..operators.multimodal import scrub_metadata_passthrough

            # scrub BEFORE any retention decision: PII must not survive in
            # rows a later stage drops into a sidecar or sink
            df = scrub_metadata_passthrough(df)
        if cfg.image_gates:
            from ..operators.image_quality import ImageGateConfig, keep_expr

            # single predicate on the source scan, ahead of every
            # downstream stage
            df = df.filter(keep_expr(ImageGateConfig(), text_col))
        if cfg.caption_budget is not None:
            from ..functions.normalize import normalize_for_dedup_expr

            # flagged-caption anti-join, NOT a window count: a window over
            # xxhash64(norm) would shuffle FULL pipeline rows — payload
            # bytes included — just to count captions. Instead aggregate
            # the 8-byte hash alone (map-side partial agg over a
            # caption-only column-pruned scan), keep only the over-budget
            # hashes — a tiny frame by construction (every flagged hash
            # accounts for > budget corpus rows) — and anti-join it back
            # as a scan-side filter (AQE broadcasts the small side at
            # runtime). NULL captions are exempt (the metadata gates own
            # them): excluded from the counts, and a NULL join condition
            # never matches, so left_anti keeps them. Counts are over the
            # current survivor set, preserving the cascade order.
            key = F.xxhash64(normalize_for_dedup_expr(F.col(text_col)))
            # materialize ONCE: df feeds several downstream branches
            # (model towers, the main chain), and without this each
            # branch would re-run the caption scan + aggregate
            # (plan-audited: 4x _cap_key exchanges before, 1 after)
            flagged = materialize(
                df.where(F.col(text_col).isNotNull())
                .groupBy(key.alias("_cap_key"))
                .agg(F.count(F.lit(1)).alias("_cap_n"))
                .where(F.col("_cap_n") > cfg.caption_budget)
                .select("_cap_key")
            )
            df = df.join(flagged, key == F.col("_cap_key"), "left_anti")
        if cfg.model_gates:
            from ..operators.model_heads import model_score_gates
            from ..operators.multimodal import (
                caption_image_alignment,
                image_embedding,
                model_gate_passthrough,
            )

            if id_col != "image_id" or text_col != "caption":
                raise ValueError(
                    "model_gates runs the multimodal towers, which require the "
                    "pair schema (image_id, bytes, fmt, caption); got "
                    f"id_col={id_col!r}, text_col={text_col!r}"
                )
            if cfg.model_gates_mode not in ("join", "fused"):
                raise ValueError(f"model_gates_mode must be join|fused, got {cfg.model_gates_mode!r}")

            if cfg.model_gates_mode == "fused":
                # zero-shuffle form: verdicts ride the row through one
                # Arrow crossing (see Config.model_gates_mode). The
                # survivors are materialized ONCE: downstream the caption
                # pipeline consumes this frame on several plan branches
                # (the line-dedup join-back), and without a checkpoint
                # every branch would re-run the decode+towers crossing —
                # measured 2.5x end-to-end at 240k rows. This is the
                # fused form's real cost at scale: it materializes
                # payload rows, where the join form checkpoints only the
                # 64-float embedding sidecar.
                df = materialize(
                    model_gate_passthrough(df, tau=cfg.align_tau)
                    .where(F.col("model_keep") & F.col("aligned"))
                    .drop("model_keep", "aligned")
                )
            else:
                # decode ONCE: the image tower feeds both heads and
                # alignment, so it is materialized (id + 64 floats per
                # survivor — tiny next to the payload; at 10^12 scale this
                # is the embedding sidecar you would persist anyway)
                emb = materialize(image_embedding(df, dim=64))
                heads_keep = model_score_gates(emb).where(F.col("model_keep")).select(id_col)
                align_keep = (
                    caption_image_alignment(df, tau=cfg.align_tau, img_emb=emb)
                    .where(F.col("aligned"))
                    .select(id_col)
                )
                df = df.join(heads_keep, id_col, "left_semi").join(align_keep, id_col, "left_semi")

        # real_len + original_* (reference P1 + regroup renames H7)
        base = (
            df.withColumn("original_length", F.length(text_col).cast("int"))
            .withColumn("original_nlines", F.size(F.split(F.col(text_col), "\n")).cast("int"))
            # coalesce: a NULL caption is "too short", not a dedup casualty
            .withColumn("too_short", F.coalesce(F.col("original_length") < cfg.min_len, F.lit(True)))
        )

        # --- narrow text plan: only (id, text) for non-short docs ---
        docs = base.filter(~F.col("too_short")).select(id_col, text_col)
        enriched = dedup.line_dedup(
            docs, id_col=id_col, text_col=text_col, variant=cfg.dedup_variant,
            hash_algo=cfg.hash_algo, scope=cfg.dedup_scope,
        )
        if cfg.passage_trim:
            from ..operators import passages as passages_op

            # `enriched` feeds BOTH trim_duplicate_passages and the left
            # side of the re-join below — without a checkpoint the whole
            # upstream subtree (line dedup, regroup) is planned and
            # executed twice (same double-execution corpus_build fixed)
            enriched = materialize(enriched)
            trimmed = passages_op.trim_duplicate_passages(
                enriched, id_col, "dedup_caption", gram_n=cfg.passage_gram_n
            )
            enriched = enriched.drop("dedup_caption").join(
                trimmed.select(id_col, F.col("trimmed_text").alias("dedup_caption")),
                on=id_col,
                how="left",
            )
            enriched = enriched.withColumn("length", F.length("dedup_caption").cast("int"))
        if "lid" in cfg.steps:
            if cfg.lid_artifact:
                from ..operators import nb_lid as nb_lid_op

                # the predict side branches off `enriched` and joins back —
                # checkpoint first or the upstream dedup subtree replays
                # per consumer (the r3 multi-branch gotcha)
                enriched = materialize(enriched)
                model = nb_lid_op.load_model(self.spark, cfg.lid_artifact)
                lang_values = sorted(r.lang for r in model["langs"].select("lang").collect())
                pred = nb_lid_op.predict_nb_lid(
                    enriched.select(id_col, "dedup_caption"),
                    model,
                    lang_values,
                    text_col="dedup_caption",
                    id_col=id_col,
                )
                enriched = enriched.join(
                    pred.select(id_col, F.col("pred_lang").alias("lang")), on=id_col, how="left"
                ).withColumn("score", F.lit(None).cast("float"))
            else:
                enriched = lid.with_lang(enriched, "dedup_caption", cfg.lid_model_path)
        elif cfg.lang_col:
            # pre-labeled corpus: join the input's language column in place
            # of LID output (same skew treatment as the LID path)
            src = f"src_{cfg.lang_col}" if f"src_{cfg.lang_col}" in df.columns else cfg.lang_col
            enriched = enriched.join(
                df.select(id_col, F.col(src).alias("lang")), on=id_col, how="left"
            )
        if "lid" in cfg.steps or cfg.lang_col:
            n_parts = self.spark.sparkContext.defaultParallelism
            enriched = lid.salted_repartition(enriched, n_parts, "lang", id_col=id_col)
        if "sp" in cfg.steps and "lm" in cfg.steps and not cfg.lm_artifact:
            # one Arrow crossing for tokenize+perplexity (see perplexity.py)
            enriched = perplexity.with_tokenized_and_perplexity(enriched, "dedup_caption", cfg.lm_dir)
        else:
            if "sp" in cfg.steps:
                enriched = tokenize.with_tokenized(enriched, "dedup_caption", cfg.lm_dir)
            if "lm" in cfg.steps:  # lm_artifact set: checked in __init__
                # trained-LM path: three broadcast joins + a DECIMAL sum
                # per doc (operators/lm.py), joined back on the id; the
                # scorer branches off `enriched` — checkpoint first or the
                # upstream subtree (incl. a pandas-UDF LID stage) replays
                from ..operators import lm as lm_op

                enriched = materialize(enriched)
                model = lm_op.load_model(self.spark, cfg.lm_artifact)
                scored = lm_op.score_bigram_pp(
                    enriched.select(id_col, "dedup_caption", "lang"),
                    model,
                    text_col="dedup_caption",
                    lang_col="lang",
                    id_col=id_col,
                )
                enriched = enriched.join(
                    scored.select(id_col, F.col("lm_pp").cast("float").alias("perplexity")),
                    on=id_col,
                    how="left",
                )
        if "drop" in cfg.steps and "sp" in cfg.steps:
            # reference DROP step (pipe_line.py:342-343)
            enriched = enriched.drop("tokenized")

        # --- join the narrow results back to the wide payload rows ---
        out = base.join(enriched, on=id_col, how="left")

        if "pp_bucket" in cfg.steps:
            cutoffs_df = bucket_op.load_cutoffs(self.spark, cfg.cutoffs)
            out = bucket_op.with_bucket(out, cutoffs_df)
        if "scrub" in cfg.steps:
            out = out.withColumn("scrubbed_caption", scrub_expr(F.coalesce(F.col("dedup_caption"), F.col(text_col))))
        if "verdict" in cfg.steps:
            out = verdict.with_verdict(out, cfg.selected_langs)
        out = out.drop("too_short")

        if cfg.observe and "verdict" in cfg.steps:
            # in-flight run metrics, collected by the SAME action that
            # materializes the result (no second pass over the data, unlike
            # a .count() per metric): rows seen, rows kept, characters kept.
            # Complements the per-partition sidecar (sources/tables.py) —
            # the sidecar is durable lineage, this is the live job counter
            # a monitoring layer scrapes after each batch.
            from pyspark.sql import Observation

            self.last_observation = Observation("pipeline_metrics")
            out = out.observe(
                self.last_observation,
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("keep").cast("long")).alias("rows_kept"),
                F.sum(
                    F.when(F.col("keep"), F.col("length").cast("long")).otherwise(F.lit(0))
                ).alias("chars_kept"),
            )
        return out
