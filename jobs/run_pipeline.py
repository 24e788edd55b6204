"""Production entry point: spark-submit job for the quality-filter pipeline.

Ships as:
    zip -r engine.zip ccnet_spark_spark
    spark-submit --py-files engine.zip jobs/run_pipeline.py \
        --input  <pairs table path/name> \
        --output <result table path/name> \
        --cutoffs fixtures/cutoffs.csv [--langs en,fr] [--dedup keep|nokeep] \
        [--partitions p0,p1,...]   # resumable per-partition mode

On a cluster the master/executor conf comes from spark-submit; the script
only builds the session with the engine's analysis confs (AQE, skew-join,
Arrow). With --partitions it runs the checkpoint/lineage sidecar protocol
(exactly-once per partition across restarts); otherwise one monolithic run.
"""

from __future__ import annotations

import argparse
import os
import sys

# local runs (`python jobs/run_pipeline.py`) need the repo root importable;
# under spark-submit --py-files the zip already provides the package and
# this insert is a harmless no-op
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None, stop_session: bool = True) -> int:
    """stop_session=False lets in-process callers (tests) keep their shared
    SparkSession alive; spark-submit runs use the default and stop."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--cutoffs", default=None)
    ap.add_argument("--langs", default=None, help="comma-separated selected langs")
    ap.add_argument("--dedup", default="keep", choices=["keep", "nokeep"])
    ap.add_argument("--min-len", type=int, default=300)
    ap.add_argument("--hash", dest="hash_algo", default="sha2", choices=["sha2", "xxhash64"])
    ap.add_argument("--lid-model", default=None)
    ap.add_argument("--lm-dir", default=None)
    ap.add_argument("--lm-artifact", default=None, help="score perplexity with a TRAINED bigram-LM artifact (jobs/run_train.py --mode lm output dir) instead of the stub/real KenLM")
    ap.add_argument("--lid-artifact", default=None, help="identify language with a TRAINED char-trigram NB artifact (jobs/run_train.py --mode nb-lid output dir) instead of the stub/real fastText")
    ap.add_argument("--partitions", default=None, help="resumable mode: comma-separated partition ids (subdirs of --input)")
    ap.add_argument("--write-payload", action="store_true", help="rewrite image bytes into the output (default: verdict/label table only)")
    ap.add_argument("--id-col", default="image_id", help="key column (e.g. doc_id for document tables)")
    ap.add_argument("--text-col", default="caption", help="text column (e.g. text for document tables)")
    ap.add_argument("--lang-col", default=None, help="pre-labeled corpus: take language from this input column and skip LID")
    ap.add_argument("--trim-passages", action="store_true", help="cut corpus-duplicated token passages out of the deduped text (engine addition)")
    ap.add_argument("--passage-gram-n", type=int, default=8)
    ap.add_argument("--image-gates", action="store_true", help="apply LAION-style image metadata + caption gates as the first filter (requires pair columns w/h/fmt/bytes)")
    ap.add_argument("--caption-budget", type=int, default=None, help="drop rows whose normalized caption repeats more than N times (boilerplate/stock-caption gate)")
    ap.add_argument("--model-gates", action="store_true", help="aesthetic/NSFW linear heads + caption-image alignment over the image embedding (full DataComp cascade with --image-gates and --caption-budget)")
    ap.add_argument("--model-gates-mode", default="join", choices=["join", "fused"], help="join = narrow id keep-sets semi-joined back; fused = one mapInPandas appends verdicts to the full row (zero shuffle, materializes survivors)")
    ap.add_argument("--align-tau", type=float, default=0.1, help="caption-image alignment cosine threshold")
    ap.add_argument("--scrub-payload-metadata", action="store_true", help="strip image-payload header metadata (EXIF-analog PII) before any retention decision; pixels bit-identical (requires pair columns bytes/fmt)")
    ap.add_argument("--quarantine", action="store_true", help="stage-0 payload quarantine: drop rows whose payload fails header/metadata validation instead of letting a corrupt byte stream fail the job (requires pair columns bytes/fmt/w/h)")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from ccnet_spark_spark.operators.bucket import load_cutoffs_dict
    from ccnet_spark_spark.plans.pipeline import ALL_STEPS, Config, Pipeline
    from ccnet_spark_spark.session import get_spark
    from ccnet_spark_spark.sources import tables

    spark = get_spark(app_name="ccnet_spark_pipeline")
    cfg = Config(
        min_len=args.min_len,
        dedup_variant=args.dedup,
        hash_algo=args.hash_algo,
        lid_model_path=args.lid_model,
        lm_dir=args.lm_dir,
        lm_artifact=args.lm_artifact,
        lid_artifact=args.lid_artifact,
        selected_langs=args.langs.split(",") if args.langs else None,
        cutoffs=load_cutoffs_dict(args.cutoffs) if args.cutoffs else None,
        lang_col=args.lang_col,
        passage_trim=args.trim_passages,
        passage_gram_n=args.passage_gram_n,
        image_gates=args.image_gates,
        caption_budget=args.caption_budget,
        model_gates=args.model_gates,
        model_gates_mode=args.model_gates_mode,
        align_tau=args.align_tau,
        payload_scrub=args.scrub_payload_metadata,
        quarantine=args.quarantine,
        steps=[st for st in ALL_STEPS if st != "lid"] if args.lang_col else list(ALL_STEPS),
    )
    pipe = Pipeline(spark, cfg)

    def run_one(df):
        return pipe.run(df, id_col=args.id_col, text_col=args.text_col)

    def finalize(df):
        out = df if args.write_payload or "bytes" not in df.columns else df.drop("bytes")
        return out.withColumn("lang", F.coalesce("lang", F.lit("__null__")))

    if args.partitions:
        parts = {
            pid: spark.read.parquet(f"{args.input}/{pid}") for pid in args.partitions.split(",")
        }
        done = tables.run_resumable(spark, parts, args.output, lambda df: finalize(run_one(df)))
        print(f"processed partitions: {done}")
    else:
        result = finalize(run_one(spark.read.parquet(args.input)))
        tables.write_result(result, args.output)
        kept = spark.read.parquet(args.output).where(F.col("keep")).count()
        print(f"wrote {args.output}; kept={kept}")
    if stop_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
