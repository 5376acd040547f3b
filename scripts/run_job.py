"""spark-submit entry point for the extract+chunk pipeline.

Cluster usage (the north-rule deployment shape):

    python scripts/package.py          # builds dist/ragstudio_spark.zip
    spark-submit \
        --py-files dist/ragstudio_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        scripts/run_job.py \
        --input  <parquet dir | table> \
        --output <root dir for runs/> \
        --run-id run_2024_001 \
        [--adaptive] [--resume/--no-resume] [--langs fr,en]

Local smoke:

    python scripts/run_job.py --synthetic 5000 --output /tmp/rsout --run-id t1

On a cluster the session comes from spark-submit (no master override); the
job is a pure function of its inputs, so retry/rerun with the same --output
resumes from the last committed snapshot (lineage anti-join).
"""

from __future__ import annotations

import argparse
import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", help="parquet directory of transcript turns")
    p.add_argument("--synthetic", type=int, default=0,
                   help="generate N synthetic turns instead of --input")
    p.add_argument("--output", required=True, help="output root (runs/ inside)")
    p.add_argument("--run-id", required=True)
    # config flags default to None: only explicitly-passed values enter the
    # CLI layer of the resolution hierarchy (CLI > ENV > YAML > defaults)
    p.add_argument("--config", help="YAML config file (pipeline: section)")
    p.add_argument("--adaptive", action=argparse.BooleanOptionalAction, default=None)
    p.add_argument("--extract-tools", action=argparse.BooleanOptionalAction, default=None)
    p.add_argument("--dedupe-chunks", default=None,
                   help="false | exact | near (corpus-wide chunk dedup)")
    p.add_argument("--vector-store", default=None,
                   help="also ingest chunks into a vector store at this path")
    p.add_argument("--strategy", default=None)
    p.add_argument("--max-tokens", type=int, default=None)
    p.add_argument("--overlap", type=int, default=None)
    p.add_argument("--langs", default=None, help="comma list → language filter")
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--min-readable-ratio", type=float, default=None)
    p.add_argument("--bpe-merges", default=None,
                   help="merges.txt path → true BPE token splitting; "
                        "'none' forces the char-window fallback (default: "
                        "the shipped trained vocabulary)")
    p.add_argument("--no-guard", action="store_true",
                   help="skip the batch-ingestion guard gate (reference "
                        "security.py tier: path/symlink/size/batch caps "
                        "+ output disk-space check; limits via "
                        "RAGSTUDIO_* env vars)")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from ragstudio_spark.pipeline import guards
    from ragstudio_spark.pipeline.config import resolve_config
    from ragstudio_spark.pipeline.lineage import run_with_lineage
    from ragstudio_spark.sources import transcripts as tsrc

    guarded_files = None        # None = gate off or nothing filtered
    if not args.no_guard:
        from pathlib import Path

        sec = guards.SecurityConfig.load_from_env()
        guards.validate_disk_space(Path(args.output), sec)
        if args.input:
            files = sorted(Path(args.input).rglob("*.parquet"))
            valid, warns = guards.validate_batch_comprehensive(
                Path(args.input), files, sec)
            for w in warns:
                print(f"guard warning: {w}", file=sys.stderr)
            if len(valid) < len(files):
                # the gate must have teeth: read ONLY the validated
                # files (skip-with-warning semantics, but a skipped
                # file never enters the job — review-found)
                if not valid:
                    sys.exit("guard: no valid input files remain")
                guarded_files = [str(f) for f in valid]

    spark = SparkSession.builder.appName("ragstudio-extract-chunk").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.synthetic:
        df = tsrc.transcripts_df(spark, args.synthetic)
    elif args.input:
        # basePath keeps hive-partition columns identical between the
        # filtered (explicit leaf files) and unfiltered (directory)
        # branches — without it a skipped file would silently change
        # the dataset schema (review-found)
        df = (spark.read.option("basePath", args.input)
              .parquet(*guarded_files) if guarded_files
              else spark.read.parquet(args.input))
    else:
        p.error("one of --input / --synthetic is required")

    cli_layer = {
        k: v for k, v in {
            "strategy": args.strategy,
            "max_tokens": args.max_tokens,
            "overlap": args.overlap,
            "adaptive": args.adaptive,
            "extract_tools": args.extract_tools,
            "dedupe_chunks": args.dedupe_chunks,
            "language_filter": args.langs,
            "min_readable_ratio": args.min_readable_ratio,
            "bpe_merges_path": args.bpe_merges,
        }.items() if v is not None
    }
    cfg = resolve_config(cli=cli_layer, yaml_path=args.config)
    summary = run_with_lineage(
        spark, df, args.output, args.run_id, cfg, resume=not args.no_resume
    )
    if args.vector_store:
        if summary["failed"] > 0:
            # don't overwrite the store (and stamp a committed-looking
            # index.json) from a failing run — the exit-1 retry contract
            # would otherwise leave consumers reading partial data
            summary["vector_store"] = {"skipped": "run had failures"}
        else:
            from ragstudio_spark.operators import vectorstore
            from ragstudio_spark.pipeline.lineage import read_chunks

            chunks = read_chunks(spark, args.output)
            if chunks is not None:
                summary["vector_store"] = vectorstore.ingest_chunks(
                    chunks, args.vector_store)
    print(json.dumps(summary))
    # reference exits 1 when files failed (batch.py:629-630)
    sys.exit(0 if summary["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
