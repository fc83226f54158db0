"""spark-submit entry point for the quality-filter + PII-scrub job.

    spark-submit --py-files dist/pii_spark.zip \\
        jobs/run_quality.py \\
        --input  /path/to/corpus_parquet \\
        --output /path/to/out_table \\
        --audit  /path/to/audit_table \\
        --groups 64 [--streaming --checkpoint /path/ckpt]

Batch mode uses the icelite group-commit ledger (resume on restart);
--streaming uses Structured Streaming availableNow + checkpoint instead
(file-granular exactly-once). Both produce byte-identical output.

--input-format warc points the SAME job at a crawl dump instead of a
curated parquet corpus: *.warc files, plain or gzipped (per record or
whole file, detected per file), read through one binaryFile reader
with charset-aware decode — batch over a dump, or --streaming over a
landing dir — the full ingest→filter→scrub chain as one spark-submit.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--audit", required=True)
    ap.add_argument("--groups", type=int, default=16)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--compact-every", type=int, default=None)
    ap.add_argument("--profile", choices=["default", "strict"],
                    default="default",
                    help="keep chain: default (langid/ppl/heuristics/"
                         "toxicity) or strict (adds C4 + full Gopher)")
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--input-format",
                    choices=["parquet", "warc"],
                    default="parquet",
                    help="parquet: curated corpus dir; warc: crawl "
                         "dump or --streaming landing dir of *.warc / "
                         "*.warc.gz (plain, per-record or whole-file "
                         "gzip, detected per file)")
    ap.add_argument("--recrawl-keys", default=None,
                    help="jobs/run_base_keys.py output dir: drop docs "
                         "whose content fingerprint already exists in "
                         "the base corpus before the pipeline "
                         "(incremental-snapshot exact dedup)")
    ap.add_argument("--recrawl-near", action="store_true",
                    help="also drop MinHash band-collision NEAR "
                         "recrawls in-line (the full two-tier snapshot "
                         "dedup fused into ingest; exact survivors "
                         "only pay the shingle explode; geometry from "
                         "the keys dir's recorded meta)")
    ap.add_argument("--domain-blocklist", default=None,
                    help="parquet dir with a domain column "
                         "(run_maintenance.py --derive-blocklist): "
                         "drop listed url domains before the pipeline "
                         "(C4/RefinedWeb URL-filter tier, "
                         "resume-guarded)")
    ap.add_argument("--classifier-model", default=None,
                    help="jobs/run_classifier.py model dir: score "
                         "every output row (clf_score / "
                         "clf_predict_pos over the scrubbed text) "
                         "in-line — CCNet-style classifier routing "
                         "without a second pass; model identity is "
                         "resume-guarded like --profile")
    args = ap.parse_args()

    from pii_spark.spark.session import get_spark

    spark = get_spark(app="pii_quality_job")
    try:
        if args.streaming:
            if not args.checkpoint:
                ap.error("--streaming requires --checkpoint")
            from pii_spark.spark.streaming import run_streaming_job

            table = run_streaming_job(
                spark, args.input, args.output, args.checkpoint,
                partitions=args.partitions, profile=args.profile,
                input_format=args.input_format,
                recrawl_keys=args.recrawl_keys,
                recrawl_near=args.recrawl_near,
                classifier_model=args.classifier_model,
                domain_blocklist=args.domain_blocklist,
            )
        else:
            from pii_spark.spark.jobs import run_quality_job

            # pass the PATH, not a DataFrame: file-granular groups read
            # the corpus exactly once total (no staging write)
            table = run_quality_job(
                spark, args.input, args.output, args.audit,
                groups=args.groups, run_id=args.run_id,
                partitions=args.partitions,
                compact_every=args.compact_every,
                profile=args.profile,
                input_format=args.input_format,
                recrawl_keys=args.recrawl_keys,
                recrawl_near=args.recrawl_near,
                classifier_model=args.classifier_model,
                domain_blocklist=args.domain_blocklist,
            )
        n = table.read(spark).count()
        print(f"committed snapshot v{table.current_version()} ({n} rows)")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
