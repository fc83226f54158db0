"""spark-submit entry point for icelite table maintenance.

    spark-submit --py-files dist/pii_spark.zip \\
        jobs/run_maintenance.py --table /path/to/table \\
        [--compact] [--expire-keep-last N] [--gc-grace-s 3600] \\
        [--forget-urls urls.txt --audit /path/to/audit]

Operations run in the stated order (compact → expire → gc → forget →
route → blocklist → stopwords → report) and each is independently
optional — the composition a
scheduled maintenance job runs nightly: rewrite small files, drop
history beyond retention, sweep crashed writers' debris, process any
queued right-to-be-forgotten requests, and (``--route-buckets``)
derive the CCNet head/middle/tail routing table from the committed
corpus' classifier scores — global per-stratum quantile cuts, which
is why routing lives HERE and not inside the group-committed quality
job (per-group cuts would make bucket boundaries crash-timing-
dependent).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True)
    ap.add_argument("--compact", action="store_true")
    ap.add_argument("--compact-partitions", type=int, default=1)
    ap.add_argument("--expire-keep-last", type=int, default=None)
    ap.add_argument("--gc-grace-s", type=float, default=None)
    ap.add_argument("--forget-urls", default=None,
                    help="file with one url per line to erase")
    ap.add_argument("--audit", default=None,
                    help="audit table dir (required with --forget-urls)")
    ap.add_argument("--route-buckets", type=int, default=None,
                    help="CCNet-style routing over the WHOLE committed "
                         "table: per-stratum equal-size buckets on "
                         "--route-score-col, written as a (url, "
                         "stratum, score, ccnet_bucket) routing table "
                         "to --route-output. Run AFTER ingest so the "
                         "cuts are global quantiles — inside the "
                         "group-committed job they would be per-group")
    ap.add_argument("--route-output", default=None)
    ap.add_argument("--route-score-col", default="clf_score",
                    help="the quality job's --classifier-model column "
                         "by default; ppl for raw CCNet perplexity "
                         "routing")
    ap.add_argument("--route-stratum-col", default="lang_pred")
    ap.add_argument("--route-desc", action="store_true",
                    help="rank DESCENDING so head = highest score. "
                         "CCNet ranks perplexity ascending (low ppl = "
                         "head); classifier scores are high = good, so "
                         "routing on clf_score without this flag puts "
                         "the best docs in 'tail'")
    ap.add_argument("--derive-blocklist", default=None,
                    help="derive a domain blocklist from the committed "
                         "table's quality signals (C4/RefinedWeb-style "
                         "URL-filter curation) and write it here as a "
                         "(domain, n_docs, keep_rate, mean_score, "
                         "reason) parquet — feed it back to "
                         "run_quality.py --domain-blocklist")
    ap.add_argument("--blocklist-min-docs", type=int, default=3,
                    help="judge only domains with at least this many "
                         "docs (small-sample domains are noise)")
    ap.add_argument("--blocklist-max-keep-rate", type=float, default=None,
                    help="flag domains whose keep rate is BELOW this")
    ap.add_argument("--blocklist-max-score", type=float, default=None,
                    help="flag domains whose mean clf_score is BELOW "
                         "this (needs a --classifier-model'd table)")
    ap.add_argument("--derive-stopwords", default=None,
                    help="derive per-language stopword lists from the "
                         "committed table's kept docs (document-"
                         "frequency census) and write them here as a "
                         "(lang, word, df_count, n_docs, doc_frac) "
                         "parquet — feed back to run_classifier.py "
                         "--stopwords so the weak teacher works for "
                         "non-English strata")
    ap.add_argument("--stopword-min-frac", type=float, default=0.4,
                    help="a stopword appears in at least this fraction "
                         "of a language's documents")
    ap.add_argument("--report", default=None,
                    help="write a JSON corpus datasheet to this path: "
                         "rule-family rates (the one-scan "
                         "quality_report), keep rate, language mix, "
                         "score quantiles, top domains, snapshot "
                         "metadata — the stats a curated corpus "
                         "publishes with every snapshot")
    ap.add_argument("--report-top-domains", type=int, default=20,
                    help="how many highest-volume domains the "
                         "datasheet lists")
    ap.add_argument("--stopword-lang-col", default="lang_pred",
                    help="stratum column (the pipeline's language "
                         "prediction by default)")
    args = ap.parse_args()

    from pii_spark.icelite.catalog import IceliteTable
    from pii_spark.spark.session import get_spark

    spark = get_spark(app="pii_maintenance")
    try:
        t = IceliteTable(args.table)
        if args.compact:
            snap = t.compact(spark, target_partitions=args.compact_partitions)
            print(f"compacted -> v{snap.version} "
                  f"({t.data_file_count()} data files)")
        if args.expire_keep_last is not None:
            removed = t.expire_snapshots(keep_last=args.expire_keep_last)
            print(f"expired: reclaimed {len(removed)} data dirs")
        if args.gc_grace_s is not None:
            removed = t.gc_orphans(grace_s=args.gc_grace_s)
            print(f"gc: reclaimed {len(removed)} orphan dirs")
        if args.forget_urls:
            if not args.audit:
                ap.error("--forget-urls requires --audit")
            from pii_spark.spark.jobs import run_forget_job

            urls = [
                ln.strip()
                for ln in Path(args.forget_urls).read_text().splitlines()
                if ln.strip()
            ]
            n = run_forget_job(spark, args.table, args.audit, urls,
                               expire_now=True)
            print(f"forgot {n} rows for {len(urls)} urls")
        if args.route_buckets:
            if not args.route_output:
                ap.error("--route-buckets requires --route-output")
            from pyspark.sql import functions as F

            from pii_spark.spark.sampling import ccnet_buckets

            df = t.read(spark)
            if "keep" in df.columns:
                # quantiles over the USABLE corpus only (review r7):
                # known-dropped junk in the cut skews every bucket
                # boundary with the junk fraction, and dropped urls
                # have no business in a routing table a trainer reads
                df = df.filter(F.col("keep"))
            score = args.route_score_col
            if args.route_desc:
                # negate for the cut (membership is exact on
                # (score, id), so negation flips bucket order); the
                # emitted column stays the original score
                df = df.withColumn("__rank_score",
                                   -F.col(score).cast("double"))
                score = "__rank_score"
            routed = ccnet_buckets(
                df, score,
                stratum_col=args.route_stratum_col,
                id_col="url", n_buckets=args.route_buckets,
            ).select("url", args.route_stratum_col,
                     args.route_score_col, "ccnet_bucket")
            routed.write.mode("overwrite").parquet(args.route_output)
            census = {
                f"{r[args.route_stratum_col]}/{r.ccnet_bucket}": r.n
                for r in spark.read.parquet(args.route_output)
                .groupBy(args.route_stratum_col, "ccnet_bucket")
                .agg(F.count("*").alias("n")).collect()
            }
            print(f"routed {sum(census.values())} docs: {census} "
                  f"-> {args.route_output}")
        if args.derive_blocklist:
            if (args.blocklist_max_keep_rate is None
                    and args.blocklist_max_score is None):
                ap.error("--derive-blocklist needs at least one of "
                         "--blocklist-max-keep-rate / "
                         "--blocklist-max-score")
            from pyspark.sql import functions as F

            from pii_spark.spark.jobs import url_domain

            df = t.read(spark)
            aggs = [
                F.count("*").alias("n_docs"),
                F.avg(F.col("keep").cast("double")).alias("keep_rate"),
            ]
            has_score = "clf_score" in df.columns
            if args.blocklist_max_score is not None and not has_score:
                raise SystemExit(
                    "--blocklist-max-score needs a clf_score column — "
                    "run the quality job with --classifier-model"
                )
            aggs.append(
                (F.avg("clf_score") if has_score
                 else F.lit(None).cast("double")).alias("mean_score")
            )
            dom = (
                df.withColumn("domain", url_domain(F.col("url")))
                .groupBy("domain").agg(*aggs)
                .filter(F.col("n_docs") >= args.blocklist_min_docs)
            )
            crit = F.lit(False)
            reason = F.lit(None).cast("string")
            if args.blocklist_max_score is not None:
                c = F.col("mean_score") < args.blocklist_max_score
                crit = crit | c
                reason = F.when(c, "low_score").otherwise(reason)
            if args.blocklist_max_keep_rate is not None:
                c = F.col("keep_rate") < args.blocklist_max_keep_rate
                crit = crit | c
                reason = F.when(c, "low_keep_rate").otherwise(reason)
            flagged = dom.filter(crit).withColumn("reason", reason)
            flagged.write.mode("overwrite").parquet(
                args.derive_blocklist
            )
            n = spark.read.parquet(args.derive_blocklist).count()
            print(f"blocklist: {n} domains -> {args.derive_blocklist}")
        if args.derive_stopwords:
            from pyspark.sql import functions as F

            from pii_spark.quality.stopwords import derive_stopwords

            df = t.read(spark)
            if "keep" in df.columns:
                # teach from the usable corpus only, like --route-
                # buckets: dropped junk would vote words into the lists
                df = df.filter(F.col("keep"))
            text_col = ("scrubbed_text" if "scrubbed_text" in df.columns
                        else "text")
            sw = derive_stopwords(
                df, args.stopword_min_frac,
                text_col=text_col, lang_col=args.stopword_lang_col,
            )
            sw.write.mode("overwrite").parquet(args.derive_stopwords)
            census = {
                r.lang: r.n
                for r in spark.read.parquet(args.derive_stopwords)
                .groupBy("lang").agg(F.count("*").alias("n")).collect()
            }
            print(f"stopwords: {census} -> {args.derive_stopwords}")
        if args.report:
            import json as _json
            import time as _time

            from pyspark.sql import functions as F

            from pii_spark.spark.jobs import url_domain
            from pii_spark.spark.quality_report import quality_report

            # up to six driver actions read this frame (count, keep
            # rate, the quality row, lang census, quantiles, top
            # domains) — persist once so the table is scanned from
            # disk once, not per action (review r8b)
            base = t.read(spark).persist()
            df = base
            snap = t.snapshot()
            rep = {
                "table": str(Path(args.table).resolve()),
                "snapshot_version": snap.version,
                "snapshot_summary": dict(snap.summary or {}),
                "n_rows": int(df.count()),
                "generated_unix": int(_time.time()),
            }
            if "keep" in df.columns:
                kr = df.agg(
                    F.avg(F.col("keep").cast("double"))
                ).collect()[0][0]
                rep["keep_rate"] = round(float(kr or 0.0), 4)
                # distribution stats describe the USABLE corpus, like
                # --route-buckets / --derive-stopwords
                df = df.filter(F.col("keep"))
            text_col = ("scrubbed_text"
                        if "scrubbed_text" in df.columns else "text")
            rep["text_col"] = text_col
            # every driver collect below is bounded by construction:
            # one wide row, one quantile row, #langs rows, N domains
            wide = quality_report(df, text_col=text_col).collect()[0].asDict()
            rep["quality"] = {k: (None if v is None else
                                  (int(v) if isinstance(v, int)
                                   else float(v)))
                              for k, v in wide.items()}
            if "lang_pred" in df.columns:
                rep["lang_mix"] = {
                    str(r.lang_pred): int(r.n)
                    for r in df.groupBy("lang_pred")
                    .agg(F.count("*").alias("n")).collect()
                }
            if "clf_score" in df.columns:
                q = df.agg(F.expr(
                    "percentile(clf_score, array(0.1, 0.5, 0.9))"
                ).alias("q")).collect()[0].q
                rep["clf_score_p10_p50_p90"] = (
                    [round(float(x), 4) for x in q]
                    if q is not None else None
                )
            top = (
                df.withColumn("__dom", url_domain(F.col("url")))
                .groupBy("__dom").agg(F.count("*").alias("n"))
                .orderBy(F.col("n").desc(), "__dom")
                .limit(args.report_top_domains).collect()
            )
            rep["top_domains"] = [
                {"domain": r["__dom"], "n": int(r["n"])} for r in top
            ]
            base.unpersist()
            Path(args.report).write_text(
                _json.dumps(rep, indent=1, default=str)
            )
            print(f"report: {rep['n_rows']} rows -> {args.report}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
