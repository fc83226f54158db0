"""Dedup a crawl snapshot against the base corpus (SURVEY R78 as a
job): both tiers of `incremental_dedup` — exact fingerprint AND
MinHash band near-dup — joining the precomputed key tables from
`jobs/run_base_keys.py`. The base corpus itself is never read.

    spark-submit jobs/run_snapshot_dedup.py \
        --input /data/snapshot --keys /data/corpus_v3_keys \
        --output /data/snapshot_novel [--mode annotate]

``--mode filter`` (default) writes only the novel docs (the rows a
corpus-append job would ingest); ``--mode annotate`` writes every
snapshot row with its ``drop_stage`` (exact / near / NULL) for
inspection. The per-stage census is printed either way.

This job gives the per-stage census / annotate view; the quality jobs
apply the same tiers in-line (``--recrawl-keys`` = exact,
``--recrawl-near`` adds the band tier, batch AND streaming since r7)
when you want drop-and-ingest in one pass without the census
artifact. A monthly pipeline composes them: snapshot → THIS job with
``--update-keys`` (both tiers, then the novel docs' keys folded into
the keys dir at delta cost — the full-corpus recompute of the old
"run_base_keys over the grown corpus" step is gone; VERDICT r6
missing #1) → run_quality over the novel remainder.

``--update-keys`` also makes exact recrawl detection SCRUB-INVARIANT
(ADVICE r6): keys are maintained from the snapshot's RAW extracted
text — the same representation future snapshots are fingerprinted in
— whereas recomputing keys from the curated corpus would fingerprint
post-scrub text and silently never match a recrawl of any doc the PII
scrubber modified.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="snapshot corpus (parquet dir)")
    ap.add_argument("--keys", required=True,
                    help="jobs/run_base_keys.py output dir")
    ap.add_argument("--output", required=True)
    ap.add_argument("--mode", choices=["filter", "annotate"],
                    default="filter")
    ap.add_argument("--id-col", default="url")
    ap.add_argument("--text-col", default=None,
                    help="defaults to the column the keys were "
                         "computed over (keys_meta.json)")
    ap.add_argument("--shingle-len", type=int, default=None,
                    help="near-tier params default to the values "
                         "recorded in the keys dir; an explicit "
                         "mismatch refuses loudly (signatures over "
                         "different shingles silently match nothing)")
    ap.add_argument("--stride", type=int, default=None)
    ap.add_argument("--bands", type=int, default=None)
    ap.add_argument("--update-keys", action="store_true",
                    help="after the dedup, fold the NOVEL docs' keys "
                         "into the --keys dir (delta append; next "
                         "month's snapshot deduplicates against "
                         "base + this snapshot without a full-corpus "
                         "key recompute)")
    args = ap.parse_args()

    from pii_spark.spark.incr_dedup import keys_geometry

    given = {"shingle_len": args.shingle_len, "stride": args.stride,
             "bands": args.bands}
    if (Path(args.keys) / "keys_meta.json").exists() or (
            None in given.values()):
        try:
            geo = keys_geometry(
                args.keys, "the signature parameters were not all given "
                "explicitly; re-run jobs/run_base_keys.py (it records "
                "them) or pass --shingle-len --stride --bands",
                **given,
            )
        except (FileNotFoundError, ValueError) as e:
            raise SystemExit(str(e)) from None
    else:
        # escape hatch for hand-built key dirs: every parameter must
        # be spelled explicitly — no silent defaults against unknown
        # signature geometry
        geo = {**given, "text_col": "text"}
    text_col = args.text_col or geo["text_col"]

    from pyspark.sql import functions as F

    from pii_spark.spark.incr_dedup import incremental_dedup
    from pii_spark.spark.session import get_spark

    spark = get_spark(app="pii_snapshot_dedup")
    try:
        keys = Path(args.keys)
        snap = spark.read.parquet(args.input)
        # the tier-2 join-back keys on id — NULL/duplicate ids would
        # silently mis-attribute stages (same loud validation as
        # run_dedup.py)
        idc = args.id_col
        n_null = snap.filter(F.col(idc).isNull()).count()
        if n_null:
            raise SystemExit(
                f"{n_null} rows have NULL {idc}; assign ids first"
            )
        n_dup = snap.groupBy(idc).count().filter("count > 1").count()
        if n_dup:
            raise SystemExit(
                f"{n_dup} {idc} values are duplicated; ids must be "
                "unique for stage attribution"
            )
        out = incremental_dedup(
            None,
            snap,
            id_col=idc,
            text_col=text_col,
            shingle_len=geo["shingle_len"],
            stride=geo["stride"],
            bands=geo["bands"],
            hashed=True,
            base_fp=spark.read.parquet(str(keys / "fp.parquet")),
            base_sig=spark.read.parquet(str(keys / "sig.parquet")),
        ).persist()  # two actions below (census + write) — one dedup
        # execution, the run_dedup.py persist-per-stage pattern
        # (review r6b: unpersisted, the whole shingle/join plan ran
        # twice)
        try:
            census = {
                (r.drop_stage or "kept"): r.n
                for r in out.groupBy("drop_stage")
                .agg(F.count("*").alias("n")).collect()
            }
            if args.mode == "filter":
                out.filter(F.col("drop_stage").isNull()).drop(
                    "drop_stage"
                ).write.mode("overwrite").parquet(args.output)
            else:
                out.write.mode("overwrite").parquet(args.output)
            if args.update_keys:
                from pii_spark.spark.incr_dedup import append_key_delta

                # novel docs re-read from the just-written output (its
                # lineage already executed; keys over RAW pre-scrub
                # text — the representation recrawls arrive in)
                novel = spark.read.parquet(args.output)
                if args.mode == "annotate":
                    novel = novel.filter(
                        F.col("drop_stage").isNull()
                    ).drop("drop_stage")
                n_fp, n_sig = append_key_delta(
                    spark, novel, args.keys, id_col=idc
                )
                print(f"keys updated: +{n_fp} fingerprints, "
                      f"+{n_sig} band signatures in {args.keys}")
        finally:
            out.unpersist()
        print(f"snapshot dedup census: {census} -> {args.output}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
