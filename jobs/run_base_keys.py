"""Precompute the base-corpus dedup keys (SURVEY R79).

Writes the two compact key relations `incremental_dedup` joins against
— distinct content fingerprints and distinct (band, min-hash) MinHash
signatures — from a curated corpus, as parquet:

    <output>/fp.parquet    one BIGINT xxhash64 fingerprint per
                           distinct normalized document text
    <output>/sig.parquet   one (band INT, mh BIGINT) row per distinct
                           band signature

This is the per-corpus-version artifact of the monthly-snapshot
workflow: compute once when a corpus version is cut, then every
subsequent snapshot job (`pii_spark.spark.incr_dedup.incremental_dedup`
with ``base_fp``/``base_sig``, or the quality jobs' ``recrawl_keys``
exact tier) joins these tables instead of rescanning the corpus.

The fingerprints here are the hashed (production, 8-byte) path; the
md5 oracle path exists only for DuckDB cross-checking at test scale.

Usage:
    spark-submit jobs/run_base_keys.py \
        --input  /data/corpus_v3   (parquet dir, needs a text column) \
        --output /data/corpus_v3_keys

``--append`` folds a NOVEL DELTA's keys into an EXISTING keys dir at
delta cost instead of recomputing from the full corpus (VERDICT r6
missing #1): ``--input`` is then the delta (e.g. the novel-docs output
of jobs/run_snapshot_dedup.py), signature geometry comes from the
dir's keys_meta.json (explicit flags must match or the job refuses),
and only the genuinely new keys are appended — key sets identical to
a full recompute over base ∪ delta, because both relations are
distinct images of per-doc functions. The monthly workflow stops
paying a full-corpus shingle explode per corpus version.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="curated corpus (parquet dir)")
    ap.add_argument("--output", required=True,
                    help="keys dir; fp.parquet + sig.parquet written "
                         "under it")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--id-col", default="url",
                    help="only used to shape the shingle group-by; any "
                         "unique column works (url for the north-rule "
                         "corpus shape, doc_id for the testdata tables)")
    ap.add_argument("--shingle-len", type=int, default=12)
    ap.add_argument("--stride", type=int, default=5)
    ap.add_argument("--bands", type=int, default=4)
    ap.add_argument("--append", action="store_true",
                    help="--input is a novel DELTA; fold its keys into "
                         "the existing keys dir at --output instead of "
                         "recomputing from a full corpus")
    args = ap.parse_args()

    from pii_spark.spark.incr_dedup import (
        append_key_delta,
        base_keys,
        keys_geometry,
    )
    from pii_spark.spark.session import get_spark

    if args.append:
        # argparse defaults equal the recorded defaults for a
        # default-built dir; append must use the dir's geometry.
        # Checked before Spark starts: a refusal needs no session.
        try:
            keys_geometry(
                args.output, "--append needs an existing keys dir; run "
                "without --append first",
                shingle_len=args.shingle_len, stride=args.stride,
                bands=args.bands,
            )
        except (FileNotFoundError, ValueError) as e:
            raise SystemExit(str(e)) from None
    spark = get_spark(app="pii_base_keys")
    try:
        corpus = spark.read.parquet(args.input)
        if args.append:
            n_fp, n_sig = append_key_delta(
                spark, corpus, args.output, id_col=args.id_col
            )
            print(f"appended {n_fp} new fingerprints, {n_sig} new "
                  f"band signatures to {args.output}")
            return
        fp, sig = base_keys(
            corpus,
            id_col=args.id_col,
            text_col=args.text_col,
            shingle_len=args.shingle_len,
            stride=args.stride,
            bands=args.bands,
            hashed=True,
        )
        out = Path(args.output)
        fp.write.mode("overwrite").parquet(str(out / "fp.parquet"))
        sig.write.mode("overwrite").parquet(str(out / "sig.parquet"))
        # record the signature parameters: a consumer hashing shingles
        # with different (len, stride, bands) would band-match nothing
        # and silently pass near-recrawls — run_snapshot_dedup refuses
        # a mismatch loudly instead (review r6b)
        import json

        (out / "keys_meta.json").write_text(json.dumps(
            {"shingle_len": args.shingle_len, "stride": args.stride,
             "bands": args.bands, "text_col": args.text_col,
             # the hash path is part of the key identity too: md5-path
             # (string) keys silently match nothing against xxhash64
             # consumers (review r7)
             "hashed": True},
            indent=1,
        ))
        n_fp = spark.read.parquet(str(out / "fp.parquet")).count()
        n_sig = spark.read.parquet(str(out / "sig.parquet")).count()
        print(f"wrote {n_fp} fingerprints, {n_sig} band signatures "
              f"to {out}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
