"""Train / apply the NB quality classifier (SURVEY R80) as a job.

    # train: weak-label the corpus, one-pass census, persist the model
    spark-submit jobs/run_classifier.py train \
        --input /data/corpus --model /data/quality_model

    # score: per-doc quality score + prediction over any corpus
    spark-submit jobs/run_classifier.py score \
        --input /data/snapshot --model /data/quality_model \
        --output /data/snapshot_scores

The model dir holds ``census.parquet`` (feature, n_pos, n_neg — the
integer sufficient statistics; ≤ --dim rows however large the training
corpus) and ``meta.json`` (dim, hash path, label census). Scoring
recomputes the smoothed log-likelihood ratios from the census at
read time into one dense weight vector, so the persisted artifact is
exact integers, re-trainable by union-ing censuses from corpus deltas
(NB statistics are additive; retraining on grown corpora is a merge,
not a rescan). Score mode writes one row per input row — (id,
n_tokens, score, predict_pos), duplicate ids scored each on its own
text."""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("mode", choices=["train", "score"])
    ap.add_argument("--input", required=True, help="parquet corpus dir")
    ap.add_argument("--model", required=True, help="model dir")
    ap.add_argument("--output", default=None,
                    help="scores parquet dir (score mode)")
    ap.add_argument("--text-col", default=None,
                    help="train: tokenized column (default text); "
                         "score: defaults to the column the model was "
                         "trained on (meta.json) — override only to "
                         "score a differently-named column")
    ap.add_argument("--id-col", default="url",
                    help="doc identity column for per-doc scores")
    ap.add_argument("--dim", type=int, default=2 ** 18)
    ap.add_argument("--stopwords", default=None,
                    help="train: a run_maintenance.py --derive-stopwords "
                         "parquet dir — weak labels use the derived "
                         "per-language lists (union) instead of the "
                         "built-in English 10; the lists' identity and "
                         "words are recorded in meta.json, so the "
                         "model identity (and every downstream resume "
                         "guard) changes with the teacher")
    args = ap.parse_args()
    if args.mode == "score" and not args.output:
        ap.error("score mode requires --output")

    from pyspark.sql import functions as F

    from pii_spark.quality.classifier import (
        score_quality_nb,
        train_quality_nb,
        weak_labels,
    )
    from pii_spark.spark.session import get_spark

    spark = get_spark(app=f"pii_classifier_{args.mode}")
    try:
        model_dir = Path(args.model)
        census_path = str(model_dir / "census.parquet")
        meta_path = model_dir / "meta.json"
        if args.mode == "train":
            text_col = args.text_col or "text"
            sw_meta: dict = {}
            sw_words = None
            if args.stopwords:
                from pii_spark.quality.stopwords import (
                    load_stopword_lists,
                    stopwords_identity,
                )

                lists = load_stopword_lists(spark, args.stopwords)
                sw_words = sorted({w for ws in lists.values() for w in ws})
                sw_meta = {"stopwords": stopwords_identity(args.stopwords),
                           "stopword_words": sw_words,
                           "stopword_langs": sorted(lists)}
            labeled = weak_labels(
                spark.read.parquet(args.input), text_col=text_col,
                stopwords=sw_words,
            )
            census = train_quality_nb(
                labeled, text_col=text_col, dim=args.dim,
                hashed=True,
            )
            census.write.mode("overwrite").parquet(census_path)
            lab = {
                str(r.label): r.n
                for r in labeled.groupBy("label")
                .agg(F.count("*").alias("n")).collect()
            }
            model_dir.mkdir(parents=True, exist_ok=True)
            meta_path.write_text(json.dumps(
                {"dim": args.dim, "hashed": True, "labels": lab,
                 "text_col": text_col, **sw_meta}, indent=1,
            ))
            n = spark.read.parquet(census_path).count()
            print(f"trained: {n} features, labels {lab} -> {model_dir}")
        else:
            meta = json.loads(meta_path.read_text())
            scored = score_quality_nb(
                spark.read.parquet(args.input),
                spark.read.parquet(census_path),
                id_col=args.id_col,
                # score the column the model was TRAINED on unless the
                # caller explicitly overrides (review r6: the recorded
                # text_col was written but never read back)
                text_col=args.text_col or meta.get("text_col", "text"),
                dim=int(meta["dim"]),
            )
            scored.write.mode("overwrite").parquet(args.output)
            out = spark.read.parquet(args.output)
            n = out.count()
            n_pos = out.filter("predict_pos").count()
            print(f"scored {n} docs ({n_pos} predicted positive) "
                  f"-> {args.output}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
