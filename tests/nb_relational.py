"""The relational NB float scorer — the equality twin of
``pii_spark.quality.classifier.score_quality_nb``.

It scores the same census as a relational plan: explode each doc's
tokens, broadcast-join the per-feature log-likelihood ratios, sum per
doc, and union the zero-token docs back in. The product's in-row
scorer must equal it exactly (``==`` on ``n_tokens``, ``score`` and
``predict_pos``) on every doc with a unique id; tests/test_classifier.py
holds both to that. Its tokenizer is spelled with the Column API, so
the twin does not share the product's SQL text.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from pii_spark.quality.classifier import _TOKEN_SPLIT


def _tokens(text):
    return F.filter(
        F.split(F.lower(F.coalesce(text, F.lit(""))), _TOKEN_SPLIT),
        lambda w: w != "",
    )


def score_quality_nb(df, model, id_col="doc_id", text_col="text",
                     dim=2 ** 18):
    """(id, n_tokens, score, predict_pos) per distinct id over a hashed
    census; tokens of rows sharing an id are pooled into one sum."""
    tot = model.agg(
        F.sum("n_pos").alias("tp"),
        F.sum("n_neg").alias("tn"),
        F.count("*").alias("v"),
    ).collect()[0]
    tp, tn, v = int(tot.tp or 0), int(tot.tn or 0), max(int(tot.v), 1)
    unseen = math.log(1.0 / (tp + v)) - math.log(1.0 / (tn + v))
    w = model.select(
        "feature",
        (
            F.log((F.col("n_pos") + 1.0) / float(tp + v))
            - F.log((F.col("n_neg") + 1.0) / float(tn + v))
        ).alias("llr"),
    )
    toks = df.select(
        F.col(id_col),
        F.explode(_tokens(F.col(text_col))).alias("tok"),
    ).select(
        id_col, F.pmod(F.xxhash64("tok"), F.lit(dim)).alias("feature")
    )
    scored = (
        toks.join(F.broadcast(w), "feature", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.coalesce(F.col("llr"), F.lit(unseen))).alias("score"),
        )
        .select(id_col, "n_tokens", "score",
                (F.col("score") > 0).alias("predict_pos"))
    )
    empties = df.filter(F.size(_tokens(F.col(text_col))) == 0).select(
        id_col,
        F.lit(0).cast("long").alias("n_tokens"),
        F.lit(0.0).alias("score"),
        F.lit(False).alias("predict_pos"),
    )
    return scored.unionByName(empties)
