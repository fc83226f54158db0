"""Join-based seqeval-equivalent entity metrics (SURVEY §2 A5/A6, J1).

The reference computes entity-level P/R/F1 by handing full BILOU tag
sequences to seqeval (evaluation/model_evaluation.py:319-321,
model.ipynb cell 24). Relationally, seqeval's exact-match TP is an
inner equi-join of true and predicted entity tuples on
(doc_id, label, first_token, last_token); FN/FP are the two anti-joins.
Both sides are aligned through the SAME tokenizer + overlap rule
(build_datasets.py:64-85), so a noise-glued boundary token counts
identically for truth and prediction.

All aggregation is hash-based groupBy (map-side partial agg for free);
the per-label table is tiny, so micro/weighted rollups happen on the
collected result.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_ENT_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("label", T.StringType()),
            T.StructField("t0", T.IntegerType()),
            T.StructField("t1", T.IntegerType()),
        ]
    )
)


def gold_token_rows(
    batches: Iterator[tuple[pd.Series, pd.Series]], drop_ip: bool, row,
) -> Iterator[pd.Series]:
    """Per (texts, spans) batch, a Series of ``row(tokens, tags,
    label_ids)`` per document: its gold spans aligned to the serving
    tokenizer's tokens by the reference overlap rule (BILOU tags; label
    id -100 marks specials). ``drop_ip`` drops IP spans: IP is scrubbed
    but is not an F1 label."""
    from ..labeling import spans_to_token_labels
    from ..tokenizer import tokenize_with_offsets

    for texts, spans_col in batches:
        out = []
        for text, spans in zip(texts, spans_col):
            tokens, offsets, _ = tokenize_with_offsets(text or "")
            norm = [
                {"start": int(s["start"]), "end": int(s["end"]),
                 "label": s["label"]}
                for s in (spans if spans is not None else [])
                if not (drop_ip and s["label"] == "IP")
            ]
            out.append(row(tokens, *spans_to_token_labels(offsets, norm)))
        yield pd.Series(out)


def _entities_fn(
    batches: Iterator[tuple[pd.Series, pd.Series]],
) -> Iterator[pd.Series]:
    from ..labeling import decode_bilou

    return gold_token_rows(batches, True, lambda _toks, tags, _ids: [
        {"label": lab, "t0": a, "t1": b} for lab, a, b in decode_bilou(tags)
    ])


def entities_udf():
    return F.pandas_udf(_entities_fn, _ENT_SCHEMA)


def entity_rows(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """(doc_id, text, spans) → exploded (doc_id, label, t0, t1) rows."""
    ents = entities_udf()(F.col("text"), F.col(spans_col))
    return (
        df.select("doc_id", F.explode(ents).alias("e"))
        .select("doc_id", "e.label", "e.t0", "e.t1")
    )


def entity_confusion(truth_rows: DataFrame, pred_rows: DataFrame) -> DataFrame:
    """Per-label TP/FP/FN (J1). Entity tuples are unique per side (a
    BILOU decode cannot emit two entities with the same (label, t0, t1)
    in one doc), so ONE full-outer join classifies every tuple:
    both sides present = TP, truth-only = FN, pred-only = FP. r1 used
    inner + two anti joins, which re-executed both tokenize/align UDF
    pipelines three times each (VERDICT r1 #7); this plan runs each
    side once."""
    keys = ["doc_id", "label", "t0", "t1"]
    j = truth_rows.withColumn("t", F.lit(1)).join(
        pred_rows.withColumn("p", F.lit(1)), keys, "full"
    )
    return j.groupBy("label").agg(
        F.sum(
            F.when(F.col("t").isNotNull() & F.col("p").isNotNull(), 1)
            .otherwise(0)
        ).alias("tp"),
        F.sum(
            F.when(F.col("t").isNotNull() & F.col("p").isNull(), 1)
            .otherwise(0)
        ).alias("fn"),
        F.sum(
            F.when(F.col("t").isNull() & F.col("p").isNotNull(), 1)
            .otherwise(0)
        ).alias("fp"),
    )


def f1_report(truth: DataFrame, pred: DataFrame) -> dict:
    """truth/pred: (doc_id, text, spans). Returns per-label + micro +
    weighted P/R/F1 (seqeval classification_report equivalent)."""
    conf = entity_confusion(entity_rows(truth), entity_rows(pred)).collect()
    report: dict = {"labels": {}}
    TP = FP = FN = 0
    wf1_num = support_total = 0.0
    for row in conf:
        tp, fp, fn = row.tp, row.fp, row.fn
        TP += tp
        FP += fp
        FN += fn
        p = tp / (tp + fp) if tp + fp else 0.0
        r = tp / (tp + fn) if tp + fn else 0.0
        f1 = 2 * p * r / (p + r) if p + r else 0.0
        support = tp + fn
        wf1_num += f1 * support
        support_total += support
        report["labels"][row.label] = {
            "precision": p, "recall": r, "f1": f1, "support": support,
            "tp": tp, "fp": fp, "fn": fn,
        }
    p = TP / (TP + FP) if TP + FP else 0.0
    r = TP / (TP + FN) if TP + FN else 0.0
    report["micro"] = {
        "precision": p,
        "recall": r,
        "f1": 2 * p * r / (p + r) if p + r else 0.0,
    }
    report["weighted_f1"] = (
        wf1_num / support_total if support_total else 0.0
    )
    return report


def token_accuracy(truth: DataFrame, pred: DataFrame) -> float:
    """Token-level accuracy over non-special tokens (SURVEY §2 A4 —
    model.ipynb cell 24 / model_evaluation.py:322): align both span sets
    to BILOU tags through the shared tokenizer, explode to token rows,
    join on (doc_id, position) and average exact tag agreement."""

    def tag_rows(df: DataFrame, alias: str) -> DataFrame:
        tags = tags_udf()(F.col("text"), F.col("spans"))
        return df.select(
            "doc_id", F.posexplode(tags).alias("pos", alias)
        )

    t = tag_rows(truth, "t_tag")
    p = tag_rows(pred, "p_tag")
    row = (
        t.join(p, ["doc_id", "pos"])
        .agg(F.avg((F.col("t_tag") == F.col("p_tag")).cast("double"))
             .alias("acc"))
        .collect()[0]
    )
    return float(row.acc)


def _tags_fn(
    batches: Iterator[tuple[pd.Series, pd.Series]],
) -> Iterator[pd.Series]:
    # drop special tokens (-100), as the reference does
    return gold_token_rows(batches, True, lambda _toks, tags, ids: [
        t for t, lid in zip(tags, ids) if lid != -100
    ])


def tags_udf():
    return F.pandas_udf(_tags_fn, T.ArrayType(T.StringType()))
