"""One-call corpus quality report — every rule family this engine
implements, evaluated over a corpus in ONE scan (plus one optional
relational pass for the n-gram censuses).

The report is the operator a data curator actually runs first against
a new crawl dump: keep rates and violation rates per rule family, plus
the length distribution — all native expressions inside a single
aggregation, so the cost is one pass over the text column regardless
of how many metrics are computed. The n-gram repetition metrics
(Gopher top-/dup-gram families) need their own explode+aggregate plan
(see quality/gopher.py's measured lesson) and are joined in only when
``include_ngrams=True``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import QUALITY
from ..quality.c4_rules import c4_exprs
from ..quality.gopher import THRESHOLDS, gopher_line_exprs
from .pipeline import heuristics_pass_expr, quality_exprs


def quality_report(
    df: DataFrame,
    text_col: str = "text",
    include_ngrams: bool = False,
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus → one wide row of rates and distribution stats. NULL
    text pins to '' up front: bare size(split(NULL)) artifacts (-1
    word counts) would otherwise average into the report while other
    aggregates skip the same rows — inconsistent denominators inside
    one report (review r4d)."""
    base = df.select(
        F.coalesce(F.col(text_col), F.lit("")).alias("text"),
        F.col(id_col),
    )
    base = base.withColumns(quality_exprs())
    g = gopher_line_exprs()
    c4 = c4_exprs()
    tox_flag = F.col("tox_score") > F.lit(QUALITY["max_tox_score"])
    heur_ok = heuristics_pass_expr()

    def rate(cond):
        return F.round(F.avg(cond.cast("double")), 4)

    aggs = [
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg(F.length("text")), 2).alias("avg_chars"),
        F.round(F.expr("percentile(length(text), 0.5)"), 1)
        .alias("p50_chars"),
        F.round(F.expr("percentile(length(text), 0.9)"), 1)
        .alias("p90_chars"),
        F.round(F.avg("n_words"), 2).alias("avg_words"),
        rate(heur_ok).alias("heuristics_pass_rate"),
        rate(tox_flag).alias("toxicity_flag_rate"),
        # the composed rule-family keep decision (heuristics AND not
        # toxic) — matches run_pipeline's keep on any corpus where
        # langid+perplexity pass, the consistency gate
        # tests/test_strict_profile.py pins (VERDICT r4 #4)
        rate(heur_ok & ~tox_flag).alias("rule_keep_rate"),
        F.round(F.avg("rep_ratio"), 4).alias("avg_rep_ratio"),
        rate(c4["keep"]).alias("c4_keep_rate"),
        F.round(F.avg(c4["n_kept_lines"]), 2).alias("avg_c4_kept_lines"),
    ]
    line_flag = None
    for k in ("dup_line_frac", "dup_para_frac", "dup_line_char_frac",
              "dup_para_char_frac"):
        c = g[k] > THRESHOLDS[k]
        line_flag = c if line_flag is None else (line_flag | c)
        aggs.append(rate(c).alias(f"{k}_flag_rate"))
    # the strict profile's composed in-row keep (run_pipeline
    # --profile strict minus the relational n-gram census, which has
    # its own plan): default keep ∧ C4 ∧ no Gopher line flag — the
    # driver-checkable strict-rule signal (VERDICT r5 #6)
    aggs.append(rate(line_flag).alias("gopher_line_flag_rate"))
    aggs.append(
        rate(heur_ok & ~tox_flag & c4["keep"] & ~line_flag)
        .alias("strict_rule_keep_rate")
    )
    report = base.agg(*aggs)

    if include_ngrams:
        from ..quality.gopher import (
            gopher_dup_ngram_metrics,
            gopher_ngram_metrics,
        )

        top = gopher_ngram_metrics(df, id_col=id_col, text_col=text_col)
        dup = gopher_dup_ngram_metrics(df, id_col=id_col,
                                       text_col=text_col)
        ng = top.join(dup, id_col).agg(
            *[
                rate(F.col(k) > THRESHOLDS[k]).alias(f"{k}_flag_rate")
                for k in THRESHOLDS
                if "gram" in k
            ]
        )
        report = report.crossJoin(F.broadcast(ng))  # both single-row
    return report
