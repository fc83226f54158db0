"""One-call corpus quality report — every rule family this engine
implements, evaluated over a corpus in ONE scan and ONE aggregation.

The report is the operator a data curator actually runs first against
a new crawl dump: keep rates and violation rates per rule family, plus
the length distribution — all native in-row expressions, the n-gram
ones (``include_ngrams``) included, inside a single aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..quality.c4_rules import c4_sql
from ..quality.gopher import (THRESHOLDS, gopher_line_flags_sql,
                              gopher_ngram_sql)
from ..sqltext import lit
from .pipeline import all_of, quality_sql, rule_chain, with_sql


def _rate(cond: str, name: str) -> str:
    return f"round(avg(CAST(({cond}) AS DOUBLE)), 4) AS {name}"


def quality_report(
    df: DataFrame,
    text_col: str = "text",
    include_ngrams: bool = False,
) -> DataFrame:
    """Corpus → one wide row of rates and distribution stats. NULL
    text pins to '' up front: bare size(split(NULL)) artifacts (-1
    word counts) would otherwise average into the report while other
    aggregates skip the same rows — inconsistent denominators inside
    one report (review r4d).

    The rule-family rates come from run_pipeline's own keep-chain
    predicates (``rule_chain``): ``rule_keep_rate`` is the default
    profile's in-row keep, ``strict_rule_keep_rate`` the strict one's
    minus the n-gram flags, rated per metric (ungated) when asked.
    On a corpus where langid and perplexity pass, ``rule_keep_rate``
    equals run_pipeline's keep rate (tests/test_strict_profile.py)."""
    _, rules = rule_chain("default")
    gates, strict_rules = rule_chain("strict")
    pred = {r: c for c, r in strict_rules}
    stages, metrics = gopher_ngram_sql() if include_ngrams else ([], {})
    base = with_sql(df.selectExpr(f"coalesce({text_col}, '') AS text"),
                    {**quality_sql(), **gates}, *stages)
    return base.selectExpr(
        "CAST(count(*) AS BIGINT) AS n_docs",
        "round(avg(length(text)), 2) AS avg_chars",
        "round(percentile(length(text), 0.5), 1) AS p50_chars",
        "round(percentile(length(text), 0.9), 1) AS p90_chars",
        "round(avg(n_words), 2) AS avg_words",
        _rate(pred["heuristics"], "heuristics_pass_rate"),
        _rate(f"NOT ({pred['toxicity']})", "toxicity_flag_rate"),
        _rate(all_of(rules), "rule_keep_rate"),
        "round(avg(rep_ratio), 4) AS avg_rep_ratio",
        _rate(pred["c4"], "c4_keep_rate"),
        f"round(avg({c4_sql()['n_kept_lines']}), 2) AS avg_c4_kept_lines",
        *(_rate(f, f"{k}_flag_rate")
          for k, f in gopher_line_flags_sql().items()),
        _rate(f"NOT ({pred['gopher_lines']})", "gopher_line_flag_rate"),
        _rate(all_of(strict_rules), "strict_rule_keep_rate"),
        *(_rate(f"{v} > {lit(THRESHOLDS[k])}", f"{k}_flag_rate")
          for k, v in metrics.items()),
    )
