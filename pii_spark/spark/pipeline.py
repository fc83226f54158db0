"""The quality-filter + PII-scrub pipeline (EP3 re-expressed Spark-first).

Plan shape (all declarative; Catalyst handles pushdown/pruning):

  read corpus (url, warc_ts, text[, html pruned away])
    → salted repartition           (defuse domain skew before UDF stages)
    → native heuristic columns     (whole-stage codegen, no Python)
    → fused Arrow UDF              (langid + perplexity + two-stage PII
                                    detect + scrub in ONE crossing)
    → keep / drop_reason           (native boolean expressions)

Exactly one JVM↔Python crossing per row batch, Arrow-vectorized — the
reference's per-example driver loop (model_evaluation.py:233-299, batch
size 1) becomes one batched stage. PII scrubbing runs on EVERY row
(dropped rows still get scrubbed text — the output contract is scrubbed
text per url), while language-ID/perplexity/heuristics feed only the
keep decision.

Every native column — the quality statistics, the strict profile's
gates, keep / drop_reason and the output projection — is written as
SQL text and parsed once (``F.expr`` / ``selectExpr``): this plan is
built again for every job group and streaming micro-batch, and
under PySpark's default DataFrame debugging each Column-API call costs
Py4J round trips (pii_spark/sqltext.py). Spelled call by call, one
build took ~1.5k round trips on the default profile and ~9k on the
strict one; tests/test_pipeline_build.py holds the budget. Each rule
family has only its SQL builder — no Column twin — and ``rule_chain``
composes the in-row rules of the keep chain once, for both this plan
and ``spark.quality_report``.

Unicode note: the native ratio expressions use \\p{L}/\\p{Nd} so they
agree with Python's str.isalpha()/isdigit() on the non-English rows
(tests/test_quality.py pins native == pure)."""

from __future__ import annotations

import sys
import zipimport
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import QUALITY
from ..sqltext import lit

_SALT = 0x5CA1AB1E


def salted_repartition(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Uniform repartition on a salted url hash. The corpus is domain-
    skewed (one hot domain ≈30% of rows, FIXTURES.md §1); hashing the
    full url (unique per row) with a salt spreads any hot domain evenly
    before the expensive UDF stages.

    The partition count is ALWAYS pinned explicitly: AQE coalesces
    exchanges by byte size, and web-text rows are tiny in bytes but
    expensive in UDF compute — without the pin, AQE collapses the PII
    stage to one task and serializes the whole pipeline."""
    if not partitions:
        partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    return df.repartition(partitions, F.expr(f"xxhash64(url, {_SALT})"))


# ------------------------------------------------------------ native exprs

def quality_sql(text: str = "text") -> dict[str, str]:
    """C4/Gopher heuristic + toxicity statistics as pure Catalyst
    expressions written as SQL text (pure-Python oracles:
    tests/quality_twins.py ``quality_stats`` / ``toxicity_stats``)."""
    from ..quality.toxicity import toxicity_sql

    nonspace = rf"regexp_replace({text}, r'\s', '')"
    n_ns = f"greatest(length({nonspace}), 1)"
    words = rf"filter(split({text}, r'\s+'), _w -> _w != '')"
    n_words = f"size({words})"
    n_alpha = rf"length(regexp_replace({nonspace}, r'[^\p{{L}}]', ''))"
    n_digit = rf"length(regexp_replace({nonspace}, r'[^\p{{Nd}}]', ''))"
    return {
        "n_words": n_words,
        "mean_word_len": f"CASE WHEN {n_words} > 0 THEN length({nonspace})"
        f" / {n_words} ELSE 0.0D END",
        "symbol_ratio": f"({n_ns} - {n_alpha} - {n_digit}) / {n_ns}",
        "digit_ratio": f"{n_digit} / {n_ns}",
        "alpha_ratio": f"{n_alpha} / {n_ns}",
        "rep_ratio": f"CASE WHEN {n_words} > 0 THEN 1.0D - size("
        f"array_distinct(transform({words}, _x -> lower(_x)))) / {n_words}"
        " ELSE 1.0D END",
        **toxicity_sql(text, n_words),
    }


def quality_exprs() -> dict[str, Column]:
    return {k: F.expr(v) for k, v in quality_sql().items()}


def heuristics_pass_sql(q: dict | None = None) -> str:
    """The heuristics rule over the ``quality_sql`` columns (thresholds
    in config.QUALITY): word count and mean word length within their
    bands, symbol ratio and repetition ratio 1 - distinct/total at most
    their maxima (Gopher), digit ratio at most and alpha ratio at least
    theirs (C4-like). The min_words bound generalizes the reference's
    only quality filter, its min-length skip in evaluation."""
    q = q or QUALITY
    return (
        f"n_words >= {lit(q['min_words'])}"
        f" AND n_words <= {lit(q['max_words'])}"
        f" AND mean_word_len >= {lit(q['min_mean_word_len'])}"
        f" AND mean_word_len <= {lit(q['max_mean_word_len'])}"
        f" AND symbol_ratio <= {lit(q['max_symbol_ratio'])}"
        f" AND rep_ratio <= {lit(q['max_rep_ratio'])}"
        f" AND digit_ratio <= {lit(q['max_digit_ratio'])}"
        f" AND alpha_ratio >= {lit(q['min_alpha_ratio'])}"
    )


def rule_chain(profile: str) -> tuple[dict[str, str], list[tuple[str, str]]]:
    """The keep chain's in-row rules for ``profile``: ``(gates,
    checks)``. ``gates`` are the columns to add from ``text`` first
    (name → SQL); ``checks`` are (SQL predicate, drop_reason) in
    precedence order, reading the gates and the ``quality_sql``
    columns. run_pipeline places them between its langid/perplexity
    checks and the n-gram flag; quality_report rates them."""
    q = QUALITY
    checks = [
        (heuristics_pass_sql(q), "heuristics"),
        (f"tox_score <= {lit(q['max_tox_score'])}", "toxicity"),
    ]
    if profile != "strict":
        return {}, checks
    from ..quality.c4_rules import c4_sql
    from ..quality.gopher import gopher_line_flags_sql

    gates = {
        "_c4_ok": c4_sql()["keep"],
        "_gl_flag": " OR ".join(gopher_line_flags_sql().values()),
    }
    return gates, checks + [("_c4_ok", "c4"), ("NOT _gl_flag", "gopher_lines")]


def with_sql(df: DataFrame, *stages: dict[str, str]) -> DataFrame:
    """``df`` plus each stage's columns (name → SQL text), one
    ``selectExpr`` per stage, so a stage reads the ones before it."""
    for stage in stages:
        df = df.selectExpr("*", *(f"{v} AS {k}" for k, v in stage.items()))
    return df


def all_of(checks: list[tuple[str, str]]) -> str:
    """The conjunction of ``checks``' predicates, as SQL text."""
    return " AND ".join(f"({c})" for c, _ in checks)


# ------------------------------------------------------------ Arrow UDFs

from pyspark.sql import types as T  # noqa: E402

from ..schema import SPAN_SRC  # noqa: E402

_ENRICH_STRUCT = T.StructType(
    [
        T.StructField("lang_pred", T.StringType()),
        T.StructField("lang_prob", T.DoubleType()),
        T.StructField("ppl", T.DoubleType()),
        T.StructField("spans", T.ArrayType(SPAN_SRC)),
        T.StructField("scrubbed_text", T.StringType()),
    ]
)


def _drop_nested_zip_finders() -> None:
    """Before every task pyspark's worker calls importlib.invalidate_caches(),
    which on Python 3.11 makes each zipimporter in sys.path_importer_cache
    re-read its archive's central directory. Two kinds pay that for
    nothing:

    * the nested finders, one per nested package of pyspark.zip that
      was ever imported from (non-empty prefix): dropped, keeping one
      per archive — zipimport rebuilds a nested finder from its
      directory cache when an import needs it;
    * archives that hold no Python module at all — Spark puts
      spark-core's jar (5k entries) on every worker's sys.path: dropped
      from sys.path as well, since a None cache entry would not stick
      (PathFinder.invalidate_caches deletes those)."""
    for path, finder in list(sys.path_importer_cache.items()):
        if not isinstance(finder, zipimport.zipimporter):
            continue
        if finder.prefix:
            del sys.path_importer_cache[path]
            continue
        # the directory zipimport already parsed: no re-read here
        files = zipimport._zip_directory_cache.get(finder.archive)
        if files is not None and not any(
            f.endswith((".py", ".pyc")) for f in files
        ):
            del sys.path_importer_cache[path]
            while path in sys.path:
                sys.path.remove(path)


def _enrich_fn(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """ALL Python stages in ONE Arrow crossing: langid + perplexity +
    two-stage PII detect + scrub. One crossing means one Python worker
    per task — two chained ArrowEvalPython stages would double the
    worker count and oversubscribe the host at high parallelism
    (measured: local[32] ran 2× slower than local[8] with split UDFs)."""
    _drop_nested_zip_finders()
    from ..detect.scrub import scrub_text
    from ..detect.serving import serve_batch
    from ..quality.langid import classify_batch
    from ..quality.perplexity import perplexity_batch

    for texts in batches:
        langs, probs = classify_batch(texts)
        ppls = perplexity_batch(texts)
        spans_col, scrubbed_col = [], []
        for text, doc in zip(texts, serve_batch(list(texts))):
            spans_col.append(
                [
                    {
                        "start": cs,
                        "end": ce,
                        "label": lab,
                        "source": "regex"
                        if lab in _REGEX_STAGE_LABELS
                        else "model",
                    }
                    for lab, _a, _b, cs, ce in doc.entities
                ]
            )
            scrubbed_col.append(scrub_text(text or "", doc.entities))
        yield pd.DataFrame(
            {
                "lang_pred": langs,
                "lang_prob": probs,
                "ppl": ppls,
                "spans": spans_col,
                "scrubbed_text": scrubbed_col,
            }
        )


def enrich_udf():
    return F.pandas_udf(_enrich_fn, _ENRICH_STRUCT)


_REGEX_STAGE_LABELS = {"EMAIL", "PHONE", "SSN", "IP"}


# ------------------------------------------------------------ pipeline

def run_pipeline(
    corpus: DataFrame,
    partitions: int | None = None,
    with_doc_id: bool = False,
    profile: str = "default",
) -> DataFrame:
    """corpus(url, warc_ts, html, text, lang[, doc_id]) → output rows
    (FIXTURES.md §5 schema). Only url/text are actually read — html is
    pruned at the scan by Catalyst because no expression touches it.

    ``profile`` gates the keep chain (VERDICT r4 #2):

    * ``"default"`` — langid → perplexity → heuristics → toxicity;
      byte-stable, pinned by tests/test_pipeline_e2e.py.
    * ``"strict"`` — adds the extended rule families as further
      conjuncts with their own drop_reasons: the C4 §2.2 document
      judgment (drop_reason ``c4``), the Gopher line/paragraph
      repetition flags (``gopher_lines``, in-row codegen), and the
      Gopher n-gram flags (``gopher_ngrams``, in-row linear
      expressions, computed only for docs that pass the c4 and line
      gates; quality/gopher.py). Strict reads its input once and
      shuffles once, like default. Output schema is identical across
      profiles. C4 granularity caveat applies (quality/c4_rules.py):
      single-line corpora fail the ≥3-surviving-lines rule wholesale.
    """
    if profile not in ("default", "strict"):
        raise ValueError(f"unknown profile {profile!r}")
    q = QUALITY
    cols = ["url", "text"] + (["doc_id"] if with_doc_id else [])
    df = corpus.select(*cols)
    gates, rules = rule_chain(profile)
    checks = [
        (f"e.lang_pred IN ({', '.join(map(lit, q['langs_kept']))})", "langid"),
        (f"e.ppl <= {lit(q['max_ppl'])}", "perplexity"),
        *rules,
    ]
    df = with_sql(salted_repartition(df, partitions),
                  {**quality_sql(), **gates})
    df = df.withColumn("e", enrich_udf()("text"))
    if profile == "strict":
        from ..quality.gopher import THRESHOLDS, gopher_ngram_sql

        # in-row: no scan, shuffle or join. A doc failing c4 or
        # gopher_lines never consults the flag, so it gets no grams.
        # After the UDF, so the arrays stay out of its row buffer.
        stages, metrics = gopher_ngram_sql(gate="_c4_ok AND NOT _gl_flag")
        ng_flag = " OR ".join(
            f"{v} > {lit(THRESHOLDS[k])}" for k, v in metrics.items()
        )
        df = with_sql(df, *stages, {"_ng_flag": ng_flag})
        checks.append(("NOT _ng_flag", "gopher_ngrams"))

    keep = all_of(checks)
    drop_reason = " ".join(
        ["CASE"] + [f"WHEN NOT ({c}) THEN {lit(r)}" for c, r in checks]
        + ["ELSE CAST(NULL AS STRING) END"]
    )
    quality = ", ".join(
        f"{lit(k)}, CAST({k} AS {t})" for k, t in (
            ("n_words", "INT"), ("mean_word_len", "DOUBLE"),
            ("symbol_ratio", "DOUBLE"), ("rep_ratio", "DOUBLE"),
            ("tox_score", "DOUBLE"),
        )
    )
    return df.selectExpr(
        *(["doc_id"] if with_doc_id else []),
        "url",
        f"{keep} AS keep",
        f"{drop_reason} AS drop_reason",
        "e.lang_pred AS lang_pred",
        "e.ppl AS ppl",
        f"named_struct({quality}) AS quality",
        "e.spans AS spans",
        "e.scrubbed_text AS scrubbed_text",
    )
