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
    key = F.xxhash64(F.col("url"), F.lit(_SALT))
    if not partitions:
        partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    return df.repartition(partitions, key)


# ------------------------------------------------------------ native exprs

def quality_exprs() -> dict[str, Column]:
    """C4/Gopher heuristic + toxicity statistics as pure Catalyst
    expressions (same semantics as quality.heuristics.quality_stats
    and quality.toxicity.toxicity_stats)."""
    from ..quality.toxicity import toxicity_exprs

    text = F.col("text")
    nonspace = F.regexp_replace(text, r"\s", "")
    n_ns = F.greatest(F.length(nonspace), F.lit(1))
    words = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    n_alpha = F.length(F.regexp_replace(nonspace, r"[^\p{L}]", ""))
    n_digit = F.length(F.regexp_replace(nonspace, r"[^\p{Nd}]", ""))
    return {
        "n_words": n_words,
        "mean_word_len": F.when(n_words > 0, F.length(nonspace) / n_words)
        .otherwise(F.lit(0.0)),
        "symbol_ratio": (n_ns - n_alpha - n_digit) / n_ns,
        "digit_ratio": n_digit / n_ns,
        "alpha_ratio": n_alpha / n_ns,
        "rep_ratio": F.when(
            n_words > 0,
            1.0
            - F.size(F.array_distinct(F.transform(words, F.lower)))
            / n_words,
        ).otherwise(F.lit(1.0)),
        **toxicity_exprs(text, n_words),
    }


def heuristics_pass_expr(q: dict | None = None) -> Column:
    q = q or QUALITY
    return (
        F.col("n_words").between(q["min_words"], q["max_words"])
        & F.col("mean_word_len").between(
            q["min_mean_word_len"], q["max_mean_word_len"]
        )
        & (F.col("symbol_ratio") <= q["max_symbol_ratio"])
        & (F.col("rep_ratio") <= q["max_rep_ratio"])
        & (F.col("digit_ratio") <= q["max_digit_ratio"])
        & (F.col("alpha_ratio") >= q["min_alpha_ratio"])
    )


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
    re-read its archive's central directory — one per nested package of
    pyspark.zip that was ever imported from. Drop those nested finders
    (non-empty prefix), keeping one per archive; zipimport rebuilds a
    nested finder from its directory cache when an import needs it."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.prefix:
            del sys.path_importer_cache[path]


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
      Gopher n-gram census flags (``gopher_ngrams`` — the relational
      explode plan joined back on url, the one extra shuffle strict
      buys; see quality/gopher.py's measured plan lesson). Output
      schema is identical across profiles. C4 granularity caveat
      applies (quality/c4_rules.py): single-line corpora fail the
      ≥3-surviving-lines rule wholesale. urls are assumed unique (the
      table key) — the census join aggregates per url to keep
      cardinality regardless.
    """
    if profile not in ("default", "strict"):
        raise ValueError(f"unknown profile {profile!r}")
    q = QUALITY
    cols = ["url", "text"] + (["doc_id"] if with_doc_id else [])
    df = corpus.select(*cols)
    if profile == "strict":
        from ..quality.c4_rules import c4_exprs
        from ..quality.gopher import (
            THRESHOLDS,
            gopher_dup_ngram_metrics,
            gopher_line_exprs,
            gopher_ngram_metrics,
        )

        gl = gopher_line_exprs(F.col("text"))
        line_flag = None
        for k in ("dup_line_frac", "dup_para_frac",
                  "dup_line_char_frac", "dup_para_char_frac"):
            c = gl[k] > THRESHOLDS[k]
            line_flag = c if line_flag is None else (line_flag | c)
        df = df.withColumn("_c4_ok", c4_exprs(F.col("text"))["keep"])
        df = df.withColumn("_gl_flag", line_flag)
        # n-gram census: relational by necessity (explode → count →
        # window), computed from 2-column scans of the source and
        # joined back; flags reduced per url before the join so row
        # cardinality is preserved by construction. The join happens
        # BEFORE the salted repartition below (review r5): placed
        # after it, the join's AQE-coalesced shuffle would replace the
        # pinned partitioning and collapse the enrich-UDF stage's
        # parallelism — exactly what the pin exists to prevent.
        #
        # Census input is pre-filtered to docs that pass the in-row C4
        # and line gates: the n-gram metrics are PER-DOC (no cross-doc
        # state), and drop_reason precedence puts c4/gopher_lines
        # before gopher_ngrams, so a doc failing either never consults
        # its census flag — the filtered plan is output-identical
        # (gated by tests/test_strict_profile.py) while the explode
        # only pays for the surviving fraction (on the sf0.1 drive,
        # ~6% of pages — BENCH/strict_profile.json).
        census_src = corpus.select("url", "text").where(
            c4_exprs(F.col("text"))["keep"] & ~line_flag
        )
        ng = gopher_ngram_metrics(census_src, id_col="url").join(
            gopher_dup_ngram_metrics(census_src, id_col="url"), "url"
        )
        ng_flag = None
        for k, v in THRESHOLDS.items():
            if "gram" not in k:
                continue
            c = F.col(k) > v
            ng_flag = c if ng_flag is None else (ng_flag | c)
        # join ONLY the flagged urls (measured r5: joining the full
        # per-doc flag frame made the corpus — text column included —
        # shuffle+sort by url for the SMJ, which was the entire strict
        # overhead; the census itself is ~2s at sf0.1). The flagged
        # set is the pathological fraction, small enough for AQE to
        # broadcast, so the corpus side never moves for this join.
        flagged = (
            ng.groupBy("url")
            .agg(F.max(ng_flag.cast("boolean")).alias("f"))
            .filter("f")
            .select("url", F.lit(True).alias("_ng_flag"))
        )
        df = df.join(flagged, "url", "left").withColumn(
            "_ng_flag", F.coalesce(F.col("_ng_flag"), F.lit(False))
        )
    df = salted_repartition(df, partitions)
    df = df.withColumns(quality_exprs())
    enriched = enrich_udf()(F.col("text"))
    df = df.withColumn("e", enriched)
    df = df.withColumn("q", F.struct(
        F.col("e.lang_pred").alias("lang_pred"),
        F.col("e.lang_prob").alias("lang_prob"),
        F.col("e.ppl").alias("ppl"),
    )).withColumn("s", F.struct(
        F.col("e.spans").alias("spans"),
        F.col("e.scrubbed_text").alias("scrubbed_text"),
    ))

    heur_ok = heuristics_pass_expr(q)
    lang_ok = F.col("q.lang_pred").isin(*q["langs_kept"])
    ppl_ok = F.col("q.ppl") <= F.lit(q["max_ppl"])
    tox_ok = F.col("tox_score") <= F.lit(q["max_tox_score"])
    keep = lang_ok & ppl_ok & heur_ok & tox_ok
    reason = (
        F.when(~lang_ok, F.lit("langid"))
        .when(~ppl_ok, F.lit("perplexity"))
        .when(~heur_ok, F.lit("heuristics"))
        .when(~tox_ok, F.lit("toxicity"))
    )
    if profile == "strict":
        c4_ok = F.col("_c4_ok")
        gl_ok = ~F.col("_gl_flag")
        ng_ok = ~F.col("_ng_flag")
        keep = keep & c4_ok & gl_ok & ng_ok
        reason = (
            reason.when(~c4_ok, F.lit("c4"))
            .when(~gl_ok, F.lit("gopher_lines"))
            .when(~ng_ok, F.lit("gopher_ngrams"))
        )
    drop_reason = reason.otherwise(F.lit(None).cast("string"))

    out_cols = [
        F.col("url"),
        keep.alias("keep"),
        drop_reason.alias("drop_reason"),
        F.col("q.lang_pred").alias("lang_pred"),
        F.col("q.ppl").alias("ppl"),
        F.struct(
            F.col("n_words").cast("int").alias("n_words"),
            F.col("mean_word_len").cast("double").alias("mean_word_len"),
            F.col("symbol_ratio").cast("double").alias("symbol_ratio"),
            F.col("rep_ratio").cast("double").alias("rep_ratio"),
            F.col("tox_score").cast("double").alias("tox_score"),
        ).alias("quality"),
        F.col("s.spans").alias("spans"),
        F.col("s.scrubbed_text").alias("scrubbed_text"),
    ]
    if with_doc_id:
        out_cols.insert(0, F.col("doc_id"))
    return df.select(*out_cols)
