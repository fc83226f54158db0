"""Per-language document-frequency census → data-driven stopword
derivation (SURVEY R91).

CCNet/fastText-tradition language ID rests on per-language word
lists; this module DERIVES them from the corpus instead of hardcoding
them — the same derive→apply loop shape as the domain blocklist and
the base-key maintenance: a stopword is simply a word that appears in
a large fraction of a language's documents.

Scale shape: explode words → per-doc DISTINCT (a word counts once per
doc — document frequency, not term frequency) → partial-aggregable
(lang, word) count → join per-lang doc totals (a broadcast of ≤
#langs rows). Everything is integers until the final fraction; the
census is vocabulary-sized however large the corpus. Threshold
semantics (``min_doc_frac``) on purpose — a per-lang top-k would need
a per-lang sort, and "appears in ≥ X% of documents" IS the stopword
definition, no ranking required.

Reference analogue: none (the reference's language handling is a
metadata column); north-rule training-pipeline addition, oracled via
the `langid_stopwords` driver entry's 'df' arm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..identity import digest, listing

# the repo-wide lowercase-alnum token class (classifier/dedup family)
_TOKEN_SPLIT = "[^a-z0-9]+"


def doc_frequency_census(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    min_df: int = 2,
) -> DataFrame:
    """(lang, word, df_count, n_docs) — in how many of a language's
    documents each word appears (≥ ``min_df`` docs; the singleton
    tail is vocabulary noise and dominates row count)."""
    words = df.select(
        F.col(lang_col).alias("lang"),
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(
                        F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                        _TOKEN_SPLIT,
                    ),
                    lambda w: w != "",
                )
            )
        ).alias("word"),
    )
    # array_distinct above makes the per-doc dedup ROW-LOCAL (no
    # distinct shuffle of (lang, word, doc) triples — the exploded
    # relation goes straight into the partial-aggregable census)
    census = (
        words.groupBy("lang", "word")
        .agg(F.count("*").cast("long").alias("df_count"))
        .filter(F.col("df_count") >= min_df)
    )
    totals = df.groupBy(F.col(lang_col).alias("lang")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    return census.join(F.broadcast(totals), "lang")


def stopwords_identity(stopwords_dir: str) -> str:
    """`pii_spark.identity` of a derived-stopwords dir.
    `jobs/run_classifier.py` folds it into the model's meta.json, so
    the classifier identity — and every downstream resume guard —
    changes whenever the teaching lists do."""
    return digest(listing(
        stopwords_dir,
        f"no stopword parquet files under {stopwords_dir} — derive "
        "one with jobs/run_maintenance.py --derive-stopwords",
    ))


def load_stopword_lists(spark, stopwords_dir: str) -> dict:
    """{lang: sorted word list} from a derived-stopwords parquet dir
    (the `derive_stopwords` relation, as written by the maintenance
    CLI). Refuses an empty derivation loudly — an empty teaching list
    would silently label every document negative."""
    rows = spark.read.parquet(stopwords_dir).select("lang", "word").collect()
    if not rows:
        raise ValueError(
            f"derived stopword relation at {stopwords_dir} is empty — "
            "lower --stopword-min-frac or check the lang column"
        )
    out: dict = {}
    for r in rows:
        out.setdefault(r["lang"], []).append(r["word"])
    return {k: sorted(v) for k, v in out.items()}


def derive_stopwords(
    df: DataFrame,
    min_doc_frac: float = 0.4,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """(lang, word, df_count, n_docs, doc_frac) for words appearing in
    ≥ ``min_doc_frac`` of a language's documents — the derived
    stopword relation a langid stage consumes. Threshold, not top-k:
    no per-lang sort anywhere in the plan."""
    c = doc_frequency_census(df, text_col=text_col, lang_col=lang_col)
    return c.withColumn(
        "doc_frac",
        F.round(F.col("df_count") / F.col("n_docs"), 4),
    ).filter(F.col("doc_frac") >= min_doc_frac)
