"""The relational Gopher n-gram census — the equality twin of
``pii_spark.quality.gopher.gopher_ngram_sql``.

It computes the same nine n-gram metrics as a relational plan: one
explode of every gram of every size with its start position, one count
aggregation, then a per-(doc, n) window for the top-gram share and a
positional-coverage join for the duplicate-gram share. The product's
in-row builder must equal it exactly (``==``) on every doc;
tests/test_gopher.py and tests/test_property_quality_twins.py hold
both to that and to the pure ``gopher_stats`` in tests/quality_twins.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pii_spark.quality.gopher import gopher_ngram_sql
from pii_spark.spark.pipeline import with_sql


def inrow_ngram_metrics(df, id_col: str = "doc_id", text_col: str = "text"):
    """(id, text) → (id, the nine metrics) through the product's
    in-row builder, ungated — the shape of the census functions below."""
    stages, metrics = gopher_ngram_sql(text_col)
    return with_sql(df, *stages).selectExpr(
        id_col, *(f"{v} AS {k}" for k, v in metrics.items()))


def _word_base(df, id_col: str, text_col: str):
    """(id, text) → (_id, w array, _chars) — shared scaffolding of the
    relational n-gram metrics."""
    return df.selectExpr(
        f"{id_col} AS _id",
        f"filter(split(lower({text_col}), '[^a-z0-9]+'), _w -> _w != '') AS w",
    ).selectExpr(
        "_id", "w",
        "greatest(aggregate(w, 0, (_a, _x) -> _a + length(_x)), 1) AS _chars",
    )


def _gram_census(base, ns):
    """word base → exploded (_id, _chars, n, i, g): every n-gram of
    every requested size with its start position, one explode. A gram
    is ``concat_ws(' ', slice(w, i + 1, n))``."""
    grams = ", ".join(
        f"CASE WHEN size(w) >= {n} THEN transform(sequence(0, size(w) - {n}),"
        f" _i -> named_struct('n', {n}, 'i', _i,"
        f" 'g', concat_ws(' ', slice(w, _i + 1, {n})))) ELSE array() END"
        for n in ns
    )
    return base.selectExpr(
        "_id", "_chars", f"explode(concat({grams})) AS gr"
    ).selectExpr("_id", "_chars", "gr.n", "gr.i", "gr.g")


def _attach_fracs(df, id_col: str, pivoted, ns, name_fmt: str):
    """left-join the pivoted per-(doc, n) fractions back onto every doc
    id, defaulting absent cells (no qualifying gram) to 0.0."""
    return (
        df.selectExpr(f"{id_col} AS _id")
        .join(pivoted, "_id", "left")
        .selectExpr(
            f"_id AS {id_col}",
            *[f"coalesce(`{n}`, 0.0D) AS {name_fmt.format(n=n)}"
              for n in ns],
        )
    )


def gopher_ngram_metrics(
    df, id_col: str = "doc_id", text_col: str = "text",
    ns: tuple = (2, 3, 4),
):
    """(id, text) → (id, top_{n}gram_char_frac …): ONE explode of all
    gram sizes, ONE count aggregation, one window per (doc, n). Docs
    with no qualifying gram (too short, or top count < 2 — the rule
    measures repetition) get 0.0."""
    counts = _gram_census(_word_base(df, id_col, text_col), ns).groupBy(
        "_id", "_chars", "n", "g"
    ).agg(F.expr("count(*) AS c"))
    top = (
        counts.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY _id, n ORDER BY c DESC, g DESC)"
            " AS _rn",
        )
        .where("_rn = 1 AND c >= 2")
        .selectExpr("*", "c * (length(g) - (n - 1)) / _chars AS frac")
        .groupBy("_id")
        .pivot("n", list(ns))
        .agg(F.expr("first(frac)"))
    )
    return _attach_fracs(df, id_col, top, ns, "top_{n}gram_char_frac")


def gopher_dup_ngram_metrics(
    df, id_col: str = "doc_id", text_col: str = "text",
    ns: tuple = (5, 6, 7, 8, 9, 10),
):
    """(id, text) → (id, dup_5gram_char_frac … dup_10gram_char_frac):
    the character fraction covered by ANY occurrence of a repeated
    n-gram, overlaps counted once (positional coverage, matching the
    pure oracle exactly). Relational plan, same family as
    gopher_ngram_metrics: one explode of all gram sizes with their
    start positions, one duplicate census, covered word positions via
    an interval explode + distinct, then one weighted sum against the
    per-position word lengths."""
    base = _word_base(df, id_col, text_col)
    exploded = _gram_census(base, ns)
    # occurrences of grams seen >1 times, with their start positions
    dup_starts = (
        exploded.groupBy("_id", "_chars", "n", "g")
        .agg(F.expr("count(*) AS c"), F.expr("collect_list(i) AS starts"))
        .where("c > 1")
        .selectExpr("_id", "_chars", "n", "explode(starts) AS start")
    )
    covered = dup_starts.selectExpr(
        "_id", "_chars", "n",
        "explode(sequence(start, start + n - 1)) AS idx",
    ).distinct()
    word_lens = base.selectExpr(
        "_id", "posexplode(w) AS (idx, _wv)"
    ).selectExpr("_id", "idx", "length(_wv) AS wl")
    frac = (
        covered.join(word_lens, ["_id", "idx"])
        .groupBy("_id", "n")
        .agg(F.expr("sum(wl) / first(_chars) AS frac"))
        .groupBy("_id")
        .pivot("n", list(ns))
        .agg(F.expr("first(frac)"))
    )
    return _attach_fracs(df, id_col, frac, ns, "dup_{n}gram_char_frac")
