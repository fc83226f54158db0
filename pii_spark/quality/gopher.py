"""The full Gopher repetition-rule suite (Rae et al. 2021, table A1).

The pipeline's keep/drop chain already enforces word-level repetition
(rep_ratio) and the driver query q_gopher_repetition checks top-word
share + duplicate word-bigram fraction against a DuckDB oracle. This
module completes the published rule set:

  * duplicate line / paragraph fractions
  * duplicate line / paragraph CHARACTER fractions
  * top 2-/3-/4-gram character share   (chars covered by the most
                                        frequent word n-gram)
  * duplicate 5..10-gram character fractions (chars covered by ANY
    occurrence of a repeated n-gram, overlaps counted once —
    positional coverage, via gopher_dup_ngram_metrics)

The product computes each metric once:

  * ``gopher_line_sql`` — the line/paragraph metrics as in-row
    Catalyst expressions (arrays are small — a doc has few lines);
    ``gopher_line_flags_sql`` compares them with ``THRESHOLDS``;
  * ``gopher_ngram_metrics`` / ``gopher_dup_ngram_metrics`` — the
    n-gram metrics as ONE explode + ONE aggregation + a per-(doc, n)
    window (the q_gopher_repetition plan shape). This was MEASURED,
    not assumed: an in-row aggregate/filter formulation of the n-gram
    census ran 0.6 s/doc (interpreted nested higher-order functions,
    quadratic per doc) — the relational shape does the same work in
    milliseconds and is the plan that survives 100 TB.

The pure-Python oracle ``gopher_stats`` in tests/quality_twins.py
recomputes every metric, and tests/test_gopher.py pins the engine to
it. Thresholds (Gopher's published ones) are enforced only by
run_pipeline's strict profile; the default keep chain stays
byte-stable.

Every Spark expression here — the in-row metrics and the census's
projections and aggregates — is written as SQL text and parsed once
(``F.expr`` / ``selectExpr``). The strict plan is built again for
every job group and streaming micro-batch, and spelled with the
Column API each call costs Py4J round trips (pii_spark/sqltext.py).
A gram's n words are taken with one ``slice``, not n ``element_at``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sqltext import lit

# Gopher table A1 thresholds
THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def gopher_line_sql(text: str = "text") -> dict[str, str]:
    """Line/paragraph repetition metrics as in-row Catalyst
    expressions, written as SQL text. The per-element occurrence count
    in dup_char_frac is quadratic in the LINE count of one document —
    lines per doc are dozens, not millions, so this stays cheap and
    shuffle-free. NULL text pins to ''; a line is blank unless it
    matches rlike(\\S) (trim strips only spaces)."""
    t = f"coalesce({text}, '')"
    lines = rf"filter(split({t}, {lit(chr(10))}), _e -> _e rlike r'\S')"
    paras = rf"filter(split({t}, {lit(chr(10) * 2)}), _e -> _e rlike r'\S')"

    def dup_frac(items):
        n = f"size({items})"
        return (f"CASE WHEN {n} > 0 THEN 1.0D - size(array_distinct({items}))"
                f" / {n} ELSE 0.0D END")

    def dup_char_frac(items):
        total = f"aggregate({items}, 0, (_acc, _x) -> _acc + length(_x))"
        dup_chars = (
            f"aggregate({items}, 0, (_acc, _x) -> _acc + CASE WHEN"
            f" size(filter({items}, _y -> _y = _x)) > 1 THEN length(_x)"
            " ELSE 0 END)"
        )
        return (f"CASE WHEN {total} > 0 THEN {dup_chars} / {total}"
                " ELSE 0.0D END")

    return {
        "dup_line_frac": dup_frac(lines),
        "dup_para_frac": dup_frac(paras),
        "dup_line_char_frac": dup_char_frac(lines),
        "dup_para_char_frac": dup_char_frac(paras),
    }


def gopher_line_flags_sql(text: str = "text") -> dict[str, str]:
    """Per-rule violation flags of the line/paragraph metrics, as SQL
    text: true where a metric exceeds its ``THRESHOLDS`` entry."""
    return {k: f"{v} > {lit(THRESHOLDS[k])}"
            for k, v in gopher_line_sql(text).items()}


def _word_base(df, id_col: str, text_col: str):
    """(id, text) → (_id, w array, _chars) — shared scaffolding of the
    relational n-gram metrics (one definition, review r4d: the copies
    had already started drifting)."""
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
    gram sizes, ONE count aggregation, one window per (doc, n) — the
    relational shape that scales (see module docstring for the
    measured in-row disaster). Docs with no qualifying gram (too
    short, or top count < 2 — the rule measures repetition) get 0.0."""
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
