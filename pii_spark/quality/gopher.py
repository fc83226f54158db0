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
    positional coverage)

The product computes each metric once, in-row, per document:

  * ``gopher_line_sql`` — the line/paragraph metrics as in-row
    Catalyst expressions (arrays are small — a doc has few lines);
    ``gopher_line_flags_sql`` compares them with ``THRESHOLDS``;
  * ``gopher_ngram_sql`` — the n-gram metrics as flat columns: one
    sort of each size's grams, then one pass over it, so the strict
    profile reads its input once and shuffles once. On 40 repetitive
    docs (local[2], 4-core host) it costs 20 / 47 / 85 ms per doc at
    1k / 2k / 4k words; the relational census 52 / 75 / 147. Counting
    each gram by filtering the whole gram array is quadratic
    (0.6 s/doc); binding values inside one nested expression took
    0.5–0.7 s to plan and 8–13% more driver heap on the
    ``resumable_job`` benchmark — hence one column per array.

tests/test_gopher.py pins the engine to the pure-Python oracle
``gopher_stats`` (tests/quality_twins.py) and, exactly, to the
relational census this module used before (tests/gopher_census.py).
Thresholds (Gopher's published ones) are enforced only by
run_pipeline's strict profile; the default chain stays byte-stable.

Every Spark expression here is written as SQL text and parsed once
(``selectExpr``): the strict plan is built again for every job group
and streaming micro-batch, and spelled with the Column API each call
costs Py4J round trips (pii_spark/sqltext.py). A gram's n words are
taken with one ``slice``, not n ``element_at``.
"""

from __future__ import annotations

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


def gopher_ngram_sql(
    text: str = "text", gate: str | None = None,
) -> tuple[list[dict[str, str]], dict[str, str]]:
    """The n-gram metrics in-row, as SQL text: ``(stages, metrics)``.
    ``stages`` are columns to add in order (``pipeline.with_sql``): the
    words, then their char count ``_ngc`` and each size's sorted grams.
    With ``gate``, the words are NULL where it fails: such a doc costs
    nothing and scores 0.0. Top-gram: one ``aggregate`` over the sorted
    grams' runs; the best is replaced on ``>=``, so ties go to the
    greatest gram. Dup-gram: a start repeats where a sorted neighbour
    has its gram; the covered positions, distinct, weighted by word
    length. BIGINT counts and sums over the INT ``_ngc``, as in the
    census, make the doubles bit-equal."""
    words = rf"filter(split(lower({text}), r'[^a-z0-9]+'), _w -> _w != '')"
    if gate:
        words = f"CASE WHEN {gate} THEN {words} END"

    def grams(n, item):
        gram = f"concat_ws(' ', slice(_ngw, _i + 1, {n}))"
        return (f"CASE WHEN size(_ngw) >= {n} THEN array_sort(transform("
                f"sequence(0, size(_ngw) - {n}), _i -> {item.format(gram)}))"
                " ELSE array() END")

    def acc(p, r, g, c):  # (p, r): the open run; (g, c): the best closed
        return f"named_struct('p', {p}, 'r', {r}, 'g', {g}, 'c', {c})"

    sorted_grams = {
        "_ngc": "greatest(aggregate(_ngw, 0, (_a, _x) -> _a + length(_x)), 1)",
        **{f"_ngt{n}": grams(n, "{}") for n in (2, 3, 4)},
        **{f"_ngd{n}": grams(n, "named_struct('g', {}, 'i', _i)")
           for n in range(5, 11)},
    }
    null, metrics = "CAST(NULL AS STRING)", {}
    for n in (2, 3, 4):
        metrics[f"top_{n}gram_char_frac"] = (
            f"aggregate(_ngt{n}, {acc(null, '0L', null, '0L')}, (_a, _x) ->"
            f" CASE WHEN _x = _a.p THEN"
            f" {acc('_a.p', '_a.r + 1', '_a.g', '_a.c')}"
            f" WHEN _a.r >= _a.c THEN {acc('_x', '1L', '_a.p', '_a.r')}"
            f" ELSE {acc('_x', '1L', '_a.g', '_a.c')} END, _a -> CASE WHEN"
            " greatest(_a.r, _a.c) < 2 THEN 0.0D WHEN _a.r >= _a.c THEN"
            f" _a.r * (length(_a.p) - {n - 1}) / _ngc ELSE"
            f" _a.c * (length(_a.g) - {n - 1}) / _ngc END)")
    for n in range(5, 11):
        s = f"_ngd{n}"
        dup = (f"filter(sequence(1, size({s})), _k -> (_k > 1 AND"
               f" element_at({s}, _k - 1).g = element_at({s}, _k).g) OR"
               f" (_k < size({s}) AND element_at({s}, _k + 1).g ="
               f" element_at({s}, _k).g))")
        covered = (f"array_distinct(flatten(transform({dup}, _k -> sequence("
                   f"element_at({s}, _k).i, element_at({s}, _k).i + {n - 1}))))")
        metrics[f"dup_{n}gram_char_frac"] = (
            f"aggregate({covered}, 0L, (_a, _p) -> _a +"
            " length(element_at(_ngw, _p + 1))) / _ngc")
    return [{"_ngw": words}, sorted_grams], metrics
