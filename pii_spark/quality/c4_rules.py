"""C4 line-level cleaning rules (Raffel et al. 2020, §2.2) — the other
half of the north rule's "C4/Gopher heuristic quality rules".

C4 cleans at LINE granularity before judging the document (the
paper's constants, §2.2: "discarded any page with fewer than 3
sentences and only retained lines that contained at least 5 words"):

  * keep only lines ending in terminal punctuation (. ! ? ")
  * drop lines with fewer than 5 words
  * drop lines containing boilerplate markers ("javascript",
    "cookie policy", "terms of use", "privacy policy")
  * drop any document containing "lorem ipsum" or a curly brace
    (code), and documents with fewer than 3 surviving lines

One definition, ``c4_sql``: native Catalyst expressions building the
cleaned text in-row (split → filter → array_join; a doc's line count
is small). They are written as SQL text
and parsed once per column: spelled with the Column API, each call
would cost Py4J round trips (pii_spark/sqltext.py). The pure-Python
oracle ``c4_clean`` in tests/quality_twins.py recomputes
(kept_text, n_kept, n_dropped, keep) from the constants below, and the
parity tests pin the two equal.

Like the Gopher extension, these rules join the keep chain only in
run_pipeline's strict profile (``spark.pipeline.rule_chain``); the
default chain stays byte-stable.

Granularity note: C4 is defined over extracted web text WITH line
structure. A corpus of single-line documents (the driver's synthetic
testdata) fails the ≥3-surviving-lines rule wholesale by construction —
apply a sentence splitter upstream (e.g. split on '. ') before these
rules on such corpora, as the tests do for the generated texts.
"""

from __future__ import annotations

from ..sqltext import lit

_TERMINAL = (".", "!", "?", '"')
_BOILERPLATE = ("javascript", "cookie policy", "terms of use",
                "privacy policy")
# Raffel et al. 2020 §2.2, verbatim constants: lines need >= 5 words,
# pages need >= 3 surviving sentences (review r4d caught these two
# inverted)
_MIN_LINE_WORDS = 5
_MIN_LINES = 3


def c4_sql(text: str = "text") -> dict[str, str]:
    """The cleaning as in-row Catalyst expressions, written as SQL
    text. NULL text is pinned to '' first, so a null row is judged as
    an empty doc (bare split would propagate NULL into every output).
    Lines strip the ASCII \\s class (trim removes only spaces)."""
    t = f"coalesce({text}, '')"
    s = r"regexp_replace(_ln, r'^\s+|\s+$', '')"
    boiler = " OR ".join(
        f"contains(lower({s}), {lit(b)})" for b in _BOILERPLATE
    )
    ok = (
        f"substring({s}, -1, 1) IN ({', '.join(map(lit, _TERMINAL))})"
        rf" AND size(filter(split({s}, r'\s+'), _w -> _w != ''))"
        f" >= {_MIN_LINE_WORDS} AND NOT ({boiler})"
    )
    lines = f"split({t}, {lit(chr(10))})"
    kept = f"filter({lines}, _ln -> {ok})"
    return {
        "cleaned_text": f"array_join({kept}, {lit(chr(10))})",
        "n_kept_lines": f"size({kept})",
        "n_dropped_lines": f"size({lines}) - size({kept})",
        "keep": (
            f"NOT contains(lower({t}), 'lorem ipsum')"
            f" AND NOT contains({t}, {lit('{')})"
            f" AND size({kept}) >= {_MIN_LINES}"
        ),
    }
