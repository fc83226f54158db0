"""Toxicity scoring — the "toxicity" half of the north rule's
"PII/toxicity-scrub" requirement.

Operator shape, not lexicon quality, is the point: a weighted
word-boundary lexicon match evaluated as pure Catalyst expressions
(whole-stage codegen, no UDF), exactly the plan a production deployment
runs with a maintained lexicon (e.g. a Jigsaw-style blocklist) swapped
in via config. The demonstration lexicon here is deliberately small and
mild; at 100 TB the same two regexp_extract_all passes per row scale
linearly with zero shuffle.

One definition in the product, ``toxicity_sql``: native Spark columns
written as SQL text (the pipeline path, read through ``quality_sql``).
Two independent spellings check it:
  * the pure-Python oracle ``toxicity_stats`` in tests/quality_twins.py
    (the keep/drop twin of tests/test_pipeline_e2e.py);
  * the DuckDB SQL fragment in ``__spark_entry__.oracle_sql()``
    (quality_heuristics oracle) — same ASCII lexicon and
    ``\\b``-bounded regex.

Boundary-semantics caveat: Java regex (the engine) and Python re (the
test oracles, ``weak_label_pure`` among them) both use Unicode word
boundaries and match identically. DuckDB's RE2 uses
ASCII-only ``\\b``, so a lexicon word directly abutting a non-ASCII
letter (e.g. ``hateé``) counts in the oracle but not in the engine;
RE2 has no lookarounds to emulate the Unicode rule. The driver
testdata is ASCII so the oracle holds there; a non-ASCII corpus needs
the oracle's tox columns dropped or the lexicon matched on a
pre-tokenized words array on both sides.

Score: (weight-1 hits + 2 * weight-2 hits) / max(n_words, 1). A doc
whose score exceeds ``QUALITY["max_tox_score"]`` is dropped with
drop_reason='toxicity'.
"""

from __future__ import annotations

from ..sqltext import lit

# ASCII-only so lower() agrees across Python/Java/RE2; word-boundary
# matched, so substrings ("skill", "trashy") never count
TOX_W1 = ("damn", "crap", "trash", "garbage", "dumb", "ugly", "loser")
TOX_W2 = ("hate", "kill", "stupid", "idiot", "moron", "scum",
          "disgusting")

TOX_RE_W1 = r"\b(" + "|".join(TOX_W1) + r")\b"
TOX_RE_W2 = r"\b(" + "|".join(TOX_W2) + r")\b"


def toxicity_sql(
    text: str = "text", n_words: str | None = None,
) -> dict[str, str]:
    """The toxicity columns as SQL text: two regexp_extract_all passes
    (one per weight class) over the lowered text. ``n_words`` defaults
    to the ASCII-whitespace word count (``quality_sql``'s n_words)."""
    n_words = n_words or (
        rf"size(filter(split({text}, r'\s+'), _w -> _w != ''))"
    )
    low = f"lower({text})"
    hits = (f"CAST(size(regexp_extract_all({low}, {lit(TOX_RE_W1)}, 0))"
            f" + 2 * size(regexp_extract_all({low}, {lit(TOX_RE_W2)}, 0))"
            " AS INT)")
    return {"tox_hits": hits, "tox_score": f"{hits} / greatest({n_words}, 1)"}
