"""Pure-Python oracles of the in-row quality rule families.

The product defines each family once, as SQL text
(``pii_spark.spark.pipeline.quality_sql`` / ``heuristics_pass_sql``,
``pii_spark.quality.toxicity.toxicity_sql``, ``c4_rules.c4_sql`` and
``gopher.gopher_line_sql`` plus the relational n-gram census). The
functions here recompute the same statistics in plain Python so the
parity tests can check the engine against an independent spelling.
Every threshold, lexicon and constant is imported from the product, so
each still has one source.

Whitespace follows the contract in ``pii_spark/quality/textnorm.py``:
Java ``\\s`` is the ASCII class, while Python's ``str.split()`` /
``strip()`` are Unicode-aware, so the oracles split and strip on that
class only.
"""

from __future__ import annotations

import re
from collections import Counter

from pii_spark.config import QUALITY
from pii_spark.quality.c4_rules import (
    _BOILERPLATE,
    _MIN_LINE_WORDS,
    _MIN_LINES,
    _TERMINAL,
)
from pii_spark.quality.gopher import THRESHOLDS
from pii_spark.quality.textnorm import ASCII_WS, ASCII_WS_RE
from pii_spark.quality.toxicity import TOX_RE_W1, TOX_RE_W2

ASCII_WS_SET = frozenset(ASCII_WS)
# any character Java \S matches (i.e. NOT in the ASCII class)
NON_WS_RE = re.compile(f"[^{ASCII_WS}]")


def ascii_words(text: str) -> list[str]:
    """Split on ASCII whitespace, dropping empties — the pure-side
    equivalent of ``filter(split(text, '\\\\s+'), w -> w != '')``."""
    return [w for w in ASCII_WS_RE.split(text or "") if w]


# ------------------------------------------------------------ heuristics

def quality_stats(text: str) -> dict[str, float]:
    words = ascii_words(text)
    n_words = len(words)
    n_chars = len(text)
    nonspace = [c for c in text if c not in ASCII_WS_SET]
    n_ns = len(nonspace) or 1
    n_alpha = sum(c.isalpha() for c in nonspace)
    n_digit = sum(c.isdigit() for c in nonspace)
    n_sym = n_ns - n_alpha - n_digit
    mean_wl = (sum(len(w) for w in words) / n_words) if n_words else 0.0
    distinct = len({w.lower() for w in words})
    rep_ratio = 1.0 - (distinct / n_words) if n_words else 1.0
    return {
        "n_chars": float(n_chars),
        "n_words": float(n_words),
        "mean_word_len": mean_wl,
        "symbol_ratio": n_sym / n_ns,
        "digit_ratio": n_digit / n_ns,
        "alpha_ratio": n_alpha / n_ns,
        "rep_ratio": rep_ratio,
    }


def passes_heuristics(text: str, q: dict | None = None) -> bool:
    q = q or QUALITY
    s = quality_stats(text)
    return (
        q["min_words"] <= s["n_words"] <= q["max_words"]
        and q["min_mean_word_len"] <= s["mean_word_len"] <= q["max_mean_word_len"]
        and s["symbol_ratio"] <= q["max_symbol_ratio"]
        and s["rep_ratio"] <= q["max_rep_ratio"]
        and s["digit_ratio"] <= q["max_digit_ratio"]
        and s["alpha_ratio"] >= q["min_alpha_ratio"]
    )


# ------------------------------------------------------------ toxicity

_P1 = re.compile(TOX_RE_W1)
_P2 = re.compile(TOX_RE_W2)


def toxicity_stats(text: str) -> dict[str, float]:
    """Weighted lexicon hits over the lowered text, divided by the
    ASCII-whitespace word count (at least 1)."""
    low = (text or "").lower()
    h1 = len(_P1.findall(low))
    h2 = len(_P2.findall(low))
    n_words = len(ascii_words(text)) or 1
    hits = h1 + 2 * h2
    return {"tox_hits": float(hits), "tox_score": hits / n_words}


# ------------------------------------------------------------ C4

def _line_ok(line: str) -> bool:
    s = line.strip(ASCII_WS)
    if not s.endswith(_TERMINAL):
        return False
    if len(ascii_words(s)) < _MIN_LINE_WORDS:
        return False
    low = s.lower()
    return not any(b in low for b in _BOILERPLATE)


def c4_clean(text: str) -> dict:
    """Line-filter the doc and judge the remainder."""
    lines = (text or "").split("\n")
    kept = [ln for ln in lines if _line_ok(ln)]
    low = (text or "").lower()
    doc_ok = (
        "lorem ipsum" not in low
        and "{" not in (text or "")
        and len(kept) >= _MIN_LINES
    )
    return {
        "cleaned_text": "\n".join(kept),
        "n_kept_lines": len(kept),
        "n_dropped_lines": len(lines) - len(kept),
        "keep": doc_ok,
    }


# ------------------------------------------------------------ Gopher

def _words(text: str) -> list[str]:
    return [w for w in re.split(r"[^a-z0-9]+", (text or "").lower()) if w]


def gopher_stats(text: str) -> dict[str, float]:
    """Every Gopher repetition metric: the in-row line/paragraph ones
    and the n-gram ones the relational census computes."""
    text = text or ""
    lines = [ln for ln in text.split("\n") if NON_WS_RE.search(ln)]
    paras = [p for p in text.split("\n\n") if NON_WS_RE.search(p)]

    def dup_frac(items):
        if not items:
            return 0.0
        return 1.0 - len(set(items)) / len(items)

    def dup_char_frac(items):
        total = sum(len(i) for i in items)
        if total == 0:
            return 0.0
        c = Counter(items)
        dup_chars = sum(len(i) * n for i, n in c.items() if n > 1)
        return dup_chars / total

    words = _words(text)
    n_word_chars = sum(len(w) for w in words) or 1

    def top_ngram_char_frac(n):
        if len(words) < n:
            return 0.0
        grams = Counter(
            tuple(words[i:i + n]) for i in range(len(words) - n + 1)
        )
        gram, cnt = max(grams.items(), key=lambda kv: (kv[1], kv[0]))
        if cnt < 2:
            # the rule measures REPETITION; a gram seen once covers a
            # large char share of any short document without repeating
            # anything — contributes 0, like the dup-line rules
            return 0.0
        return cnt * sum(len(w) for w in gram) / n_word_chars

    def dup_ngram_char_frac(n):
        """Fraction of word-characters covered by ANY occurrence of a
        repeated n-gram (positional coverage, overlaps counted once —
        the table-A1 'duplicate n-gram' family for n=5..10)."""
        if len(words) < n:
            return 0.0
        grams = [tuple(words[i:i + n])
                 for i in range(len(words) - n + 1)]
        c = Counter(grams)
        covered: set[int] = set()
        for i, g in enumerate(grams):
            if c[g] > 1:
                covered.update(range(i, i + n))
        return sum(len(words[j]) for j in covered) / n_word_chars

    out = {
        "dup_line_frac": dup_frac(lines),
        "dup_para_frac": dup_frac(paras),
        "dup_line_char_frac": dup_char_frac(lines),
        "dup_para_char_frac": dup_char_frac(paras),
        "top_2gram_char_frac": top_ngram_char_frac(2),
        "top_3gram_char_frac": top_ngram_char_frac(3),
        "top_4gram_char_frac": top_ngram_char_frac(4),
    }
    for n in range(5, 11):
        out[f"dup_{n}gram_char_frac"] = dup_ngram_char_frac(n)
    return out


def gopher_flags(stats: dict, thresholds: dict | None = None) -> dict:
    """Metric dict → per-rule boolean flags (True = rule violated)."""
    t = thresholds or THRESHOLDS
    return {k: stats[k] > v for k, v in t.items()}
