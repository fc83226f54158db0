"""The anchored letter-led scans of format_candidates.

EMAIL_CANON, EMAIL_OBF and the _MONTH-led DATE patterns run only where a
match can start (candidates._email_scans / _month_scan). These tests pin
that each runner returns exactly its pattern's finditer, that the
bounded EMAIL patterns agree with the earlier unbounded ones wherever a
local part fits the bound, that the scan cost is linear in the length of
hostile inputs, and that the case-folding code points which defeat the
lowered-copy anchors fall back to a full scan.
"""

from __future__ import annotations

import re
import time

import numpy as np
import pytest

import pii_spark.detect.candidates as C
import pii_spark.detect.patterns as P

# the EMAIL patterns before the local-part and whitespace bounds
_ATOM = r"[A-Za-z0-9_%+\-]+"
_AT_SEP = r"(?:\s*\[at\]\s*|\s*\(at\)\s*|\s+at\s+|\s*@\s*)"
_DOT_SEP = r"(?:\s*\[dot\]\s*|\s+dot\s+|\s*\.\s*)"
UNBOUNDED_CANON = re.compile(
    rf"{_ATOM}(?:\.{_ATOM})*@{P._DOM}\.{P._TLD}", re.IGNORECASE)
UNBOUNDED_OBF = re.compile(
    rf"({_ATOM}(?:{_DOT_SEP}{_ATOM})*?)(?:{_AT_SEP}|{_DOT_SEP})"
    rf"{P._DOM}{_DOT_SEP}{P._TLD}", re.IGNORECASE)

_FOLDERS = "\u0130\u0131\u017f\u212a"  # İ ı ſ K
_WS = ["", "", "", " ", " ", "  ", "\t", "\n", "\n\n", " " * 4, " " * 5]
_ATOM_CHARS = "abcdejmostxyzABDOTX0129_%+-"
_WORDS = ["dot", "DOT", "at", "At", "john", "doe", "mail", "com", "the",
          "gmai", "yah", "hotmai", "icl", "proton", "aol1", "ma", "ju"]
_DOMS = ["gmail", "gmial", "gmal", "yahoo", "yaho", "yahooo", "outlook",
         "hotmail", "aol", "protonmail", "icloud", "GMAIL", "YaHoO",
         "iCloud", "gmailgmail", "yahoooo", "gmai", "hotmal"]
_TLDS = ["com", "con", "COM", "cOn", "comm", "cm"]
_LOCAL_SEPS = [".", ".", "dot", "[dot]", "DOT", "[DOT]"]
_FINAL_SEPS = ["@", "@", "at", "[at]", "(at)", "AT", "[AT]", ".", "dot",
               "[dot]", "(dot)"]
_MONTHS = ["jan", "January", "feb", "MAR", "march", "Apr", "may", "MAY",
           "june", "jul", "August", "sep", "SEPT", "september", "oct",
           "nov", "dec", "Decem"]
_DATE_TAILS = [" 1", " 15", " 3rd", " 15th, 1990", " 1990", " 19901",
               "/4", "/12x", " 12, 2001", " 7th, 20011", ", 1990", " "]
_JUNK = [",", ";", "!", "'", "(", ")", "<", "#", "/", ":", "\u00e9",
         "\u3000", "7", "1990"]


def _pick(rng: np.random.Generator, seq) -> str:
    return seq[int(rng.integers(0, len(seq)))]


def _sep(rng: np.random.Generator, word: str) -> str:
    if word in (".", "@") or word.startswith(("[", "(")):
        return _pick(rng, _WS) + word + _pick(rng, _WS)
    return _pick(rng, _WS[3:]) + word + _pick(rng, _WS[3:])


def _atom(rng: np.random.Generator) -> str:
    if rng.random() < 0.3:
        return _pick(rng, _WORDS)
    return "".join(_pick(rng, _ATOM_CHARS)
                   for _ in range(int(rng.integers(1, 9))))


def _email_like(rng: np.random.Generator) -> str:
    """An email in canonical or any obfuscated form, each part dropped
    or replaced by junk now and then."""
    if rng.random() < 0.4:
        local, final, dot = (lambda: "."), (lambda: "@"), (lambda: ".")
    else:
        local = lambda: _sep(rng, _pick(rng, _LOCAL_SEPS))  # noqa: E731
        final = lambda: _sep(rng, _pick(rng, _FINAL_SEPS))  # noqa: E731
        dot = local
    parts = [_atom(rng)]
    for _ in range(int(rng.integers(0, 4))):
        parts += [local(), _atom(rng)]
    parts += [final(), _pick(rng, _DOMS), dot(), _pick(rng, _TLDS)]
    for i in range(len(parts)):
        if rng.random() < 0.06:
            parts[i] = _pick(rng, _JUNK) if rng.random() < 0.5 else ""
    return "".join(parts)


def _fuzz_text(rng: np.random.Generator, folders: bool) -> str:
    """A random glue of email-shaped runs, month dates, atoms, domain
    stems, whitespace runs and punctuation."""
    out = []
    for _ in range(int(rng.integers(1, 12))):
        k = int(rng.integers(0, 8 if folders else 7))
        if k in (0, 1):
            out.append(_email_like(rng))
        elif k == 2:
            out.append(_pick(rng, _MONTHS) + _pick(rng, _DATE_TAILS))
        elif k == 3:
            out.append(_atom(rng))
        elif k == 4:
            out.append(_pick(rng, _DOMS))
        elif k == 5:
            out.append(_pick(rng, _WS))
        elif k == 6:
            out.append(_pick(rng, _JUNK))
        else:
            out.append(_pick(rng, _FOLDERS))
    return "".join(out)


def _spans(ms) -> list[tuple[int, int]]:
    return [m.span() for m in ms]


def _month_led():
    return [rx for rx, _ in P.DATE_PATTERNS if id(rx) in C._MONTH_LED_RX]


def _check_equal_finditer(text: str) -> None:
    canon, obf = C._email_scans(text, text.lower())
    assert _spans(canon) == _spans(P.EMAIL_CANON.finditer(text)), text
    assert _spans(obf) == _spans(P.EMAIL_OBF.finditer(text)), text
    if C._anchorable(text):
        months = C._stem_starts(text.lower(), C._MONTH_STEMS)
        for rx in _month_led():
            assert (_spans(C._month_scan(rx, text, months))
                    == _spans(rx.finditer(text))), (rx.pattern, text)


# worst cases of the reach: the farthest start of an EMAIL_OBF match,
# a local part one octet over the bound, matches glued end to start
_OBF_FAR = "aa" + "    [dot]    a" * 31
_EDGE_TEXTS = [
    "x " + _OBF_FAR + "    [dot]    gmail    [dot]    com",
    "x a" + _OBF_FAR + "    [dot]    gmail    [dot]    com",
    "x" * 100 + "@gmail.com and " + "y." * 40 + "z@yahoo.con",
    "a@gmail.comb@gmail.comc [at] icloud dot com7d.e@aol.com",
    "reach jane dot doe at gmail dot com, or jane.doe@gmial.con.",
    "gmail." * 30 + "com",
    "May 15th, 1990 and June 2001, september/4 or MAR 12, 20011 may",
]


def test_edge_cases_equal_finditer():
    # the reach is measured from the domain's start: stems are prefixes
    for alt in P._DOM.strip("(?:)").split("|"):
        assert alt.startswith(C._EMAIL_DOMAIN_STEMS), alt
    far = P.EMAIL_OBF.search(_EDGE_TEXTS[0])
    assert far is not None and far.start() == 2
    assert _EDGE_TEXTS[0].index("gmail") - far.start() == P.EMAIL_OBF_REACH
    for text in _EDGE_TEXTS:
        _check_equal_finditer(text)


def test_anchored_runners_equal_finditer():
    """Differential fuzz: each runner returns its bounded pattern's
    finditer on any input, and the fuzz reaches every runner branch."""
    rng = np.random.default_rng(20261017)
    seen = dict(canon=0, obf=0, month=0, multi=0, folded=0)
    for i in range(6000):
        text = _fuzz_text(rng, folders=i % 10 == 0)
        _check_equal_finditer(text)
        seen["folded"] += not C._anchorable(text)
        seen["canon"] += bool(P.EMAIL_CANON.search(text))
        obf = list(P.EMAIL_OBF.finditer(text))
        seen["obf"] += bool(obf)
        seen["multi"] += len(obf) > 1
        seen["month"] += any(rx.search(text) for rx in _month_led())
    assert min(seen.values()) >= 50, seen


def test_format_candidates_equal_full_scan(monkeypatch):
    """format_candidates with the anchors equals the full-scan path on
    fuzz inputs and generated pages."""
    from pii_spark.textgrammar.generator import build_example

    rng = np.random.default_rng(7)
    texts = [_fuzz_text(rng, folders=False) for _ in range(1500)]
    texts += [build_example(11, i)["text"] for i in range(1500)]
    anchored = [C.format_candidates(t) for t in texts]
    monkeypatch.setattr(C, "_anchorable", lambda text: False)
    assert [C.format_candidates(t) for t in texts] == anchored


def _fits_bound(m: re.Match) -> bool:
    """Whether an unbounded EMAIL_OBF match has a local part of at most
    LOCAL_OCTETS octets and separator whitespace of at most SEP_WS."""
    octets = len(re.sub(_DOT_SEP, ".", m.group(1), flags=re.IGNORECASE))
    runs = [len(w) for w in re.findall(r"\s+", m.group())]
    return octets <= P.LOCAL_OCTETS and max(runs, default=0) <= P.SEP_WS


def test_bounded_equal_unbounded_where_local_parts_fit():
    """On inputs whose EMAIL matches fit the bound, the anchored scans
    equal the earlier unbounded patterns."""
    from pii_spark.textgrammar.generator import build_example

    rng = np.random.default_rng(99)
    texts = [_fuzz_text(rng, folders=False) for _ in range(6000)]
    texts += [build_example(5, i)["text"] for i in range(2000)]
    compared = 0
    for text in texts:
        old_obf = list(UNBOUNDED_OBF.finditer(text))
        if not all(_fits_bound(m) for m in old_obf):
            continue
        old_canon = list(UNBOUNDED_CANON.finditer(text))
        if any(m.group().index("@") > P.LOCAL_OCTETS for m in old_canon):
            continue
        canon, obf = C._email_scans(text, text.lower())
        assert _spans(canon) == _spans(old_canon), text
        assert _spans(obf) == _spans(old_obf), text
        compared += bool(old_obf)
    assert compared >= 1000


# hostile families: each is linear for the anchored scans and was
# quadratic for the unbounded EMAIL patterns
_HOSTILE = {
    "dotted_tail": lambda n: ("abc.def_" * (n // 8)) + " gmail",
    "padded_dots": lambda n: ("ab  .  " * (n // 7)) + "gmail",
    "bracket_dots": lambda n: ("ab [dot] " * (n // 9)) + "gmail",
    "domain_stems": lambda n: "gmail." * (n // 6),
    "long_space": lambda n: "a ." + " " * n + "gmail . com",
}


@pytest.mark.parametrize("family", sorted(_HOSTILE))
def test_hostile_scan_time_is_linear(family):
    """Time at 2n is at most 2.5x time at n: the minimum of 5 runs each,
    interleaved so that a change in host load hits both sizes."""
    make = _HOSTILE[family]
    texts = (make(3000), make(6000))
    C.format_candidates(texts[0])  # warm the memos
    best = [float("inf"), float("inf")]
    for _ in range(5):
        for k, text in enumerate(texts):
            t0 = time.perf_counter()
            C.format_candidates(text)
            best[k] = min(best[k], time.perf_counter() - t0)
    assert best[1] <= 2.5 * best[0], (family, best)


def test_case_folding_code_points_scan_in_full():
    """İ ı ſ K match ASCII letters under IGNORECASE but not in the
    lowered copy; a doc holding one must still detect its EMAIL and
    month DATE in full."""
    cands = C.format_candidates("Reach me: john.doe@ıcloud.com today")
    assert {(c.start, c.end) for c in cands if c.label == "EMAIL"} == {
        (10, 29)}
    text = "Born on ſeptember 1990"
    dates = {(c.start, c.end) for c in C.format_candidates(text)
             if c.label == "DATE"}
    assert (8, len(text)) in dates
    # 'İ' lowers to two chars: offsets of the lowered copy would shift
    text = "İİİ seen May 15th, 1990 by bob.smith@gmail.com"
    assert len(text.lower()) != len(text)
    _check_equal_finditer(text)
    got = {(c.start, c.end, c.label) for c in C.format_candidates(text)}
    assert (9, 23, "DATE") in got and (27, 46, "EMAIL") in got
