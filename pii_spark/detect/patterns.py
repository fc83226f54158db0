"""Format regexes for PII detection.

Stage-1 (the north rule's regex stage) covers EMAIL / PHONE / SSN / IP.
The model stage reuses the remaining format families (CREDIT_CARD, DATE,
AGE) as features. Every pattern family maps 1:1 to a generator branch —
the format inventory in pii_synth/generation.py:120-390 (+ obfuscations
:708-751, noise :676-706) is the coverage contract (FIXTURES.md §3).

Boundary policy: the corpus carries 8%-per-char substitution noise
outside spans (config_and_labels.py:21), which regularly glues a
substituted letter onto a span edge ("onX10/10/1994"). Word-boundary
anchors would silently drop ~7% of spans, so instead:
  * digit edges use (?<!\\d) / (?!\\d) guards (never match inside a
    longer digit run, but tolerate glued letters);
  * letter-led patterns drop the leading anchor entirely — a match may
    start mid-token, and the downstream token-overlap alignment
    (build_datasets.py:64-71 semantics) expands it to full tokens anyway;
  * _G1 allows at most ONE trailing glued letter, so "23Mx " matches
    while "23martinez" (a digit-prefixed username) does not.

Letter-led scans run anchored (candidates.format_candidates): every
_MONTH-led DATE match starts at a month stem, and every EMAIL match
starts within a fixed reach before its domain stem, so only those
windows are tried. The reach is finite because the EMAIL patterns are
bounded: a local part holds at most LOCAL_OCTETS units (RFC 5321's 64
octets, each obfuscated separator counting as the one '.' it stands
for) and separator whitespace is at most SEP_WS chars per side. An
unbounded local part made both scans quadratic on a long dotted run.
The anchors are found on text.lower(); four non-ASCII code points
(U+0130 İ, U+0131 ı, U+017F ſ, U+212A K) match an ASCII letter under
IGNORECASE without lowering to it (and İ lowers to two chars), so a doc
holding any of them is scanned in full instead.

Dotted/spaced 3-3-4 runs are genuinely ambiguous between the SSN branches
(generation.py:138-141) and PHONE branches (:186-187); they are exported
as AMBIG_334_* and resolved by template context in candidates.py.
"""

from __future__ import annotations

import re


def _c(pattern: str) -> re.Pattern:
    return re.compile(pattern, re.IGNORECASE)


_D0 = r"(?<!\d)"   # no digit immediately before
_D1 = r"(?!\d)"    # no digit immediately after
# at most one glued trailing letter, then a hard break
_G1 = r"(?=$|[^A-Za-z0-9]|[A-Za-z](?:$|[^A-Za-z0-9]))"

# ----------------------------------------------------------------- EMAIL

# closed domain vocabulary incl. the noise-typo chain forms
# (generation.py:690-694: gmail→gmial/gmal, yahoo→yaho/yahooo, com→con)
_DOM = r"(?:gmail|gmial|gmal|yahoo|yaho|yahooo|outlook|hotmail|aol|protonmail|icloud)"
_TLD = r"(?:com|con)"
_LOCAL_CHAR = r"[A-Za-z0-9_%+\-]"
LOCAL_OCTETS = 64  # RFC 5321 §4.5.3.1.1
SEP_WS = 4         # whitespace allowed on each side of a separator
_W0 = rf"\s{{0,{SEP_WS}}}"
_W1 = rf"\s{{1,{SEP_WS}}}"
_AT_SEP = rf"(?:{_W0}\[at\]{_W0}|{_W0}\(at\){_W0}|{_W1}at{_W1}|{_W0}@{_W0})"
_DOT_SEP = rf"(?:{_W0}\[dot\]{_W0}|{_W1}dot{_W1}|{_W0}\.{_W0})"
SEP_MAX = 2 * SEP_WS + len("[dot]")  # longest _AT_SEP/_DOT_SEP

# A local part is atom chars with single separators between them, one
# char or separator per repetition, so the bound counts octets. No
# trailing guard: '@domain.' anchors precision and noise glues
# arbitrary chars onto the tld ("…gmail.com7or").
EMAIL_CANON = _c(
    rf"{_LOCAL_CHAR}(?:{_LOCAL_CHAR}|\.(?={_LOCAL_CHAR})){{0,{LOCAL_OCTETS - 1}}}"
    rf"@{_DOM}\.{_TLD}"
)
EMAIL_OBF = _c(
    rf"{_LOCAL_CHAR}(?:{_LOCAL_CHAR}|{_DOT_SEP}(?={_LOCAL_CHAR})){{0,{LOCAL_OCTETS - 1}}}?"
    rf"(?:{_AT_SEP}|{_DOT_SEP}){_DOM}{_DOT_SEP}{_TLD}"
)
# Farthest a match can start before its domain: the local part plus
# '@', and for EMAIL_OBF the most separators a local part can hold,
# each at full width, plus the final separator.
EMAIL_CANON_REACH = LOCAL_OCTETS + 1
_MAX_SEPS = (LOCAL_OCTETS - 1) // 2
EMAIL_OBF_REACH = (LOCAL_OCTETS - _MAX_SEPS) + (_MAX_SEPS + 1) * SEP_MAX

# ----------------------------------------------------------------- PHONE

# separators: '-' and '/' are phone-unambiguous; '.'/' ' are ambiguous
# with SSN triplets and handled via AMBIG_334_*. ' - ' / ' . ' cover the
# inside-span spacing noise (generation.py:696-698).
_DASH = r"(?:\s?[-/]\s?)"
_ANY = r"(?:\s?[-./]\s?|\s)"
_CORE_DASH = rf"{_D0}\d{{3}}{_DASH}\d{{3}}{_DASH}\d{{4}}\d?{_D1}"
_CORE_ANY = rf"{_D0}\d{{3}}{_ANY}\d{{3}}{_ANY}\d{{4}}\d?{_D1}"

# in-span tel:/phone: prefixes (generation.py:198-199) are emitted
# lowercase; capitalized "Phone:" is a template literal OUTSIDE the span
# ("Phone: {phone}") — so the first letter is case-sensitive. Group 1 is
# the bare core: candidates.py falls back to it when an email directly
# precedes (the "email: {email} phone: {phone}" template's lowercase
# literal).
PHONE_PREFIXED = re.compile(
    rf"p[Hh][Oo][Nn][Ee]\s?:\s?((?:\+?1\s)?{_CORE_ANY})"
)
# 'email:'-ish label earlier in the line marks the
# "email: {email} phone: {phone}" template (lowercase literals)
_EMAIL_LABEL_BEFORE = re.compile(r"(?i)e?ma[a-z]?i?l\s?:")

PHONE_PATTERNS: list[tuple[re.Pattern, float]] = [
    # 'tel:' is never a template literal — always in-span
    (re.compile(rf"t[Ee][Ll]\s?:\s?(?:\+?1\s)?{_CORE_ANY}"), 0.97),
    (_c(rf"call me at (?:\+?1\s)?{_CORE_ANY}"), 0.97),
    (_c(rf"ends in \d{{4}}{_D1}"), 0.97),
    (_c(rf"(?:xxx{_ANY}xxx|\*\*\*{_ANY}\*\*\*){_ANY}\d{{4}}{_D1}"), 0.97),
    (_c(rf"\+\d{{1,7}}(?:{_ANY}\d{{2,4}}(?![a-z]{{2}})){{1,4}}(?:\d(?![a-z]{{2}}))?{_D1}"), 0.96),  # international
    (_c(rf"{_D0}\+?1\s{_CORE_ANY}"), 0.95),
    (_c(_CORE_DASH), 0.95),                                        # NNN-NNN-NNNN
    (_c(rf"{_D0}0\d{{3,4}}(?:\s?[-.]\s?\d{{3,4}}){{2,3}}{_D1}"), 0.95),
    (_c(rf"{_D0}00\d{{2}}{_ANY}\d{{4}}{_D1}"), 0.93),             # 00##-####
    (_c(rf"{_D0}0\d{{2}}\s\d{{4}}\s?\.\s?\d{{4}}{_D1}"), 0.95),   # 0## ####.####
    (_c(rf"{_D0}\d{{4}}{_DASH}\d{{3}}{_DASH}\d{{4}}{_D1}"), 0.95),  # ####-###-####
    # obfuscate_phone (generation.py:742-751) over variable-length digit
    # strings: spaced singles, dash-joined 3-groups, 3-3-rest split
    # obf "5 5 5 1 …"; one noise-fused 2-digit group allowed at the END
    # (never letter-glued — that would swallow a following '95ruth…')
    (_c(rf"{_D0}\d(?: \d){{3,15}}(?: \d\d(?![A-Za-z0-9]))?{_D1}"), 0.95),
    (_c(rf"{_D0}(?:\d{{3}}\s?-\s?){{1,5}}\d{{1,3}}{_D1}"), 0.89),  # 3-groups
    (_c(rf"\d{{3}} \d{{3}} \d{{1,3}}{_D1}"), 0.90),               # 3-3-{1..3}
    (_c(rf"\d{{3}} \d{{3}} \d{{5,9}}{_D1}"), 0.96),               # 3-3-{5..9} (beats bare 9-digit SSN)
    (_c(rf"{_D0}\d{{3}} \d{{1,2}}{_D1}"), 0.70),                  # obf "975 6"
    (_c(rf"{_D0}\d{{3}}\s?-\s?\d{{4}}{_D1}"), 0.84),              # last-8 "123-4567"
]

# ----------------------------------------------------------------- SSN

SSN_PATTERNS: list[tuple[re.Pattern, float]] = [
    (_c(rf"{_D0}\d{{3}}\s?-\s?\d{{2}}\s?-\s?\d{{4}}{_D1}"), 0.97),  # 3-2-4
    (_c(rf"\d{{4}}\s?-\s?\d{{4}}\s?-\s?\d{{4}}{_D1}"), 0.95),  # 4-4-4 (left glue ok)
    (_c(
        rf"\d{{2}}\s?\.\s?\d{{2}}\s?\.\s?\d{{2}}\s?\.\s?\d{{2}}\s?\.\s?"
        rf"[A-Z]\d{{2}}\s?\.\s?\d{_D1}"
    ), 0.97),  # 27.01.06.52.N67.7 (left glue ok)
    (_c(rf"(?<![A-Za-z][A-Za-z])[A-Za-z]\d{{7,8}}{_D1}"), 0.90),  # letter + 7/8 digits
]
# dotted/spaced 3-3-4: PHONE vs SSN, resolved by context in candidates.py
AMBIG_334_DOT = _c(rf"\d{{3}}\s?\.\s?\d{{3}}\s?\.\s?\d{{4}}{_D1}")
AMBIG_334_SPACE = _c(rf"\d{{3}} \d{{3}} \d{{4}}{_D1}")

# bare digit runs, classified by length in candidates.py
DIGIT_RUN = re.compile(rf"{_D0}\d{{4,19}}{_D1}")

# ----------------------------------------------------------------- DATE

_MONTH = (
    r"(?:january|february|march|april|may|june|july|august|september|"
    r"october|november|december|jan|feb|mar|apr|jun|jul|aug|sep|oct|nov|dec)"
)
_ORD = r"(?:st|nd|rd|th)"
DATE_PATTERNS: list[tuple[re.Pattern, float]] = [
    # ISO: no left digit-guard — a noise-glued digit prefix ("11958-07-23")
    # must not hide the real date; backtracking cannot start inside SSN
    # 4-4-4 or phone 4-3-4 shapes (middle group widths differ)
    (_c(r"\d{4}\s?-\s?\d{2}\s?-\s?\d{2}T00:00:00(?!\d)"), 0.98),
    (_c(r"\d{4}\s?-\s?\d{2}\s?-\s?\d{2}(?!\d)"), 0.97),
    (_c(r"born in (?:19|20)\d{2,3}"), 0.98),  # trailing glued digit ok
    (_c(rf"birthday\s?:\s?\d{{1,2}}/\d{{1,2}}{_D1}"), 0.98),
    (_c(rf"{_D0}\d{{1,2}}{_ORD} {_MONTH} \d{{4}}\d?{_D1}"), 0.97),  # 23rd June 1958
    (_c(rf"{_MONTH} \d{{1,2}}{_ORD}?, \d{{4}}\d?{_D1}"), 0.97),   # May 15(th), 1990(+glue)
    (_c(rf"{_MONTH} \d{{4}}{_D1}"), 0.94),                          # May 1990
    (_c(rf"{_MONTH}/\d{{1,2}}{_D1}"), 0.94),                        # September/4
    # slashed: mm/dd/yyyy, dd/mm/yyyy, m/d/yy, and the no-pad short year
    # "08/09/2" (year%100 < 10, generation.py:264); glue-tolerant groups
    (_c(r"\d{1,4}/\d{1,2}/\d{1,4}(?!\d)"), 0.95),
]
# a glued year followed by MORE lowercase is a year-prefixed username
# (generation.py:97-98); one glued letter then a break is noise on a
# plain year ('2033G emAjl'). Letters BEFORE the year are glue too
# ('registereda2027'). Group 1 = the tight year.
# a following Uppercase is a separate fine token ('2011Lqdznv774' =
# year + glued username start) — tight year still valid; a following
# lowercase run is a year-prefixed username ('1988samantha47') — reject.
YEAR_RE = re.compile(
    r"(?<![0-9])((?:19[5-9]\d|20[0-3]\d))"
    r"(?:(?:[A-Za-z](?![A-Za-z0-9]))?(?![A-Za-z0-9])|(?=[A-Z]))"
)

# ----------------------------------------------------------------- AGE

_A = r"\d{1,2}"
AGE_PATTERNS: list[tuple[re.Pattern, float]] = [
    (_c(rf"{_D0}{_A}M/{_A}F"), 0.97),
    (_c(rf"\(\s?{_A}\s?[MF]\s?\)"), 0.97),
    (_c(rf"\[\s?{_A}\s?[MF]\s?\]"), 0.97),
    # no trailing guard: noise can glue several letters onto "old"
    (_c(rf"{_D0}{_A}(?:\s?-\s?| )year(?:\s?-\s?| )old"), 0.97),
    (_c(rf"{_D0}{_A} years? old"), 0.97),
    (re.compile(rf"(?<![A-Za-z0-9]){_A}yo{_G1}", re.IGNORECASE), 0.95),
    # 'age N' is an in-span surface form emitted lowercase
    # (generation.py:170); capitalized 'Age ' is a template literal
    # OUTSIDE the span ("…, Age {age}, …") — case-sensitive.
    (re.compile(rf"age {_A}{_D1}"), 0.96),
    (_c(rf"i'm {_A}{_D1}"), 0.96),
    # gender-suffix forms are case-SENSITIVE: the generator emits '23M',
    # '23 M', 'M23' uppercase and '23m' lowercase-glued only
    # (generation.py:158-175); IGNORECASE here would turn every noise
    # digit next to an 'm'/'f' into an AGE hit.
    # gender forms are strict on the left — a noise digit/letter glued
    # before 'F'/'M' would otherwise manufacture ages out of prose
    (re.compile(rf"(?<![A-Za-z0-9]){_A}[MF]{_G1}"), 0.90),          # 23M
    (re.compile(rf"(?<![A-Za-z0-9])\d{{1,2}}[mf](?![A-Za-z0-9])"), 0.90),  # 23m
    (re.compile(rf"(?<![A-Za-z])\d{{1,2}} [MF](?![a-z0-9])"), 0.90),  # 23 M (glue-tolerant)
    (re.compile(rf"(?<![A-Za-z0-9])[MF]{_A}{_G1}"), 0.90),          # M23
]
# lowercase glued form with a letter-glued edge ("Agej81m", "13fw",
# "isR49yo") — only usable with AGE context, handled in candidates.py
AGE_MF_LOOSE = re.compile(rf"\d{{1,2}}(?:yo|[mf]){_G1}", re.IGNORECASE)
AGE_PAREN_BARE = _c(r"\(\s?\d{1,2}\s?\)")   # "(25)"
# strict boundaries: a weak candidate must be a standalone token, or
# every noise-injected digit inside an O-only word becomes an AGE hit
BARE_SMALL_INT = re.compile(r"(?<![A-Za-z0-9])\d{1,2}(?![A-Za-z0-9])")

# ----------------------------------------------------------------- IP

IP_RE = re.compile(r"(?<![\d.])(?:\d{1,3}\.){3}\d{1,3}(?![\d.])")

# ZIP+4 postcode
ZIP4_RE = re.compile(rf"{_D0}\d{{5}}-\d{{4}}{_D1}")

# ----------------------------------------------------------------- guards

GUARD_MISSING_DIGIT = _c(r"^\s?\(missing digit\)")  # exact form
GUARD_CHECKSUM = _c(r"^\s?checksum pending")
GUARD_ACCT_BEFORE = _c(r"(?:acct|account)\s*$")
