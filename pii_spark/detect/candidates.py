"""PII span candidate generation + overlap resolution.

NOTE: the trained head (artifacts/token_head.npz) consumes this module's
candidates as input features. Changing candidate behavior shifts the
feature distribution the head was trained on — retrain with
scripts/train_head.py after any change here, or serving quality drifts.

This is the feature extractor of the offline "model": a deterministic
pure function text → [(start, end, label, confidence)], combining
format regexes (patterns.py) and gazetteer/shape/context token matchers
(gazetteer.py). serving.py turns the resolved candidates into per-token
logits and runs the reference's serving semantics (softmax → confidence
threshold 0.3 → BILOU decode, evaluation/model_evaluation.py:253-281).

Hard negatives (generation.py:756-775) are kept label-free via shape
guards: '#'-prefixed numbers (Ref), '@'-prefixed handles, 'Acct …
checksum pending', Luhn-invalid cards, separator-adjacency rejection for
MAC/IP/GUID segments, hex-neighborhood rejection for digit runs embedded
in SHA1 strings, and an uppercase blocklist for form labels.

Glue tolerance: outside-span substitution noise (p=.08/char,
config_and_labels.py:21) can fuse a random letter onto a span edge, so
gazetteer lookups accept up to 2 trailing junk chars and a capitalized
suffix after up to 5 leading glued chars.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from ..tokenizer import tokenize_with_offsets
from . import patterns as P
from .gazetteer import (
    CITY_1,
    CITY_SEQS,
    COUNTRY_1,
    STATE_1,
    COUNTRY_CODES,
    COUNTRY_NAME_SEQS,
    FILLERS,
    FIRSTS,
    INITIALS_BLOCKLIST,
    LASTS,
    ORG_SUFFIX_SEQS,
    STATE_ABBRS,
    STATE_NAME_SEQS,
    STREET_FIRSTS,
    STREET_SUFFIXES_L,
)


_RE_D13 = re.compile(r"^\d{1,3}")
_RE_D14_TAIL = re.compile(r"\d{1,4}$")
_RE_D5 = re.compile(r"^\d{5}")
_RE_D4 = re.compile(r"^\d{4}")
_RE_INI = re.compile(r"^([A-Z]{2,4})(\d{0,2})$")
_INI_BLOCK_CACHE: dict[str, bool] = {}


class Candidate(NamedTuple):
    start: int
    end: int
    label: str
    conf: float


# context keyword sets (template-literal vocabulary, SURVEY §2 M1).
# Outside-span noise substitutes 8% of context characters
# (config_and_labels.py:21), so keywords are matched fuzzily: exact
# substring, or any window word within edit-distance 1 of a keyword.
_CTX_WORDS = {
    "PHONE": ("phone", "call", "tel", "dial", "callback", "reach", "mine",
              "contact", "or", "not", "later", "calling", "from", "wtf",
              "stop"),
    # strong age anchors for weak/loose AGE rules (the broad AGE set
    # includes 'me'/'applied', too weak to license a noise-made token)
    "AGE_STRONG": ("age", "old", "girlfriend", "boyfriend", "partner",
                   "wife", "brother", "year", "broke", "kissed", "hate",
                   "applied", "terrified"),
    "SSN": ("ssn", "social"),
    "PERSON": ("contact", "attendees", "user", "username", "customer",
               "patient", "applicant", "name", "witness", "signed",
               "welcome", "profile", "employee", "party", "following",
               "birthday", "thanks", "ticket", "reference", "delivery",
               "ship", "from", "trust", "scammed", "said", "email", "hi",
               "holder", "account", "form", "anyone", "reach"),
    "ADDRESS": ("address", "addr", "ship", "shipping", "shipto",
                "deliver", "delivery", "arriving", "apt", "suite",
                "floor", "attn", "at"),
    "AGE": ("age", "old", "me", "i'm", "im", "girlfriend", "boyfriend",
            "partner", "wife", "brother", "broke", "kissed", "hate",
            "applied", "year", "terrified"),
}
_CTX_EXACT = {
    # short keywords (≤2 chars, e.g. 'at') match only as whole words
    lab: re.compile(
        "|".join(
            rf"\b{re.escape(w)}\b" if len(w) <= 2 else re.escape(w)
            for w in words
        ),
        re.I,
    )
    for lab, words in _CTX_WORDS.items()
}
# include digits: noise turns letters into digits mid-keyword ("adDre2S")
_WORD_RE = re.compile(r"[A-Za-z0-9']+")


def _edit1(a: str, b: str) -> bool:
    """True if a ≈ b within one substitution / insertion / deletion /
    adjacent transposition (Damerau — swap noise is p=.03/char)."""
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:
        diffs = [i for i in range(la) if a[i] != b[i]]
        if len(diffs) <= 1:
            return True
        if len(diffs) == 2:
            i, j = diffs
            return j == i + 1 and a[i] == b[j] and a[j] == b[i]
        return False
    if la > lb:
        a, b, la, lb = b, a, lb, la
    # one deletion: a is b minus one char
    i = 0
    while i < la and a[i] == b[i]:
        i += 1
    return a[i:] == b[i + 1 :]


def _ctx_dist(
    text: str, start: int, end: int, label: str, width: int = 36
) -> tuple[int, int] | None:
    """Rank of the nearest context keyword as (side, distance) — side 0
    = keyword BEFORE the span (a form label like 'Phone:' immediately
    before the value), side 1 = after. Before-side keywords outrank
    after-side ones at any distance: 'PhonE: <value>\\nSocial: …' labels
    THIS value with the before keyword and the NEXT field with the after
    one. None if no keyword in range. Fuzzy: exact substring or
    edit-distance-1 window word."""
    lo = max(0, start - width)
    window = (text[lo:start] + " " + text[end : end + width]).lower()
    pivot = start - lo  # span sits at this window offset
    best: tuple[int, int] | None = None

    def consider(pos: int, ln: int) -> None:
        nonlocal best
        mid = pos + ln // 2
        rank = (0, pivot - mid) if mid <= pivot else (1, mid - pivot)
        if best is None or rank < best:
            best = rank

    for m in _CTX_EXACT[label].finditer(window):
        consider(m.start(), m.end() - m.start())
    for m in _WORD_RE.finditer(window):
        w = m.group()
        if len(w) >= 2 and _ctx_word_fuzzy(label, w):
            consider(m.start(), len(w))
    return best


# r9: whether ANY keyword of `label` fuzzy-matches window word `w` is a
# pure function of (label, w) — the window vocabulary repeats massively
# across docs, so the per-word keyword×edit-1 scan collapses to a dict
# hit (the scan ran ~150 _edit1 calls per doc before). `consider` still
# runs per occurrence, so (side, distance) ranking is unchanged.
_CTX_FUZZY_CACHE: dict[tuple[str, str], bool] = {}


def _ctx_word_fuzzy(label: str, w: str) -> bool:
    key = (label, w)
    v = _CTX_FUZZY_CACHE.get(key)
    if v is None:
        v = False
        for kw in _CTX_WORDS[label]:
            # 'ssn'/'age' are only 3 chars but too load-bearing to skip
            if len(w) >= 3 and len(kw) >= 4 and _edit1(w, kw):
                v = True
                break
            if kw in ("ssn", "age") and _edit1(w, kw):
                v = True
                break
        if len(_CTX_FUZZY_CACHE) > 300_000:
            _CTX_FUZZY_CACHE.clear()
        _CTX_FUZZY_CACHE[key] = v
    return v


def _ctx(text: str, start: int, end: int, label: str, width: int = 36) -> bool:
    return _ctx_dist(text, start, end, label, width) is not None


def _ctx_fuzzy2(text: str, start: int, end: int, label: str,
                width: int = 30) -> bool:
    """Secondary, heavier-fuzz context check (difflib ratio) for rules
    that would otherwise drop a span over a 2-edit-noised keyword
    ('dS3rEss' ≈ address). Only called at candidate sites, so the
    difflib cost stays negligible."""
    import difflib

    lo = max(0, start - width)
    window = (text[lo:start] + " " + text[end : end + width]).lower()
    kws = [k for k in _CTX_WORDS[label] if len(k) >= 5]
    for w in _WORD_RE.findall(window):
        if len(w) < 4:
            continue
        for kw in kws:
            if abs(len(w) - len(kw)) <= 2 and (
                _ratio_ge(w, kw, 0.63)
            ):
                return True
    return False


_PHONEISH = ("phone", "contact", "call", "callback", "tel", "dial")
_SSNISH = ("ssn", "social", "socialnumber")

# difflib ratio memo: every call site compares a window word against a
# FIXED keyword list, and the word vocabulary repeats massively across
# docs — caching collapses ~0.7s/400 docs of SequenceMatcher work (the
# profile's top non-loop entry) into dict hits. Pure function of (a, b).
_RATIO_CACHE: dict[tuple[str, str], float] = {}


def _ratio(a: str, b: str) -> float:
    key = (a, b)
    v = _RATIO_CACHE.get(key)
    if v is None:
        import difflib

        v = difflib.SequenceMatcher(None, a, b).ratio()
        if len(_RATIO_CACHE) > 300_000:
            _RATIO_CACHE.clear()
        _RATIO_CACHE[key] = v
    return v


def _ratio_ge(a: str, b: str, thr: float) -> bool:
    """Exactly ``_ratio(a, b) >= thr``, with a sound cheap upper bound
    tried first (r9): difflib's ratio is 2M/(|a|+|b|) where M is the
    total length of its matching blocks; every matched char pair
    consumes one char from each string, so M <= the character-multiset
    intersection — when even that bound misses the threshold, the
    SequenceMatcher run is skipped (most novel-word × keyword pairs)."""
    key = (a, b)
    v = _RATIO_CACHE.get(key)
    if v is not None:
        return v >= thr
    la, lb = len(a), len(b)
    denom = la + lb
    if 2.0 * min(la, lb) / denom < thr:
        return False
    counts: dict[str, int] = {}
    for ch in a:
        counts[ch] = counts.get(ch, 0) + 1
    common = 0
    for ch in b:
        c = counts.get(ch, 0)
        if c:
            common += 1
            counts[ch] = c - 1
    if 2.0 * common / denom < thr:
        return False
    return _ratio(a, b) >= thr


def _label_word_vote(text: str, start: int) -> str | None:
    """Classify the form-label word immediately before a value by
    difflib similarity — survives 2-edit noise ('PhZnW:', 'Contavt:')
    that exact/edit-1 matching cannot."""
    import difflib

    words = [
        w
        for w in _WORD_RE.findall(text[max(0, start - 14) : start].lower())
        if len(w) >= 3
    ]
    if not words:
        return None
    w = words[-1].lstrip("0123456789")  # shed glued digits ('960Cnalp')
    if len(w) < 3:
        return None
    pr = max(_ratio(w, k) for k in _PHONEISH)
    sr = max(_ratio(w, k) for k in _SSNISH)
    if max(pr, sr) < 0.55 or abs(pr - sr) < 0.08:
        return None
    return "PHONE" if pr > sr else "SSN"


def _luhn(digits: str) -> bool:
    total = 0
    for i, ch in enumerate(reversed(digits)):
        d = int(ch)
        if i % 2 == 1:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return total % 10 == 0


_SEP_ADJ = set(":-/+")
_HEXISH = set("0123456789abcdef")


def _sep_adjacent(text: str, start: int, end: int) -> bool:
    """Span glued to a CHAINING separator → fragment of a MAC / IP /
    GUID / international-phone string. A separator only counts when the
    char on its far side is alphanumeric ("95:52:b2" yes; a form label
    "Username :cath449" or a sentence-final period no). '+' is always a
    fragment marker (intl phone)."""
    before = text[start - 1] if start > 0 else ""
    after = text[end] if end < len(text) else ""
    if before == "+" or after == "+":
        return True
    # '/' chains only digit-to-digit ("05/13"); a letter on the far side
    # is a template separator ("…@gmail.com/{phone}")
    if before in ":-." and start >= 2 and text[start - 2].isalnum():
        return True
    if before == "/" and start >= 2 and text[start - 2].isdigit():
        return True
    if after in ":-" and end + 1 < len(text) and text[end + 1].isalnum():
        return True
    if after in "./" and end + 1 < len(text) and text[end + 1].isdigit():
        return True
    return False


def _digit_chained(text: str, start: int, end: int) -> bool:
    """Separator-adjacent AND the separator chains to another digit."""
    if start >= 2 and text[start - 1] in ":.-/+" and text[start - 2].isdigit():
        return True
    if (
        end + 1 < len(text)
        and text[end] in ":.-/"
        and text[end + 1].isdigit()
    ):
        return True
    return False


def _hex_embedded(text: str, start: int, end: int) -> bool:
    """Either neighbor is solid hex → inside a SHA1/GUID string
    (case-insensitive: noise case-flips hex letters). The tail of an
    ISO timestamp ('…T00:00:00D557…') is exempt — it is hex-ish but not
    a hash context."""
    if "0:00" in text[max(0, start - 9) : start]:
        return False
    left = text[max(0, start - 2) : start].lower()
    right = text[end : end + 2].lower()
    solid = lambda s: len(s) == 2 and all(c in _HEXISH for c in s)  # noqa: E731
    return solid(left) or solid(right)


_HN_AFTER = re.compile(r"(?i)issing.?digit|issing|hecksum")
_HN_AFTER_WORDS = ("checksum", "pending", "missing")
# 'ticket'/'reference' are NOT here: "Ticket #{person}" /
# "Reference #{person}" templates put real usernames after '#'
_REF_WORDS = ("ref", "acct", "account")


def _blocked_number(text: str, start: int, end: int) -> bool:
    """Hard-negative guards for bare digit runs (generation.py:763-775),
    tolerant of noise: '#' anywhere just before, a 'Ref'/'Acct'-prefixed
    word ('RefNy…'), or an edit-distance-1 fragment in the window."""
    span_txt = text[start:end]
    all_digit = span_txt.isdigit()
    ref_shape = all_digit and len(span_txt) == 5  # Ref# is 5-digit
    # '#' only blocks NUMBERS: "Ticket #{person}" / "Employee #{person}"
    # put letter-bearing usernames after '#'
    if all_digit and "#" in text[max(0, start - 4) : start]:
        return True  # Ref #NNNNN
    before = text[max(0, start - 16) : start].lower().replace("_", " ")
    for w in _WORD_RE.findall(before):
        if w in _REF_WORDS or (w[:3] == "ref" and len(w) <= 5):
            return True
        # fuzzy matching only guards the exact Ref# number shape —
        # otherwise "won't refund I [70M]" would block a real age
        if ref_shape and any(
            w.startswith(kw) and len(w) <= len(kw) + 2
            for kw in _REF_WORDS
        ):
            return True
        if ref_shape and len(w) >= 2 and any(
            _edit1(w, kw) for kw in _REF_WORDS
        ):
            return True
    after = text[end : end + 30]
    if _HN_AFTER.search(after):
        return True
    for w in _WORD_RE.findall(after.lower()):
        # same-length fuzz only, or same first char — otherwise the
        # legit template word 'ending' ≈ 'pending' by one deletion
        if len(w) >= 6 and any(
            _edit1(w, kw) and (len(w) == len(kw) or w[0] == kw[0])
            for kw in _HN_AFTER_WORDS
        ):
            return True  # 'Shecksum p3nding'
    return False


def _hexish_after(text: str, end: int) -> bool:
    """A long mostly-hex run right after → noised 'SHA1 <hex>' line."""
    seg = [c for c in text[end : end + 14] if not c.isspace()][:10]
    if len(seg) < 8:
        return False
    return sum(c.lower() in _HEXISH for c in seg) >= 8


def _hexish_before(text: str, start: int) -> bool:
    """A long mostly-hex run right before → tail of a noised SHA1/GUID."""
    seg = [c for c in text[max(0, start - 14) : start] if not c.isspace()][-10:]
    if len(seg) < 8:
        return False
    return sum(c.lower() in _HEXISH for c in seg) >= 8


_HN_PREFIX_WORDS = ("professor", "public", "sha1", "guid", "mac")


def _hn_prefix_before(text: str, start: int) -> bool:
    """Hard-negative anchor word ('professor: SHA1 …') just before."""
    for w in _WORD_RE.findall(text[max(0, start - 18) : start].lower()):
        if len(w) >= 3 and any(
            w == kw or _edit1(w, kw) for kw in _HN_PREFIX_WORDS
        ):
            return True
    return False


def _in_long_alnum_token(text: str, start: int, end: int) -> bool:
    """Digit run embedded in a long mixed alnum token (SHA1/GUID noise).

    Letters must flank the run on BOTH sides: a glued template word
    ('cardm5619…') or a glued suffix ('…486pon') has letters on one side
    only and is still a real number."""
    s, e = start, end
    while s > 0 and text[s - 1].isalnum():
        s -= 1
    while e < len(text) and text[e].isalnum():
        e += 1
    if e - s < 12:
        return False
    left = sum(c.isalpha() for c in text[s:start])
    right = sum(c.isalpha() for c in text[end:e])
    if left >= 2 and right >= 2:
        return True
    # very long mixed tokens (noised SHA1, 40ish chars) even with
    # one-sided letters; a credit card glued to a template word tops out
    # around 26 chars ('contact' + 19 digits)
    return (e - s) >= 30 and (left + right) >= 3


# ------------------------------------------------------------ format layer

_PIECE_RE = re.compile(r"\d+|[A-Z]+(?![a-z])|[A-Z][a-z]+|[a-z]+")
_EMAIL_GLUE_WORDS = ("email", "mail", "via", "phone", "reply", "contact")

# r9: the glue-word fuzzy scans below are pure functions of the
# lowercased atom and loop difflib/edit-1 over the fixed glue list —
# memoized so novel atoms pay the scan once and Zipf-repeated ones hit
# the dict (same pattern as _RATIO_CACHE; bounded by wholesale clear).
_GLUE_RATIO_CACHE: dict[str, bool] = {}
_GLUE_EDIT_CACHE: dict[str, bool] = {}


def _glue_ratio_any(low: str) -> bool:
    """len(low) >= 4 and any glue word within difflib ratio 0.7."""
    v = _GLUE_RATIO_CACHE.get(low)
    if v is None:
        v = len(low) >= 4 and any(
            _ratio_ge(low, w, 0.7) for w in _EMAIL_GLUE_WORDS
        )
        if len(_GLUE_RATIO_CACHE) > 100_000:
            _GLUE_RATIO_CACHE.clear()
        _GLUE_RATIO_CACHE[low] = v
    return v


def _glue_edit_any(low: str) -> bool:
    """any glue word within edit-1 of low or low[:-1]."""
    v = _GLUE_EDIT_CACHE.get(low)
    if v is None:
        v = any(
            _edit1(low, w) or _edit1(low[:-1], w)
            for w in _EMAIL_GLUE_WORDS
        )
        if len(_GLUE_EDIT_CACHE) > 100_000:
            _GLUE_EDIT_CACHE.clear()
        _GLUE_EDIT_CACHE[low] = v
    return v


def _trim_email_start(text: str, s: int, e: int) -> int:
    """Tight start for an email match: the local-atom regex greedily
    absorbs noise-glued prefixes ('Emailt', 'at8', 'Hm8Lat0shirley…').

    Strategy: split the leading atom into case/digit pieces. If the
    whole atom lowercases to a gazetteer name it is a case-scrambled
    local ('ReyNoLds') — never trimmed. Otherwise drop leading pieces
    that look like glue (digits, template words incl. fuzzy matches,
    short pieces feeding into more glue) as long as a plausible local
    core remains."""
    import difflib

    while s < e and not text[s].isalnum():
        s += 1
    # 'at.'/'me.' template fragments fused by a noised space
    m_frag = _RX_FRAG.match(text[s:e])
    if m_frag:
        s += m_frag.end()

    for _pass in range(3):  # may cross '_'/'.' between glue atoms
        # re-skip separators each pass: crossing a glue atom can land on
        # another separator ('email-.anderson' → after dropping 'email-'
        # the cursor sits on '.', which must not survive as the start)
        while s < e and not text[s].isalnum():
            s += 1
        atom_end = s
        while atom_end < e and text[atom_end].isalnum():
            atom_end += 1
        pieces = _PIECE_RE.findall(text[s:atom_end])
        if len(pieces) == 1:
            # a single-piece atom that is itself a glue word followed by
            # a separator ('oemsil_AP…') — drop it and cross over
            low1 = pieces[0].lower()
            if (
                atom_end < e
                and text[atom_end] in "_-"
                and (low1 in _EMAIL_GLUE_WORDS or _glue_ratio_any(low1))
            ):
                s = atom_end + 1
                continue
            break
        if len(pieces) < 1:
            break
        joined = "".join(pieces).lower()
        if joined in FIRSTS or joined in LASTS:
            break  # case-scrambled name local ('ReyNoLds')
        if (
            len(pieces) >= 2
            and len(pieces[0]) == 1
            and pieces[0].islower()
            and "".join(pieces[1:]).lower() in LASTS
        ):
            break  # first-initial + scrambled last ('gGibSON')
        dropped = False
        while len(pieces) > 1:
            head = pieces[0]
            low = head.lower()
            nxt = pieces[1]
            rest_has_alpha = any(
                not q.isdigit() and len(q) >= 2 for q in pieces[1:]
            )
            glue_word = (
                low in _EMAIL_GLUE_WORDS
                or _glue_edit_any(low)
                or _glue_ratio_any(low)
            )
            droppable = (
                head.isdigit()
                or glue_word
                or (len(head) <= 3 and head.islower())
                or (len(head) <= 2 and (nxt.isdigit() or nxt[0].isupper()))
                or (len(head) <= 3 and nxt.isdigit())
            )
            if (
                droppable
                and rest_has_alpha
                and not (
                    head[0].isupper()
                    and len(head) == 3
                    and not glue_word
                    and not nxt.isdigit()
                )
            ):
                s += len(pieces.pop(0))
                dropped = True
            else:
                break
        # cross one glue separator if the drop loop consumed the atom
        if dropped and s < e and text[s] in "_-" and len(pieces) <= 1:
            s += 1
            continue
        break

    # a fused '<token><X><local>@' (noised space) — trim to the upper
    # transition, keeping it, when the tail is a gazetteer name
    # ('…_mendezRkatherine.martinez@…')
    m_at = _RX_AT_SPLIT.search(text[s:e])
    at = s + m_at.start() if m_at else -1
    if at > 0:
        m3 = _RX_CAMEL_GLUE.search(text[s:at])
        if m3:
            tail = text[s + m3.end() : at].lower()
            tail_first = tail.split(".")[0].split("_")[0]
            if (
                tail_first in FIRSTS
                or tail_first in LASTS
                or tail_first[1:] in LASTS  # first-initial+last local
            ):
                s += m3.end() - 1
    return s


_DIGIT_SEARCH = re.compile(r"\d").search

# precompiled hot-loop patterns (string-form re.match went through
# re._compile's dict probe 147k times per 800 docs in the profile)
_RX_FRAG = re.compile(r"(?:at|me|to)[-.](?=[A-Za-z])")
_RX_AT_SPLIT = re.compile(r"\s*\[at\]|\s*\(at\)|\s+at\s|@")
_RX_CAMEL_GLUE = re.compile(r"[a-z0-9_][A-Z](?=[a-z]{3})")
_RX_DMF = re.compile(r"^\d[MF]$")
_RX_MFD = re.compile(r"^[MF]\d{1,2}$")
_RX_PAREN_AGE = re.compile(r"\(([MFmf]?\d{1,2}\s?[MFmf]?)\)")
_RX_BARE3 = re.compile(r"(?<![A-Za-z0-9])\d{3}(?![A-Za-z0-9])")
_RX_LOWER_RUNS = re.compile(r"[a-z]+")
_RX_D4_ALPHA = re.compile(r"^(\d{4})([a-z]+)(\d{0,6})")
_RX_ALPHA_DIG = re.compile(r"^([a-z]+)(\d{1,6})")
_RX_D24_ALPHA = re.compile(r"^(\d{2,4})([a-z]+)(\d{0,6})")
_RX_ZIP5_PP = re.compile(r"^(\D{0,2})(\d{5})$")
_RX_STATE_ABBR = re.compile(r"^([a-z]?\d?|\d?[a-z]?)([A-Z]{2,3})[a-z]?\d?$")
_RX_SPACE_WORD = re.compile(r" [a-z]{4,}")
_RX_TRAIL_ALPHA = re.compile(r"([a-z]+)$")
_RX_ALPHA_D_ALPHA = re.compile(r"^([a-z]+)(\d{0,4})([a-z]{0,2})$")
_RX_LEAD_ALPHA = re.compile(r"^([a-z]+)")
_RX_FUSED_ORG = re.compile(r"^([A-Za-z][a-z]{2,11})([A-Z]{2,4})$")
_RX_DOBISH = re.compile(r"(?i)\d|birthday|born|jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec")
_RX_MEY = re.compile(r"(?i)[.!]?\s?m[ey]\b")
_RX_TRUSTISH = re.compile(r"(?i)\s?\w{0,8}(trust|tryst|rust)")



# Letter-led scans run anchored (patterns.py docstring): every _DOM
# alternative starts with a domain stem ('yaho' covers yahoo/yahooo) and
# every _MONTH alternative starts with a month stem (full names and
# 3-letter abbreviations alike). Stems are lowercase and found on a
# lowered copy, because the patterns compile IGNORECASE. A doc with no
# stem skips the scan; otherwise only starts that can reach a stem are
# tried, in ascending order and resuming after each match as finditer
# does, so the result is exactly rx.finditer(text) (pinned by
# tests/test_format_anchors.py).
_MONTH_STEMS = ("jan", "feb", "mar", "apr", "may", "jun", "jul", "aug",
                "sep", "oct", "nov", "dec")
_DATE_MONTH_RX = frozenset(
    id(rx) for rx, _cf in P.DATE_PATTERNS if "january" in rx.pattern
)
_MONTH_LED_RX = frozenset(
    id(rx) for rx, _cf in P.DATE_PATTERNS if rx.pattern.startswith(P._MONTH)
)

_EMAIL_DOMAIN_STEMS = ("gmail", "gmial", "gmal", "yaho", "outlook",
                       "hotmail", "aol", "protonmail", "icloud")

# İ ı ſ K match an ASCII letter under IGNORECASE that text.lower() does
# not yield ('ıcloud' is an EMAIL domain, 'ſeptember' a month), and 'İ'
# lowers to two chars, shifting every later offset of the lowered copy:
# a doc holding any of them skips the stems and scans in full.
_FOLDS_TO_ASCII = re.compile("[\u0130\u0131\u017f\u212a]").search

# chars no local part can hold: for EMAIL_CANON anything outside atoms
# and '.'; for EMAIL_OBF anything outside atoms and separators, and a
# whitespace run between two atoms that is not part of a ' dot '
_CANON_BREAK = re.compile(r"[^A-Za-z0-9_%+\-.]")
_OBF_BREAK = re.compile(
    r"[^A-Za-z0-9_%+\-.\[\]\s]"
    r"|(?<=[A-Za-z0-9_%+\-])(?<!\sdot)\s+(?!dot\s)(?=[A-Za-z0-9_%+\-])",
    re.IGNORECASE,
)


def _stem_starts(low: str, stems: tuple[str, ...]) -> list[int]:
    """Ascending start offsets of every occurrence of every stem."""
    found = []
    for stem in stems:
        i = low.find(stem)
        while i >= 0:
            found.append(i)
            i = low.find(stem, i + 1)
    found.sort()
    return found


def _after_last_break(brk: re.Pattern, text: str, lo: int, lim: int,
                      d: int) -> int:
    """End of the last `brk` match that starts in [lo, lim), capped at
    lim; lo if there is none. The 32 chars before lim are searched
    first, since in prose a space is that close. The search stops at
    d + 4, past the 4-char lookahead of a whitespace run ending at d
    (text[d] is a letter, so no run starting before lim ends later)."""
    for start in (max(lo, lim - 32), lo):
        last = -1
        for b in brk.finditer(text, start, d + 4):
            if b.start() >= lim:
                break
            last = b.end()
        if last >= 0:
            return min(last, lim)
        if start == lo:
            break
    return lo


def _email_scan(rx: re.Pattern, text: str, doms: list[int], reach: int,
                final: int, brk: re.Pattern) -> list[re.Match]:
    """rx.finditer(text) for a bounded EMAIL pattern whose matches start
    at most `reach` chars before their domain, one of `doms`. Before
    each domain only the window its local part can span is tried: the
    last `final` chars are the final separator, and the local part
    starts after every `brk` char ahead of them."""
    out = []
    pos = tried = 0  # finditer's cursor; no start below `tried` matches
    for d in doms:
        if d <= pos:
            continue
        lo = max(pos, tried, d - reach)
        lo = _after_last_break(brk, text, lo, d - final, d)
        for q in range(lo, d):
            m = rx.match(text, q)
            if m is not None:
                out.append(m)
                pos = m.end()
                break
        else:
            tried = d
    return out


def _month_scan(rx: re.Pattern, text: str, months: list[int]) -> list[re.Match]:
    """rx.finditer(text) for a pattern whose matches start at a month
    stem, one of the ascending offsets `months`."""
    out = []
    pos = 0
    for q in months:
        if q >= pos:
            m = rx.match(text, q)
            if m is not None:
                out.append(m)
                pos = m.end()
    return out


def _anchorable(text: str) -> bool:
    """Whether stems found on text.lower() place every letter-led match."""
    return text.isascii() or _FOLDS_TO_ASCII(text) is None


def _email_scans(text: str, low: str) -> tuple[list, list]:
    """EMAIL_CANON and EMAIL_OBF matches, as their finditer gives them."""
    if not _anchorable(text):
        return (list(P.EMAIL_CANON.finditer(text)),
                list(P.EMAIL_OBF.finditer(text)))
    doms = _stem_starts(low, _EMAIL_DOMAIN_STEMS)
    at_doms = [d for d in doms if text[d - 1 : d] == "@"]
    return (
        _email_scan(P.EMAIL_CANON, text, at_doms, P.EMAIL_CANON_REACH, 1,
                    _CANON_BREAK),
        _email_scan(P.EMAIL_OBF, text, doms, P.EMAIL_OBF_REACH, P.SEP_MAX,
                    _OBF_BREAK),
    )


def format_candidates(text: str) -> list[Candidate]:
    out: list[Candidate] = []

    low = text.lower()
    canon, obf = _email_scans(text, low)
    for m in canon:
        out.append(Candidate(_trim_email_start(text, m.start(), m.end()),
                             m.end(), "EMAIL", 0.98))
    for m in obf:
        out.append(Candidate(_trim_email_start(text, m.start(), m.end()),
                             m.end(), "EMAIL", 0.96))

    if _DIGIT_SEARCH(text) is None:
        # every remaining format family (SSN/PHONE/CC/DATE/AGE/IP/ZIP/
        # digit-run) requires at least one digit, so digit-free docs
        # skip a dozen regex scans (output equivalence verified against
        # the unguarded code over 4k generated docs; pinned by
        # tests/test_detect.py::test_digit_free_prefilter)
        return out

    for rx, conf in P.SSN_PATTERNS:
        for m in rx.finditer(text):
            s, e = m.start(), m.end()
            if _hex_embedded(text, s, e):
                continue  # digit groups inside SHA1/GUID
            # letter+digits ids: guard against glued 'Acctf75…'/'Ref80…'
            s2 = s + 1 if text[s].isalpha() else s
            if _blocked_number(text, s2, e):
                continue
            out.append(Candidate(s, e, "SSN", conf))
    for rx, conf in P.PHONE_PATTERNS:
        for m in rx.finditer(text):
            s, e = m.start(), m.end()
            if _hex_embedded(text, s, e):
                continue  # GUID segments ('…563-0598-4e6e…')
            if conf <= 0.9 and _digit_chained(text, s, e):
                continue  # weak shapes chained into larger numbers
            out.append(Candidate(s, e, "PHONE", conf))
    for m in P.PHONE_PREFIXED.finditer(text):
        # lowercase 'phone:' is usually the in-span variant
        # (generation.py:199); the one template with a lowercase literal
        # is "email: {email} phone: {phone}" — identified by an
        # 'email:'-ish label earlier in the line and NO comma before
        # 'phone' → keep only the bare number there
        before = text[max(0, m.start() - 55) : m.start()]
        if P._EMAIL_LABEL_BEFORE.search(before) and not before.rstrip().endswith(","):
            out.append(Candidate(m.start(1), m.end(1), "PHONE", 0.97))
        else:
            out.append(Candidate(m.start(), m.end(), "PHONE", 0.97))

    # dotted/spaced 3-3-4: PHONE vs SSN decided by the NEAREST context
    # keyword ("SSN: 067841399; Phone: 332 366 2175" has both in range);
    # default SSN (ssn branches 5-6 outweigh phone branches 1-2 in the mix)
    for rx in (P.AMBIG_334_DOT, P.AMBIG_334_SPACE):
        for m in rx.finditer(text):
            s, e = m.start(), m.end()
            paren = (
                s > 0 and text[s - 1] == "(" and e < len(text)
                and text[e] == ")"
            )
            ds = _ctx_dist(text, s, e, "SSN")
            dp = _ctx_dist(text, s, e, "PHONE")
            if paren:  # "Attendees: name ({phone})" template shape
                out.append(Candidate(s, e, "PHONE", 0.93))
            elif "|" in text[max(0, s - 3) : s] and ds is None:
                # pipe-separated csv: the only 3-3-4-able field there is
                # the phone ("{person} | {age} | {address} | {phone}")
                out.append(Candidate(s, e, "PHONE", 0.90))
            elif ds is None and dp is None and (
                ";" in text[max(0, s - 3) : s]
                or ";" in text[e : e + 3]
            ):
                # semicolon csv "{person};{date};{ssn};{org};{phone}":
                # ssn is mid-row (';' follows), phone is last (none)
                if ";" in text[e : e + 3]:
                    out.append(Candidate(s, e, "SSN", 0.90))
                else:
                    out.append(Candidate(s, e, "PHONE", 0.90))
            elif (
                dp is not None
                and (ds is None or dp < ds)
                and (dp[0] == 0 or dp[1] <= 12)
            ):
                out.append(Candidate(s, e, "PHONE", 0.93))
            elif ds is not None:
                out.append(Candidate(s, e, "SSN", 0.93))
            else:
                vote = _label_word_vote(text, s)
                if vote:
                    out.append(Candidate(s, e, vote, 0.92))
                else:
                    out.append(Candidate(s, e, "SSN", 0.89))

    # month DATE scans: the _MONTH alternation defeats sre's first-char
    # skip, so the month-led patterns are tried only at month stems, and
    # the one with a digit-led prefix only runs when a stem is present
    months = _stem_starts(low, _MONTH_STEMS) if _anchorable(text) else None
    for rx, conf in P.DATE_PATTERNS:
        if months is not None and id(rx) in _MONTH_LED_RX:
            found = _month_scan(rx, text, months)
        elif months == [] and id(rx) in _DATE_MONTH_RX:
            continue
        else:
            found = rx.finditer(text)
        for m in found:
            out.append(Candidate(m.start(), m.end(), "DATE", conf))
    for m in P.YEAR_RE.finditer(text):
        s, e = m.start(1), m.end(1)
        if (
            not _sep_adjacent(text, s, e)
            and not _blocked_number(text, s, e)
            and not _hex_embedded(text, s, e)
        ):
            out.append(Candidate(s, e, "DATE", 0.88))

    for rx, conf in P.AGE_PATTERNS:
        for m in rx.finditer(text):
            s, e = m.start(), m.end()
            if e - s <= 5 and _sep_adjacent(text, s, e):
                continue  # 'F4' inside a MAC, '50' inside an IP, …
            if e - s <= 5 and _blocked_number(text, s, e):
                continue  # 'Ref #X281F'
            if e - s == 2 and _RX_DMF.match(text[s:e]) and not (
                _ctx(text, s, e, "AGE")
            ):
                continue  # '4F' ← noised 'if'; real 1-digit ages are rare
            if _RX_MFD.match(text[s:e]):
                # a strong-age word RIGHT AFTER means this is a noised
                # 'My'/'Me' before 'boyfriend …', not an age value
                nxt_w = _WORD_RE.findall(text[e : e + 14].lower())[:1]
                if nxt_w and any(
                    _edit1(nxt_w[0], kw) or nxt_w[0] == kw
                    for kw in ("boyfriend", "girlfriend", "partner",
                               "brother", "wife")
                ):
                    continue
                # 'M63' is both an AGE form (generation.py:160) and a
                # letter+digits username (generation.py:73) — the nearer
                # context label decides ('contact info: M63L' → person)
                dp_p = _ctx_dist(text, s, e, "PERSON")
                dp_a = _ctx_dist(text, s, e, "AGE")
                if dp_p is not None and (dp_a is None or dp_p < dp_a):
                    continue
            out.append(Candidate(s, e, "AGE", conf))
    # letter-glued lowercase gender form needs AGE context ("Agej81m")
    for m in P.AGE_MF_LOOSE.finditer(text):
        s, e = m.start(), m.end()
        if s > 0 and text[s - 1].isalpha() and not text[s - 1].isupper():
            continue  # 'and6m' noise vs legit 'I92yo' / 'MeZ69yo'
        if (
            _ctx(text, s, e, "AGE_STRONG")
            or _ctx_fuzzy2(text, s, e, "AGE_STRONG")
            or ("|" in text[max(0, s - 3) : s] and "|" in text[e : e + 3])
        ) and not _sep_adjacent(text, s, e):
            out.append(Candidate(s, e, "AGE", 0.72))
    for m in P.AGE_PAREN_BARE.finditer(text):
        out.append(Candidate(m.start(), m.end(), "AGE", 0.85))
    # "({age}) applied on" template: the parens are template literals,
    # not part of the span — trim paren AGE matches to the inner value
    # when an 'applied'-ish word follows (vs the in-span '(25M)' form,
    # generation.py:162-163). Double parens '((40F))' mean the inner
    # form carries its own parens — keep one layer then.
    import difflib

    def _appliedish(after: str) -> bool:
        if "applied" in after or "appli" in after:
            return True
        return any(
            _ratio_ge(w, "applied", 0.65)
            for w in _WORD_RE.findall(after)[:2]
            if len(w) >= 5
        )

    for m in _RX_PAREN_AGE.finditer(text):
        after = text[m.end() : m.end() + 14].lower()
        if _appliedish(after):
            if m.start() > 0 and text[m.start() - 1] == "(":
                out.append(Candidate(m.start(), m.end(), "AGE", 0.99))
            else:
                out.append(Candidate(m.start(1), m.end(1), "AGE", 0.99))

    for m in P.IP_RE.finditer(text):
        parts = m.group().split(".")
        if all(int(p) <= 255 for p in parts):
            out.append(Candidate(m.start(), m.end(), "IP", 0.80))

    for m in P.ZIP4_RE.finditer(text):
        if not _digit_chained(text, m.start(), m.end()):
            out.append(Candidate(m.start(), m.end(), "ADDRESS", 0.88))

    # bare digit runs, classified by length (closed format inventory)
    for m in P.DIGIT_RUN.finditer(text):
        s, e = m.start(), m.end()
        run = m.group()
        n = len(run)
        if _blocked_number(text, s, e):
            continue
        if _in_long_alnum_token(text, s, e):
            continue  # run inside a noised SHA1/GUID token
        if "_" in text[max(0, s - 1) : s] + text[e : e + 1]:
            continue  # '_'-glued fragments ('pyong9_5495')
        if n == 4 and (_sep_adjacent(text, s, e) or _hex_embedded(text, s, e)):
            continue  # MAC/IP/GUID/ZIP+4/intl-phone/SHA1 fragments
        if n == 5 and (_digit_chained(text, s, e) or _hex_embedded(text, s, e)):
            continue  # ZIP+4 halves / long separated digit groups
        if n == 4:
            before = text[s - 1] if s > 0 else ""
            after = text[e] if e < len(text) else ""
            if after.isalpha():
                continue  # fragment of a digit-prefixed username
            if before.isalpha():
                # leading glued letter: trust a nearby label
                # ('phone:A1441' / 'AddreSsL1103')
                ad4 = _ctx_dist(text, s, e, "ADDRESS", width=14)
                if ad4 is not None and ad4[0] == 0:
                    out.append(Candidate(s, e, "ADDRESS", 0.65))
                elif _ctx(text, s, e, "PHONE") or _ctx_fuzzy2(text, s, e, "ADDRESS"):
                    if _ctx_fuzzy2(text, s, e, "ADDRESS") and not _ctx(text, s, e, "PHONE"):
                        out.append(Candidate(s, e, "ADDRESS", 0.62))
                    else:
                        out.append(Candidate(s, e, "PHONE", 0.65))
                continue
            if 1950 <= int(run) <= 2039:
                out.append(Candidate(s, e, "DATE", 0.88))
            elif s > 0 and text[s - 1] == "(" and e < len(text) \
                    and text[e] == ")":
                out.append(Candidate(s, e, "PHONE", 0.72))  # "(1497)"
            elif "|" in text[max(0, s - 3) : s] and "|" not in text[e : e + 7]:
                # "{…} | {address} | {phone}" csv: last pipe field = phone
                out.append(Candidate(s, e, "PHONE", 0.70))
            else:
                # phone last-4 vs building number: nearest context wins
                # ("at 8040, callback:" → 'at' before beats 'call' after)
                dp4 = _ctx_dist(text, s, e, "PHONE")
                da4 = _ctx_dist(text, s, e, "ADDRESS")
                if _label_word_vote(text, s) == "PHONE" or (
                    dp4 is not None and (da4 is None or dp4 < da4)
                ):
                    out.append(Candidate(s, e, "PHONE", 0.70))
                else:
                    out.append(Candidate(s, e, "ADDRESS", 0.55))
        elif n == 5:
            if (
                e + 2 < len(text)
                and text[e].isalpha()
                and text[e + 1].isdigit()
                and text[e + 2].isdigit()
            ):
                continue  # '96976L44…' — noised longer number
            # a long letter run glued right before the digits is a
            # username tail ('kjoywmmccz44807'), not a postcode
            k = s
            while k > 0 and text[k - 1].isalpha():
                k -= 1
            conf5 = 0.55 if s - k >= 3 else 0.90
            out.append(Candidate(s, e, "ADDRESS", conf5))  # postcode
        elif n == 6:
            if s > 0 and text[s - 1].isalpha():
                continue  # fragment of '[A-Z]\\d{6}' person ids
            ad6 = _ctx_dist(text, s, e, "ADDRESS", width=14)
            if (
                (ad6 is not None and ad6[0] == 0)
                or text[max(0, s - 2) : s].strip() in ("|", ";")
                or text[e : e + 2].strip()[:1] in ("|", ";")
            ):
                out.append(Candidate(s, e, "ADDRESS", 0.60))  # zip+glued digit
        elif n in (9, 10):
            if _hex_embedded(text, s, e):
                continue  # digit run inside SHA1/GUID
            if n == 9:
                out.append(Candidate(s, e, "SSN", 0.95))
            else:
                # 0-led 10-digit runs are the SSN branch; otherwise a
                # bare phone — unless an SSN context word or form label
                # says otherwise
                ds = _ctx_dist(text, s, e, "SSN")
                dp = _ctx_dist(text, s, e, "PHONE")
                vote = _label_word_vote(text, s)
                if vote:
                    out.append(Candidate(s, e, vote, 0.93))
                elif run[0] == "0" or (
                    ds is not None and (dp is None or ds < dp)
                ):
                    out.append(Candidate(s, e, "SSN", 0.93))
                else:
                    out.append(Candidate(s, e, "PHONE", 0.93))
        elif 13 <= n <= 20:
            # a noise digit glued onto a card breaks Luhn — retry with
            # one digit stripped from either edge
            if 13 <= n <= 19 and _luhn(run):
                out.append(Candidate(s, e, "CREDIT_CARD", 0.96))
            elif 14 <= n <= 20 and _luhn(run[1:]):
                out.append(Candidate(s + 1, e, "CREDIT_CARD", 0.93))
            elif 14 <= n <= 20 and _luhn(run[:-1]):
                out.append(Candidate(s, e - 1, "CREDIT_CARD", 0.93))

    # small bare ints → AGE only with an AGE-ish context (reddit-style
    # templates); without the gate, every noise-made standalone digit in
    # O-only prose becomes an AGE hit
    for m in P.BARE_SMALL_INT.finditer(text):
        s, e = m.start(), m.end()
        if (
            not _blocked_number(text, s, e)
            and not _sep_adjacent(text, s, e)
            and (s == 0 or text[s - 1] not in "'_")  # "can'9 agree" noise
            and (e >= len(text) or text[e] != "(")
            and (
                _ctx(text, s, e, "AGE_STRONG")
                or _ctx_fuzzy2(text, s, e, "AGE_STRONG")
                # "{person} | {age} | {address} | {phone}" csv slot
                or (
                    "|" in text[max(0, s - 3) : s]
                    and "|" in text[e : e + 3]
                )
            )
        ):
            out.append(Candidate(s, e, "AGE", 0.60))

    # standalone 3-digit number → building-number address component
    # (generate_address branch str(randint(1,999)); AGE caps at 2 digits)
    for m in _RX_BARE3.finditer(text):
        s, e = m.start(), m.end()
        dotted = e < len(text) - 1 and text[e] == "." and text[e + 1].isalnum()
        if (
            not dotted  # noised IP fragment ('IPv 424.e15…')
            and not (s > 0 and text[s - 1] == "_")
            and not (e < len(text) and text[e] == "_")
            and not _hexish_after(text, e)
            and not _hexish_before(text, s)
            and not _blocked_number(text, s, e)
            and not _sep_adjacent(text, s, e)
        ):
            out.append(Candidate(s, e, "ADDRESS", 0.52))

    return out


# ------------------------------------------------------------ token layer

_ALNUM_RE = re.compile(r"^[A-Za-z0-9]+$")
_YEARPFX = re.compile(r"^(19|20)\d{2}")
_DIGPFX = re.compile(r"^\d{2,4}")  # b4/b14 prefixes are 2-4 digits


_UNIT_WORDS = frozenset({"apartment", "suite", "floor"})

# template-literal vocabulary: a "random username" whose alpha core is a
# (possibly glued/noised) template word is template text, not PII
from ..textgrammar.templates import TEMPLATES as _TPL  # noqa: E402

_TEMPLATE_WORDS = frozenset(
    w
    for t in _TPL
    for w in _RX_LOWER_RUNS.findall(t.lower())
    if len(w) >= 5
)


_TEMPLATE_WORDISH_CACHE: dict[str, bool] = {}


def _template_wordish(alpha: str) -> bool:
    # pure function of alpha; the edit-1/ratio scan over the template
    # vocabulary is the expensive part — memoized (r9)
    v = _TEMPLATE_WORDISH_CACHE.get(alpha)
    if v is not None:
        return v
    v = _template_wordish_uncached(alpha)
    if len(_TEMPLATE_WORDISH_CACHE) > 100_000:
        _TEMPLATE_WORDISH_CACHE.clear()
    _TEMPLATE_WORDISH_CACHE[alpha] = v
    return v


def _template_wordish_uncached(alpha: str) -> bool:
    if alpha in _TEMPLATE_WORDS or alpha[:-1] in _TEMPLATE_WORDS or (
        len(alpha) >= 7 and alpha[:-2] in _TEMPLATE_WORDS
    ):
        return True
    if len(alpha) <= 13:
        if any(
            abs(len(alpha) - len(w)) <= 1 and _edit1(alpha, w)
            for w in _TEMPLATE_WORDS
        ):
            return True
        return any(
            abs(len(alpha) - len(w)) <= 2
            and _ratio_ge(alpha, w, 0.8)
            for w in _TEMPLATE_WORDS
        )
    return False

# first-token index for 2-token place sequences (hot path: _seq2_hit)
def _seq2_index(seqs: frozenset) -> dict[str, tuple[str, ...]]:
    idx: dict[str, list[str]] = {}
    for s in seqs:
        if len(s) == 2:
            idx.setdefault(s[0], []).append(s[1])
    return {k: tuple(v) for k, v in idx.items()}


_SEQ2_INDEX = {
    id(CITY_SEQS): _seq2_index(CITY_SEQS),
    id(COUNTRY_NAME_SEQS): _seq2_index(COUNTRY_NAME_SEQS),
    id(STATE_NAME_SEQS): _seq2_index(STATE_NAME_SEQS),
}
_SEQ2_FIRSTS_ALL = frozenset(
    k for idx in _SEQ2_INDEX.values() for k in idx
)

# ---- per-token-text section mask (r3 hot-loop gating) ----------------
# token_candidates runs ~13 matcher sections per token; for an ordinary
# word every section's token-local entry predicate is false, yet r2
# still paid each section's probe cost per OCCURRENCE. The mask caches,
# per unique token text, which sections COULD fire (the token-local
# part of each entry condition — context parts still evaluate inside
# the gated section), so the Zipf-heavy common case is one dict probe
# plus bit tests. Each bit is provably implied by its section's emit
# path; gating therefore never changes output (pinned by the
# byte-stability A/B over 9k docs + the full detect test suite).
(B_SEQ2, B_PLACE1, B_STREET, B_UNIT, B_ZIP, B_ABBR, B_ORG, B_FIRSTS,
 B_STEM, B_UNAME, B_FUSED, B_INI, B_DIGITS) = (1 << i for i in range(13))

_TOK_MASK_CACHE: dict[str, int] = {}

# r9: the seven per-gazetteer _gaz_span_rel probes in the mask builder
# all enumerate the SAME substring space (full / prefix-cut / strip /
# suffix-glue positions) — one word→gazetteer-bitmask dict turns them
# into a single pass. The mask only needs EXISTENCE of a hit per
# gazetteer (the tight span is resolved later by the gated section via
# _gaz_span), and existence over a union of gazetteers distributes over
# the shared probe set, so the resulting bits are identical to the
# seven independent scans (pinned by test_tok_mask_bits_equivalence).
_GAZ_BITS: dict[str, int] = {}
for _gz, _bit in ((CITY_1, B_PLACE1), (COUNTRY_1, B_PLACE1),
                  (STATE_1, B_PLACE1), (STREET_FIRSTS, B_STREET),
                  (_UNIT_WORDS, B_UNIT), (LASTS, B_ORG),
                  (FIRSTS, B_FIRSTS)):
    for _w in _gz:
        _GAZ_BITS[_w] = _GAZ_BITS.get(_w, 0) | _bit
del _gz, _bit, _w
_GAZ_ALL_BITS = B_PLACE1 | B_STREET | B_UNIT | B_ORG | B_FIRSTS


def _gaz_bits(text: str, low: str) -> int:
    """OR of _GAZ_BITS over every substring probe _gaz_span_rel would
    try — same positional conditions, evaluated once for all
    gazetteers."""
    gb = _GAZ_BITS.get
    ln = len(low)
    acc = gb(low, 0) | gb(low[:-1], 0)
    if ln >= 6:
        acc |= gb(low[:-2], 0)
    if ln >= 7:
        acc |= gb(low[:-3], 0)
    for k in range(1, min(13, ln - 2)):
        if k <= 2 or text[k].isupper():
            acc |= gb(low[k:], 0)
            if acc == _GAZ_ALL_BITS:
                return acc
    for k in range(ln - 1, 3, -1):
        if (
            text[k].isupper()
            or text[k].isdigit()
            or any(c.isupper() or c.isdigit() for c in text[k + 1 : k + 3])
        ):
            acc |= gb(low[:k], 0)
            if acc == _GAZ_ALL_BITS:
                return acc
    return acc


def _tok_mask(text: str, low: str) -> int:
    m = _TOK_MASK_CACHE.get(text)
    if m is not None:
        return m
    m = _gaz_bits(text, low)
    if low in _SEQ2_FIRSTS_ALL:
        m |= B_SEQ2
    if _RX_ZIP5_PP.match(text):
        m |= B_ZIP
    if _RX_STATE_ABBR.match(text):
        m |= B_ABBR
    if not m & B_ORG and _org_anchor_rel(text, low) is not None:
        m |= B_ORG
    if _stem_rel(low) >= 0:
        m |= B_STEM
    if _ALNUM_RE.match(text) and len(text) <= 26:
        m |= B_UNAME
    if _RX_FUSED_ORG.match(text):
        m |= B_FUSED
    if _RE_INI.match(text):
        m |= B_INI
    if any(c.isdigit() for c in low):
        m |= B_DIGITS
    if len(_TOK_MASK_CACHE) > 300_000:
        _TOK_MASK_CACHE.clear()
    _TOK_MASK_CACHE[text] = m
    return m


# hoisted: building this union per token defeated _GAZ_CACHE (the cache
# keys on id(gaz), fresh per union) and allocated a large frozenset in
# the hot loop
_PLACE_1 = CITY_1 | STATE_1 | COUNTRY_1
# hoisted: the single-word company suffixes, iterated per org-anchor
# token (r2 rebuilt the filtering generator on every call). SORTED:
# frozenset iteration order depends on the interpreter hash seed, and
# the suffix scan returns on first match — an unsorted tuple would make
# ambiguous-glue matches session-dependent (latent in r1/r2, where the
# per-call generator iterated the set directly).
_ORG_SUFFIX_SINGLES = tuple(sorted(
    s[0] for s in ORG_SUFFIX_SEQS if len(s) == 1
))


class _Tok(NamedTuple):
    text: str
    low: str
    start: int
    end: int


# matcher-side segmentation is COARSE (maximal alnum runs) — the metric
# tokenizer is finer (case/digit splits); matchers emit TIGHT char spans
# so the fine tokens around glue align with the generator's exact offsets
_WORD_TOKEN_RE = re.compile(r"[A-Za-z0-9]+|[^\sA-Za-z0-9]")


def _toks(text: str) -> list[_Tok]:
    out = []
    for m in _WORD_TOKEN_RE.finditer(text):
        t = m.group()
        out.append(_Tok(t, t.lower(), m.start(), m.end()))
    return out


_GAZ_CACHE: dict[tuple[str, int], tuple[int, int] | None] = {}


def _gaz_span(tok: _Tok, gaz: frozenset) -> tuple[int, int] | None:
    """Tight char range of a gazetteer hit inside a possibly noise-glued
    token: ≤2 trailing junk chars, a gazetteer prefix with an
    uppercase/digit glue handover, or a gazetteer suffix after ≤2 glued
    chars (any case) / more when the word restarts uppercase.

    Results are memoized per (token text, gazetteer): the corpus draws
    from closed vocabularies, so the hit rate is high and the cache
    stays small (cleared at 1M entries as a safety valve)."""
    key = (tok.text, id(gaz))
    try:
        rel = _GAZ_CACHE[key]
    except KeyError:
        rel = _gaz_span_rel(tok.text, tok.low, gaz)
        if len(_GAZ_CACHE) > 300_000:
            _GAZ_CACHE.clear()
        _GAZ_CACHE[key] = rel
    if rel is None:
        return None
    return (tok.start + rel[0], tok.start + rel[1])


def _gaz_span_rel(text: str, low: str, gaz: frozenset) -> tuple[int, int] | None:
    ln = len(low)
    if low in gaz:
        return (0, ln)
    if low[:-1] in gaz:
        return (0, ln - 1)
    if ln >= 6 and low[:-2] in gaz:
        return (0, ln - 2)
    if ln >= 7 and low[:-3] in gaz:
        return (0, ln - 3)
    for k in range(1, min(13, ln - 2)):
        if low[k:] in gaz and (k <= 2 or text[k].isupper()):
            return (k, ln)
    for k in range(ln - 1, 3, -1):
        # trailing glue handover: uppercase/digit at k, or an
        # uppercase/digit restart within 2 chars ('Burns'+'h'+'Aodres',
        # 'Mason'+'q'+'690')
        if low[:k] in gaz and (
            text[k].isupper()
            or text[k].isdigit()
            or any(c.isupper() or c.isdigit() for c in text[k + 1 : k + 3])
        ):
            return (0, k)
    return None


def _gaz_glued(tok: _Tok, gaz: frozenset) -> bool:
    return _gaz_span(tok, gaz) is not None


def _last_span_loose(tok: _Tok) -> tuple[int, int] | None:
    """LASTS lookup for the SECOND token of 'First Last' — anchored by
    the preceding first name, so any-case multi-char trailing glue is
    acceptable ('Simmonscfr', 'Burnspsaid')."""
    sp = _gaz_span(tok, LASTS)
    if sp:
        return sp
    low = tok.low
    for k in range(len(low) - 1, 3, -1):
        if low[:k] in LASTS:
            return (tok.start, tok.start + k)
    return None


_YEAR_USER_RE = re.compile(r"(?:19|20)\d{2}[a-z]+\d{0,6}")


_INI_BLOCKED_CACHE: dict[tuple[str, bool], bool] = {}


def _ini_blocked(ini: str, formlabel: bool) -> bool:
    """Initials-blocklist scan (exact / anagram / edit-1 with the
    form-label 3-letter relaxation) — pure function of (initials,
    form-label position), memoized; the uncached scan runs _edit1
    against the whole blocklist per token."""
    key = (ini, formlabel)
    v = _INI_BLOCKED_CACHE.get(key)
    if v is None:
        v = any(
            ini == b
            or sorted(ini) == sorted(b)
            or (max(len(b), len(ini)) >= 4 and _edit1(ini, b))
            # a noised form label ('ESN:', 'SS0') sits in label
            # position; only then does edit-1 apply to 3-letter words
            or (len(b) == 3 and formlabel and _edit1(ini, b))
            for b in INITIALS_BLOCKLIST
        )
        if len(_INI_BLOCKED_CACHE) > 100_000:
            _INI_BLOCKED_CACHE.clear()
        _INI_BLOCKED_CACHE[key] = v
    return v


_ORG_ANCHOR_CACHE: dict[str, int | None] = {}


def _org_anchor_rel(text: str, low: str) -> int | None:
    """Latest uppercase-handover LASTS suffix inside the token (the ORG
    grammar anchor), as a relative offset — pure function of the token
    text, memoized."""
    try:
        return _ORG_ANCHOR_CACHE[text]
    except KeyError:
        pass
    rel = None
    for k in range(min(17, len(low) - 2), 0, -1):
        if low[k:] in LASTS and text[k].isupper():
            rel = k
            break
    if len(_ORG_ANCHOR_CACHE) > 300_000:
        _ORG_ANCHOR_CACHE.clear()
    _ORG_ANCHOR_CACHE[text] = rel
    return rel


_STEM_CACHE: dict[str, int] = {}


def _stem_rel(low: str) -> int:
    """first.last stem start (optional year/digit prefix behind ≤2
    glued chars, else glue before a trailing first name), as a relative
    offset or -1 — pure function of the lowercased token, memoized."""
    v = _STEM_CACHE.get(low)
    if v is not None:
        return v
    rel = -1
    for strip in (0, 1, 2):
        alpha1 = low[strip:]
        if len(alpha1) < 3:
            break
        ym = _YEARPFX.match(alpha1) or _DIGPFX.match(alpha1)
        stem = alpha1[ym.end():] if ym and alpha1[ym.end():] else alpha1
        if stem in FIRSTS or (ym and stem in LASTS):
            rel = strip
            break
    if rel < 0:
        # arbitrary glue ending before a trailing first name
        # ('Thanks5kelly.adams' → 'kelly')
        mt = _RX_TRAIL_ALPHA.search(low)
        if mt and mt.group(1) in FIRSTS and mt.start() > 0:
            rel = mt.start()
    if len(_STEM_CACHE) > 300_000:
        _STEM_CACHE.clear()
    _STEM_CACHE[low] = rel
    return rel


_USERNAME_CACHE: dict[tuple[str, bool], tuple[float, int, int]] = {}


def _username_shape(low: str, first_upper: bool = False) -> tuple[float, int, int]:
    """Single-token username hit: (confidence, start_off, end_off) —
    offsets are TIGHT (glued trail chars excluded) so the fine metric
    tokens around noise glue align with the generator's exact spans.
    Shapes per generation.py:51-118; trailing glue may be arbitrarily
    long (it is never part of the span). Pure function of its inputs —
    memoized (Zipf token reuse across a web corpus)."""
    key = (low, first_upper)
    v = _USERNAME_CACHE.get(key)
    if v is not None:
        return v
    v = _username_shape_uncached(low, first_upper)
    if len(_USERNAME_CACHE) > 300_000:
        _USERNAME_CACHE.clear()
    _USERNAME_CACHE[key] = v
    return v


def _username_shape_uncached(
    low: str, first_upper: bool
) -> tuple[float, int, int]:
    # year-prefixed usernames first, possibly after leading glue
    # ('havef1970jhamilton', 'PaTiente2004stephanie70'): a gazetteer name
    # behind a year beats any generic shape match on the glued prefix
    m = _YEAR_USER_RE.search(low)
    if m and not low[: m.start()].isdigit():
        inner = _RX_D4_ALPHA.match(m.group())
        alpha = inner.group(2)
        if (
            alpha in FIRSTS
            or alpha in LASTS
            or (alpha[1:] in LASTS and len(alpha) >= 4)
            or (m.start() == 0 and len(alpha) >= 6)
        ):
            conf = 0.85 if m.start() == 0 else 0.83
            return (conf, m.start(), m.end())
    m = _RX_ALPHA_DIG.match(low)
    if m:
        alpha, digits = m.group(1), m.group(2)
        trail = low[m.end() :]
        tight = len(alpha) + len(digits)
        if len(alpha) == 1:
            # letter+digits ids: A141981 / N23 (7-8 digits would be SSN);
            # generated with an UPPERCASE letter only
            if len(digits) in (2, 6) and len(trail) <= 2 and first_upper:
                return (0.85, 0, tight)
            return (0.0, 0, 0)
        name_gaz = alpha in FIRSTS or alpha in LASTS
        if trail and not (len(digits) >= 2 or (name_gaz and len(alpha) >= 5)):
            return (0.0, 0, 0)  # 'amy1e' ≈ noised filler, not a username
        if name_gaz:
            if len(digits) == 1 and not trail:
                # no generator branch makes bare name+1digit — the digit
                # is noise glue ('heather0'); keep the name only
                return (0.85, 0, len(alpha))
            return (0.90 if not trail else 0.85, 0, tight)
        if alpha in FILLERS:
            # word+NN usernames (generation.py:63) have 2 digits (3 with
            # a glued one); a single noise-made digit is not one
            if len(digits) in (2, 3):
                return (0.90, 0, tight)
            return (0.0, 0, 0)
        if len(alpha) >= 6 and len(digits) >= 2:
            # prefer a tight gazetteer core behind 1-2 glued chars
            # ('Inathan334' → 'nathan334')
            for k in (1, 2):
                if alpha[k:] in FIRSTS or alpha[k:] in LASTS:
                    return (0.87, k, tight)
            if _template_wordish(alpha):
                return (0.0, 0, 0)  # 'registereda2027' = glued literal
            return (0.88, 0, tight)  # random-letter usernames
        return (0.0, 0, 0)
    m = _RX_D24_ALPHA.match(low)
    if m:  # digit-prefixed usernames ('29summikota', '15ccook');
        # random-alpha cores only follow YEAR prefixes (handled above) —
        # allowing them here would turn '28Ftdon't'-style noise into hits
        alpha = m.group(2)
        if (
            alpha in FIRSTS
            or alpha in LASTS
            or (alpha[1:] in LASTS and len(alpha) >= 4)
        ):
            return (0.85, 0, m.end())
        return (0.0, 0, 0)
    if len(low) >= 5 and low.isalpha():
        # first-initial + last name: 'gpatterson', 'rstevensU'; glued
        # variants require a long tail or random words shed into it
        # ('eleetd' → 'lee' must NOT count)
        for strip in (0, 1, 2):
            tail = low[1 : len(low) - strip]
            if tail in LASTS and (strip == 0 or len(tail) >= 5):
                return (0.87, 0, len(low) - strip)
    return (0.0, 0, 0)


def token_candidates(text: str) -> list[Candidate]:
    toks = _toks(text)
    out: list[Candidate] = []
    n = len(toks)

    def seq_low(i: int, k: int) -> tuple[str, ...]:
        return tuple(t.low for t in toks[i : i + k])

    def prev_char(i: int) -> str:
        s = toks[i].start
        return text[s - 1] if s > 0 else ""

    def in_handle(i: int) -> bool:
        """Token belongs to an '@'-prefixed handle chain
        ('Handle @sara.henry' — generation.py:769): walk left across
        './_' connectors to the chain start and check for '@'."""
        j = i
        while j > 0:
            c = prev_char(j)
            if c == "@":
                return True
            if c in "._" and j - 2 >= 0 and toks[j - 1].text in "._" and (
                toks[j - 1].start == toks[j - 2].end
            ):
                j -= 2
                continue
            return False
        return False

    def _seq2_hit(i: int, seqs: frozenset) -> bool:
        """2-token place hit; second token tolerates trailing noise glue."""
        if i + 2 > n:
            return False
        seconds = _SEQ2_INDEX[id(seqs)].get(toks[i].low)
        if not seconds:
            return False
        b = toks[i + 1].low
        return any(
            b == s1 or (len(b) > len(s1) and b.startswith(s1))
            for s1 in seconds
        )

    for i, tk in enumerate(toks):
        mask = _tok_mask(tk.text, tk.low)
        # ---- multi-token gazetteer places (longest first);
        # single-token hits tolerate noise glue via _gaz_glued
        if mask & B_SEQ2 and i + 2 <= n:
            if _seq2_hit(i, CITY_SEQS):
                out.append(Candidate(tk.start, toks[i + 1].end, "ADDRESS", 0.92))
            if _seq2_hit(i, COUNTRY_NAME_SEQS):
                out.append(Candidate(tk.start, toks[i + 1].end, "ADDRESS", 0.90))
            if _seq2_hit(i, STATE_NAME_SEQS):
                # above single-token country conf: "New Mexico" must beat
                # the embedded country "Mexico"
                conf = 0.91 if tk.text[0].isupper() else 0.55
                out.append(Candidate(tk.start, toks[i + 1].end, "ADDRESS", conf))
        # in_handle is only consulted by the place/username/bare-first
        # sections — skip the left-walk entirely when none can fire
        handle_tok = (
            in_handle(i) if mask & (B_PLACE1 | B_UNAME | B_FIRSTS)
            else False
        )
        if mask & B_PLACE1:
            for gaz1, conf1 in (
                (CITY_1, 0.92), (COUNTRY_1, 0.90), (STATE_1, None)
            ):
                sp = None if handle_tok else _gaz_span(tk, gaz1)
                if sp:
                    if conf1 is None:  # state full names
                        conf1 = 0.89 if tk.text[0].isupper() else 0.55
                    out.append(Candidate(sp[0], sp[1], "ADDRESS", conf1))

        # ---- street name / street address / full address
        street_sp = (
            _gaz_span(tk, STREET_FIRSTS)
            if (mask & B_STREET and i + 1 < n) else None
        )
        if street_sp and (
            toks[i + 1].low in STREET_SUFFIXES_L
            or toks[i + 1].low[:-1] in STREET_SUFFIXES_L
        ):
            s = street_sp[0]
            e = (
                toks[i + 1].end
                if toks[i + 1].low in STREET_SUFFIXES_L
                else toks[i + 1].end - 1
            )
            j = i + 2
            conf = 0.93
            # building number may carry glued noise chars: 'toT3351'
            num_m = _RE_D14_TAIL.search(toks[i - 1].text) if i > 0 else None
            if num_m:
                s = toks[i - 1].start + num_m.start()
                conf = 0.95
                # optional ", Apt. N"
                if (
                    j + 3 < n
                    and toks[j].text == ","
                    and toks[j + 1].low == "apt"
                    and toks[j + 2].text == "."
                    and toks[j + 3].text.isdigit()
                ):
                    e = toks[j + 3].end
                    j += 4
                # optional ", City, ST 12345[-6789]" (full address);
                # city may be case-scrambled, zip may carry glued chars
                if j < n and toks[j].text == ",":
                    for ck in (2, 1):
                        if (
                            j + ck + 1 < n
                            and (
                                seq_low(j + 1, ck) in CITY_SEQS
                                or (ck == 2 and _seq2_hit(j + 1, CITY_SEQS))
                                or (ck == 1 and _gaz_glued(toks[j + 1], CITY_1))
                            )
                            and toks[j + ck + 1].text == ","
                        ):
                            p = j + ck + 2
                            if (
                                p + 1 < n
                                and toks[p].text.upper() in STATE_ABBRS
                                and _RE_D5.match(toks[p + 1].text)
                            ):
                                e2 = toks[p + 1].start + 5
                                if (
                                    p + 3 < n
                                    and toks[p + 2].text == "-"
                                    and _RE_D4.match(toks[p + 3].text)
                                    and toks[p + 2].start == toks[p + 1].end
                                    and len(toks[p + 1].text) == 5
                                ):
                                    e2 = toks[p + 3].start + 4
                                out.append(Candidate(s, e2, "ADDRESS", 0.97))
                                break
            out.append(Candidate(s, e, "ADDRESS", conf))

        # ---- Apartment/Suite/Floor N (glue-tolerant, tight bounds)
        unit_sp = _gaz_span(tk, _UNIT_WORDS) if mask & B_UNIT else None
        if unit_sp and i + 1 < n and len(toks[i + 1].text) <= 4:
            num_m = _RE_D13.match(toks[i + 1].text)
            if num_m:
                out.append(
                    Candidate(
                        unit_sp[0],
                        toks[i + 1].start + num_m.end(),
                        "ADDRESS",
                        0.95,
                    )
                )

        # ---- postcode pair "12345, 67890-1234" as ONE span (addr branch 17)
        pp_m = _RX_ZIP5_PP.match(tk.text) if mask & B_ZIP else None
        if pp_m:
            pp_s = tk.start + len(pp_m.group(1))
            j = i + 1
            if (
                j + 1 < n
                and toks[j].text == "-"
                and toks[j + 1].text.isdigit()
                and len(toks[j + 1].text) == 4
                and toks[j].start == tk.end
            ):
                j += 2
            if j < n and toks[j].text == "," and j + 1 < n:
                t2 = toks[j + 1]
                if t2.text.isdigit() and len(t2.text) == 5:
                    e2 = t2.end
                    if (
                        j + 3 < n
                        and toks[j + 2].text == "-"
                        and toks[j + 3].text.isdigit()
                        and len(toks[j + 3].text) == 4
                        and toks[j + 2].start == t2.end
                    ):
                        e2 = toks[j + 3].end
                    out.append(Candidate(pp_s, e2, "ADDRESS", 0.94))

        # ---- state abbr / country code (closed uppercase lists);
        # skip form-label uses ("ID: {person}") and require an ADDRESS-ish
        # context — noise uppercases ordinary 2-letter words often enough
        # that a bare closed-list hit is not trustworthy on its own.
        # A single glued digit is tolerated ('TN4', '7PL') — tight span.
        abbr_m = _RX_STATE_ABBR.match(tk.text) if mask & B_ABBR else None
        if abbr_m:
            up = abbr_m.group(2)
            a_off = len(abbr_m.group(1))
            ln = len(up)
            truncated = False
            if up not in STATE_ABBRS and up not in COUNTRY_CODES and ln == 3:
                # glued trailing letter on a 2-letter code ('WAR' = WA+R)
                if up[:2] in STATE_ABBRS or up[:2] in COUNTRY_CODES:
                    up, ln, truncated = up[:2], 2, True
            nxt = text[tk.end : tk.end + 2].lstrip()
            # address labels PRECEDE their value ("Address: X", "Ship
            # to X", "at X") and sit close — after-side or far-away
            # context words belong to other fields
            ad = _ctx_dist(text, tk.start, tk.end, "ADDRESS", width=16)
            ctx_before_near = ad is not None and ad[0] == 0
            if (
                (up in STATE_ABBRS or up in COUNTRY_CODES)
                and not nxt.startswith(":")
                and (
                    (
                        not truncated
                        and (
                            ctx_before_near
                            or _ctx_fuzzy2(text, tk.start, tk.end, "ADDRESS")
                            or (i > 0 and toks[i - 1].text == "|")
                            or (i + 1 < n and toks[i + 1].text == "|")
                        )
                    )
                    # glue-truncated hits need a before-side label
                    or (truncated and ctx_before_near)
                )
                # a lowercase word right after means the abbr is a noised
                # function word ('IT arrives', 'MT partner'), not a value
                # — unless an address label sits immediately before
                # ('Address OR aplpi…')
                and (
                    not _RX_SPACE_WORD.match(text[tk.end : tk.end + 10])
                    or (ad is not None and ad[0] == 0 and ad[1] <= 10)
                )
            ):
                out.append(
                    Candidate(
                        tk.start + a_off, tk.start + a_off + ln,
                        "ADDRESS", 0.87,
                    )
                )
            elif (
                (up in STATE_ABBRS or up in COUNTRY_CODES)
                and tk.text.isupper()
                and len(tk.text) == 2
                and not nxt.startswith(":")
                and _ctx(text, tk.start, tk.end, "PERSON", width=20)
                and up not in INITIALS_BLOCKLIST
            ):
                # code-list collision, person label close by → initials
                # ('cnoTact LU a t…' vs Luxembourg)
                out.append(Candidate(tk.start, tk.end, "PERSON", 0.58))

        # ---- ORG grammars (no case requirements: inside-span case
        # scramble, generation.py:699-701, routinely lowercases names).
        # The anchor prefers the LATEST gazetteer hit in the token: in
        # 'Mitchell9FrOmbMiller Inc' the org is 'Miller Inc', the earlier
        # name belongs to a preceding person.
        org_anchor = None
        if mask & B_ORG:
            ok = _org_anchor_rel(tk.text, tk.low)
            if ok is not None:
                org_anchor = (tk.start + ok, tk.end)
            else:
                org_anchor = _gaz_span(tk, LASTS)
        if org_anchor:

            def _suffix_char_end(j: int) -> int:
                """Tight char end of a company suffix at token j, else -1;
                tolerates a glued tail ('Groupl', 'IncP947')."""
                if j >= n:
                    return -1
                if j + 1 < n and (toks[j].low, toks[j + 1].low) in ORG_SUFFIX_SEQS:
                    return toks[j + 1].end  # "and Sons"
                lj = toks[j].low
                for sfx in _ORG_SUFFIX_SINGLES:
                    if lj == sfx:
                        return toks[j].end
                    if len(sfx) <= 2:
                        continue  # 'co': exact match only, too short
                    if lj[:-1] == sfx:
                        return toks[j].end - 1
                    if lj.startswith(sfx) and len(lj) > len(sfx) and any(
                        c.isupper() or c.isdigit()
                        for c in toks[j].text[len(sfx) : len(sfx) + 3]
                    ):
                        return toks[j].start + len(sfx)
                return -1

            # Last + suffix  /  Last Last + suffix
            for k in (1, 2):
                j = i + k
                if k == 1 or (j - 1 < n and _gaz_glued(toks[j - 1], LASTS)):
                    ce = _suffix_char_end(j)
                    if ce > 0:
                        out.append(Candidate(org_anchor[0], ce, "ORG", 0.95))
            # Last-Last (incl. spacing-noised "A - B")
            if i + 2 < n and toks[i + 1].text == "-":
                sp2 = _gaz_span(toks[i + 2], LASTS)
                if sp2:
                    out.append(Candidate(org_anchor[0], sp2[1], "ORG", 0.91))
            # Last, Last and Last
            if (
                i + 4 < n
                and toks[i + 1].text == ","
                and _gaz_glued(toks[i + 2], LASTS)
                and toks[i + 3].low == "and"
            ):
                sp4 = _gaz_span(toks[i + 4], LASTS)
                if sp4:
                    out.append(Candidate(org_anchor[0], sp4[1], "ORG", 0.95))

        # ---- PERSON: real names  First [X.] Last  (tight bounds)
        first_sp = _gaz_span(tk, FIRSTS) if mask & B_FIRSTS else None
        if first_sp and prev_char(i) != "@":
            if i + 1 < n:
                last_sp = _last_span_loose(toks[i + 1])
                if last_sp:
                    out.append(
                        Candidate(first_sp[0], last_sp[1], "PERSON", 0.93)
                    )
            if (
                i + 3 < n
                and len(toks[i + 1].text) == 1
                and toks[i + 1].text.isalpha()
                and toks[i + 2].text == "."
            ):
                last_sp = _last_span_loose(toks[i + 3])
                if last_sp:
                    out.append(
                        Candidate(first_sp[0], last_sp[1], "PERSON", 0.94)
                    )

        # ---- PERSON: first.last / first_last (+digits), optional year
        # prefix (with ≤2 leading glued chars: 'g1951heather.dixon')
        stem_start = (
            tk.start + _stem_rel(tk.low) if mask & B_STEM else -1
        )
        if (
            stem_start >= 0
            and i + 2 < n
            and toks[i + 1].text in (".", "_")
            and (
                (
                    toks[i + 1].start == tk.end
                    and toks[i + 2].start == toks[i + 1].end
                )
                # ' . ' spacing noise inside the span
                # (generation.py:696-698) — demand both halves be names
                or (
                    toks[i + 2].start - tk.end <= 5
                    and toks[i + 2].low in LASTS
                )
            )
            and prev_char(i) != "@"
        ):
            m2 = _RX_ALPHA_D_ALPHA.match(toks[i + 2].low)
            if m2 and (
                m2.group(1) in LASTS
                or m2.group(1)[:-1] in LASTS
                or len(m2.group(1)) >= 6
            ):
                alpha2 = m2.group(1)
                tight_e = toks[i + 2].start + len(alpha2) + len(m2.group(2))
                if alpha2 not in LASTS:
                    if alpha2[:-1] in LASTS and not m2.group(2):
                        tight_e -= 1
                    else:
                        # glued tail: prefer the longest LASTS prefix
                        for k in range(len(alpha2) - 1, 3, -1):
                            if alpha2[:k] in LASTS:
                                tight_e = toks[i + 2].start + k
                                break
                out.append(Candidate(stem_start, tight_e, "PERSON", 0.92))

        # ---- PERSON: single-token username shapes (retry with 1-2
        # leading glued chars stripped: 'Inathan334', 'g1951heather')
        if mask & B_UNAME and not handle_tok:
            # (B_UNAME = alnum token, len <= 26 — SHA1/GUIDs are longer)
            conf, a, b = _username_shape(tk.low, tk.text[0].isupper())
            if conf == 0 and mask & B_DIGITS:
                # retry with 1-2 leading glued chars stripped — but only
                # for digit-bearing shapes (pure-alpha retries would turn
                # 'hiking' into initial+'king')
                for strip in (1, 2):
                    if len(tk.low) >= strip + 3:
                        c2, a2, b2 = _username_shape(
                            tk.low[strip:], tk.text[strip].isupper()
                        )
                        if c2 > 0:
                            conf, a, b = c2 - 0.03, strip + a2, strip + b2
                            break
            if conf > 0 and 0.80 <= conf <= 0.88:
                # shape-only hits (no gazetteer evidence): reject when
                # the token's full alpha prefix is a noised template word
                # glued to a value ('ContactJ2875', 'addRsesK29127')
                m0 = _RX_LEAD_ALPHA.match(tk.low)
                if m0 and len(m0.group(1)) >= 5 and _template_wordish(m0.group(1)):
                    conf = 0.0
            if conf > 0:
                # single-letter+digits ids: a noised Ref#/'#NNONN' run
                # splits into digits+letter+digits — reject when digits
                # precede the letter or a Ref-word guards it
                single_id = (
                    b - a <= 7
                    and tk.low[a].isalpha()
                    and tk.low[a + 1 : b].isdigit()
                )
                if single_id and (
                    (a > 0 and tk.low[a - 1].isdigit())
                    or _blocked_number(text, tk.start + a, tk.start + b)
                    or _hexish_after(text, tk.start + b)
                    or _hn_prefix_before(text, tk.start + a)
                ):
                    conf = 0.0
                # long random shapes: shift start past a case transition
                # ('fWomfvkokgxbfelbwetw14' → start at 'W')
                if conf > 0 and b - a >= 9 and not tk.text[a].isupper():
                    for k in (1, 2):
                        if tk.text[a + k].isupper():
                            a += k
                            break
            # guards apply to the TIGHT span: a glued '/12/20' after the
            # username must not veto it. No general _blocked_number here —
            # the 'Ticket #{person}' / 'Employee #{person}' templates put
            # letter-bearing usernames after '#'.
            if conf > 0 and _sep_adjacent(text, tk.start + a, tk.start + b):
                # a ':' right before a LONG lettered username is a form
                # label ('ID:yunder53'), not a MAC separator (MAC
                # segments are ≤5 chars)
                if not (
                    b - a >= 6
                    and tk.start + a > 0
                    and text[tk.start + a - 1] == ":"
                ):
                    conf = 0.0
            if conf > 0:
                out.append(
                    Candidate(tk.start + a, tk.start + b, "PERSON", conf)
                )

        # ---- PERSON: uppercase initials (2-4), context-gated, with ≤2
        # trailing glued digits tolerated ('KOW9'). The blocklist is
        # fuzzy for words ≥4 (ESN≈SSN arrives noised) plus anagrams
        # (SNS/ODB from adjacent swaps); 2-3 letter blocklist words match
        # exactly/anagram only — edit-1 there would swallow most of the
        # random-initials space.
        fused_m = _RX_FUSED_ORG.match(tk.text) if mask & B_FUSED else None
        if fused_m and prev_char(i) != "@":
            pfx = fused_m.group(1).lower()
            caps = fused_m.group(2)
            if (
                any(
                    pfx == w or (len(w) >= 4 and _edit1(pfx, w))
                    or (len(pfx) >= 5 and w in pfx)
                    for w in _CTX_WORDS["PERSON"]
                )
                and caps not in INITIALS_BLOCKLIST
                and caps not in STATE_ABBRS
                and caps not in COUNTRY_CODES
            ):
                out.append(
                    Candidate(tk.end - len(caps), tk.end, "PERSON", 0.70)
                )

        ini_m = _RE_INI.match(tk.text) if mask & B_INI else None
        nxt_ns = text[tk.end : tk.end + 3].lstrip()[:1] if ini_m else ""
        ini_formlabel = ini_m and (
            bool(ini_m.group(2))
            or nxt_ns == ":"
            or nxt_ns.isdigit()  # 'DHB 1983' / 'WSN 276.470…'
            or (tk.start > 0 and text[tk.start - 1] == ":")
        )
        if (
            ini_m
            and not _ini_blocked(ini_m.group(1), bool(ini_formlabel))
            and ini_m.group(1) not in STATE_ABBRS
            and ini_m.group(1) not in COUNTRY_CODES
            and prev_char(i) != "@"
        ):
            ini = ini_m.group(1)
            after4 = text[tk.end : tk.end + 12].lstrip()
            after_raw = text[tk.end : tk.end + 2]
            # a noised DOB/SSN label right before a date/number value
            # ('COB Oct 20th', 'OB birthday:', 'GZSN: 9652-') is a form
            # label, not initials
            dateish_next = bool(
                _RX_DOBISH.match(after4)
            )
            numish_soon = any(c.isdigit() for c in text[tk.end : tk.end + 4])
            if dateish_next and any(
                _edit1(ini, b) for b in ("DOB", "SSN")
            ):
                conf = 0.0
            elif numish_soon and (
                ini.endswith(("SN", "OB")) or _edit1(ini, "SSN")
            ):
                conf = 0.0
            elif text[max(0, tk.start - 1) : tk.start] == "'" or (
                after_raw.startswith("'t") or after_raw.startswith("'n")
            ):
                conf = 0.0  # "DUN't" / "DO'NT" contractions ('s/'w = possessive)
            elif _RX_MEY.match(after4):
                conf = 0.0  # noised 'DM me at' / 'hit me up' connectors
            elif (
                ini_formlabel
                and len(ini) == 2
                and any(
                    _edit1(ini, b)
                    for b in INITIALS_BLOCKLIST
                    if len(b) == 2
                )
            ):
                conf = 0.0  # 'RD:' ≈ noised 'ID:' form label
            elif _RX_TRUSTISH.match(after4):
                conf = 0.0  # noised "PSA don't trust" anchor
            elif _ctx(text, tk.start, tk.end, "PERSON", width=52):
                conf = 0.75
            elif (
                # csv-style separators around the slot:
                # "{person};{date};…" (generation.py CSV templates)
                (tk.start > 0 and text[tk.start - 1] in ";|")
                or (tk.end < len(text) and text[tk.end] in ";|")
            ):
                conf = 0.66
            elif _ctx_fuzzy2(text, tk.start, tk.end, "PERSON"):
                conf = 0.62  # heavily-noised context word nearby
            else:
                conf = 0.28
            if conf > 0:
                out.append(
                    Candidate(tk.start, tk.start + len(ini), "PERSON", conf)
                )

        # ---- PERSON: bare lowercase first name (username branch 20);
        # exact hits must be lowercase (capitalized 'Virginia' is a
        # state), glued hits ('Rfrances') carry noise and skip that
        # check. A following last name only suppresses the hit when it
        # is NOT an email local part ('george graham.samuel@…').
        if mask & B_FIRSTS and not handle_tok and not (
            i + 1 < n
            and _gaz_glued(toks[i + 1], LASTS)
            and not (  # next token is an email local part
                text[toks[i + 1].end : toks[i + 1].end + 1]
                in (".", "@", "_")
            )
        ):
            if tk.low in FIRSTS:
                if tk.text.islower() or (
                    # case-scrambled bare first name ('jOshuA') — only
                    # with person-ish context
                    not tk.text[0].isupper()
                    and (
                        _ctx(text, tk.start, tk.end, "PERSON")
                        or _ctx_fuzzy2(text, tk.start, tk.end, "PERSON")
                    )
                ):
                    out.append(Candidate(tk.start, tk.end, "PERSON", 0.60))
            else:
                sp = _gaz_span(tk, FIRSTS)
                if sp and not _gaz_glued(tk, _PLACE_1):
                    out.append(Candidate(sp[0], sp[1], "PERSON", 0.55))

    return out


# ------------------------------------------------------------ resolution

def resolve(cands: list[Candidate]) -> list[Candidate]:
    """Greedy non-overlap selection by (confidence, length, position)."""
    chosen: list[Candidate] = []
    occupied: list[tuple[int, int]] = []
    for c in sorted(cands, key=lambda c: (-c.conf, -(c.end - c.start), c.start, c.label)):
        if any(c.start < e and c.end > s for s, e in occupied):
            continue
        chosen.append(c)
        occupied.append((c.start, c.end))
    chosen.sort(key=lambda c: c.start)
    return chosen


def detect_spans(text: str) -> list[Candidate]:
    """Full detector: formats + token matchers, overlap-resolved.

    One cross-layer repair: a default-SSN ambiguous 3-3-4 (conf .89 =
    no context found) that directly follows an EMAIL or ORG span is a
    phone — the CSV-style templates sequence "…{email},{phone},{ssn}" /
    "…{org};{phone}", never ssn right after email/org."""
    cands = format_candidates(text) + token_candidates(text)
    anchor_ends = [
        c.end for c in cands if c.label in ("EMAIL", "ORG") and c.conf >= 0.9
    ]
    # weak short PERSON hits (initials) directly BEFORE a strong span are
    # noised connector words ('at'→'AO' before an email, 'to'→'TJ'
    # before a city) — real initials stand alone
    strong_starts = [
        c.start
        for c in cands
        if c.conf >= 0.9 and c.label in ("EMAIL", "PERSON", "ADDRESS")
    ]
    repaired = []
    for c in cands:
        email_before = any(c.start - 5 <= e <= c.start for e in anchor_ends)
        if (
            c.label == "SSN"
            and (abs(c.conf - 0.89) < 1e-9 or abs(c.conf - 0.92) < 1e-9)
            and email_before
        ):
            c = Candidate(c.start, c.end, "PHONE", c.conf)
        elif (
            c.label == "ADDRESS"
            and abs(c.conf - 0.55) < 1e-9
            and email_before
        ):
            # "…{email}, {phone}" template: bare 4-digit after an email
            # is the phone's last-4, not a building number
            c = Candidate(c.start, c.end, "PHONE", 0.70)
        elif (
            c.label == "PERSON"
            and c.conf <= 0.76
            and c.end - c.start <= 3
            and any(c.end < s2 <= c.end + 3 for s2 in strong_starts)
        ):
            continue
        elif c.label == "PERSON" and abs(c.conf - 0.28) < 1e-9:
            # context-less initials adjacent to another PII span sit in a
            # person slot ('{person} - {date}', '… {phone} {person}') —
            # upgrade above the serving threshold
            near = any(
                (c.end < o.start <= c.end + 3 or 0 <= c.start - o.end <= 3)
                and o.conf >= 0.85
                and o.label != "PERSON"
                for o in cands
            )
            if near:
                c = Candidate(c.start, c.end, "PERSON", 0.60)
        repaired.append(c)
    return resolve(repaired)
