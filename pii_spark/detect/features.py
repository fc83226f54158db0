"""Token featurization for the trained classifier head.

Hashed sparse features per token, designed for the corpus's noise
profile: character 3-grams of the token AND its neighbors survive the
8%-per-char substitution noise that defeats exact context matching
('Attendees'→'AtGendees' still shares 'tte','nde','ees' grams).

Feature families (all hashed into one 2^17 space):
  * token identity (lowercased), neighbors ±1, ±2
  * char 3-grams of token and neighbors ±1
  * shape signatures (case/digit pattern, length bucket) for t-1, t, t+1
  * gazetteer memberships (first/last/city/street/state/cc/filler/unit)
  * rule-candidate overlay: the hand-built detector's label+confidence
    at this token (the trained head learns when to trust/override it)
  * adjacent separator characters
"""

from __future__ import annotations

import re

import numpy as np

from ..memo import Memo
from .gazetteer import (
    CITY_1,
    COUNTRY_CODES,
    FILLERS,
    FIRSTS,
    LASTS,
    STATE_ABBRS,
    STREET_FIRSTS,
    STREET_SUFFIXES_L,
)

DIM = 1 << 18
FEATURE_VERSION = 2  # bump on ANY change to hashing/feature families
_MASK = DIM - 1


def _h(s: str) -> int:
    h = 2166136261
    for ch in s.encode("utf-8"):
        h = ((h ^ ch) * 16777619) & 0xFFFFFFFF
    return h & _MASK


_h = Memo(_h, 1_000_000)


_SHAPE_RE = [
    (re.compile(r"^[a-z]+$"), "x"),
    (re.compile(r"^[A-Z][a-z]+$"), "Xx"),
    (re.compile(r"^[A-Z]+$"), "X"),
    (re.compile(r"^\d+$"), "d"),
    (re.compile(r"^[a-z]+\d+$"), "xd"),
    (re.compile(r"^[A-Z]\d+$"), "Xd"),
    (re.compile(r"^\d+[a-z]+$"), "dx"),
]


def _shape(tok: str) -> str:
    for rx, name in _SHAPE_RE:
        if rx.match(tok):
            return f"{name}{min(len(tok), 9)}"
    if len(tok) == 1 and not tok.isalnum():
        return f"p{tok}"
    return f"m{min(len(tok), 9)}"


_shape = Memo(_shape, 200_000).__getitem__


def _grams(tok: str, pre: str) -> list[str]:
    s = f"^{tok.lower()}$"
    return [f"{pre}{s[i:i+3]}" for i in range(min(len(s) - 2, 12))]


def _gaz_feats(low: str) -> list[str]:
    out = []
    if low in FIRSTS:
        out.append("g=f")
    if low in LASTS:
        out.append("g=l")
    if low in FILLERS:
        out.append("g=w")
    if low in CITY_1:
        out.append("g=c")
    if low in STREET_FIRSTS:
        out.append("g=s")
    if low in STREET_SUFFIXES_L:
        out.append("g=sx")
    up = low.upper()
    if up in STATE_ABBRS:
        out.append("g=st")
    if up in COUNTRY_CODES:
        out.append("g=cc")
    return out


_MISS_F = {
    tag: None for tag in ("pp", "p", "n", "nn")
}


def _hash_arr(strs: list[str]) -> np.ndarray:
    # list-comp + np.array beats fromiter-over-genexpr for these short
    # blocks (one C-level pass, no generator frame per element)
    return np.array([_h[x] for x in strs], dtype=np.int32)


# per-block builders: the reference that _ctx_blocks must equal
def _self_feats(tok: str) -> np.ndarray:
    low = tok.lower()
    f = ["b", f"t={low}", f"s={_shape(tok)}",
         f"tp={low[:4]}",   # prefix/suffix stubs survive
         f"ts={low[-4:]}"]  # trailing glue better than ids
    f.extend(_grams(tok, "g3="))
    f.extend(_gaz_feats(low))
    return _hash_arr(f)


def _ctx_feats(tag: str, tok: str, with_gaz: bool) -> np.ndarray:
    low = tok.lower()
    f = [f"{tag}={low}", f"{tag}s={_shape(tok)}"]
    f.extend(_grams(tok, f"{tag}3="))
    if with_gaz:
        f.extend(f"{tag}{x}" for x in _gaz_feats(low))
    return _hash_arr(f)


# r9: all four context-tag arrays AND the self array of one token under
# ONE string key — featurize's inner loop then pays a single cached-hash
# str lookup per token instead of five tuple/str-keyed gets (tuple
# hashes recompute on every call; str hashes are cached in the object).
# The token vocabulary repeats massively across documents, so this
# collapses most of the per-token string formatting + FNV hashing into
# one dict hit. The per-tag feature strings, their ORDER, and the hash
# values are byte-identical to _ctx_feats/_self_feats, so the
# concatenated index array — and the reduceat float summation order in
# serving — is unchanged (FEATURE_VERSION unchanged): the builder shares
# low/shape/gram-core/gaz work but emits the exact same f-strings per
# block (pp/nn without gaz, p/n/self with — matching featurize's call
# pattern).
def _ctx_blocks(tok: str) -> tuple:
    low = tok.lower()
    sh = _shape(tok)
    s = f"^{low}$"
    cores = [s[i:i + 3] for i in range(min(len(s) - 2, 12))]
    gaz = _gaz_feats(low)
    f: list[str] = []
    cuts = []
    for tag, with_gaz in (("pp", False), ("p", True),
                          ("n", True), ("nn", False)):
        f.append(f"{tag}={low}")
        f.append(f"{tag}s={sh}")
        f.extend(f"{tag}3={c}" for c in cores)
        if with_gaz:
            f.extend(f"{tag}{x}" for x in gaz)
        cuts.append(len(f))
    f.extend(("b", f"t={low}", f"s={sh}", f"tp={low[:4]}",
              f"ts={low[-4:]}"))
    f.extend(f"g3={c}" for c in cores)
    f.extend(gaz)
    # one hash pass + one ndarray for all five blocks, sliced at the
    # block boundaries — the slices hold the exact same values in the
    # exact same order as five per-block arrays would
    arr = _hash_arr(f)
    a, b, c, d = cuts
    return (arr[:a], arr[a:b], arr[b:c], arr[c:d], arr[d:])


_ctx_blocks = Memo(_ctx_blocks, 150_000).__getitem__


def _miss_feats(tag: str) -> np.ndarray:
    v = _MISS_F[tag]
    if v is None:
        v = _hash_arr([f"{tag}=~"])
        _MISS_F[tag] = v
    return v


def _tail_feats(key: tuple[str, str, str, bool, str, str]) -> np.ndarray:
    """Separator-char + rule-overlay feature block of
    ``(pc, nc, tag, conf_hi, prev_tag, next_tag)`` (low cardinality:
    chars × BILOU tags). Feature ORDER matches the original inline
    construction exactly, so the reduceat summation order in serving
    stays byte-identical."""
    pc, nc, tag, conf_hi, prev_tag, next_tag = key
    f = [f"pc={pc}", f"nc={nc}"]
    if tag:
        f.append(f"c={tag}")
        f.append(f"cl={tag.split('-')[-1]}")
        f.append(f"cc={tag}:{'hi' if conf_hi else 'lo'}")
    else:
        f.append("c=~")
    f.append(f"cp={prev_tag or '~'}")
    f.append(f"cn={next_tag or '~'}")
    return _hash_arr(f)


_tail_feats = Memo(_tail_feats, 400_000)


def featurize_doc_flat(
    text: str,
    tokens: list[str],
    offsets: list[tuple[int, int]],
    cand_tags: list[str],
    cand_confs: list[float],
) -> tuple[np.ndarray, np.ndarray]:
    """Hashed feature indices for the whole doc as ONE flat array plus
    per-token lengths — the layout serving's W-gather + reduceat wants,
    skipping a per-token fromiter/concatenate (the fresh-doc profile's
    top numpy cost). Feature order per token is identical to the
    original per-token construction. tokens/offsets include the BOS/EOS
    specials (offset (0,0)), which get length 0; cand_tags is the rule
    detector's BILOU overlay with '' where no candidate covers the
    token."""
    n = len(tokens)
    lens_l = [0] * n
    parts: list[np.ndarray] = []
    # r9: the loop body is the serve path's hot inner loop
    ap = parts.append
    tail = _tail_feats
    miss_pp, miss_p = _miss_feats("pp"), _miss_feats("p")
    miss_n, miss_nn = _miss_feats("n"), _miss_feats("nn")
    text_len = len(text)
    # blocks[j] holds the (pp, p, n, nn, self) arrays of token j
    blocks = list(map(_ctx_blocks, tokens))
    for i in range(n):
        s0, e0 = offsets[i]
        if s0 == 0 and e0 == 0:
            continue
        a = blocks[i][4]
        ap(a)
        ln = a.shape[0]
        b = blocks[i - 2][0] if i >= 2 else miss_pp
        ap(b)
        ln += b.shape[0]
        b = blocks[i - 1][1] if i > 0 else miss_p
        ap(b)
        ln += b.shape[0]
        j = i + 1
        b = blocks[j][2] if j < n else miss_n
        ap(b)
        ln += b.shape[0]
        j = i + 2
        b = blocks[j][3] if j < n else miss_nn
        ap(b)
        ln += b.shape[0]
        # adjacent raw chars (separator signals) + rule-candidate
        # overlay, as one block (low-cardinality key)
        b = tail[
            text[s0 - 1] if s0 > 0 else "^",
            text[e0] if e0 < text_len else "$",
            cand_tags[i],
            cand_confs[i] >= 0.8,
            cand_tags[i - 1] if i > 0 else "^",
            cand_tags[i + 1] if i + 1 < n else "$",
        ]
        ap(b)
        lens_l[i] = ln + b.shape[0]
    flat = (np.concatenate(parts) if parts
            else np.empty(0, dtype=np.int32))
    return flat, np.array(lens_l, dtype=np.int64)


def featurize_doc(
    text: str,
    tokens: list[str],
    offsets: list[tuple[int, int]],
    cand_tags: list[str],
    cand_confs: list[float],
) -> list[np.ndarray]:
    """Per-token hashed feature-index arrays (views into the flat doc
    array) — the training-side layout."""
    flat, lens = featurize_doc_flat(text, tokens, offsets, cand_tags,
                                    cand_confs)
    out, pos = [], 0
    for ln in lens:
        out.append(flat[pos:pos + ln])
        pos += int(ln)
    return out
