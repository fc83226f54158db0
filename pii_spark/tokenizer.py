"""Deterministic offset-mapped tokenizer.

Offline stand-in for the reference's HF BPE tokenizer
(pii_synth/build_datasets.py:40-46: max_length=512, truncation, offset
mapping, no padding at rest). Tokens are maximal [A-Za-z0-9]+ runs plus
single non-space/non-alnum characters, so every non-space char belongs to
exactly one token and offsets are byte-exact. A virtual BOS and EOS token
with offset (0, 0) is emitted to preserve the reference's special-token
semantics (-100 labels, (0,0)-offset filtering —
build_datasets.py:87-95, model_evaluation.py:275-281).
"""

from __future__ import annotations

import re

from .config import MAX_TOKENS
from .memo import Memo

# subword-ish segmentation, mirroring how the reference's BPE tokenizer
# (build_datasets.py:40) isolates noise-glued chars into their own
# subtokens: split at lower→Upper and letter↔digit transitions, so
# "frompBlack1988" → fromp | Black | 1988 and a glued char never fuses
# with a PII span's tokens.
_TOKEN_RE = re.compile(
    r"\d+|[A-Z]+(?![a-z])|[A-Z][a-z]+|[a-z]+|[^\sA-Za-z0-9]"
)

BOS_ID = 1
EOS_ID = 2
_VOCAB_HASH_BUCKETS = 2**20


def token_id(tok: str) -> int:
    """Stable hashed vocab id (FNV-1a over the lowercased token); the
    token vocabulary repeats massively (Zipf)."""
    h = 2166136261
    for ch in tok.lower().encode("utf-8"):
        h = ((h ^ ch) * 16777619) & 0xFFFFFFFF
    return 3 + h % _VOCAB_HASH_BUCKETS


token_id = Memo(token_id, 500_000).__getitem__


def tokenize_with_offsets(
    text: str, max_tokens: int = MAX_TOKENS, with_ids: bool = True
) -> tuple[list[str], list[tuple[int, int]], list[int]]:
    """Return (tokens, offsets, input_ids); BOS/EOS carry offset (0, 0).

    Truncation keeps the first ``max_tokens - 2`` real tokens, mirroring
    the reference's max_length=512 + truncation=True cap
    (config_and_labels.py:18, build_datasets.py:41-46).

    ``with_ids=False`` (r9) skips the hashed-vocab id column for callers
    that only consume tokens/offsets (serving, metrics) — ids come back
    as an empty list; tokens/offsets are byte-identical either way.
    """
    tokens: list[str] = ["<s>"]
    offsets: list[tuple[int, int]] = [(0, 0)]
    budget = max_tokens - 2
    tok_append = tokens.append
    off_append = offsets.append
    for m in _TOKEN_RE.finditer(text):
        if budget <= 0:
            break
        tok_append(m.group())
        off_append(m.span())
        budget -= 1
    ids = [BOS_ID, *map(token_id, tokens[1:]), EOS_ID] if with_ids else []
    tok_append("</s>")
    off_append((0, 0))
    return tokens, offsets, ids
