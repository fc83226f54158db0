"""Char-span ↔ token-BILOU alignment and decoding.

``spans_to_token_labels`` replicates the reference algorithm exactly
(pii_synth/build_datasets.py:30-106; duplicated in
evaluation/model_evaluation.py:163-221):

  * a token belongs to an entity iff tok_end > e_start and
    tok_start < e_end (overlap rule, build_datasets.py:64-71)
  * singleton entity → U-, else B- … I- … L- (build_datasets.py:76-85)
  * special tokens (offset (0,0)) → label id -100 (build_datasets.py:87-95)

``decode_bilou`` extracts (label, first_token, last_token) entity tuples
from a BILOU tag sequence with seqeval-style leniency (an I-/L- without a
live same-type entity starts one), which is what the reference's seqeval
metric calls consume (model_evaluation.py:319-321).
"""

from __future__ import annotations

import numpy as np

from .config import LABEL2ID

Offset = tuple[int, int]
Entity = tuple[str, int, int]  # (label, first_token_idx, last_token_idx)


def _overlap_index(offsets: list[Offset]):
    """Return idxs(start, end) → token indices with te > start and
    ts < end. Uses O(log n) searchsorted when the real-token offsets are
    position-sorted and non-overlapping (always true for
    tokenize_with_offsets output); falls back to the reference's linear
    scan otherwise so arbitrary hand-built offsets keep exact semantics."""
    real = [(t, ts, te) for t, (ts, te) in enumerate(offsets)
            if not (ts == te == 0)]
    sorted_ok = all(
        real[i - 1][1] <= real[i][1] and real[i - 1][2] <= real[i][2]
        for i in range(1, len(real))
    )
    if sorted_ok and len(real) > 8:
        real_idx = np.fromiter((r[0] for r in real), dtype=np.int64,
                               count=len(real))
        ts_arr = np.fromiter((r[1] for r in real), dtype=np.int64,
                             count=len(real))
        te_arr = np.fromiter((r[2] for r in real), dtype=np.int64,
                             count=len(real))

        def idxs(start: int, end: int) -> list[int]:
            lo = int(np.searchsorted(te_arr, start, side="right"))
            hi = int(np.searchsorted(ts_arr, end, side="left"))
            return [int(t) for t in real_idx[lo:hi]]

        return idxs

    def idxs_scan(start: int, end: int) -> list[int]:
        return [t for t, ts, te in real if te > start and ts < end]

    return idxs_scan


def spans_to_token_labels(
    offsets: list[Offset], spans: list[dict], overlap=None,
    with_ids: bool = True,
) -> tuple[list[str], list[int]]:
    """Char spans → per-token BILOU tags + label ids (-100 for specials).

    ``overlap`` (r9) lets a caller that already holds a sorted-interval
    index over the SAME offsets (serving's _TokenIndex) inject it,
    skipping the per-call index build; it must implement the reference
    overlap rule (te > start and ts < end, real tokens only) and return
    a position-sorted sequence of token indices — exactly what both
    _overlap_index and _TokenIndex.overlapping produce.
    ``with_ids=False`` skips the label-id column (returned as []) for
    callers that only consume tags; tags are identical either way."""
    n = len(offsets)
    tags = ["O"] * n
    if overlap is None and spans:
        overlap = _overlap_index(offsets)
    for ent in spans:
        e_start, e_end, ent_label = ent["start"], ent["end"], ent["label"]
        idxs = overlap(e_start, e_end)
        if len(idxs) == 0:
            continue
        if len(idxs) == 1:
            tags[idxs[0]] = f"U-{ent_label}"
        else:
            tags[idxs[0]] = f"B-{ent_label}"
            tags[idxs[-1]] = f"L-{ent_label}"
            for t in idxs[1:-1]:
                tags[t] = f"I-{ent_label}"
    if not with_ids:
        return tags, []
    label_ids = [
        -100 if ts == te == 0 else LABEL2ID.get(tags[t], LABEL2ID["O"])
        for t, (ts, te) in enumerate(offsets)
    ]
    return tags, label_ids


def decode_bilou(tags: list[str]) -> list[Entity]:
    """BILOU tag sequence → entity tuples (seqeval-equivalent extraction)."""
    entities: list[Entity] = []
    cur_label: str | None = None
    cur_start = -1
    for i, tag in enumerate(tags):
        if tag == "O" or tag == "-100":
            if cur_label is not None:
                entities.append((cur_label, cur_start, i - 1))
                cur_label = None
            continue
        prefix, label = tag.split("-", 1)
        if prefix == "U":
            if cur_label is not None:
                entities.append((cur_label, cur_start, i - 1))
                cur_label = None
            entities.append((label, i, i))
        elif prefix == "B":
            if cur_label is not None:
                entities.append((cur_label, cur_start, i - 1))
            cur_label, cur_start = label, i
        elif prefix in ("I", "L"):
            if cur_label != label:
                # lenient: stray I-/L- starts a new entity (seqeval behavior)
                if cur_label is not None:
                    entities.append((cur_label, cur_start, i - 1))
                cur_label, cur_start = label, i
            if prefix == "L":
                entities.append((cur_label, cur_start, i))
                cur_label = None
    if cur_label is not None:
        entities.append((cur_label, cur_start, len(tags) - 1))
    return entities
