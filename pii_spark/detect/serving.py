"""Batched token-classification serving — the "model stage".

Reproduces the reference's serving semantics end to end
(evaluation/model_evaluation.py:243-281), replacing the RoBERTa forward
pass with the deterministic candidate scorer (candidates.py), which
plays the role of a model trained to convergence on this synthetic
distribution:

  tokenize (offsets)                       → tokenizer.py
  per-token logits [seq, 37]               → _logits_for_doc
  softmax → max prob                       → numpy, vectorized
  confidence < 0.3 and pred != O → force O → model_evaluation.py:259-269
  id2label decode                          → :272
  special-token strip ((0,0) offsets)      → :275-281
  BILOU → entity spans                     → labeling.decode_bilou

Unlike the reference's batch-size-1 loop (:233, the #1 anti-pattern
SURVEY §4 flags), ``serve_batch`` processes whole Arrow batches and is
what the Spark pipeline calls from mapInPandas.
"""

from __future__ import annotations

import math
from typing import NamedTuple

import numpy as np

import re
from pathlib import Path

from ..config import CONFIDENCE_THRESHOLD, ID2LABEL, LABEL2ID, NUM_LABELS, SCRUB_TYPES

# already-scrubbed placeholders must stay inert (scrub idempotence)
_PLACEHOLDER_RE = re.compile(r"\[(?:" + "|".join(SCRUB_TYPES) + r")\]")
from ..labeling import decode_bilou, spans_to_token_labels
from ..tokenizer import tokenize_with_offsets
from .candidates import Candidate, detect_spans

# frozen trained head (scripts/train_head.py): hashed-feature softmax
# weights, loaded lazily ONCE per interpreter — the executor-singleton
# pattern the reference needs for its model artifact (SURVEY §4)
_HEAD_PATH = Path(__file__).resolve().parents[2] / "artifacts" / "token_head.npz"
_HEAD_W = None
_HEAD_TRIED = False


def _head_weights():
    global _HEAD_W, _HEAD_TRIED
    if not _HEAD_TRIED:
        _HEAD_TRIED = True
        from .features import FEATURE_VERSION

        for cand in (_HEAD_PATH, Path("token_head.npz"),
                     Path("artifacts/token_head.npz")):
            try:
                if cand.exists():
                    z = np.load(cand)
                    if int(z.get("feature_version", -1)) != FEATURE_VERSION:
                        continue  # stale artifact → rule fallback
                    _HEAD_W = z["W"].astype(np.float32)
                    break
            except (OSError, ValueError):
                continue
    return _HEAD_W

# logit placed on the winning BILOU tag such that softmax over 37 labels
# yields exactly the candidate's confidence: L = ln(c*(K-1)/(1-c))
_K1 = NUM_LABELS - 1


def _conf_logit(conf: float) -> float:
    conf = min(max(conf, 1e-4), 1 - 1e-4)
    return math.log(conf * _K1 / (1.0 - conf))


def _transition_matrix() -> np.ndarray:
    """BILOU transition log-prior: hard structure as soft penalties so a
    single-token blip ('.' tagged PERSON inside an email) cannot break
    an entity; -8 ≈ 'needs overwhelming evidence'."""
    T = np.full((NUM_LABELS, NUM_LABELS), -8.0, dtype=np.float32)
    O = LABEL2ID["O"]

    def lid(prefix, ent):
        return LABEL2ID[f"{prefix}-{ent}"]

    ents = sorted({lab.split("-", 1)[1] for lab in LABEL2ID if lab != "O"})
    starts = [O] + [lid(p, e) for e in ents for p in ("B", "U")]
    for frm in [O] + [lid(p, e) for e in ents for p in ("L", "U")]:
        for to in starts:
            T[frm, to] = 0.0
    for e in ents:
        for frm in (lid("B", e), lid("I", e)):
            T[frm, lid("I", e)] = 0.0
            T[frm, lid("L", e)] = 0.0
    return T


_TRANS = _transition_matrix()


def _viterbi(logp: np.ndarray) -> np.ndarray:
    """Max-sum decode over token log-probs with _TRANS priors.

    Windowed (r3, VERDICT r2 #2): full decode costs a 37×37 candidate
    matrix per token in a Python loop, yet non-O evidence is confined
    to candidate neighborhoods. ``_safe_o_mask`` finds tokens that
    EVERY optimal path provably labels O; the sequence then decomposes
    into independent segments between safe runs, each decoded with
    O boundary conditions. Output is exactly identical to the full
    decode (proof in _safe_o_mask; tie-breaking included, because a
    path through a non-O label on a safe token is STRICTLY suboptimal,
    so argmax tie-breaks only ever arbitrate among through-O prefixes
    exactly as the windowed recurrence does). Cost becomes proportional
    to total candidate-neighborhood length, not document length."""
    n = logp.shape[0]
    if n == 0:
        return np.zeros(0, dtype=np.int32)
    safe = _safe_o_mask(logp)
    if not safe.any():
        return _viterbi_segment(logp, False, False)
    pred = np.zeros(n, dtype=np.int32)
    unsafe = ~safe
    edges = np.flatnonzero(
        np.diff(np.concatenate(([0], unsafe.view(np.int8), [0]))))
    for a, b in zip(edges[::2], edges[1::2]):  # segment = [a, b)
        pred[a:b] = _viterbi_segment(logp[a:b], a > 0, b < n)
    return pred


def _viterbi_segment(
    logp: np.ndarray, left_o: bool, right_o: bool
) -> np.ndarray:
    """Viterbi over one segment; ``left_o``/``right_o`` say whether the
    adjacent token outside the segment is a (provably-O) safe token,
    contributing its transition prior at the boundary."""
    n = logp.shape[0]
    back = np.zeros((n, NUM_LABELS), dtype=np.int32)
    score = logp[0] + _TRANS[0] if left_o else logp[0].copy()
    for t in range(1, n):
        cand = score[:, None] + _TRANS
        back[t] = cand.argmax(axis=0)
        score = cand.max(axis=0) + logp[t]
    if right_o:
        score = score + _TRANS[:, 0]
    path = np.zeros(n, dtype=np.int32)
    path[-1] = int(score.argmax())
    for t in range(n - 1, 0, -1):
        path[t - 1] = back[t, path[t]]
    return path


# max transition advantage any non-O excursion can gain over the stay-O
# path: _TRANS entries are exactly 0 or -8, an excursion touches two
# boundary transitions → 8 per side. 0.5 of float32 headroom on top.
_MARGIN_BOUND = 8.5


def _safe_o_mask(logp: np.ndarray) -> np.ndarray:
    """Boolean mask of tokens that EVERY optimal Viterbi path labels O.

    Let m_t = logp[t, O] − max_{l≠O} logp[t, l] (the per-token O
    margin) and consider a maximal run of tokens with m_t > 0. Within
    such a run (all transitions ≤ 0, O→O = 0):

    * an interior non-O island (O on both sides) swapped to O loses no
      transitions and gains Σ island margins > 0 — strictly better, so
      optimal paths have none;
    * a non-O stretch intruding across the run's edge to depth d,
      swapped to O, worsens at most ONE boundary transition (≥ −8) and
      gains Σ_{0..d} m > 8 once the prefix margin clears the bound —
      so intrusions cannot reach past the first prefix whose
      cumulative margin exceeds 8;
    * a stretch bridging the whole run worsens two boundaries (≥ −16)
      and gains the full-run margin > 16 (guaranteed when the prefix
      and suffix bounds are met disjointly) — impossible.

    Tokens past both the prefix and suffix cumulative-margin bounds are
    therefore O in every optimal path — all three cases are STRICT
    improvements, which is what makes windowed tie-breaking agree with
    the full decode (see _viterbi)."""
    m = logp[:, 0] - logp[:, 1:].max(axis=1)
    safe = np.zeros(len(m), dtype=bool)
    pos = m > 0
    if not pos.any():
        return safe
    edges = np.flatnonzero(
        np.diff(np.concatenate(([0], pos.view(np.int8), [0]))))
    for s, e in zip(edges[::2], edges[1::2]):  # run = [s, e)
        run = m[s:e]
        cl = int(np.searchsorted(np.cumsum(run), _MARGIN_BOUND, "right"))
        cr = int(np.searchsorted(np.cumsum(run[::-1]), _MARGIN_BOUND,
                                 "right"))
        if cl + cr <= len(run) - 2:
            safe[s + cl:e - cr] = True
    return safe


class DocResult(NamedTuple):
    tokens: list[str]
    offsets: list[tuple[int, int]]
    tags: list[str]                      # post-threshold BILOU tags
    entities: list[tuple[str, int, int, int, int]]
    # (label, tok_first, tok_last, char_start, char_end)


class _TokenIndex:
    """Sorted-interval index over real-token offsets so candidate→token
    assignment is O(log n) searchsorted instead of an O(n) scan per
    candidate (the per-doc hot loop VERDICT r1 flags). Tokens from
    tokenize_with_offsets are non-overlapping and position-sorted;
    specials carry offset (0, 0) and are excluded here."""

    __slots__ = ("real_idx", "ts", "te")

    def __init__(self, offsets: list[tuple[int, int]]):
        if offsets:
            arr = np.array(offsets, dtype=np.int64)
            real = (arr[:, 0] != 0) | (arr[:, 1] != 0)
            self.real_idx = np.flatnonzero(real)
            self.ts = arr[real, 0]
            self.te = arr[real, 1]
        else:
            z = np.empty(0, dtype=np.int64)
            self.real_idx = self.ts = self.te = z

    def overlapping(self, start: int, end: int) -> np.ndarray:
        """Token indices t with te > start and ts < end (the reference
        overlap rule, build_datasets.py:64-71)."""
        lo = int(np.searchsorted(self.te, start, side="right"))
        hi = int(np.searchsorted(self.ts, end, side="left"))
        return self.real_idx[lo:hi]


def _logits_for_doc(
    text: str,
    offsets: list[tuple[int, int]],
    cands: list[Candidate],
    tindex: _TokenIndex | None = None,
) -> np.ndarray:
    n = len(offsets)
    logits = np.zeros((n, NUM_LABELS), dtype=np.float32)
    logits[:, LABEL2ID["O"]] = _conf_logit(0.985)
    spans = [{"start": c.start, "end": c.end, "label": c.label} for c in cands]
    tindex = tindex or _TokenIndex(offsets)
    tags, _ = spans_to_token_labels(offsets, spans,
                                    overlap=tindex.overlapping,
                                    with_ids=False)
    # map each token back to its candidate to carry per-candidate conf
    for c in cands:
        logit = _conf_logit(c.conf)
        for t in tindex.overlapping(c.start, c.end):
            if tags[t] != "O":
                logits[t, LABEL2ID["O"]] = 0.0
                logits[t, LABEL2ID.get(tags[t], 0)] = logit
    return logits


def serve_doc(text: str) -> DocResult:
    tokens, offsets, _ = tokenize_with_offsets(text, with_ids=False)
    cands = detect_spans(text)
    ip_cands = [c for c in cands if c.label == "IP"]
    non_ip = [c for c in cands if c.label != "IP"]
    tindex = _TokenIndex(offsets)
    W = _head_weights()
    if W is not None:
        # trained head (primary model): per-token logits from hashed
        # sparse features, with the rule candidates as input features —
        # measurably better recall than the rule overlay alone
        from .features import featurize_doc_flat

        cand_spans = [
            {"start": c.start, "end": c.end, "label": c.label}
            for c in non_ip
        ]
        cand_tags, _ = spans_to_token_labels(offsets, cand_spans,
                                             overlap=tindex.overlapping,
                                             with_ids=False)
        confs = [0.0] * len(tokens)
        for c in non_ip:
            for t in tindex.overlapping(c.start, c.end):
                confs[t] = max(confs[t], c.conf)
        flat, lens = featurize_doc_flat(text, tokens, offsets, cand_tags,
                                        confs)
        logits = np.zeros((len(tokens), NUM_LABELS), dtype=np.float32)
        if flat.size:
            gathered = W[flat]
            bounds = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=bounds[1:])
            nonzero = lens > 0
            summed = np.add.reduceat(gathered, bounds[nonzero], axis=0)
            logits[nonzero] = summed
        logits[lens == 0, LABEL2ID["O"]] = 10.0  # specials
        # rule overlay as a soft one-sided prior: add support where a
        # candidate covers the token (keeps the head from splitting a
        # matched span at a weak interior token) but never push toward O
        # where rules are silent — that would tax the head's recall
        for c in non_ip:
            if c.conf < 0.9:
                continue
            boost = 2.5 if c.conf >= 0.95 else 1.5
            for t in tindex.overlapping(c.start, c.end):
                if cand_tags[t] != "O":
                    logits[t, LABEL2ID.get(cand_tags[t], 0)] += boost
    else:
        # rule-only fallback (artifact not shipped). IP is NOT in the
        # 37-label space (config_and_labels.py:26-45), so IP candidates
        # must never enter the logit matrix — LABEL2ID.get(tag, 0) would
        # silently write them into the O column and the span would leak
        # unscrubbed (ADVICE r1, high). IPs are appended below, exactly
        # as in the head path.
        logits = _logits_for_doc(text, offsets, non_ip, tindex)

    # softmax + confidence threshold (model_evaluation.py:253-269),
    # decoded under BILOU transition constraints (viterbi) so isolated
    # token blips cannot split an entity
    z = logits - logits.max(axis=1, keepdims=True)
    probs = np.exp(z)
    probs /= probs.sum(axis=1, keepdims=True)
    if len(probs) == 0:
        pred = np.zeros(0, dtype=np.int32)
    else:
        # argmax over probs ≡ argmax over log(probs + 1e-9): the log is
        # strictly monotonic, so order AND ties are preserved — the log
        # itself (r9) is only materialized when the decode needs it
        am = probs.argmax(axis=1).astype(np.int32)
        if not am.any():
            # every token's argmax is O: the all-O path is provably
            # Viterbi-optimal (emissions maximized per token; every
            # transition is <= 0 while O->O costs 0), and both argmax
            # and _viterbi break ties toward label 0 — skip the decode.
            # ~50% of web docs carry no PII candidates at all.
            pred = am
        else:
            pred = _viterbi(np.log(probs + 1e-9))
    maxp = probs[np.arange(len(pred)), pred] if len(pred) else np.zeros(0)
    pred = np.where((maxp < CONFIDENCE_THRESHOLD) & (pred != 0), 0, pred)

    # id→label decode with the special-token override ((0,0) offsets →
    # O, :275-281) fused into one pass
    tags = [
        "O" if ts == te == 0 else ID2LABEL[p]
        for p, (ts, te) in zip(pred.tolist(), offsets)
    ]
    # placeholder regions from a previous scrub pass stay O (idempotence)
    for m in _PLACEHOLDER_RE.finditer(text):
        for t in tindex.overlapping(m.start(), m.end()):
            tags[t] = "O"
    ents = decode_bilou(tags)
    entities = [
        (lab, a, b, offsets[a][0], offsets[b][1]) for lab, a, b in ents
    ]
    # the model covers the 9 entity labels; IP spans (north-rule scrub
    # type) come from the regex stage directly — on BOTH the head path
    # and the rule-only fallback
    for c in ip_cands:
        toks_in = tindex.overlapping(c.start, c.end)
        if len(toks_in) and not any(
            a <= toks_in[-1] and b >= toks_in[0]
            for _l, a, b, _cs, _ce in entities
        ):
            entities.append(
                ("IP", int(toks_in[0]), int(toks_in[-1]), c.start, c.end)
            )
    return DocResult(tokens, offsets, tags, entities)


def serve_batch(texts) -> list[DocResult]:
    """Arrow-batch serving entry point (called from mapInPandas)."""
    return [serve_doc(t or "") for t in texts]
