"""Output checks: entity F1, format-PII leaks, served docs, digests.

These run on the driver over collected rows (plain dicts), outside the
timed region.
"""

from __future__ import annotations

import hashlib
from collections import Counter

FORMAT_LABELS = frozenset({"EMAIL", "PHONE", "SSN", "CREDIT_CARD"})


def entity_sets(texts: list[str], spans_lists: list) -> list[set]:
    """(label, t0, t1) entities of each doc under the reference F1
    protocol, from the repo's own helper behind ``f1_report``."""
    import pandas as pd

    from pii_spark.spark.metrics import _entities_fn

    (ents,) = _entities_fn(iter([(pd.Series(texts, dtype=object),
                                  pd.Series(spans_lists, dtype=object))]))
    return [{(e["label"], e["t0"], e["t1"]) for e in doc} for doc in ents]


def micro_f1(tp: int, fp: int, fn: int) -> float:
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    return 2 * p * r / (p + r) if p + r else 0.0


def format_leaks(text: str, truth_spans,
                 scrubbed: str | None) -> tuple[int, int]:
    """(leaked, total) truth EMAIL/PHONE/SSN/CREDIT_CARD spans; a span
    leaks when its text still appears in the scrubbed text."""
    leaked = total = 0
    for s in truth_spans or []:
        if s["label"] not in FORMAT_LABELS:
            continue
        total += 1
        if scrubbed is None or text[s["start"]:s["end"]] in scrubbed:
            leaked += 1
    return leaked, total


def served_docs(input_urls, out_rows) -> int:
    """Input docs with exactly one output row, and that row's
    scrubbed_text is not null."""
    rows = Counter(r["url"] for r in out_rows)
    null = {r["url"] for r in out_rows if r["scrubbed_text"] is None}
    return sum(1 for u in input_urls if rows[u] == 1 and u not in null)


def digest(rows, cols=("url", "keep", "drop_reason", "scrubbed_text")) -> str:
    """Order-independent sha256 of ``cols`` over ``rows``."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r[c] for c in cols)) for r in rows):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


class Quality:
    """Running totals of the output checks over a run's documents."""

    def __init__(self) -> None:
        self.docs = self.served = self.out_rows = 0
        self.tp = self.fp = self.fn = 0
        self.leaked = self.format_spans = 0

    def add(self, inputs: list[dict], outputs: list[dict]) -> None:
        """``inputs``: url/text/spans rows; ``outputs``: pipeline rows."""
        by_url = {r["url"]: r for r in outputs}
        self.docs += len(inputs)
        self.out_rows += len(outputs)
        self.served += served_docs([r["url"] for r in inputs], outputs)
        outs = [by_url.get(r["url"]) for r in inputs]
        texts = [r["text"] for r in inputs]
        truth = entity_sets(texts, [r["spans"] for r in inputs])
        pred = entity_sets(texts, [o["spans"] if o is not None else []
                                   for o in outs])
        for r, out, t, p in zip(inputs, outs, truth, pred):
            self.tp += len(t & p)
            self.fp += len(p - t)
            self.fn += len(t - p)
            leaked, total = format_leaks(
                r["text"], r["spans"],
                out["scrubbed_text"] if out is not None else None)
            self.leaked += leaked
            self.format_spans += total

    @property
    def entity_f1(self) -> float:
        return micro_f1(self.tp, self.fp, self.fn)

    @property
    def leak_rate(self) -> float:
        return self.leaked / self.format_spans if self.format_spans else 0.0
