"""Bounded memo for the pure functions on the serve path.

``Memo(fn, cap)`` is a ``dict`` whose ``__missing__`` computes
``fn(key)``, stores it and returns it, so a hit is one C-level dict
subscript with no Python frame. A memoized function's name is bound to
its memo: ``name = Memo(name, cap).__getitem__`` where callers call it,
or the memo itself where callers subscript a tuple key. A body that is
also called memo-free (a test's reference, or another memoized body)
keeps its name, and its memo gets an upper-case one. ``memo.fn`` is the
memo-free body.

Eviction is a wholesale ``clear()`` on the miss that finds more than
``cap`` entries: hits pay no bookkeeping, and the caps are sized so a
worker's memos stay near 100-200 MB on open-vocabulary web text while
the Zipf-heavy token vocabulary refills the hot keys within a few
documents. ``functools.lru_cache`` was measured instead (Python 3.11,
5k warm str keys): a hit cost ~143 ns against ~50-80 ns here, and an
entry ~94 B against a dict's ~38 B.
"""

from __future__ import annotations

from typing import Callable


class Memo(dict):
    __slots__ = ("fn", "cap")

    def __init__(self, fn: Callable, cap: int):
        super().__init__()
        self.fn = fn
        self.cap = cap

    def __missing__(self, key):
        v = self.fn(key)
        if len(self) > self.cap:
            self.clear()
        self[key] = v
        return v
