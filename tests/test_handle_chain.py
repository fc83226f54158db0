"""The '@'-handle chain test of token_candidates.

``_in_handle`` decides whether a token sits in an '@'-prefixed handle
('Handle @sara.henry') by walking left across './_' connectors. These
tests pin that the memoised walk answers exactly what the plain walk
answers for every token, and that a document's tokens cost linear time
together on the hostile chain the plain walk was quadratic on.
"""

from __future__ import annotations

import random
import time

import pii_spark.detect.candidates as C


def _plain_walk(text, toks, i):
    """The walk before the memo: O(chain length) for every token."""
    j = i
    while j > 0:
        s = toks[j].start
        c = text[s - 1] if s > 0 else ""
        if c == "@":
            return True
        if c in "._" and j - 2 >= 0 and toks[j - 1].text in "._" and (
            toks[j - 1].start == toks[j - 2].end
        ):
            j -= 2
            continue
        return False
    return False


def test_memoised_walk_equals_plain_walk():
    rng = random.Random(7)
    hits = deep = 0
    for _ in range(10_000):
        text = "".join(rng.choice("ab1.@_ ")
                       for _ in range(rng.randint(0, 40)))
        toks = C._toks(text)
        order = list(range(len(toks)))
        rng.shuffle(order)  # queries come in any order, one memo per doc
        memo: dict[int, bool] = {}
        for i in order:
            want = _plain_walk(text, toks, i)
            assert C._in_handle(text, toks, i, memo) == want, (text, i)
            hits += want
            deep += want and text[toks[i].start - 1] != "@"
    # both answers and multi-link chains were exercised
    assert hits >= 10_000 and deep >= 3_000, (hits, deep)


def test_hostile_chain_time_is_linear():
    """Time at 2n is at most 2.5x time at n: the minimum of 5 runs each,
    interleaved so that a change in host load hits both sizes."""
    texts = [("abc.def_" * k) + " gmail" for k in (1250, 2500)]
    C.token_candidates(texts[0])  # warm the memos
    best = [float("inf"), float("inf")]
    for _ in range(5):
        for k, text in enumerate(texts):
            t0 = time.perf_counter()
            C.token_candidates(text)
            best[k] = min(best[k], time.perf_counter() - t0)
    assert best[1] <= 2.5 * best[0], best
