"""pii_spark.memo.Memo and the serve-path functions memoized with it."""

import numpy as np

from pii_spark.memo import Memo


def test_miss_computes_once_and_hit_does_not_call():
    calls = []

    def fn(k):
        calls.append(k)
        return k * 2

    m = Memo(fn, 10)
    assert m[3] == 6 and calls == [3]
    assert m[3] == 6 and calls == [3]
    assert m.__getitem__(3) == 6 and calls == [3]
    assert m[4] == 8 and calls == [3, 4]


def test_none_values_are_cached():
    calls = []

    def fn(k):
        calls.append(k)
        return None

    m = Memo(fn, 10)
    assert m["a"] is None and m["a"] is None
    assert calls == ["a"] and "a" in m


def test_clears_past_cap_and_stays_correct():
    m = Memo(lambda k: k * k, 3)
    for k in range(4):
        m[k]
    assert len(m) == 4  # clearing waits for a miss that finds > cap
    assert m[4] == 16 and dict(m) == {4: 16}
    for k in range(20):
        assert m[k] == k * k
        assert len(m) <= 4
    assert m.get(99) is None  # .get probes without computing


def _memos(module) -> dict[str, Memo]:
    out = {}
    for name, v in vars(module).items():
        memo = v if isinstance(v, Memo) else getattr(v, "__self__", None)
        if isinstance(memo, Memo):
            out[name] = memo
    return out


def _same(a, b) -> bool:
    if isinstance(a, np.ndarray):
        return a.dtype == b.dtype and np.array_equal(a, b)
    if isinstance(a, tuple) and a and isinstance(a[0], np.ndarray):
        return len(a) == len(b) and all(map(_same, a, b))
    return type(a) is type(b) and a == b


def test_memoized_values_equal_memo_free_bodies():
    """Every entry the serve path stores in a candidates/features memo
    over 2k generated docs equals its body's value, called through
    Memo.fn."""
    import pii_spark.detect.candidates as C
    import pii_spark.detect.features as Fe
    from pii_spark.detect import serving
    from pii_spark.textgrammar.generator import build_example

    memos = {**_memos(C), **_memos(Fe)}
    assert set(memos) == {
        "_ctx_word_fuzzy", "_ratio", "_glue_ratio_any", "_glue_edit_any",
        "_template_wordish", "_tok_mask", "_GAZ_REL", "_ini_blocked",
        "_ORG_ANCHOR", "_STEM", "_username_shape",
        "_h", "_shape", "_ctx_blocks", "_tail_feats",
    }
    assert serving._head_weights() is not None  # featurize runs
    for m in memos.values():
        m.clear()
    for i in range(2000):
        text = build_example(29, 900_000 + i)["text"]
        serving.serve_doc(text)
        C.format_candidates(text)
    for name, m in memos.items():
        assert m, name
        for key, v in list(m.items()):
            assert _same(v, m.fn(key)), (name, key)
