"""Full Gopher repetition suite: native Catalyst expressions == pure
Python twin on handcrafted and generated texts; the in-row n-gram
metrics == the relational census, exactly, and scale linearly; flags
fire on the pathologies they target."""

import random
import time

import pytest

from pii_spark.quality.gopher import THRESHOLDS, gopher_line_sql
from tests.gopher_census import (
    gopher_dup_ngram_metrics,
    gopher_ngram_metrics,
    inrow_ngram_metrics,
)
from tests.quality_twins import gopher_flags, gopher_stats

CASES = [
    "",
    "single line no repetition at all",
    "dup\ndup\nunique one\nunique two",
    "para one\n\npara one\n\npara two",
    "spam spam spam spam spam",
    "the cat sat on the mat the cat sat on the mat",
    "a b a b a b a b a b",
    "line with trailing\n\n\nblanks\n\n",
    "xyz " * 40,
    "one two three four five six seven eight nine ten",
    # review r4c twin-divergence repros: CR/tab-only lines, CRLF docs
    "a\n\t\na",
    "x\n\r\nx",
    "dup\n\ndup\n\nx\n\n\n",  # newline-only trailing paragraph (r4d)
    "Good sentence stays here.\r\nAnother good one stays.\r\n"
    "A third good one stays.",
    None,
]


def test_native_matches_pure_on_handcrafted_and_generated(spark):
    from pii_spark.textgrammar.generator import build_example

    texts = CASES + [build_example(42, i)["text"] for i in range(40)]
    # inject newline structure into some generated docs
    texts += [t.replace(". ", ".\n") for t in texts[-10:]]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    line_rows = df.selectExpr(
        "doc_id", "text",
        *[f"{v} AS {k}" for k, v in gopher_line_sql("text").items()],
    ).collect()
    ngram_rows = {r.doc_id: r for r in inrow_ngram_metrics(df).collect()}
    assert len(ngram_rows) == len(texts)
    for r in line_rows:
        pure = gopher_stats(r.text)
        for k in ("dup_line_frac", "dup_para_frac",
                  "dup_line_char_frac", "dup_para_char_frac"):
            assert r[k] == pytest.approx(pure[k], abs=1e-9), (k, r.text[:60])
        ng = ngram_rows[r.doc_id]
        for k in ("top_2gram_char_frac", "top_3gram_char_frac",
                  "top_4gram_char_frac"):
            assert ng[k] == pytest.approx(pure[k], abs=1e-9), (k, r.text[:60])
        for n in range(5, 11):
            k = f"dup_{n}gram_char_frac"
            assert ng[k] == pytest.approx(pure[k], abs=1e-9), (k, r.text[:60])


def _fuzz_texts(n_random: int) -> list:
    """CASES, generator pages (also re-lined) and seeded random docs
    over tiny vocabularies: ties between top grams and overlapping
    repeats are common, as are docs shorter than n words, and the mixed
    separators (CRLF, punctuation, capitals, digits) exercise the word
    split."""
    from pii_spark.textgrammar.generator import build_example

    pages = [build_example(7, i)["text"] for i in range(150)]
    texts = CASES + pages + [t.replace(". ", ".\r\n") for t in pages[:50]]
    rng = random.Random(20261019)
    vocab = ["the", "Cat", "sat", "on", "a", "mat", "x9"]
    seps = [" ", " ", " ", "\n", "\r\n", ", ", ". ", "--"]
    for _ in range(n_random):
        words = vocab[:rng.randint(1, len(vocab))]
        size = rng.choice([rng.randint(0, 12), rng.randint(0, 120)])
        texts.append("".join(rng.choice(words) + rng.choice(seps)
                             for _ in range(size)))
    return texts


def test_inrow_ngrams_equal_relational_census(spark):
    """The product's in-row n-gram metrics equal the relational census
    (tests/gopher_census.py) exactly — same doubles, not approximately —
    on every doc of a seeded 2k+ corpus."""
    texts = _fuzz_texts(2000)
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in inrow_ngram_metrics(df).collect()}
    ref = {
        r.doc_id: r.asDict()
        for r in gopher_ngram_metrics(df)
        .join(gopher_dup_ngram_metrics(df), "doc_id").collect()
    }
    assert len(got) == len(ref) == len(texts) >= 2000
    keys = [k for k in THRESHOLDS if "gram" in k]
    assert set(got[0]) == {"doc_id", *keys}
    diffs = [(i, k, got[i][k], ref[i][k], texts[i])
             for i in ref for k in keys if got[i][k] != ref[i][k]]
    assert not diffs, diffs[:5]
    # the corpus reaches the interesting branches of both families
    assert sum(ref[i]["top_2gram_char_frac"] > 0 for i in ref) > 1000
    assert sum(0 < ref[i]["dup_10gram_char_frac"] < 1 for i in ref) > 50


def test_inrow_ngram_time_is_linear(spark):
    """Time at 2n words is at most 2.5x time at n (an in-row shape that
    counts each gram by filtering the whole gram array is quadratic:
    4x). Repetitive docs, so every dup-gram family covers most words;
    the minimum of 3 runs each, interleaved so that a change in host
    load hits both sizes."""
    rng = random.Random(5)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "rho"]

    def corpus(words):
        half = [" ".join(rng.choice(vocab) for _ in range(words // 2))
                for _ in range(16)]
        df = spark.createDataFrame([(i, f"{t} {t}") for i, t in
                                    enumerate(half)],
                                   "doc_id long, text string")
        return inrow_ngram_metrics(df.repartition(4).cache())

    runs = [corpus(1000), corpus(2000)]
    for out in runs:
        out.write.format("noop").mode("overwrite").save()  # cache, warm
    best = [float("inf"), float("inf")]
    for _ in range(3):
        for k, out in enumerate(runs):
            t0 = time.perf_counter()
            out.write.format("noop").mode("overwrite").save()
            best[k] = min(best[k], time.perf_counter() - t0)
    assert best[1] <= 2.5 * best[0], best


def test_flags_fire_on_targeted_pathologies():
    dup_lines = "\n".join(["copy pasted line"] * 8 + ["one unique"])
    s = gopher_stats(dup_lines)
    f = gopher_flags(s)
    assert f["dup_line_frac"] and f["dup_line_char_frac"]

    ngram_spam = "click here to win " * 30
    f2 = gopher_flags(gopher_stats(ngram_spam))
    assert f2["top_2gram_char_frac"] and f2["top_3gram_char_frac"] \
        and f2["top_4gram_char_frac"]

    long_spam = ("start marker " + "one two three four five six seven " * 6
                 + "middle filler words here " +
                 "one two three four five six seven " * 6)
    f4 = gopher_flags(gopher_stats(long_spam))
    assert f4["dup_5gram_char_frac"] and f4["dup_7gram_char_frac"]

    clean = ("a perfectly ordinary paragraph of varied words that does "
             "not repeat itself in any structured way whatsoever today")
    f3 = gopher_flags(gopher_stats(clean))
    assert not any(f3.values()), f3
    assert set(f3) == set(THRESHOLDS)
