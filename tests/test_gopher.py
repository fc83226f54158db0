"""Full Gopher repetition suite: native Catalyst expressions == pure
Python twin on handcrafted and generated texts; flags fire on the
pathologies they target."""

import pytest

from pii_spark.quality.gopher import (
    THRESHOLDS,
    gopher_dup_ngram_metrics,
    gopher_line_sql,
    gopher_ngram_metrics,
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
    ngram_rows = {
        r.doc_id: r for r in gopher_ngram_metrics(df).collect()
    }
    dup_rows = {
        r.doc_id: r for r in gopher_dup_ngram_metrics(df).collect()
    }
    assert len(ngram_rows) == len(dup_rows) == len(texts)
    for r in line_rows:
        pure = gopher_stats(r.text)
        for k in ("dup_line_frac", "dup_para_frac",
                  "dup_line_char_frac", "dup_para_char_frac"):
            assert r[k] == pytest.approx(pure[k], abs=1e-9), (k, r.text[:60])
        ng = ngram_rows[r.doc_id]
        for k in ("top_2gram_char_frac", "top_3gram_char_frac",
                  "top_4gram_char_frac"):
            assert ng[k] == pytest.approx(pure[k], abs=1e-9), (k, r.text[:60])
        dg = dup_rows[r.doc_id]
        for n in range(5, 11):
            k = f"dup_{n}gram_char_frac"
            assert dg[k] == pytest.approx(pure[k], abs=1e-9), (k, r.text[:60])


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
