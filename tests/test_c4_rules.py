"""C4 line rules: native == pure byte-for-byte (cleaned text included),
and each rule fires on its target."""

from pii_spark.quality.c4_rules import c4_sql
from tests.quality_twins import c4_clean

CASES = [
    "",
    "This line ends properly.\nshort.\nNo terminal punct here\n"
    "Enable javascript to continue.\nAnother good sentence stays in!",
    'He said "stop".\nA quoted ending works fine."\nBad line',
    "Please read our cookie policy.\nSee the terms of use now.\n"
    "Real content sentence number one.\nReal content sentence two.\n"
    "Real content sentence three.",
    "Lorem ipsum dolor sit amet.\nGood line one stays here.\n"
    "Good line two stays here.\nGood line three stays here.",
    "function() { return 1; }\nGood line one stays here.\n"
    "Good line two stays here.\nGood line three stays here.",
    "Only one good sentence here.\nnope\nnah",
    "First proper sentence right here.\nSecond proper sentence right "
    "here.\nThird proper sentence right here!",
    # review r4c twin-divergence repros: CRLF endings, NBSP words, NULL
    "Good sentence stays here.\r\nAnother good one stays.\r\n"
    "A third good one stays.\r\nFourth good one stays.\r\n"
    "Fifth good one stays.",
    "Word\xa0word\xa0word.\nPlain word line stays here.",
    None,
]


def test_native_matches_pure(spark):
    from pii_spark.textgrammar.generator import build_example

    texts = CASES + [
        build_example(42, i)["text"].replace(". ", ".\n")
        for i in range(30)
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    rows = df.selectExpr(
        "text", *[f"{v} AS {k}" for k, v in c4_sql("text").items()]
    ).collect()
    for r in rows:
        pure = c4_clean(r.text)
        assert r.cleaned_text == pure["cleaned_text"], r.text[:60]
        assert r.n_kept_lines == pure["n_kept_lines"]
        assert r.n_dropped_lines == pure["n_dropped_lines"]
        assert r.keep == pure["keep"], r.text[:60]


def test_each_rule_fires():
    # terminal punctuation
    assert c4_clean("no ending punct at all\n" * 5)["n_kept_lines"] == 0
    # short lines: the paper keeps only lines with at least 5 words
    assert c4_clean("Too short.\n" * 5)["n_kept_lines"] == 0
    assert c4_clean("Only four words here.\n" * 5)["n_kept_lines"] == 0
    assert c4_clean("Exactly five words right here.")["n_kept_lines"] == 1
    # boilerplate markers
    r = c4_clean("Please enable JavaScript in your browser settings.")
    assert r["n_kept_lines"] == 0
    # lorem ipsum / code braces kill the doc even with good lines
    good = "A good long sentence stays right here.\n" * 6
    assert c4_clean(good)["keep"]
    assert not c4_clean("lorem ipsum filler.\n" + good)["keep"]
    assert not c4_clean("if (x) { y }\n" + good)["keep"]
    # min surviving lines: C4 discards pages under 3 sentences
    assert not c4_clean("A good long sentence stays right here.\n" * 2)["keep"]
    assert c4_clean("A good long sentence stays right here.\n" * 3)["keep"]
    # twins agree on NULL text (pinned to empty)
    assert c4_clean(None)["keep"] is False
