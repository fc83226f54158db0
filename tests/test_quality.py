"""Quality stages: langid, perplexity, heuristics — including the
native-Catalyst == pure-Python parity pin."""

from pii_spark.config import QUALITY
from pii_spark.quality.langid import classify
from pii_spark.quality.perplexity import perplexity
from pii_spark.textgrammar.generator import build_example
from tests.quality_twins import passes_heuristics, quality_stats


def test_langid_clean_texts():
    assert classify("the quick update arrived after lunch and everyone")[0] == "en"
    assert classify("der und die das nicht mit auf für ist werden")[0] == "de"
    assert classify("le de un être et il avoir ne je que dans pour")[0] == "fr"
    assert classify("el la de que y en un ser se por con para como")[0] == "es"


def test_langid_on_corpus():
    ok = tot = 0
    for i in range(400):
        ex = build_example(42, i)
        if ex["lang"] in ("de", "fr", "es"):
            tot += 1
            ok += classify(ex["text"])[0] == ex["lang"]
    assert ok == tot  # non-English docs never misroute


def test_perplexity_ordering():
    en = "meeting went well discussed the new features roadmap"
    junk = "zqxv##jk%%wpm^^ffgh**aa zzqk xjv"
    assert perplexity(en) < perplexity(junk)
    assert perplexity(en) < QUALITY["max_ppl"]


def test_heuristics_rules():
    assert passes_heuristics("a reasonable english sentence with words")
    assert not passes_heuristics("x y")                      # min_words
    assert not passes_heuristics("spam " * 40)               # repetition
    assert not passes_heuristics("#### $$$$ %%%% ^^^^ &&&&")  # symbols


def test_native_exprs_match_pure(spark):
    from pyspark.sql import functions as F

    from pii_spark.spark.pipeline import quality_exprs

    texts = [build_example(42, i)["text"] for i in range(120)]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    rows = df.withColumns(quality_exprs()).collect()
    for r in rows:
        s = quality_stats(r.text)
        assert r.n_words == int(s["n_words"]), r.text
        assert abs(r.mean_word_len - s["mean_word_len"]) < 1e-9
        assert abs(r.symbol_ratio - s["symbol_ratio"]) < 1e-9
        assert abs(r.digit_ratio - s["digit_ratio"]) < 1e-9
        assert abs(r.rep_ratio - s["rep_ratio"]) < 1e-9


def test_toxicity_native_matches_pure(spark):
    """Native toxicity columns == pure-Python twin, on generated docs
    AND handcrafted edge cases (word boundaries, case, substrings)."""
    from tests.quality_twins import toxicity_stats
    from pii_spark.spark.pipeline import quality_exprs

    texts = [build_example(42, i)["text"] for i in range(60)] + [
        "I hate this stupid garbage site",          # 2+2+1 = 5 hits
        "HATE Hate hate",                            # case-folded, 6
        "skill killer trashy",                       # substrings: 0 hits
        "kill",                                      # single word, score 2.0
        "a perfectly pleasant sentence about cats",  # clean
        "",                                          # empty
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    rows = df.withColumns(quality_exprs()).collect()
    for r in rows:
        s = toxicity_stats(r.text)
        assert r.tox_hits == int(s["tox_hits"]), r.text
        assert abs(r.tox_score - s["tox_score"]) < 1e-9, r.text


def test_toxic_doc_dropped_by_pipeline(spark):
    """A doc over max_tox_score is dropped with drop_reason='toxicity';
    scrubbed text is still produced (the output contract); a clean twin
    of the same shape is kept."""
    from pii_spark.spark.pipeline import run_pipeline

    toxic = ("You stupid idiot, I hate this garbage and everyone on "
             "this trash site is a moron and a loser, just the worst "
             "kind of scum imaginable honestly.")
    clean = ("You wonderful reader, I enjoy this lovely site and "
             "everyone here is a delight and a friend, just the best "
             "kind of company imaginable honestly.")
    df = spark.createDataFrame(
        [("https://a.example.com/1", None, b"", toxic, "en"),
         ("https://a.example.com/2", None, b"", clean, "en")],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    )
    out = {r.url[-1]: r for r in run_pipeline(df).collect()}
    assert not out["1"].keep and out["1"].drop_reason == "toxicity"
    assert out["1"].scrubbed_text  # still scrubbed
    assert out["1"].quality.tox_score > 0.08
    assert out["2"].keep and out["2"].drop_reason is None
    assert out["2"].quality.tox_score == 0.0


def test_url_score_native_matches_pure_twin(spark):
    """URL keyword scoring (quality/urlscore.py): native exprs ==
    pure twin on representative and edge urls; flag threshold fires
    on the strong-signal tier."""
    from pyspark.sql import functions as F

    from pii_spark.quality.urlscore import (
        URL_SCORE_FLAG,
        url_score_exprs,
        url_score_stats,
    )

    urls = [
        "https://site.example.com/page/1",
        "https://spam.example.com/free-pills-casino-discount",
        "https://bad.example.com/xxx/adult?ref=porn",
        "https://ok.example.com/freedom-pillsbury",  # substrings no-hit
        "HTTPS://CAPS.EXAMPLE.COM/FREE/CASINO",      # case-folded
        "https://u.example.com/free_pills_casino",   # '_' separators
        "",
        None,
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    rows = df.select(
        "url",
        *[v.alias(k) for k, v in url_score_exprs(F.col("url")).items()],
    ).collect()
    for r in rows:
        pure = url_score_stats(r.url)
        for k in pure:
            assert r[k] == pure[k], (repr(r.url), k)
    by = {r.url: r for r in rows}
    assert by["https://ok.example.com/freedom-pillsbury"].url_score == 0
    assert by["https://spam.example.com/free-pills-casino-discount"] \
        .url_score >= URL_SCORE_FLAG
    assert by["https://bad.example.com/xxx/adult?ref=porn"].url_flagged
    # underscore separators count as boundaries (review r5 ADVICE:
    # '_' is a word char, \b alone silently never matched these)
    assert by["https://u.example.com/free_pills_casino"].url_score == 3
    assert not by[None].url_flagged and by[None].url_score == 0
