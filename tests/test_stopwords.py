"""Per-language document-frequency census / stopword derivation
(SURVEY R91): exact fractions on a handcrafted corpus, df-not-tf
semantics, the derive→apply sanity loop, and the row-local-dedup
plan shape."""

from pyspark.sql import Row, functions as F

from pii_spark.quality.stopwords import (
    derive_stopwords,
    doc_frequency_census,
)


def test_census_exact_fractions_and_df_semantics(spark):
    d = spark.createDataFrame([
        Row(lang="en", text="the cat the cat the cat"),  # tf=3, df=1
        Row(lang="en", text="the dog sat"),
        Row(lang="en", text="a dog ran"),
        Row(lang="en", text="the end"),
        Row(lang="de", text="der hund der hund"),
        Row(lang="de", text="der baum"),
    ])
    c = {(r.lang, r.word): (r.df_count, r.n_docs)
         for r in doc_frequency_census(d, min_df=1).collect()}
    # document frequency, not term frequency: 'the' counts once per doc
    assert c[("en", "the")] == (3, 4)
    assert c[("en", "cat")] == (1, 4)
    assert c[("de", "der")] == (2, 2)
    assert ("de", "the") not in c  # censuses are per language

    sw = {(r.lang, r.word): r.doc_frac
          for r in derive_stopwords(d, 0.5).collect()}
    assert sw[("en", "the")] == 0.75
    assert sw[("de", "der")] == 1.0
    assert ("en", "cat") not in sw  # 0.25 < threshold
    # min_df default (2) prunes the singleton vocabulary tail
    c2 = {r.word for r in doc_frequency_census(d).collect()}
    assert "cat" not in c2 and "the" in c2


def test_derived_list_recovers_builtin_stopwords(spark):
    """The derive→apply loop sanity: on English PROSE, the derived
    ≥40% list recovers the langid heuristic's hardcoded stopwords —
    a data-driven langid could bootstrap from this census instead of
    the hardcoded list. (The PII-template corpus is deliberately NOT
    used here: its snippets are not prose — max doc_frac ≈0.2 —
    which is itself the argument for deriving lists per corpus.)"""
    topics = ["mill", "bakery", "harbor", "garden", "library",
              "market", "forest", "villag", "stable", "orchard"]
    rows = [
        Row(lang="en", text=(
            f"The {t}{i} keeper said that this was a fine morning, "
            f"with fresh goods from the early cart, and the "
            f"neighbors have agreed that prices for {t} wares are "
            f"fair; this news was welcome, and all of them are "
            f"content with what they have from the {t}."
        ))
        for i in range(5) for t in topics
    ]
    d = spark.createDataFrame(rows)
    got = {r.word for r in derive_stopwords(d, 0.4).collect()}
    builtin = {"the", "and", "that", "this", "with", "from",
               "have", "was", "for", "are"}
    assert builtin <= got, sorted(builtin - got)
    # content words vary per doc and stay OUT of the list
    assert not any(w.startswith("mill") for w in got)


_XX = ("zork brimple {i} quanta vex doon brimple zork vex doon "
       "nuvak tel zork brimple vex doon marbo fen zork vex doon ")
_EN = ("the keeper said that this was a fine morning with fresh goods "
       "from the cart and the neighbors have agreed that prices are "
       "fair for all of them item{i} ")


def test_derived_lists_feed_weak_labels_both_languages(spark, tmp_path):
    """VERDICT r7 missing #3, end to end in-process: derive per-language
    lists from a two-language corpus, feed the union into weak_labels —
    clean docs of BOTH languages label positive (the built-in English
    list labels every 'xx' doc negative), junk still labels negative,
    the classifier trained on those labels separates clean from junk in
    the non-English stratum, and the pure twin agrees."""
    from pii_spark.quality.classifier import (
        score_quality_nb,
        train_quality_nb,
        weak_labels,
    )
    from pii_spark.quality.stopwords import (
        derive_stopwords,
        load_stopword_lists,
        stopwords_identity,
    )
    from tests.quality_twins import weak_label_pure

    clean = [Row(lang="en", text=_EN.replace("{i}", str(i)))
             for i in range(12)] + \
            [Row(lang="xx", text=_XX.replace("{i}", str(i)))
             for i in range(12)]
    d = spark.createDataFrame(clean)
    sw_dir = str(tmp_path / "sw")
    derive_stopwords(d, 0.6).write.parquet(sw_dir)
    lists = load_stopword_lists(spark, sw_dir)
    assert "the" in lists["en"] and "zork" in lists["xx"]
    union = sorted({w for ws in lists.values() for w in ws})

    junk = [Row(lang="xx", text="kqx wvz ptl { mmm } nnn ooo ppp qqq"),
            Row(lang="en", text="asdf jkl qwer uiop zxcv bnm { }")]
    corpus = spark.createDataFrame(clean + junk)
    got = {(r.lang, r.text): r.label
           for r in weak_labels(corpus, stopwords=union).collect()}
    for r in clean:
        assert got[(r.lang, r.text)] == 1, r.lang
    for r in junk:
        assert got[(r.lang, r.text)] == 0
    # the built-in English teacher labels the whole xx stratum negative
    base = {r.lang: r.label for r in weak_labels(corpus).collect()
            if r.lang == "xx" and "{" not in r.text}
    assert base["xx"] == 0
    # pure twin agreement on the same lists
    for r in clean + junk:
        assert weak_label_pure(r.text, stopwords=union) == \
            got[(r.lang, r.text)]

    # classifier trained on derived labels separates xx clean vs junk
    census = train_quality_nb(weak_labels(corpus, stopwords=union))
    scores = {r.doc_id: r.score for r in score_quality_nb(
        spark.createDataFrame(
            [Row(doc_id=1, text=_XX.replace("{i}", "99")),
             Row(doc_id=2, text="kqx wvz ptl mmm nnn ooo ppp qqq")]
        ),
        census,
    ).collect()}
    assert scores[1] > scores[2]

    # the lists are an identity-guarded model input: a different
    # derivation changes the stopwords identity (and, recorded into
    # meta.json, the classifier model identity every resume guard sees)
    sw2 = str(tmp_path / "sw2")
    derive_stopwords(d.limit(12), 0.6).write.parquet(sw2)
    assert stopwords_identity(sw_dir) != stopwords_identity(sw2)
    assert stopwords_identity(sw_dir) == stopwords_identity(sw_dir)


def test_stopword_feedback_refusals(spark, tmp_path):
    import pytest

    from pii_spark.quality.classifier import weak_labels
    from pii_spark.quality.stopwords import (
        load_stopword_lists,
        stopwords_identity,
    )

    with pytest.raises(FileNotFoundError, match="no stopword parquet"):
        stopwords_identity(str(tmp_path))
    empty = str(tmp_path / "empty")
    spark.createDataFrame([], "lang string, word string") \
        .write.parquet(empty)
    with pytest.raises(ValueError, match="empty"):
        load_stopword_lists(spark, empty)
    d = spark.createDataFrame([Row(lang="en", text="x")])
    with pytest.raises(ValueError, match="empty"):
        weak_labels(d, stopwords=[])
    # a derived 'word' can never inject regex syntax (escaped)
    out = weak_labels(d, stopwords=["a.c", "x"]).collect()
    assert out[0].label in (0, 1)


def test_census_plan_is_scale_safe(spark):
    """Per-doc dedup must be ROW-LOCAL (array_distinct inside the
    explode), never a distinct shuffle of (lang, word, doc) triples;
    the census aggregate combines map-side; totals join broadcasts."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = doc_frequency_census(d)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    assert "BroadcastHashJoin" in plan, plan      # totals side
    assert "BatchEvalPython" not in plan
    # exactly ONE exchange pair for the census groupBy + the totals
    # agg — a triple-distinct would add a third
    import re

    n_exch = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exch <= 2, plan
