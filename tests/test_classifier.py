"""NB bag-of-words quality classifier (SURVEY R80,
pii_spark/quality/classifier.py): weak labeling, one-pass training
census, scoring separation, both feature-hash paths, and plan gates."""

import pytest
from pyspark.sql import Row, functions as F

from pii_spark.quality.classifier import (
    score_quality_nb,
    train_quality_nb,
    weak_labels,
)

_CLEAN = ("the quick brown fox and the lazy dog are friends from the "
          "old farm, and this story was told with care for all readers "
          "that have patience. ")
_JUNK = "zxqv kjhw pqzt vvnm xkcd qwfp zzgl hmmt "


def _corpus(spark, n_each: int = 12):
    rows = []
    for i in range(n_each):
        rows.append(Row(doc_id=i, text=_CLEAN * 2 + f"chapter {i}"))
        rows.append(
            Row(doc_id=100 + i, text=_JUNK * 3 + f"blob {i}")
        )
    return spark.createDataFrame(rows)


def test_weak_labels_rule_composition(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=_CLEAN),              # stopwordy, clean
            Row(doc_id=2, text=_JUNK * 4),           # no stopwords
            Row(doc_id=3, text=_CLEAN + " damn this crap trash"),  # toxic
            Row(doc_id=4, text=_CLEAN + " code { block }"),        # junk
            Row(doc_id=5, text=None),                # NULL text
        ]
    )
    lab = {r.doc_id: r.label for r in weak_labels(df).collect()}
    assert lab == {1: 1, 2: 0, 3: 0, 4: 0, 5: 0}


@pytest.mark.parametrize("hashed", [True, False])
def test_train_and_score_separates(spark, hashed):
    """Train on the weakly-labeled corpus, score a HELD-OUT pair of
    docs of each kind: every clean doc must outscore every junk doc
    and the predictions must recover the weak labels."""
    train = weak_labels(_corpus(spark))
    # both classes actually present in the teacher
    lab_census = {r.label: r.n for r in train.groupBy("label")
                  .agg(F.count("*").alias("n")).collect()}
    assert set(lab_census) == {0, 1}

    model = train_quality_nb(train, hashed=hashed)
    held = spark.createDataFrame(
        [
            Row(doc_id=900, text=_CLEAN + "a fresh ending for the tale."),
            Row(doc_id=901, text=_JUNK * 2 + "qqzz wwxx"),
        ]
    )
    got = {r.doc_id: r for r in
           score_quality_nb(held, model, hashed=hashed).collect()}
    assert got[900].score > got[901].score
    assert got[900].predict_pos and not got[901].predict_pos
    assert got[900].n_tokens > 0


def test_training_census_deterministic(spark):
    c = weak_labels(_corpus(spark))
    a = sorted(map(tuple, train_quality_nb(c, hashed=True).collect()))
    b = sorted(map(tuple, train_quality_nb(
        c.repartition(7), hashed=True).collect()))
    assert a == b, "census must not depend on partitioning"


def test_empty_and_null_text_scored_total(spark):
    model = train_quality_nb(weak_labels(_corpus(spark)), hashed=True)
    df = spark.createDataFrame(
        [Row(doc_id=1, text=""), Row(doc_id=2, text=None),
         Row(doc_id=3, text=_CLEAN)]
    )
    rows = {r.doc_id: r for r in
            score_quality_nb(df, model, hashed=True).collect()}
    assert set(rows) == {1, 2, 3}, "scoring is total over the input"
    assert rows[1].n_tokens == 0 and rows[2].n_tokens == 0
    assert rows[1].score == 0.0 and not rows[1].predict_pos


def test_composes_with_ccnet_buckets(spark):
    """The production routing shape: classifier score → CCNet-style
    per-stratum bucketing (score negated: ccnet_buckets ranks
    ascending-is-better because its native input is perplexity, while
    a higher classifier score is better). Clean docs must land in the
    head bucket, junk in the tail."""
    from pii_spark.spark.sampling import ccnet_buckets

    c = _corpus(spark).withColumn("lang", F.lit("en"))
    model = train_quality_nb(weak_labels(c), hashed=True)
    scored = score_quality_nb(c, model, hashed=True).join(
        c.select("doc_id", "lang"), "doc_id"
    ).withColumn("neg_score", -F.col("score"))
    routed = {r.doc_id: r.ccnet_bucket
              for r in ccnet_buckets(scored, "neg_score").collect()}
    assert len(routed) == 24, "routing is total"
    head = {i for i, b in routed.items() if b == "head"}
    tail = {i for i, b in routed.items() if b == "tail"}
    assert head and all(i < 100 for i in head), routed
    assert tail and all(i >= 100 for i in tail), routed


def test_plan_gates(spark):
    """Scale gates: no Python UDF anywhere (pure codegen + joins), the
    training census partial-aggregates (map-side combine kills hot
    tokens), and the scoring join broadcasts the model."""
    c = weak_labels(_corpus(spark))
    model = train_quality_nb(c, hashed=True)
    tplan = model._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in tplan, tplan
    assert "md5" not in tplan and "xxhash64" in tplan
    assert tplan.count("HashAggregate") >= 2, "partial+final census"

    scored = score_quality_nb(
        spark.createDataFrame([Row(doc_id=1, text=_CLEAN)]), model,
        hashed=True,
    )
    splan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in splan, splan
    assert "BroadcastHashJoin" in splan, "model side must broadcast"


def test_word_boundary_semantics_pinned_nonascii(spark):
    """ADVICE r6 adjudicated by MEASUREMENT: Spark's Java regex \\b is
    UNICODE-behaved — 'éhate' is one word, the lexicon entry does NOT
    match — identical to Python's default re (so both pure twins,
    weak_label_pure and toxicity_stats, use default flags; the
    earlier re.ASCII pin in weak_label_pure disagreed with Spark).
    DuckDB's RE2 \\b is ASCII-only and WOULD count it — that stays an
    oracle-side caveat (toxicity.py docstring), irrelevant on the
    ASCII driver testdata."""
    from pii_spark.quality.classifier import weak_label_pure
    from pii_spark.quality.toxicity import toxicity_sql
    from tests.quality_twins import toxicity_stats

    # _CLEAN supplies the >= 3 stopword hits; the suffix plants a
    # lexicon/stopword token abutting a non-ASCII letter
    cases = [
        _CLEAN + "éhate",        # tox word, bound left by é: NOT a hit
        _CLEAN + "hateé",        # bound right: NOT a hit
        _CLEAN + "é hate é",     # space-bounded: IS a hit
        _CLEAN + "théé",         # stopword 'the' absorbed into théé
        _CLEAN.replace("the", "thé") + "x",  # stopwords mutated away
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(cases)]
    )
    got = {r.doc_id: r.label for r in weak_labels(df).collect()}
    assert got == {i: weak_label_pure(t) for i, t in enumerate(cases)}
    # the semantics themselves, not just agreement: unbounded forms
    # keep label 1 (no tox hit), the space-bounded form flips to 0
    assert got[0] == 1 and got[1] == 1 and got[2] == 0

    # toxicity twin: same cases, exprs == pure on hits
    hdf = df.select(
        "doc_id",
        F.expr(
            toxicity_sql("coalesce(text, '')", "10")["tox_hits"]
        ).alias("h"),
    )
    spark_hits = {r.doc_id: r.h for r in hdf.collect()}
    pure_hits = {
        i: int(toxicity_stats(t)["tox_hits"]) for i, t in enumerate(cases)
    }
    assert spark_hits == pure_hits
    assert spark_hits[2] == 2  # 'hate' is weight-2


def test_int_scorer_twins_float_scorer(spark):
    """VERDICT r6 #8: the fixed-point scorer (the DuckDB-checkable
    path) must agree with the production float scorer to quantization
    accuracy — |score_int/1e6 - score| <= n_tokens * 1e-6 (each token
    contributes at most one floor-step of error)."""
    from pii_spark.quality.classifier import (
        score_quality_nb,
        score_quality_nb_int,
        train_quality_nb,
        weak_labels,
    )

    d = weak_labels(_corpus(spark))
    model = train_quality_nb(d, hashed=True)
    f = {r.doc_id: (r.score, r.n_tokens)
         for r in score_quality_nb(d, model, hashed=True).collect()}
    i = {r.doc_id: r.score_int
         for r in score_quality_nb_int(d, model, hashed=True).collect()}
    assert set(f) == set(i) and f
    for doc, (score, nt) in f.items():
        assert abs(i[doc] / 1e6 - score) <= (nt + 1) * 1e-6, doc
    # and it is layout-independent like every other operator here
    i2 = {r.doc_id: r.score_int
          for r in score_quality_nb_int(
              d.repartition(7), model, hashed=True).collect()}
    assert i == i2
