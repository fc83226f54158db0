"""Property-based twin fuzzing: for ARBITRARY texts (newlines, CR,
tabs, quotes, digits, punctuation — the whitespace soup real crawl
text contains), the native Catalyst implementations must equal their
pure-Python twins byte-for-byte. Fixed-case parity tests pin known
repros; this hunts the unknown ones. Each hypothesis example is a
BATCH of texts evaluated in one Spark job (per-example jobs would be
~1 s each)."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_ALPHABET = st.sampled_from(
    list("abcXYZ012 .!?\"{}\t\r\n\x0b\f'()-") + ["\xa0", "é"]
)
_TEXTS = st.lists(
    st.text(alphabet=_ALPHABET, max_size=120), min_size=1, max_size=25
)

_SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(texts=_TEXTS)
@settings(**_SETTINGS)
def test_c4_twins_agree_on_arbitrary_text(spark, texts):
    from pii_spark.quality.c4_rules import c4_sql
    from tests.quality_twins import c4_clean

    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    rows = df.selectExpr(
        "text", *[f"{v} AS {k}" for k, v in c4_sql("text").items()]
    ).collect()
    for r in rows:
        pure = c4_clean(r.text)
        assert r.cleaned_text == pure["cleaned_text"], repr(r.text)
        assert r.n_kept_lines == pure["n_kept_lines"], repr(r.text)
        assert r.keep == pure["keep"], repr(r.text)


@given(texts=_TEXTS)
@settings(**_SETTINGS)
def test_gopher_line_twins_agree_on_arbitrary_text(spark, texts):
    from pii_spark.quality.gopher import gopher_line_sql
    from tests.quality_twins import gopher_stats

    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    rows = df.selectExpr(
        "text",
        *[f"{v} AS {k}" for k, v in gopher_line_sql("text").items()],
    ).collect()
    for r in rows:
        pure = gopher_stats(r.text)
        for k in ("dup_line_frac", "dup_para_frac",
                  "dup_line_char_frac", "dup_para_char_frac"):
            assert abs(r[k] - pure[k]) < 1e-9, (k, repr(r.text))


# word-level strategy for the n-gram census: a tiny vocabulary makes
# repeated 2..10-grams likely, which character soup never produces
_VOCAB = st.sampled_from(
    ["the", "cat", "sat", "on", "a", "mat", "xx", "longword", "\n"]
)
_WORD_TEXTS = st.lists(
    st.lists(_VOCAB, min_size=0, max_size=40).map(" ".join),
    min_size=1, max_size=15,
)


@given(texts=_WORD_TEXTS)
@settings(**_SETTINGS)
def test_gopher_ngram_relational_matches_pure(spark, texts):
    """VERDICT r4 #7: the RELATIONAL n-gram census (explode → count →
    window / positional-coverage join) vs the pure twin's Counter walk
    — the two most structurally different twin implementations in the
    tree, fuzzed on the fractions themselves; the product's in-row
    metrics must equal the census exactly."""
    from tests.gopher_census import (
        gopher_dup_ngram_metrics,
        gopher_ngram_metrics,
        inrow_ngram_metrics,
    )
    from tests.quality_twins import gopher_stats

    # salt in a guaranteed repeated 5-gram so the dup_{5..10} paths
    # exercise (arbitrary draws rarely repeat a long gram)
    block = " one two three four five"
    texts = [t + block * 2 for t in texts[:5]] + texts
    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        r.doc_id: r
        for r in gopher_ngram_metrics(df)
        .join(gopher_dup_ngram_metrics(df), "doc_id")
        .collect()
    }
    inrow = {r.doc_id: r for r in inrow_ngram_metrics(df).collect()}
    for i, t in enumerate(texts):
        pure, r = gopher_stats(t), got[str(i)]
        for k in pure:
            if "gram" in k:
                assert abs(r[k] - pure[k]) < 1e-9, (k, repr(t))
                assert inrow[str(i)][k] == r[k], (k, repr(t))


@given(texts=_TEXTS)
@settings(**_SETTINGS)
def test_toxicity_twins_agree_on_arbitrary_text(spark, texts):
    from pii_spark.spark.pipeline import quality_exprs
    from tests.quality_twins import quality_stats, toxicity_stats

    # salt in lexicon words so the hit paths actually exercise —
    # including non-ASCII-ADJACENT forms ('éhate'), where Java and
    # Python default \b agree (Unicode: no hit) but re.ASCII/RE2
    # would differ (the ADVICE r6 twin-drift class)
    texts = [t + " hate kill trash skill éhate hateé" for t in texts[:10]] + texts
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    rows = df.withColumns(quality_exprs()).collect()
    for r in rows:
        s = toxicity_stats(r.text)
        assert r.tox_hits == int(s["tox_hits"]), repr(r.text)
        assert abs(r.tox_score - s["tox_score"]) < 1e-9, repr(r.text)
        # the heuristics columns share the same whitespace contract
        q = quality_stats(r.text)
        assert r.n_words == int(q["n_words"]), repr(r.text)
        for k in ("mean_word_len", "symbol_ratio", "digit_ratio",
                  "alpha_ratio", "rep_ratio"):
            assert abs(r[k] - q[k]) < 1e-9, (k, repr(r.text))


@given(texts=_TEXTS)
@settings(**_SETTINGS)
def test_classifier_twins_agree_on_arbitrary_text(spark, texts):
    """Weak label + NB training census (R80): the Catalyst expressions
    and the DuckDB-shaped md5 path must equal the pure twins on
    whitespace/quote/unicode soup — the same twin standard as every
    other quality module."""
    from pii_spark.quality.classifier import train_quality_nb, weak_labels
    from tests.quality_twins import train_census_pure, weak_label_pure

    # salt in stopword/lexicon tokens (the raw alphabet cannot spell
    # them — ADVICE r6), including non-ASCII-adjacent forms that
    # split Unicode from ASCII \b semantics
    texts = [
        t + " the and that with hate éhate théé" for t in texts[:8]
    ] + texts
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    lab = weak_labels(df)
    rows = lab.collect()
    for r in rows:
        assert r.label == weak_label_pure(r.text), repr(r.text)

    got = {
        r.feature: (r.n_pos, r.n_neg)
        for r in train_quality_nb(lab, hashed=False).collect()
    }
    pure = train_census_pure([(r.label, r.text) for r in rows])
    assert got == pure
