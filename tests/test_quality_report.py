"""Corpus quality report: one row, sane bounded rates, responsive to
planted pathologies, single-scan plan for the in-row families."""

from pyspark.sql import functions as F

from pii_spark.spark.quality_report import quality_report


def test_report_shape_and_bounds(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = quality_report(docs, include_ngrams=True).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["n_docs"] == docs.count()
    for k, v in r.items():
        if k.endswith("_rate"):
            assert 0.0 <= v <= 1.0, (k, v)
    # every gram family from THRESHOLDS is present when requested
    for n in (2, 3, 4):
        assert f"top_{n}gram_char_frac_flag_rate" in r
    for n in range(5, 11):
        assert f"dup_{n}gram_char_frac_flag_rate" in r


def test_report_reacts_to_planted_pathologies(spark):
    # three terminal-punctuated ≥5-word lines: passes C4's ≥3
    # surviving-lines rule, so the doc is STRICT-clean too
    clean = ("A perfectly ordinary sentence with varied words stays "
             "here today and reads naturally.\n"
             "Another calm line follows the first one with plenty of "
             "regular everyday vocabulary included.\n"
             "The closing line wraps the short document up politely "
             "and quite unremarkably indeed.")
    toxic = ("You stupid idiot, I hate this garbage and every moron "
             "and loser on this trash site, utter scum honestly.")
    dup_lines = "\n".join(["The same line appears again and again."] * 9
                          + ["One unique closer sentence here."])
    df = spark.createDataFrame(
        [(0, clean), (1, toxic), (2, dup_lines)], "doc_id long, text string"
    )
    r = quality_report(df).collect()[0]
    assert r.toxicity_flag_rate == 0.3333
    assert r.dup_line_frac_flag_rate == 0.3333
    assert r.n_docs == 3
    # strict composition (VERDICT r5 #6): strict keep ⊆ default keep,
    # and each planted pathology is excluded by a strict conjunct —
    # only the clean doc survives the composed rule
    assert r.strict_rule_keep_rate <= r.rule_keep_rate
    assert r.strict_rule_keep_rate == 0.3333
    assert r.gopher_line_flag_rate == 0.3333


def test_report_is_single_scan_for_inrow_families(spark):
    """Every family is in-row, the n-gram ones included: one scan, one
    aggregation, no join."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for include_ngrams in (False, True):
        plan = (
            quality_report(docs, include_ngrams=include_ngrams)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("FileScan") == 1, plan
        assert "Join" not in plan, plan
