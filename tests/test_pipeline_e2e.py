"""End-to-end pipeline tests: schema, keep/drop vs pure functions,
byte-identical output across partitionings, label-F1 gate."""

import pytest

from pii_spark.config import QUALITY
from pii_spark.quality.langid import classify
from pii_spark.quality.perplexity import perplexity
from pii_spark.spark.gen_job import generate_full
from pii_spark.spark.metrics import f1_report
from pii_spark.spark.pipeline import run_pipeline
from tests.quality_twins import passes_heuristics

N = 400


@pytest.fixture(scope="module")
def full(spark):
    return generate_full(spark, N).cache()


@pytest.fixture(scope="module")
def output_rows(spark, full):
    out = run_pipeline(full, with_doc_id=True)
    return {r.doc_id: r for r in out.collect()}


def test_every_url_has_output(output_rows, full):
    assert len(output_rows) == N


def test_keep_matches_pure_functions(full, output_rows):
    from tests.quality_twins import toxicity_stats

    for row in full.collect():
        out = output_rows[row.doc_id]
        lang, _ = classify(row.text)
        expected = (
            lang in QUALITY["langs_kept"]
            and perplexity(row.text) <= QUALITY["max_ppl"]
            and passes_heuristics(row.text)
            and toxicity_stats(row.text)["tox_score"]
            <= QUALITY["max_tox_score"]
        )
        assert out.keep == expected, (row.doc_id, out.drop_reason)
        if not out.keep:
            assert out.drop_reason in (
                "langid", "perplexity", "heuristics", "toxicity",
            )
        else:
            assert out.drop_reason is None


def test_scrubbed_text_byte_identical_across_partitionings(spark, full):
    """North-rule invariant: identical rows for 2 vs 8 partitions."""
    a = run_pipeline(full, partitions=2, with_doc_id=True).collect()
    b = run_pipeline(full, partitions=8, with_doc_id=True).collect()
    am = {r.doc_id: (r.scrubbed_text, r.keep, tuple(map(tuple, r.spans))) for r in a}
    bm = {r.doc_id: (r.scrubbed_text, r.keep, tuple(map(tuple, r.spans))) for r in b}
    assert am == bm


def test_scrub_replaces_every_detected_span(full, output_rows):
    """One typed placeholder per detected span, and an exactly-matched
    unique long truth value never survives in the scrubbed text."""
    import re

    for row in full.collect():
        out = output_rows[row.doc_id]
        n_placeholders = len(re.findall(r"\[[A-Z_]+\]", out.scrubbed_text))
        assert n_placeholders >= len(out.spans)
        got = {(s.start, s.end) for s in out.spans}
        for sp in row.spans:
            val = row.text[sp.start : sp.end]
            if (sp.start, sp.end) in got and len(val) >= 8 \
                    and row.text.count(val) == 1:
                assert val not in out.scrubbed_text, (row.doc_id, val)


def test_label_f1_gate(spark, full):
    """Entity-level F1 vs generator ground truth on English docs —
    the seqeval-equivalent protocol (model.ipynb cell 22/24).

    Label-F1 gate at the BASELINE.json target: ≥0.99 on this fixed corpus
    (trained head + viterbi; held-out 12k-20k ranges measure 0.987-0.988)."""
    en = full.where("lang = 'en'").select("doc_id", "text", "spans").cache()
    pred = run_pipeline(
        full.where("lang = 'en'"), with_doc_id=True
    ).select("doc_id", "spans").join(
        en.select("doc_id", "text"), "doc_id"
    )
    report = f1_report(en, pred)
    assert report["micro"]["f1"] >= 0.99, report["micro"]
    assert report["weighted_f1"] >= 0.98, report["weighted_f1"]
