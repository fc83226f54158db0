"""What building run_pipeline's and quality_report's plans costs in Py4J
round trips, and the types run_pipeline promises.

Under PySpark classic's default ``spark.python.sql.dataFrameDebugging
.enabled=true`` every Column-API call records its call site through
Py4J, so a plan spelled call by call costs thousands of JVM round trips
before any task runs. The column functions write SQL text instead;
these tests hold the round-trip budget and pin the output types, which
SQL literals could otherwise change (``1.0`` is ``DECIMAL(2,1)``, not
``DOUBLE``)."""

from __future__ import annotations

import gc

import pytest
from py4j.java_gateway import GatewayClient

from pii_spark.spark.pipeline import quality_exprs, run_pipeline
from pii_spark.spark.quality_report import quality_report

_QUALITY = ("quality:struct<n_words:int,mean_word_len:double,"
            "symbol_ratio:double,rep_ratio:double,tox_score:double>")
_OUTPUT = (f"url:string,keep:boolean,drop_reason:string,lang_pred:string,"
           f"ppl:double,{_QUALITY},spans:array<struct<start:int,end:int,"
           f"label:string,source:string>>,scrubbed_text:string")


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [(1, "https://b.example.com/1",
          "A short page of text.\nIt has two lines of words.")],
        "doc_id bigint, url string, text string",
    )


def _round_trips(monkeypatch, build) -> int:
    """Py4J commands sent while ``build()`` runs; the fewest of three
    builds, so garbage from earlier work (py4j frees JVM objects with
    commands of its own) does not count against the plan."""
    calls = [0]
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    counts = []
    for _ in range(3):
        gc.collect()
        calls[0] = 0
        build()
        counts.append(calls[0])
    monkeypatch.setattr(GatewayClient, "send_command", send)
    return min(counts)


@pytest.mark.parametrize("profile,budget", [("default", 400),
                                            ("strict", 1200)])
def test_build_round_trip_budget(spark, corpus, monkeypatch, profile,
                                 budget):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled",
                          "true") == "true"
    src = corpus.select("url", "text")
    run_pipeline(src, profile=profile)  # imports and UDF set-up
    n = _round_trips(monkeypatch,
                     lambda: run_pipeline(src, profile=profile))
    assert n <= budget, f"{profile}: {n} Py4J round trips"


@pytest.mark.parametrize("include_ngrams,budget", [(False, 150),
                                                   (True, 1000)])
def test_report_round_trip_budget(spark, corpus, monkeypatch,
                                  include_ngrams, budget):
    """quality_report's plan is SQL text too: spelled with Column
    operators it took about 950 round trips (about 2,030 with the
    n-gram census); as SQL text it takes 45 (422)."""
    quality_report(corpus, include_ngrams=include_ngrams)
    n = _round_trips(monkeypatch, lambda: quality_report(
        corpus, include_ngrams=include_ngrams))
    assert n <= budget, f"include_ngrams={include_ngrams}: {n} round trips"


def test_output_types_pinned(spark, corpus):
    src = corpus.select("url", "text")
    for profile in ("default", "strict"):
        got = run_pipeline(src, profile=profile).schema.simpleString()
        assert got == f"struct<{_OUTPUT}>", profile
    got = run_pipeline(corpus, with_doc_id=True).schema.simpleString()
    assert got == f"struct<doc_id:bigint,{_OUTPUT}>"

    types = dict(src.withColumns(quality_exprs()).dtypes)
    assert {k: types[k] for k in quality_exprs()} == {
        "n_words": "int", "mean_word_len": "double",
        "symbol_ratio": "double", "digit_ratio": "double",
        "alpha_ratio": "double", "rep_ratio": "double",
        "tox_hits": "int", "tox_score": "double",
    }
