"""The classifier job CLI (jobs/run_classifier.py): train persists the
integer census + meta, score applies it to a different corpus —
driven as a real subprocess like the other job CLIs."""

import json
import subprocess
import sys
from pathlib import Path

from pyspark.sql import Row

ROOT = Path(__file__).resolve().parents[1]

_CLEAN = ("the quick brown fox and the lazy dog are friends from the "
          "old farm, and this story was told with care for all readers "
          "that have patience. ")
_JUNK = "zxqv kjhw pqzt vvnm xkcd qwfp zzgl hmmt "


def _run(args):
    return subprocess.run(
        [sys.executable, str(ROOT / "jobs" / "run_classifier.py"), *args],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )


def test_train_then_score_cli(spark, tmp_path):
    train_dir = str(tmp_path / "train")
    spark.createDataFrame(
        [Row(url=f"https://c/{i}", text=_CLEAN * 2) for i in range(10)]
        + [Row(url=f"https://j/{i}", text=_JUNK * 3) for i in range(10)]
    ).write.parquet(train_dir)
    snap_dir = str(tmp_path / "snap")
    spark.createDataFrame(
        [Row(url="https://c/new", text=_CLEAN + "a new tale ending."),
         Row(url="https://j/new", text=_JUNK * 2 + "qq zz")]
    ).write.parquet(snap_dir)

    model = tmp_path / "model"
    r = _run(["train", "--input", train_dir, "--model", str(model)])
    assert r.returncode == 0, r.stderr[-2000:]
    assert "trained:" in r.stdout
    meta = json.loads((model / "meta.json").read_text())
    assert meta["hashed"] is True and set(meta["labels"]) == {"0", "1"}

    out = str(tmp_path / "scores")
    r = _run(["score", "--input", snap_dir, "--model", str(model),
              "--output", out])
    assert r.returncode == 0, r.stderr[-2000:]
    got = {r2.url: r2 for r2 in spark.read.parquet(out).collect()}
    assert got["https://c/new"].predict_pos
    assert not got["https://j/new"].predict_pos
    assert got["https://c/new"].score > got["https://j/new"].score


def test_quality_job_with_classifier_model(spark, tmp_path):
    """VERDICT r6 missing #2: the quality job scores its output
    in-line (clf_score / clf_predict_pos on every row), scores are
    byte-stable across input partitionings, and a resume under a
    different (or absent) model refuses loudly."""
    import gzip

    import pytest
    from pyspark.sql import functions as F

    from pii_spark.quality.classifier import (
        attach_quality_scores,
        classifier_model_identity,
        load_quality_model,
    )
    from pii_spark.spark.jobs import run_quality_job
    from tests.warc_fixture import make_warc_records

    # train a tiny model via the CLI (the real artifact format)
    train_dir = str(tmp_path / "train")
    spark.createDataFrame(
        [Row(url=f"https://c/{i}", text=_CLEAN * 2) for i in range(10)]
        + [Row(url=f"https://j/{i}", text=_JUNK * 3) for i in range(10)]
    ).write.parquet(train_dir)
    model = tmp_path / "model"
    assert _run(["train", "--input", train_dir,
                 "--model", str(model)]).returncode == 0

    # WARC ingest path: crawl dump -> ingest -> filter/scrub -> score,
    # one job
    dump = tmp_path / "dump"
    dump.mkdir()
    pages = [
        (f"https://ex{i}.com/p", "2020-01-01T00:00:00Z",
         f"<html><body><p>{_CLEAN * 3}</p></body></html>")
        for i in range(4)
    ]
    recs = make_warc_records(pages)
    (dump / "d.warc.gz").write_bytes(
        b"".join(gzip.compress(r) for r in recs)
    )
    out_dir, audit_dir = str(tmp_path / "out"), str(tmp_path / "audit")
    t = run_quality_job(
        spark, str(dump), out_dir, audit_dir, groups=2,
        input_format="warc", classifier_model=str(model),
    )
    rows = t.read(spark).collect()
    assert len(rows) == len(pages)
    assert all(r.clf_score is not None for r in rows)
    assert all(r.clf_predict_pos for r in rows), "clean text scores pos"

    # byte-stable scores across partitionings (exact float equality)
    weights, meta = load_quality_model(spark, str(model))
    d = spark.createDataFrame(
        [Row(url=f"https://s/{i}",
             scrubbed_text=(_CLEAN if i % 2 else _JUNK) * (1 + i % 3))
         for i in range(40)]
    )
    a = {r.url: r.clf_score for r in
         attach_quality_scores(d, weights, meta).collect()}
    b = {r.url: r.clf_score for r in
         attach_quality_scores(d.repartition(7), weights, meta).collect()}
    assert a == b  # exact equality, not approx

    # duplicate urls (crawl revisits): scoring is in-row, so the
    # output keeps df's cardinality and each row is scored on its own
    # text, whatever the layout
    dup = spark.createDataFrame(
        [Row(url="https://dup/1", scrubbed_text=""),
         Row(url="https://dup/1", scrubbed_text=""),
         Row(url="https://dup/1", scrubbed_text=_CLEAN),
         Row(url="https://solo/2", scrubbed_text=_CLEAN)]
    )
    got = attach_quality_scores(dup, weights, meta).collect()
    assert len(got) == 4, "scoring preserves input cardinality"
    own = {r.scrubbed_text: r.clf_score for r in attach_quality_scores(
        dup.dropDuplicates(["scrubbed_text"]), weights, meta).collect()}
    assert own[""] == 0.0 and own[_CLEAN] > 0
    assert all(r.clf_score == own[r.scrubbed_text] for r in got)
    got2 = attach_quality_scores(dup.repartition(5), weights, meta) \
        .collect()
    assert sorted((r.url, r.scrubbed_text, r.clf_score) for r in got) \
        == sorted((r.url, r.scrubbed_text, r.clf_score) for r in got2)

    # resume under NO model refuses; so does a DIFFERENT model
    with pytest.raises(RuntimeError, match="classifier model"):
        run_quality_job(spark, str(dump), out_dir, audit_dir,
                        groups=2, input_format="warc")
    model2 = tmp_path / "model2"
    assert _run(["train", "--input", train_dir, "--model", str(model2),
                 "--dim", "1024"]).returncode == 0
    assert classifier_model_identity(str(model2)) != \
        classifier_model_identity(str(model))
    with pytest.raises(RuntimeError, match="classifier model"):
        run_quality_job(spark, str(dump), out_dir, audit_dir,
                        groups=2, input_format="warc",
                        classifier_model=str(model2))
    # resume with the SAME model: clean no-op
    t2 = run_quality_job(
        spark, str(dump), out_dir, audit_dir, groups=2,
        input_format="warc", classifier_model=str(model),
    )
    assert t2.read(spark).count() == len(pages)


def test_streaming_job_classifier_restart_guard(spark, tmp_path):
    """Streaming twin: scored batches recorded with the model
    identity; a restart under a different model refuses."""
    import pytest

    from pii_spark.spark.streaming import run_streaming_job

    train_dir = str(tmp_path / "train")
    spark.createDataFrame(
        [Row(url=f"https://c/{i}", text=_CLEAN * 2) for i in range(8)]
        + [Row(url=f"https://j/{i}", text=_JUNK * 3) for i in range(8)]
    ).write.parquet(train_dir)
    model = tmp_path / "model"
    assert _run(["train", "--input", train_dir,
                 "--model", str(model)]).returncode == 0

    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(
        [Row(url=f"https://d/{i}", warc_ts=None, html=None,
             text=_CLEAN * 2, lang="en") for i in range(6)],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    ).write.parquet(corpus)
    out, ck = str(tmp_path / "sout"), str(tmp_path / "ck")
    t = run_streaming_job(spark, corpus, out, ck,
                          classifier_model=str(model))
    rows = t.read(spark).collect()
    assert rows and all(r.clf_score is not None for r in rows)
    with pytest.raises(RuntimeError, match="classifier model"):
        run_streaming_job(spark, corpus, out, ck)


def test_maintenance_route_buckets_cli(spark, tmp_path):
    """--route-buckets: global CCNet routing over a committed scored
    table — per-stratum equal-size buckets on clf_score, written as a
    routing table. Driven as the real maintenance CLI."""
    from pyspark.sql import functions as F

    from pii_spark.icelite.catalog import IceliteTable

    t = IceliteTable(str(tmp_path / "table"))
    rows = [
        Row(url=f"https://d/{i}",
            lang_pred=["en", "de"][i % 2],
            clf_score=float((i * 37) % 101) - 50.0)
        for i in range(60)
    ]
    t.append(spark.createDataFrame(rows), summary={"group": 0})
    out = str(tmp_path / "routing")
    r = subprocess.run(
        [sys.executable, str(ROOT / "jobs" / "run_maintenance.py"),
         "--table", str(tmp_path / "table"),
         "--route-buckets", "3", "--route-output", out],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "routed 60 docs" in r.stdout
    routed = spark.read.parquet(out)
    assert sorted(routed.columns) == sorted(
        ["url", "lang_pred", "clf_score", "ccnet_bucket"]
    )
    per = {(r2.lang_pred, r2.ccnet_bucket): r2.n
           for r2 in routed.groupBy("lang_pred", "ccnet_bucket")
           .agg(F.count("*").alias("n")).collect()}
    for lang in ("en", "de"):
        sizes = [per.get((lang, b), 0) for b in ("head", "middle", "tail")]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
    # head = LOWEST clf_score? No: CCNet ranks by perplexity ascending
    # (low ppl = best = head). For a classifier score, HIGHER is
    # better, so callers route on -clf_score or read head as low-score
    # — assert the documented ntile ordering holds on the raw column
    bymax = {
        (r2.lang_pred, r2.ccnet_bucket): r2.m
        for r2 in routed.groupBy("lang_pred", "ccnet_bucket")
        .agg(F.max("clf_score").alias("m")).collect()
    }
    for lang in ("en", "de"):
        assert bymax[(lang, "head")] <= bymax[(lang, "middle")] \
            <= bymax[(lang, "tail")]


def test_maintenance_route_desc(spark, tmp_path):
    """--route-desc: classifier scores rank high = good, so head must
    hold the HIGHEST scores (CCNet's ppl convention is the opposite —
    without the flag, routing on clf_score put the best docs in
    'tail')."""
    from pyspark.sql import functions as F

    from pii_spark.icelite.catalog import IceliteTable

    t = IceliteTable(str(tmp_path / "table"))
    rows = [Row(url=f"https://d/{i}", lang_pred="en",
                clf_score=float(i)) for i in range(30)]
    t.append(spark.createDataFrame(rows), summary={"group": 0})
    out = str(tmp_path / "routing")
    r = subprocess.run(
        [sys.executable, str(ROOT / "jobs" / "run_maintenance.py"),
         "--table", str(tmp_path / "table"),
         "--route-buckets", "3", "--route-output", out, "--route-desc"],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    routed = spark.read.parquet(out)
    assert "__rank_score" not in routed.columns
    per = {r2.ccnet_bucket: (r2.mn, r2.mx)
           for r2 in routed.groupBy("ccnet_bucket")
           .agg(F.min("clf_score").alias("mn"),
                F.max("clf_score").alias("mx")).collect()}
    assert per["head"] == (20.0, 29.0)   # highest scores = head
    assert per["middle"] == (10.0, 19.0)
    assert per["tail"] == (0.0, 9.0)


def test_route_buckets_cut_over_kept_rows_only(spark, tmp_path):
    """Review r7: routing quantiles must be cut over the USABLE corpus
    — keep=false junk in the cut skews every bucket boundary with the
    junk fraction, and dropped urls don't belong in a routing table."""
    from pyspark.sql import functions as F

    from pii_spark.icelite.catalog import IceliteTable

    t = IceliteTable(str(tmp_path / "table"))
    rows = [Row(url=f"https://k/{i}", lang_pred="en", keep=True,
                clf_score=float(i)) for i in range(12)]
    rows += [Row(url=f"https://x/{i}", lang_pred="en", keep=False,
                 clf_score=-1000.0) for i in range(24)]
    t.append(spark.createDataFrame(rows), summary={"group": 0})
    out = str(tmp_path / "routing")
    r = subprocess.run(
        [sys.executable, str(ROOT / "jobs" / "run_maintenance.py"),
         "--table", str(tmp_path / "table"),
         "--route-buckets", "3", "--route-output", out],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    routed = spark.read.parquet(out)
    assert routed.count() == 12  # dropped urls absent entirely
    per = {r2.ccnet_bucket: r2.n for r2 in
           routed.groupBy("ccnet_bucket")
           .agg(F.count("*").alias("n")).collect()}
    assert per == {"head": 4, "middle": 4, "tail": 4}
