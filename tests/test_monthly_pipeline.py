"""Monthly-crawl scenario (r7) — the full curation workflow the
round's features exist to compose, driven end to end:

  month 0: crawl dump (per-record-gzip WARC) → quality job with a
           classifier (scores on every row) → base keys cut from the
           RAW extracted text (scrub-invariant) → domain blocklist
           derived from the committed table
  month 1: new snapshot (exact recrawls + near recrawls + blocklisted
           domain + novel docs) → ONE quality job applying blocklist
           + two-tier recrawl drop + classifier → snapshot-dedup key
           UPDATE at delta cost → routing table over the grown corpus

Every knob is resume-guarded; the final assertions pin exactly which
docs survive each tier. Composition is where cross-feature bugs live
— this pins the workflow, not just the parts."""

import gzip
import json
import subprocess
import sys
from pathlib import Path

from pyspark.sql import Row, functions as F

ROOT = Path(__file__).resolve().parents[1]

_PROSE = ("The %s keeper said that this was a fine morning, with "
          "fresh goods from the early cart, and the neighbors have "
          "agreed that prices for all wares are fair; this news was "
          "welcome, and everyone there was content with what they "
          "have from the %s market nearby. ")
_JUNK = "zz qq {{ lorem ipsum }} xx " * 4


def _page(url, body):
    return (url, "2026-01-05T00:00:00Z",
            f"<html><body><p>{body}</p></body></html>")


def _gz_dump(path, pages):
    from tests.warc_fixture import make_warc_records

    path.mkdir(parents=True, exist_ok=True)
    (path / "d.warc.gz").write_bytes(
        b"".join(gzip.compress(r) for r in make_warc_records(pages))
    )


def test_monthly_crawl_workflow(spark, tmp_path):
    from pii_spark.quality.classifier import (
        train_quality_nb,
        weak_labels,
    )
    from pii_spark.spark.incr_dedup import base_keys
    from pii_spark.spark.jobs import run_quality_job

    # --- a tiny trained model (the real artifact format) ---
    model = tmp_path / "model"
    labeled = weak_labels(spark.createDataFrame(
        [Row(url=f"t{i}", text=_PROSE % ("mill", "mill") * 2)
         for i in range(6)]
        + [Row(url=f"j{i}", text=_JUNK) for i in range(6)]
    ))
    census = train_quality_nb(labeled, hashed=True)
    census.write.parquet(str(model / "census.parquet"))
    (model / "meta.json").write_text(json.dumps(
        {"dim": 2 ** 18, "hashed": True, "labels": {},
         "text_col": "text"}))

    # --- month 0: dump → quality job (+classifier) ---
    pages0 = [
        _page(f"https://good{i}.example/m0/{i}",
              _PROSE % (f"mill{i}", f"town{i}"))
        for i in range(6)
    ] + [_page(f"https://spam.example/m0/{i}", _JUNK) for i in range(4)]
    _gz_dump(tmp_path / "dump0", pages0)
    t0 = run_quality_job(
        spark, str(tmp_path / "dump0"), str(tmp_path / "corpus_v0"),
        str(tmp_path / "audit0"), groups=2, input_format="warc",
        classifier_model=str(model),
    )
    rows0 = t0.read(spark).collect()
    assert len(rows0) == 10 and all(r.clf_score is not None
                                    for r in rows0)

    # base keys from the RAW month-0 extracted text (pre-scrub —
    # scrub-invariant recrawl detection)
    from pii_spark.spark.warc import read_warc_binary

    raw0 = read_warc_binary(spark, str(tmp_path / "dump0"))
    keys = tmp_path / "keys"
    fp, sig = base_keys(raw0, id_col="url", hashed=True)
    fp.write.parquet(str(keys / "fp.parquet"))
    sig.write.parquet(str(keys / "sig.parquet"))
    (keys / "keys_meta.json").write_text(json.dumps(
        {"shingle_len": 12, "stride": 5, "bands": 4,
         "text_col": "text"}))

    # blocklist derived from the committed month-0 table
    bl = str(tmp_path / "blocklist")
    r = subprocess.run(
        [sys.executable, str(ROOT / "jobs" / "run_maintenance.py"),
         "--table", str(tmp_path / "corpus_v0"),
         "--derive-blocklist", bl, "--blocklist-max-keep-rate", "0.5",
         "--blocklist-min-docs", "3"],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert [x.domain for x in spark.read.parquet(bl).collect()] == \
        ["spam.example"]

    # --- month 1 snapshot: 2 exact recrawls + 2 near recrawls +
    # 2 blocklisted-domain pages + 3 novel pages ---
    exact = [_page(f"https://good{i}.example/m0/{i}",
                   _PROSE % (f"mill{i}", f"town{i}")) for i in (0, 1)]
    near = [_page(f"https://near{i}.example/m1/{i}",
                  _PROSE % (f"mill{i}", f"town{i}")
                  + "an appended syndication footer") for i in (2, 3)]
    blocked = [_page(f"https://spam.example/m1/{i}", _JUNK)
               for i in range(2)]
    novel = [
        _page(f"https://fresh{i}.example/m1/{i}",
              _PROSE % (f"harbor{i}", f"port{i}"))
        for i in range(3)
    ]
    _gz_dump(tmp_path / "dump1", exact + near + blocked + novel)

    t1 = run_quality_job(
        spark, str(tmp_path / "dump1"), str(tmp_path / "corpus_v1"),
        str(tmp_path / "audit1"), groups=2, input_format="warc",
        recrawl_keys=str(keys), recrawl_near=True,
        classifier_model=str(model), domain_blocklist=bl,
    )
    urls1 = sorted(r2.url for r2 in t1.read(spark).collect())
    assert urls1 == sorted(
        f"https://fresh{i}.example/m1/{i}" for i in range(3)
    ), urls1  # every tier did its job; only novel docs survive

    # key update at delta cost: fold the novel docs' keys in, then the
    # SAME snapshot re-deduped drops everything
    from pii_spark.spark.incr_dedup import (
        append_key_delta,
        incremental_dedup,
    )

    novel_raw = read_warc_binary(
        spark, str(tmp_path / "dump1")
    ).filter(F.col("url").contains("fresh"))
    n_fp, n_sig = append_key_delta(spark, novel_raw, str(keys),
                                   id_col="url")
    assert n_fp == 3
    snap1 = read_warc_binary(spark, str(tmp_path / "dump1"))
    again = incremental_dedup(
        None, snap1, id_col="url", hashed=True,
        base_fp=spark.read.parquet(f"{keys}/fp.parquet"),
        base_sig=spark.read.parquet(f"{keys}/sig.parquet"),
    )
    assert again.filter(F.col("drop_stage").isNull()).count() == 0

    # routing over the month-1 corpus (head = best classifier score)
    route = str(tmp_path / "routing")
    r = subprocess.run(
        [sys.executable, str(ROOT / "jobs" / "run_maintenance.py"),
         "--table", str(tmp_path / "corpus_v1"),
         "--route-buckets", "3", "--route-output", route,
         "--route-desc"],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    routed = spark.read.parquet(route)
    assert routed.count() == 3
    assert set(routed.columns) >= {"url", "clf_score", "ccnet_bucket"}

    # --- month 2 (r8): export training shards — tokenizer trained on
    # the committed month-0 table, pack/export of month-1 consuming
    # its OWN routing table (tail dropped at export time) ---
    tok = tmp_path / "tokenizer"
    r = subprocess.run(
        [sys.executable, str(ROOT / "jobs" / "run_tokenizer.py"),
         "--input", str(tmp_path / "corpus_v0"),
         "--input-format", "icelite", "--model", str(tok),
         "--merges", "24", "--text-col", "scrubbed_text"],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    shards = tmp_path / "shards"
    r = subprocess.run(
        [sys.executable, str(ROOT / "jobs" / "run_pack.py"),
         "--input", str(tmp_path / "corpus_v1"),
         "--tokenizer-model", str(tok), "--output", str(shards),
         "--seq-len", "64", "--n-buckets", "4",
         "--route-table", route,
         "--route-weights", "head=1.0,middle=1.0,tail=0.0"],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    pm = json.loads((shards / "pack_meta.json").read_text())
    assert pm["route_table"] != "none" and pm["n_sequences"] > 0

    # 3 routed docs / 3 buckets → exactly one tail doc dropped: the
    # exported token stream holds the 2 surviving docs' tokens only
    from pii_spark.quality.bpe import bpe_encode_pure, load_bpe_model

    tail_url = routed.filter("ccnet_bucket = 'tail'").collect()[0].url
    # each novel doc i carries a unique harbor{i} word; the url ends /i
    tail_word = f"harbor{tail_url.rsplit('/', 1)[-1]}"
    merges, _ = load_bpe_model(spark, str(tok))
    flat = "".join(
        t for s in spark.read.parquet(str(shards / "shards.parquet"))
        .collect() for t in s.tokens
    )
    assert "".join(bpe_encode_pure(tail_word, merges)) not in flat
    kept_words = {f"harbor{i}" for i in range(3)} - {tail_word}
    for w in kept_words:
        assert "".join(bpe_encode_pure(w, merges)) in flat

    # a re-export under a different routing table refuses (identity)
    route2 = str(tmp_path / "routing2")
    spark.read.parquet(route).limit(2).write.parquet(route2)
    r = subprocess.run(
        [sys.executable, str(ROOT / "jobs" / "run_pack.py"),
         "--input", str(tmp_path / "corpus_v1"),
         "--tokenizer-model", str(tok), "--output", str(shards),
         "--seq-len", "64", "--route-table", route2],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    assert r.returncode != 0
    assert "different inputs" in (r.stderr + r.stdout)

    # --- datasheet (r8): the stats published with the month-1 snapshot
    rep_path = tmp_path / "datasheet.json"
    r = subprocess.run(
        [sys.executable, str(ROOT / "jobs" / "run_maintenance.py"),
         "--table", str(tmp_path / "corpus_v1"),
         "--report", str(rep_path)],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rep = json.loads(rep_path.read_text())
    assert rep["n_rows"] == 3 and rep["quality"]["n_docs"] == 3
    assert rep["clf_score_p10_p50_p90"] is not None
    assert {d["domain"] for d in rep["top_domains"]} == \
        {f"fresh{i}.example" for i in range(3)}

    # --- stopword feedback loop (r8, CLI surfaces): derive lists from
    # the committed corpus, retrain the classifier with them — the
    # model identity changes, so every downstream resume guard sees it
    from pii_spark.quality.classifier import classifier_model_identity

    sw = str(tmp_path / "stopwords")
    r = subprocess.run(
        [sys.executable, str(ROOT / "jobs" / "run_maintenance.py"),
         "--table", str(tmp_path / "corpus_v0"),
         "--derive-stopwords", sw, "--stopword-min-frac", "0.6"],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    derived = {x.word for x in spark.read.parquet(sw).collect()}
    assert {"the", "and", "was"} <= derived
    train_dir = str(tmp_path / "clf_train")
    t0.read(spark).select("url", "scrubbed_text").write.parquet(train_dir)
    m_plain, m_sw = tmp_path / "m_plain", tmp_path / "m_sw"
    for margs in ([], ["--stopwords", sw]):
        r = subprocess.run(
            [sys.executable, str(ROOT / "jobs" / "run_classifier.py"),
             "train", "--input", train_dir,
             "--model", str(m_sw if margs else m_plain),
             "--text-col", "scrubbed_text", *margs],
            capture_output=True, text=True, cwd=ROOT, timeout=300,
        )
        assert r.returncode == 0, r.stderr[-2000:]
    meta_sw = json.loads((m_sw / "meta.json").read_text())
    assert meta_sw["stopword_words"] and "the" in meta_sw["stopword_words"]
    assert classifier_model_identity(str(m_sw)) != \
        classifier_model_identity(str(m_plain))
