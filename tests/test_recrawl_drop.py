"""Recrawl dropping in the production jobs (SURVEY R79): base-corpus
keys precomputed once (jobs/run_base_keys.py semantics via base_keys),
then the batch and streaming quality jobs anti-join every group/batch
against them — the exact tier of incremental dedup fused into the
ingest chain — with key-set drift refused on resume/restart."""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

ROOT = Path(__file__).resolve().parents[1]

from pii_spark.spark.gen_job import generate_corpus
from pii_spark.spark.incr_dedup import (
    base_keys,
    drop_recrawls,
    recrawl_keys_identity,
)


def _write_keys(spark, corpus_df, keys_dir) -> str:
    import json

    fp, sig = base_keys(corpus_df, id_col="url", hashed=True)
    fp.write.mode("overwrite").parquet(str(keys_dir / "fp.parquet"))
    sig.write.mode("overwrite").parquet(str(keys_dir / "sig.parquet"))
    # what jobs/run_base_keys.py records (defaults of base_keys)
    (keys_dir / "keys_meta.json").write_text(json.dumps(
        {"shingle_len": 12, "stride": 5, "bands": 4,
         "text_col": "text"}
    ))
    return str(keys_dir)


@pytest.fixture(scope="module")
def base_and_snapshot(spark, tmp_path_factory):
    """base = docs 0..39 of the deterministic corpus; snapshot = docs
    30..59 written as parquet — a 10-doc overlap of byte-identical
    texts (recrawls) plus 20 novel docs."""
    tmp = tmp_path_factory.mktemp("recrawl")
    corpus = generate_corpus(spark, 60).cache()
    snap_dir = str(tmp / "snap")
    # deterministic cohorts via the url sort order (limit() without an
    # order is shuffle-dependent)
    urls = [r.url for r in corpus.select("url").orderBy("url").collect()]
    base_urls, snap_urls = set(urls[:40]), set(urls[30:])
    base_df = corpus.filter(F.col("url").isin(list(base_urls)))
    snap_df = corpus.filter(F.col("url").isin(list(snap_urls)))
    keys_dir = _write_keys(spark, base_df, tmp / "keys")
    snap_df.repartition(2).write.mode("overwrite").parquet(snap_dir)
    other_keys = _write_keys(
        spark, corpus.filter(F.col("url").isin(urls[:10])), tmp / "keys2"
    )
    corpus.unpersist()
    return {
        "keys": keys_dir,
        "other_keys": other_keys,
        "snap_dir": snap_dir,
        "overlap": set(urls[30:40]),
        "novel": set(urls[40:]),
        "tmp": tmp,
    }


def test_drop_recrawls_expr(spark, base_and_snapshot):
    ctx = base_and_snapshot
    fp_df = spark.read.parquet(f"{ctx['keys']}/fp.parquet")
    snap = spark.read.parquet(ctx["snap_dir"])
    kept = {r.url for r in drop_recrawls(snap, fp_df).select("url").collect()}
    assert kept == ctx["novel"], "exactly the base-overlap docs drop"


def test_batch_job_recrawl_drop_and_drift_guard(spark, base_and_snapshot):
    from pii_spark.spark.jobs import run_quality_job

    ctx = base_and_snapshot
    out_dir = str(ctx["tmp"] / "out")
    audit_dir = str(ctx["tmp"] / "audit")
    out = run_quality_job(
        spark, ctx["snap_dir"], out_dir, audit_dir, groups=2,
        run_id="rc1", recrawl_keys=ctx["keys"],
    )
    urls = {r.url for r in out.read(spark).select("url").collect()}
    assert urls == ctx["novel"]

    # resume with the SAME keys: no-op (ledger complete)
    out2 = run_quality_job(
        spark, ctx["snap_dir"], out_dir, audit_dir, groups=2,
        run_id="rc2", recrawl_keys=ctx["keys"],
    )
    assert {r.url for r in out2.read(spark).select("url").collect()} \
        == ctx["novel"]

    # resume with DIFFERENT keys (a new corpus version): refuse loudly
    with pytest.raises(RuntimeError, match="recrawl key set"):
        run_quality_job(
            spark, ctx["snap_dir"], out_dir, audit_dir, groups=2,
            recrawl_keys=ctx["other_keys"],
        )
    # and with NO keys at all: same refusal (semantics would differ)
    with pytest.raises(RuntimeError, match="recrawl key set"):
        run_quality_job(
            spark, ctx["snap_dir"], out_dir, audit_dir, groups=2,
        )


def test_streaming_job_recrawl_drop_and_restart_guard(
    spark, base_and_snapshot
):
    from pii_spark.spark.streaming import run_streaming_job

    ctx = base_and_snapshot
    out_dir = str(ctx["tmp"] / "sout")
    ck = str(ctx["tmp"] / "ck")
    out = run_streaming_job(
        spark, ctx["snap_dir"], out_dir, ck, recrawl_keys=ctx["keys"],
    )
    urls = {r.url for r in out.read(spark).select("url").collect()}
    assert urls == ctx["novel"]

    # restart under a different key set refuses before processing
    with pytest.raises(RuntimeError, match="recrawl key set"):
        run_streaming_job(
            spark, ctx["snap_dir"], out_dir, ck,
            recrawl_keys=ctx["other_keys"],
        )
    with pytest.raises(RuntimeError, match="recrawl key set"):
        run_streaming_job(spark, ctx["snap_dir"], out_dir, ck)


def test_jobs_refuse_near_tier_without_keys_meta(
    spark, base_and_snapshot, tmp_path
):
    """The near tier needs the keys' recorded signature geometry: a
    keys dir without keys_meta.json refuses up front in both jobs."""
    import shutil

    from pii_spark.spark.jobs import run_quality_job
    from pii_spark.spark.streaming import run_streaming_job

    ctx = base_and_snapshot
    keys = tmp_path / "keys"
    shutil.copytree(ctx["keys"], keys)
    (keys / "keys_meta.json").unlink()
    with pytest.raises(FileNotFoundError, match="keys_meta"):
        run_quality_job(
            spark, ctx["snap_dir"], str(tmp_path / "out"),
            str(tmp_path / "audit"), groups=2,
            recrawl_keys=str(keys), recrawl_near=True,
        )
    with pytest.raises(FileNotFoundError, match="keys_meta"):
        run_streaming_job(
            spark, ctx["snap_dir"], str(tmp_path / "sout"),
            str(tmp_path / "ck"), recrawl_keys=str(keys),
            recrawl_near=True,
        )
    assert not (tmp_path / "out").exists()
    assert not (tmp_path / "sout").exists()


def test_snapshot_dedup_cli(spark, base_and_snapshot, tmp_path):
    """jobs/run_snapshot_dedup.py — the full two-tier batch job over
    precomputed keys, driven as a real subprocess: recrawled docs
    filtered out, novel docs written, census printed."""
    import subprocess
    import sys

    ctx = base_and_snapshot
    out = str(tmp_path / "novel")
    r = subprocess.run(
        [sys.executable, str(ROOT / "jobs" / "run_snapshot_dedup.py"),
         "--input", ctx["snap_dir"], "--keys", ctx["keys"],
         "--output", out],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "snapshot dedup census" in r.stdout
    kept = {row.url for row in spark.read.parquet(out).collect()}
    # every base-overlap doc dropped at the exact tier; near tier may
    # additionally drop generator near-dups among the novel cohort
    assert kept.isdisjoint(ctx["overlap"])
    assert kept <= ctx["novel"] and kept

    # a signature-geometry mismatch with the recorded keys refuses
    # loudly (near-tier hashes over different shingles would silently
    # match nothing — review r6b)
    r = subprocess.run(
        [sys.executable, str(ROOT / "jobs" / "run_snapshot_dedup.py"),
         "--input", ctx["snap_dir"], "--keys", ctx["keys"],
         "--output", out, "--shingle-len", "8"],
        capture_output=True, text=True, cwd=ROOT, timeout=120,
    )
    assert r.returncode != 0
    assert "does not match the keys' recorded" in (r.stderr + r.stdout)


def test_keys_identity_tracks_content(spark, base_and_snapshot, tmp_path):
    ctx = base_and_snapshot
    a = recrawl_keys_identity(ctx["keys"])
    assert a == recrawl_keys_identity(ctx["keys"]), "deterministic"
    assert a != recrawl_keys_identity(ctx["other_keys"])
    with pytest.raises(FileNotFoundError, match="run_base_keys"):
        recrawl_keys_identity(str(tmp_path))


def test_near_identity_folds_sig_relation(spark, tmp_path):
    """Review r7b: with --recrawl-near, sig.parquet (and the recorded
    geometry) are load-bearing — a sig-only change (e.g. an --append
    on an arbitrary delta) must flip the near-tier identity even
    though fp.parquet is untouched; the exact-tier identity stays
    byte-compatible with pre-r8 ledgers."""
    import shutil

    corpus = generate_corpus(spark, 20)
    keys_dir = tmp_path / "keys"
    _write_keys(spark, corpus, keys_dir)
    exact0 = recrawl_keys_identity(str(keys_dir))
    near0 = recrawl_keys_identity(str(keys_dir), include_sig=True)
    assert near0 != exact0
    assert near0 == recrawl_keys_identity(str(keys_dir),
                                          include_sig=True)

    # sig-only change: append a data file under sig.parquet
    sig = keys_dir / "sig.parquet"
    src = next(p for p in sig.glob("*.parquet"))
    shutil.copy(src, sig / f"part-99999-{src.name.split('-', 2)[-1]}")
    assert recrawl_keys_identity(str(keys_dir)) == exact0
    assert recrawl_keys_identity(str(keys_dir),
                                 include_sig=True) != near0

    # geometry-only change flips it too (meta bytes participate)
    import json

    meta = keys_dir / "keys_meta.json"
    km = json.loads(meta.read_text())
    near1 = recrawl_keys_identity(str(keys_dir), include_sig=True)
    km["bands"] = 2
    meta.write_text(json.dumps(km))
    assert recrawl_keys_identity(str(keys_dir),
                                 include_sig=True) != near1
    assert recrawl_keys_identity(str(keys_dir)) == exact0


def test_append_key_delta_matches_full_recompute(
    spark, base_and_snapshot, tmp_path
):
    """VERDICT r6 missing #1: keys(base) + append(novel delta) must
    produce IDENTICAL key sets to a full recompute over base ∪ novel —
    both relations are distinct images of per-doc functions, so the
    union-of-images identity is exact, and the append pays only
    delta-sized work."""
    import json

    from pii_spark.spark.incr_dedup import (
        append_key_delta,
        base_keys,
        recrawl_keys_identity,
    )

    corpus = generate_corpus(spark, 60).cache()
    urls = [r.url for r in corpus.select("url").orderBy("url").collect()]
    base_df = corpus.filter(F.col("url").isin(urls[:40]))
    novel_df = corpus.filter(F.col("url").isin(urls[40:]))

    keys_dir = tmp_path / "keys"
    _write_keys(spark, base_df, keys_dir)
    id_before = recrawl_keys_identity(str(keys_dir))

    n_fp, n_sig = append_key_delta(
        spark, novel_df, str(keys_dir), id_col="url"
    )
    assert n_fp > 0 and n_sig > 0
    # identity changed: quality-job resume guards see the new key set
    assert recrawl_keys_identity(str(keys_dir)) != id_before

    full_fp, full_sig = base_keys(corpus, id_col="url", hashed=True)
    got_fp = sorted(
        r.fp for r in spark.read.parquet(str(keys_dir / "fp.parquet")).collect()
    )
    got_sig = sorted(
        (r.band, r.mh)
        for r in spark.read.parquet(str(keys_dir / "sig.parquet")).collect()
    )
    assert got_fp == sorted(r.fp for r in full_fp.collect())
    assert got_sig == sorted((r.band, r.mh) for r in full_sig.collect())
    # appending the SAME delta again is a no-op (anti-join saw it all)
    n_fp2, n_sig2 = append_key_delta(
        spark, novel_df, str(keys_dir), id_col="url"
    )
    assert (n_fp2, n_sig2) == (0, 0)
    assert sorted(
        r.fp for r in spark.read.parquet(str(keys_dir / "fp.parquet")).collect()
    ) == got_fp
    # a keys dir without meta refuses (geometry unknown)
    bare = tmp_path / "bare"
    bare.mkdir()
    with pytest.raises(FileNotFoundError, match="keys_meta"):
        append_key_delta(spark, novel_df, str(bare), id_col="url")
    corpus.unpersist()


def test_snapshot_dedup_update_keys_cli(spark, base_and_snapshot, tmp_path):
    """The monthly loop without a full-corpus recompute:
    run_snapshot_dedup --update-keys folds the novel docs' keys into
    the keys dir, so re-running the SAME snapshot against the updated
    keys drops every doc at the exact tier."""
    import shutil
    import subprocess
    import sys

    ctx = base_and_snapshot
    keys = str(tmp_path / "keys")
    shutil.copytree(ctx["keys"], keys)
    out = str(tmp_path / "novel")
    r = subprocess.run(
        [sys.executable, str(ROOT / "jobs" / "run_snapshot_dedup.py"),
         "--input", ctx["snap_dir"], "--keys", keys,
         "--output", out, "--update-keys"],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "keys updated:" in r.stdout
    novel_urls = {row.url for row in spark.read.parquet(out).collect()}
    assert novel_urls and novel_urls <= ctx["novel"]

    # the same snapshot against the UPDATED keys: everything is now a
    # recrawl — the novel docs fingerprint-match the keys just added
    from pii_spark.spark.incr_dedup import incremental_dedup

    snap = spark.read.parquet(ctx["snap_dir"])
    again = incremental_dedup(
        None, snap, id_col="url", hashed=True,
        base_fp=spark.read.parquet(f"{keys}/fp.parquet"),
        base_sig=spark.read.parquet(f"{keys}/sig.parquet"),
    )
    assert again.filter(F.col("drop_stage").isNull()).count() == 0
    exact = {r.url for r in again.filter("drop_stage = 'exact'").collect()}
    assert novel_urls <= exact, "appended keys work at the exact tier"


def test_base_keys_append_cli_geometry_guard(base_and_snapshot, tmp_path):
    """run_base_keys --append refuses a geometry mismatch and a
    missing keys dir — same loud-refusal contract as the dedup job."""
    import shutil
    import subprocess
    import sys

    ctx = base_and_snapshot
    keys = str(tmp_path / "keys")
    shutil.copytree(ctx["keys"], keys)
    r = subprocess.run(
        [sys.executable, str(ROOT / "jobs" / "run_base_keys.py"),
         "--input", ctx["snap_dir"], "--output", keys,
         "--append", "--shingle-len", "8"],
        capture_output=True, text=True, cwd=ROOT, timeout=120,
    )
    assert r.returncode != 0
    assert "does not match the keys' recorded" in (r.stderr + r.stdout)
    r = subprocess.run(
        [sys.executable, str(ROOT / "jobs" / "run_base_keys.py"),
         "--input", ctx["snap_dir"], "--output", str(tmp_path / "nope"),
         "--append"],
        capture_output=True, text=True, cwd=ROOT, timeout=120,
    )
    assert r.returncode != 0
    assert "run without --append first" in (r.stderr + r.stdout)


def test_recrawl_near_tier_inline(spark, base_and_snapshot, tmp_path):
    """r7: the MinHash band tier fused into ingest (--recrawl-near).
    Near-recrawls (base text + appended footer — byte-different, so
    the exact tier misses them) are dropped in batch AND streaming;
    toggling the tier across a resume/restart refuses (the identity
    is ':near'-suffixed)."""
    from pii_spark.spark.jobs import run_quality_job
    from pii_spark.spark.streaming import run_streaming_job

    ctx = base_and_snapshot
    # snapshot: 3 near-recrawls of base docs + 3 genuinely novel docs
    base_rows = (
        generate_corpus(spark, 60)
        .filter(F.col("url").isin(list(ctx["overlap"])))
        .limit(3).collect()
    )
    near = [
        (f"https://near{i}.example/p", None, None,
         r.text + " an appended syndication footer line here", "en")
        for i, r in enumerate(base_rows)
    ]
    novel = [
        (f"https://novel{i}.example/p", None, None,
         "A completely different honest article about %d gardens and "
         "their long seasonal histories, with many varied words that "
         "share no twelve-character shingles with the base corpus at "
         "all, hopefully %d." % (i, i), "en")
        for i in range(3)
    ]
    snap2 = str(tmp_path / "snap2")
    spark.createDataFrame(
        near + novel,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    ).write.parquet(snap2)

    out_dir, audit_dir = str(tmp_path / "out"), str(tmp_path / "audit")
    t = run_quality_job(
        spark, snap2, out_dir, audit_dir, groups=2,
        recrawl_keys=ctx["keys"], recrawl_near=True,
    )
    urls = {r.url for r in t.read(spark).collect()}
    assert all("near" not in u for u in urls), urls
    assert {f"https://novel{i}.example/p" for i in range(3)} <= urls

    # toggling the near tier OFF on resume refuses (identity differs)
    with pytest.raises(RuntimeError, match="recrawl key set"):
        run_quality_job(spark, snap2, out_dir, audit_dir, groups=2,
                        recrawl_keys=ctx["keys"])

    # streaming twin + restart toggle refusal
    sout, ck = str(tmp_path / "sout"), str(tmp_path / "ck")
    st = run_streaming_job(spark, snap2, sout, ck,
                           recrawl_keys=ctx["keys"], recrawl_near=True)
    surls = {r.url for r in st.read(spark).collect()}
    assert surls == urls
    with pytest.raises(RuntimeError, match="recrawl key set"):
        run_streaming_job(spark, snap2, sout, ck,
                          recrawl_keys=ctx["keys"])
    # near without keys is a loud contract error
    with pytest.raises(ValueError, match="recrawl_near needs"):
        run_quality_job(spark, snap2, str(tmp_path / "x"),
                        str(tmp_path / "y"), groups=2,
                        recrawl_near=True)
