"""Crawl→corpus in ONE job (SURVEY R77): the production quality job
pointed straight at a WARC dump — batch over mixed .warc / per-record
.warc.gz (with a Latin-1 page and re-cased headers in the mix),
file-granular resume ledger semantics, and the streaming landing-dir
twin, which gives the batch job's rows for the same files — the north
rule's ingest→filter→scrub chain end to end."""

import gzip

import pytest

from tests.warc_fixture import make_warc_bytes, make_warc_records

BODY = ("<html><body><p>The quick brown fox jumps over the lazy dog "
        "near the wide river today, with plenty of additional plain "
        "words so the quality filter keeps this page easily. Contact "
        "{email} for all further details and questions.</p>"
        "</body></html>")


def _pages(tag: str, n: int = 2):
    return [
        (
            f"https://{tag}.example.com/page{i}",
            "2021-04-05T06:07:08Z",
            BODY.format(email=f"{tag}.user{i}@gmail.com"),
        )
        for i in range(n)
    ]


def _write_dump(tmp_path):
    src = tmp_path / "crawl"
    src.mkdir()
    (src / "a.warc").write_bytes(make_warc_bytes(_pages("aa")))
    # per-record-gzip members with non-canonical header casing
    recs = [
        r.replace(b"WARC-Target-URI", b"Warc-Target-Uri")
        for r in make_warc_records(_pages("bb"))
    ]
    (src / "b.warc.gz").write_bytes(
        b"".join(gzip.compress(r) for r in recs)
    )
    latin = [(
        "https://cc.example.com/latin",
        "2021-04-05T06:07:08Z",
        BODY.format(email="cc.user@gmail.com").replace(
            "near the wide river", "près de la rivière élargie"
        ),
    )]
    (src / "c.warc").write_bytes(
        make_warc_bytes(latin, charset="iso-8859-1")
    )
    return str(src)


def test_batch_warc_ingest_resume_and_drift_guard(spark, tmp_path):
    from pii_spark.spark.jobs import run_quality_job

    src = _write_dump(tmp_path)
    out_dir = str(tmp_path / "out")
    audit_dir = str(tmp_path / "audit")
    out = run_quality_job(
        spark, src, out_dir, audit_dir, groups=2,
        run_id="crawl1", input_format="warc",
    )
    rows = {r.url: r for r in out.read(spark).collect()}
    assert len(rows) == 5
    # every page flows through the full keep+scrub chain
    for url, r in rows.items():
        assert r.keep, (url, r.drop_reason)
        assert "@gmail.com" not in r.scrubbed_text, url
    # charset-aware decode on the ingest path: accents survive
    assert "près de la rivière" in \
        rows["https://cc.example.com/latin"].scrubbed_text
    # gz + re-cased headers parsed
    assert "https://bb.example.com/page1" in rows
    assert out.committed_groups() == {0, 1}

    # resume over the same dump is a no-op (ledger complete)
    out2 = run_quality_job(
        spark, src, out_dir, audit_dir, groups=2,
        run_id="crawl1b", input_format="warc",
    )
    assert out2.read(spark).count() == 5

    # a drifted crawl listing refuses loudly (file→group deal invalid)
    (tmp_path / "crawl" / "d.warc").write_bytes(
        make_warc_bytes(_pages("dd", 1))
    )
    with pytest.raises(RuntimeError, match="changed since"):
        run_quality_job(
            spark, src, out_dir, audit_dir, groups=2,
            input_format="warc",
        )
    # and a parquet-mode resume over the warc-committed table refuses
    # too (the fingerprint covers the format via the listing)
    with pytest.raises((RuntimeError, FileNotFoundError)):
        run_quality_job(spark, src, out_dir, audit_dir, groups=2)


def test_streaming_warc_landing_dir(spark, tmp_path):
    from pii_spark.spark.streaming import run_streaming_job

    src = tmp_path / "landing"
    src.mkdir()
    (src / "a.warc").write_bytes(make_warc_bytes(_pages("aa")))
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    out = run_streaming_job(
        spark, str(src), out_dir, ck, input_format="warc"
    )
    assert out.read(spark).count() == 2
    # a new crawl file lands; the restart ingests ONLY it
    (src / "b.warc").write_bytes(make_warc_bytes(_pages("bb")))
    out = run_streaming_job(
        spark, str(src), out_dir, ck, input_format="warc"
    )
    got = {r.url: r.scrubbed_text for r in out.read(spark).collect()}
    assert out.read(spark).count() == len(got) == 4
    assert all("@gmail.com" not in t for t in got.values())


def _job_rows(spark, table):
    return {
        (r.url, r.keep, r.drop_reason, r.scrubbed_text)
        for r in table.read(spark).collect()
    }


def test_batch_and_streaming_warc_jobs_agree(spark, tmp_path):
    """Both quality jobs read input_format="warc" through one reader:
    over the same dir — plain, per-record gzip with re-cased headers,
    and a Latin-1 page — they give the same rows, decoded text
    included."""
    from pii_spark.spark.jobs import run_quality_job
    from pii_spark.spark.streaming import run_streaming_job

    src = _write_dump(tmp_path)
    batch = run_quality_job(
        spark, src, str(tmp_path / "bout"), str(tmp_path / "baudit"),
        groups=2, input_format="warc",
    )
    stream = run_streaming_job(
        spark, src, str(tmp_path / "sout"), str(tmp_path / "ck"),
        input_format="warc",
    )
    rows = _job_rows(spark, batch)
    assert len(rows) == 5
    assert _job_rows(spark, stream) == rows
