"""Content identities of recorded job inputs, pinned byte for byte.

Every job records a content identity for each input dir that changes
its semantics (stopword lists, tokenizer and classifier models, routing
table, domain blocklist, benchmark set, recrawl keys) and refuses a
resume when one drifts. Ledgers written by earlier runs hold these
digests, so each must stay byte-identical. An identity reads only file
names, file sizes and the small meta files, so fixture dirs of fixed
names and byte sizes pin it without Spark.
"""

from __future__ import annotations

import json

import pytest

from pii_spark.quality.bpe import bpe_model_identity
from pii_spark.quality.classifier import classifier_model_identity
from pii_spark.quality.stopwords import stopwords_identity
from pii_spark.spark.decontam import benchmark_identity
from pii_spark.spark.incr_dedup import recrawl_keys_identity
from pii_spark.spark.jobs import domain_blocklist_identity
from pii_spark.spark.sampling import route_table_identity


def _parquet_dir(d, sizes):
    """Data files of the given sizes, a nested partition dir, and the
    marker files every identity skips. The skip rule reads the file
    name only, so a data file under ``_temporary/`` still counts."""
    d.mkdir(parents=True)
    for i, n in enumerate(sizes):
        (d / f"part-{i:05d}-c0ffee.snappy.parquet").write_bytes(b"x" * n)
    (d / "lang=en").mkdir()
    (d / "lang=en" / "part-00000-beef.snappy.parquet").write_bytes(b"y" * 7)
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".part-00000-c0ffee.snappy.parquet.crc").write_bytes(b"c" * 12)
    (d / "_temporary").mkdir()
    (d / "_temporary" / "part-00009.parquet").write_bytes(b"t" * 3)
    return str(d)


@pytest.fixture
def dirs(tmp_path):
    out = {
        name: _parquet_dir(tmp_path / name, sizes)
        for name, sizes in (
            ("stopwords", (100, 37)),
            ("route", (210,)),
            ("blocklist", (64, 65, 66)),
            ("bench", (1,)),
        )
    }
    for name, sub, meta in (
        ("bpe", "merges.parquet", {"vocab_size": 300, "lowercase": True}),
        ("clf", "census.parquet", {"hashed": True, "dim": 4096,
                                   "labels": ["neg", "pos"]}),
    ):
        _parquet_dir(tmp_path / name / sub, (512, 48))
        # unsorted keys and loose spacing: the identity hashes the
        # canonical form, not the bytes
        (tmp_path / name / "meta.json").write_text(json.dumps(meta, indent=3))
        out[name] = str(tmp_path / name)
    keys = tmp_path / "keys"
    _parquet_dir(keys / "fp.parquet", (300, 301))
    _parquet_dir(keys / "sig.parquet", (900,))
    (keys / "keys_meta.json").write_text(json.dumps(
        {"shingle_len": 12, "stride": 5, "bands": 4, "text_col": "text",
         "hashed": True}, indent=1))
    out["keys"] = str(keys)
    return out


def test_identities_are_byte_stable(dirs):
    got = {
        "stopwords": stopwords_identity(dirs["stopwords"]),
        "route": route_table_identity(dirs["route"]),
        "blocklist": domain_blocklist_identity(dirs["blocklist"]),
        "bench": benchmark_identity(dirs["bench"]),
        "bpe": bpe_model_identity(dirs["bpe"]),
        "clf": classifier_model_identity(dirs["clf"]),
        "keys": recrawl_keys_identity(dirs["keys"]),
        "near": recrawl_keys_identity(dirs["keys"], include_sig=True),
    }
    assert got == {
        "stopwords": "be944aaf64dfbea1",
        "route": "7c642c943574b459",
        "blocklist": "3b961a6fbba88213",
        "bench": "eef45e1ef14107c8",
        "bpe": "2ba29023e6327e5c",
        "clf": "dbdd40d656bada66",
        "keys": "030a730fb750be5e",
        "near": "8a01de7751aba172",
    }


def test_near_identity_without_keys_meta(dirs):
    """The near identity hashes the raw keys_meta.json text, or "" when
    the file is missing; the exact identity never reads it."""
    from pathlib import Path

    exact = recrawl_keys_identity(dirs["keys"])
    (Path(dirs["keys"]) / "keys_meta.json").unlink()
    assert recrawl_keys_identity(dirs["keys"]) == exact
    near = recrawl_keys_identity(dirs["keys"], include_sig=True)
    assert near == "6f80c3e0cefd5e36"


def test_identities_refuse_missing_inputs(dirs, tmp_path):
    from pathlib import Path

    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    for fn, phrase in (
        (stopwords_identity, "no stopword parquet"),
        (route_table_identity, "--route-buckets"),
        (domain_blocklist_identity, "derive-blocklist"),
        (benchmark_identity, "no benchmark parquet"),
        (bpe_model_identity, "run_tokenizer"),
        (classifier_model_identity, "run_classifier"),
        (recrawl_keys_identity, "run_base_keys"),
    ):
        with pytest.raises(FileNotFoundError, match=phrase):
            fn(str(empty))
    # a model dir needs its meta.json as well as its data files
    (Path(dirs["clf"]) / "meta.json").unlink()
    with pytest.raises(FileNotFoundError, match="run_classifier"):
        classifier_model_identity(dirs["clf"])
    # the near tier needs the signature relation
    keys = Path(dirs["keys"])
    for p in (keys / "sig.parquet").rglob("*.parquet"):
        p.unlink()
    assert recrawl_keys_identity(str(keys))
    with pytest.raises(FileNotFoundError, match="sig.parquet"):
        recrawl_keys_identity(str(keys), include_sig=True)
