"""keys_geometry: the one reader of a keys dir's recorded signature
geometry (keys_meta.json). Pure Python: it reads one small JSON file."""

from __future__ import annotations

import json

import pytest

from pii_spark.spark.incr_dedup import keys_geometry


def _keys(tmp_path, **meta):
    (tmp_path / "keys_meta.json").write_text(json.dumps(
        {"shingle_len": 12, "stride": 5, "bands": 4, **meta}))
    return str(tmp_path)


def test_returns_recorded_geometry(tmp_path):
    keys = _keys(tmp_path, hashed=True, text_col="body")
    assert keys_geometry(keys, "x") == {
        "shingle_len": 12, "stride": 5, "bands": 4, "text_col": "body"}
    # no text_col / hashed recorded: the defaults run_base_keys used
    keys = _keys(tmp_path)
    assert keys_geometry(keys, "x", shingle_len=12, bands=4) == {
        "shingle_len": 12, "stride": 5, "bands": 4, "text_col": "text"}


def test_refusals(tmp_path):
    with pytest.raises(FileNotFoundError, match="keys_meta.*run it first"):
        keys_geometry(str(tmp_path), "run it first")
    keys = _keys(tmp_path, hashed=False)
    with pytest.raises(ValueError, match="hashed=false"):
        keys_geometry(keys, "x")
    keys = _keys(tmp_path, hashed=True)
    for name, flag in (("shingle_len", "--shingle-len=8"),
                       ("stride", "--stride=8"), ("bands", "--bands=8")):
        with pytest.raises(ValueError, match=(
                f"{flag} does not match the keys' recorded {name}=")):
            keys_geometry(keys, "x", **{name: 8})
