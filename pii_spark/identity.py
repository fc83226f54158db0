"""Content identity of a recorded job input dir.

Jobs record one for every input dir that changes what they write
(stopword lists, tokenizer and classifier models, routing table, domain
blocklist, benchmark set, recrawl keys) and refuse a resume or restart
when one drifts. It reads file metadata only, no scan: md5 over the
sorted ``name:size`` lines of the dir's visible parquet files, first 16
hex chars; model dirs add their ``meta.json`` as canonical JSON, since
a meta change alters results even when the data files match. Ledgers
written by earlier runs hold these digests, so payloads stay
byte-stable. No Spark import.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path


def visible_files(root, patterns=("*.parquet",)) -> list[Path]:
    """Files under ``root`` matching ``patterns``, sorted by path,
    skipping names that start with ``.`` or ``_`` (``_SUCCESS``,
    ``.crc`` checksums)."""
    return sorted(
        (p for pat in patterns for p in Path(root).rglob(pat)
         if not p.name.startswith((".", "_"))),
        key=str,
    )


def listing(root, missing: str) -> str:
    """Sorted ``name:size`` lines of ``root``'s visible parquet files;
    ``FileNotFoundError(missing)`` when there are none."""
    files = sorted(f"{p.name}:{p.stat().st_size}" for p in visible_files(root))
    if not files:
        raise FileNotFoundError(missing)
    return "\n".join(files)


def digest(payload: str) -> str:
    return hashlib.md5(payload.encode()).hexdigest()[:16]


def model_identity(model_dir: str, data: str, missing: str) -> str:
    """Listing of the model's ``data`` sub-dir plus its meta.json."""
    files = listing(Path(model_dir) / data, missing)
    meta = Path(model_dir) / "meta.json"
    if not meta.exists():
        raise FileNotFoundError(missing)
    canonical = json.dumps(json.loads(meta.read_text()), sort_keys=True)
    return digest(files + "\n" + canonical)
