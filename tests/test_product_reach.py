"""The product package keeps only what the system calls.

Every top-level def in ``pii_spark/`` must be reached: its name appears
(as a name, an attribute or an import) in the job CLIs (``jobs/``),
``scripts/``, ``__spark_entry__.py``, the ``bench*.py`` harnesses, the
non-test modules of ``perfbench/``, another product module, or its own
module outside its own body. Tests do not count: a def only tests call
is a test oracle and belongs under ``tests/``.

The defs below are unreached today. The list is frozen and may only
shrink: a new unreached def fails, and so does an entry that has become
reached or no longer exists, so the list is kept exact.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

UNREACHED = {
    ("detect/features.py", "_self_feats"),
    ("detect/features.py", "_ctx_feats"),
    ("multimodal.py", "video_frame_features"),
    ("quality/bpe.py", "train_bpe_pure"),
    ("quality/classifier.py", "weak_label_pure"),
    ("quality/classifier.py", "train_census_pure"),
    ("quality/train_lm.py", "train_char_lm"),
    ("quality/train_lm.py", "perplexity_with"),
    ("quality/urlscore.py", "url_score_stats"),
    ("spark/conll.py", "write_conll"),
    ("spark/decontam.py", "select_canonical"),
    ("spark/evaljob.py", "evaluate"),
    ("spark/jsonl.py", "write_jsonl"),
    ("spark/jsonl.py", "read_jsonl"),
    ("spark/kmeans.py", "kmeans_assign"),
    ("spark/metrics.py", "f1_report"),
    ("spark/packing.py", "packing_summary"),
    ("spark/para_dedup.py", "paragraph_dedup_pure"),
    ("spark/streaming.py", "run_stream_dedup"),
    ("spark/streaming.py", "run_session_stream"),
    ("spark/streaming.py", "run_stream_dedup_builtin"),
    ("spark/streaming.py", "run_events_stream"),
    ("spark/substr_dedup.py", "substring_dedup_pure"),
    ("spark/warc.py", "read_warc"),
    ("spark/warc.py", "make_warc_bytes"),
    ("textgrammar/fields.py", "luhn_valid"),
}


def _names(tree: ast.AST) -> Counter:
    """Occurrences of each name, attribute name and imported name in
    ``tree``."""
    out: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out[node.id] += 1
        elif isinstance(node, ast.Attribute):
            out[node.attr] += 1
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            out.update(a.name.rsplit(".", 1)[-1] for a in node.names)
    return out


def _unreached() -> set[tuple[str, str]]:
    pkg = ROOT / "pii_spark"
    product = {p: ast.parse(p.read_text()) for p in pkg.rglob("*.py")}
    callers: Counter = Counter()
    for pattern in ("jobs/*.py", "scripts/*.py", "__spark_entry__.py",
                    "bench*.py", "perfbench/*.py"):
        for p in ROOT.glob(pattern):
            if not p.name.startswith("test_"):
                callers += _names(ast.parse(p.read_text()))
    everywhere = sum(map(_names, product.values()), callers)
    out = set()
    for p, tree in product.items():
        for d in tree.body:
            if not isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                continue
            # every use, if any, is inside the def itself
            if everywhere[d.name] == _names(d)[d.name]:
                out.add((p.relative_to(pkg).as_posix(), d.name))
    return out


def test_only_listed_defs_are_unreached():
    found = _unreached()
    assert not found - UNREACHED, (
        "new defs nothing outside tests calls (move test oracles under "
        f"tests/): {sorted(found - UNREACHED)}")
    assert not UNREACHED - found, (
        "reached or removed; drop them from UNREACHED: "
        f"{sorted(UNREACHED - found)}")
