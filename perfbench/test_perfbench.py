"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.checks import (Quality, digest, format_leaks,  # noqa: E402
                              served_docs)
from perfbench.trace import (Span, Tracer, covered, gc_pauses,  # noqa: E402
                             self_times)
from perfbench.workloads import (HOSTILE_EVERY, HOSTILE_TAIL,  # noqa: E402
                                 MAX_PARTS, PAGE_CHARS, PAGE_SEP,
                                 build_long_page, derived_seed, is_hostile)


# ------------------------------------------------------------ long pages

def test_long_page_spans_match_their_source_spans():
    from pii_spark.textgrammar.generator import build_example

    for seed, page in ((3, 0), (3, 7), (41, 2)):
        long = build_long_page(seed, page)
        parts = []
        while sum(len(p["text"]) + len(PAGE_SEP) for p in parts) < PAGE_CHARS:
            parts.append(build_example(seed, page * MAX_PARTS + len(parts)))
        src = [p["text"][s["start"]:s["end"]]
               for p in parts for s in p["spans"]]
        got = [long["text"][s["start"]:s["end"]] for s in long["spans"]]
        assert src and got == src
        assert [s["label"] for s in long["spans"]] == [
            s["label"] for p in parts for s in p["spans"]]
        assert long["text"].startswith(PAGE_SEP.join(p["text"] for p in parts))
        assert PAGE_CHARS <= len(long["text"]) < PAGE_CHARS + 2000 + len(
            HOSTILE_TAIL)


def test_one_hostile_page_per_block_of_page_ids():
    for seed in (0, 5, 95, 1234):
        hostile = [p for p in range(HOSTILE_EVERY) if is_hostile(seed, p)]
        assert len(hostile) == 1
        page = build_long_page(seed, hostile[0])
        assert page["text"].endswith(HOSTILE_TAIL)
        assert page["kind"] == "long_hostile"


def test_derived_seeds_are_disjoint_across_slots_and_seeds():
    seen = {derived_seed(s, k) for s in range(5) for k in range(1000)}
    assert len(seen) == 5 * 1000


# ------------------------------------------------------------ checks

TEXT = "Mail a.b@gmail.com or call 555-123-4567, says Ann Lee."
TRUTH = [
    {"start": 5, "end": 18, "label": "EMAIL"},
    {"start": 27, "end": 39, "label": "PHONE"},
    {"start": 46, "end": 53, "label": "PERSON"},
]


def test_leak_counter_on_hand_made_pair():
    assert TEXT[5:18] == "a.b@gmail.com" and TEXT[27:39] == "555-123-4567"
    # unscrubbed: both format spans leak; PERSON is not a format label
    assert format_leaks(TEXT, TRUTH, TEXT) == (2, 2)
    half = "Mail [EMAIL] or call 555-123-4567, says Ann Lee."
    assert format_leaks(TEXT, TRUTH, half) == (1, 2)
    full = "Mail [EMAIL] or call [PHONE], says [PERSON]."
    assert format_leaks(TEXT, TRUTH, full) == (0, 2)
    # a doc with no output row leaks everything
    assert format_leaks(TEXT, TRUTH, None) == (2, 2)


def test_quality_totals_and_served_docs():
    inputs = [{"url": "u1", "text": TEXT, "spans": TRUTH},
              {"url": "u2", "text": TEXT, "spans": TRUTH}]
    outputs = [{"url": "u1", "spans": TRUTH, "scrubbed_text":
                "Mail [EMAIL] or call [PHONE], says [PERSON]."},
               {"url": "u2", "spans": [], "scrubbed_text": TEXT}]
    q = Quality()
    q.add(inputs, outputs)
    assert (q.docs, q.served, q.leaked, q.format_spans) == (2, 2, 2, 4)
    assert q.leak_rate == 0.5
    assert (q.tp, q.fp, q.fn) == (3, 0, 3)
    assert q.entity_f1 == 2 * 1.0 * 0.5 / 1.5
    # a duplicated or null row is not served
    dup = outputs + [outputs[0]]
    assert served_docs(["u1", "u2"], dup) == 1
    null = [outputs[0], {**outputs[1], "scrubbed_text": None}]
    assert served_docs(["u1", "u2"], null) == 1


def test_digest_ignores_row_order_but_not_content():
    rows = [{"url": "a", "keep": True, "drop_reason": None,
             "scrubbed_text": "x"},
            {"url": "b", "keep": False, "drop_reason": "langid",
             "scrubbed_text": "y"}]
    assert digest(rows) == digest(rows[::-1])
    assert digest(rows) != digest([rows[0], {**rows[1],
                                             "scrubbed_text": "z"}])


# ------------------------------------------------------------ spans

def test_covered_takes_the_union_clipped_to_the_parent():
    assert covered(0, 100, []) == 0
    assert covered(0, 100, [(10, 30), (20, 50)]) == 40
    assert covered(0, 100, [(90, 120), (-5, 5)]) == 15
    assert covered(0, 100, [(10, 20), (10, 20)]) == 10


def test_self_time_is_duration_minus_children():
    spans = [
        Span(0, None, "root", 0, 100),
        Span(1, 0, "a", 10, 30),
        Span(2, 0, "b", 40, 70),
        Span(3, 2, "b.child", 45, 65),
        Span(4, None, "other", 100, 110),
    ]
    st = self_times(spans)
    assert st == {0: 100 - 20 - 30, 1: 20, 2: 30 - 20, 3: 20, 4: 10}
    assert sum(st.values()) == 110  # self times partition the wall time


def test_tracer_nests_spans_and_restores_patches():
    import types

    mod = types.SimpleNamespace(inner=lambda x: x + 1)
    mod.outer = lambda x: mod.inner(x) * 2
    tr = Tracer()
    seen = []
    tr.patch(mod, "inner", "inner", lambda args, res: seen.append(res))
    tr.patch(mod, "outer", "outer")
    with tr.span("root"):
        assert mod.outer(1) == 4
    tr.restore()
    assert mod.outer(1) == 4 and tr.by_name("inner")[0].parent == \
        tr.by_name("outer")[0].id
    assert seen == [2]
    assert [row["path"] for row in tr.tree()] == [
        "root", "root/outer", "root/outer/inner"]
    assert tr.total_s("root", self_only=True) <= tr.total_s("root")


# ------------------------------------------------------------ gc log

def test_gc_pauses_keep_collections_and_convert_units():
    log = [
        "[0.512s][info][gc] Using G1",
        "[2.345s][info][gc] GC(3) Pause Young (Normal) (G1 Evacuation "
        "Pause) 120M->45M(256M) 5.123ms",
        "[3.001s][info][gc] GC(4) Pause Remark 587M->587M(1156M) 32.474ms",
        "[3.100s][info][gc] GC(4) Pause Cleanup 632M->632M(1156M) 0.164ms",
        "[9.000s][info][gc] GC(5) Pause Full (System.gc()) "
        "2G->512K(4G) 101.5ms",
    ]
    got = gc_pauses(log)
    assert [tuple(p) for p in got] == [
        (45.0, 256.0, 5.123),
        (0.5, 4096.0, 101.5),
    ]
