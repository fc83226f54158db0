"""Row-level catalog operations: copy-on-write upsert (re-crawled
pages), copy-on-write delete + physical reclamation (right to be
forgotten — the erasure path a PII table must support), and orphan-dir
GC (debris of writers killed between data write and commit)."""

import time

import pytest

from pii_spark.icelite.catalog import IceliteTable


def _rows(spark, t, version=None):
    return sorted((r.k, r.v) for r in t.read(spark, version).collect())


@pytest.fixture()
def table(spark, tmp_path):
    t = IceliteTable(tmp_path / "tbl")
    t.append(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"),
        summary={"group": 0})
    return t


def test_upsert_replaces_and_inserts(spark, table):
    pre = table.current_version()
    table.upsert(spark, spark.createDataFrame(
        [(2, "B2"), (9, "new")], "k int, v string"), keys=["k"])
    assert _rows(spark, table) == [(1, "a"), (2, "B2"), (3, "c"),
                                   (9, "new")]
    # one atomic snapshot; the pre-image stays time-travelable
    assert table.current_version() == pre + 1
    assert _rows(spark, table, version=pre) == [(1, "a"), (2, "b"),
                                                (3, "c")]
    # ledger untouched by row-level ops
    assert table.committed_groups() == {0}


def test_upsert_into_empty_table(spark, tmp_path):
    t = IceliteTable(tmp_path / "t2")
    t.upsert(spark, spark.createDataFrame([(1, "a")], "k int, v string"),
             keys=["k"])
    assert _rows(spark, t) == [(1, "a")]


def test_upsert_conflict_cleans_orphan(spark, table, monkeypatch):
    """A racing append between upsert's read and commit fails the
    upsert loudly AND reclaims its orphan data dir."""
    from pathlib import Path

    orig = table._write_data
    captured = {}

    def hijack(df):
        d = orig(df)
        if "dir" not in captured:
            captured["dir"] = d
            table.append(spark.createDataFrame(
                [(50, "race")], "k int, v string"))
        return d

    monkeypatch.setattr(table, "_write_data", hijack)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        table.upsert(spark, spark.createDataFrame(
            [(1, "X")], "k int, v string"), keys=["k"])
    assert not Path(captured["dir"]).exists()
    assert (50, "race") in _rows(spark, table)  # racer intact


def test_delete_where_and_physical_reclaim(spark, table):
    """Erasure end-to-end: delete → rows gone at head but still
    time-travelable → expire_snapshots → bytes physically gone and
    history below the horizon unreadable."""
    from pathlib import Path

    pre = table.current_version()
    pre_dirs = set(table.snapshot(pre).data_dirs)
    snap, n = table.delete_where(spark, "k = 2")
    assert n == 1 and snap.operation == "delete"
    assert _rows(spark, table) == [(1, "a"), (3, "c")]
    # pre-image still readable (retention window)...
    assert (2, "b") in _rows(spark, table, version=pre)
    # ...until expiry physically reclaims it
    table.expire_snapshots(keep_last=1)
    assert table.snapshot(pre) is None
    for d in pre_dirs - set(table.snapshot().data_dirs):
        assert not Path(d).exists()
    assert _rows(spark, table) == [(1, "a"), (3, "c")]


def test_gc_orphans(spark, table):
    """A data dir written but never committed (killed writer) is
    invisible to expire_snapshots; gc_orphans reclaims it — but never a
    referenced dir, and never a fresh one inside the grace window."""
    import os
    from pathlib import Path

    orphan = table._write_data(
        spark.createDataFrame([(99, "zz")], "k int, v string"))
    # fresh orphan: protected by the grace window
    assert table.gc_orphans(grace_s=3600) == []
    assert Path(orphan).exists()
    # age it past the grace window → swept
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    removed = table.gc_orphans(grace_s=3600)
    assert removed == [orphan]
    assert not Path(orphan).exists()
    # referenced dirs are never touched, rows intact
    assert _rows(spark, table) == [(1, "a"), (2, "b"), (3, "c")]


def test_run_forget_job(spark, tmp_path):
    """Right-to-be-forgotten wrapper: rows for the named urls are gone,
    the erasure is audited, and expire_now reclaims history."""
    from pii_spark.spark.gen_job import generate_corpus
    from pii_spark.spark.jobs import run_forget_job, run_quality_job

    corpus = generate_corpus(spark, 40).cache()
    out_dir, audit_dir = str(tmp_path / "o"), str(tmp_path / "a")
    out = run_quality_job(spark, corpus, out_dir, audit_dir, groups=2)
    victims = [r.url for r in out.read(spark).limit(3).collect()]

    n = run_forget_job(spark, out_dir, audit_dir, victims,
                       run_id="erase1", expire_now=True)
    assert n == 3
    remaining = {r.url for r in out.read(spark).collect()}
    assert remaining.isdisjoint(victims) and len(remaining) == 37
    # audited
    audit = IceliteTable(audit_dir).read(spark).collect()
    erase_rows = [r for r in audit if r.run_id == "erase1"]
    assert len(erase_rows) == 1
    assert erase_rows[0].docs_dropped == 3
    assert erase_rows[0].input_files == ["forget:3_urls"]
    # history reclaimed: only the post-delete snapshot remains readable
    assert IceliteTable(out_dir).snapshot(1) is None
    # group ledger survives erasure + expiry (resume-safety invariant)
    assert out.committed_groups() == {0, 1}


def test_schema_evolution_add_column(spark, tmp_path):
    """Manifest-recorded schema (Iceberg-style): an append may ADD
    columns; reads pin the snapshot's schema (old files yield nulls,
    NO footer merging), time travel shows each snapshot's own schema,
    and a type change on an existing column is refused."""
    t = IceliteTable(tmp_path / "tbl")
    t.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.append(spark.createDataFrame(
        [(2, "b", 7.5)], "k int, v string, score double"))

    df = t.read(spark)
    assert df.columns == ["k", "v", "score"]
    got = {r.k: r.score for r in df.collect()}
    assert got == {1: None, 2: 7.5}  # old file → null for the new col
    # time travel: snapshot 1 still has its own (narrow) schema
    assert t.read(spark, version=1).columns == ["k", "v"]
    # the plan reads with an explicit schema — no mergeSchema footprint
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "score" in plan

    # upsert with a new column also evolves
    t.upsert(spark, spark.createDataFrame(
        [(1, "A", 0.5, "en")], "k int, v string, score double, lang string"),
        keys=["k"])
    assert t.read(spark).columns == ["k", "v", "score", "lang"]
    rows = {r.k: (r.v, r.score, r.lang) for r in t.read(spark).collect()}
    assert rows[1] == ("A", 0.5, "en")
    assert rows[2] == ("b", 7.5, None)

    # type change refused
    import pytest as _pytest

    with _pytest.raises(ValueError, match="type conflict"):
        t.append(spark.createDataFrame([(3, 9)], "k int, v int"))


def test_cow_is_file_scoped(spark, tmp_path):
    """File-scoped CoW: an upsert/delete touching keys in ONE data dir
    must carry every other dir into the new snapshot untouched (same
    physical paths), rewriting only the affected dir — the property
    that makes row-level ops affordable on a huge table."""
    t = IceliteTable(tmp_path / "tbl")
    for g in range(4):
        t.append(spark.createDataFrame(
            [(g * 10 + i, f"v{g}_{i}") for i in range(5)],
            "k int, v string"), summary={"group": g})
    dirs_before = list(t.snapshot().data_dirs)
    assert len(dirs_before) == 4

    # keys 10..11 live only in group 1's dir
    t.upsert(spark, spark.createDataFrame(
        [(10, "NEW"), (11, "NEW2")], "k int, v string"), keys=["k"])
    snap = t.snapshot()
    untouched = set(dirs_before) & set(snap.data_dirs)
    assert len(untouched) == 3, (dirs_before, snap.data_dirs)
    assert snap.summary["rewritten_dirs"] == 1
    assert snap.summary["kept_dirs"] == 3
    rows = {r.k: r.v for r in t.read(spark).collect()}
    assert len(rows) == 20 and rows[10] == "NEW" and rows[12] == "v1_2"

    # delete scoped to one original dir: the other originals survive
    snap2, n = t.delete_where(spark, "k >= 30")
    assert n == 5
    assert snap2.summary["rewritten_dirs"] == 1
    assert t.read(spark).count() == 15
    # no-match delete commits nothing
    v = t.current_version()
    snap3, n3 = t.delete_where(spark, "k = 99999")
    assert n3 == 0 and t.current_version() == v


def test_manifest_stats_prune_and_delete_keys(spark, tmp_path):
    """Manifest min/max stats (Iceberg file-stats parity): each data
    dir records per-column ranges at write; single-key probes prune
    dirs with zero I/O, and delete_keys composes prune → scan →
    file-scoped rewrite."""
    t = IceliteTable(tmp_path / "tbl")
    for g in range(4):
        t.append(spark.createDataFrame(
            [(g * 10 + i, f"v{g}_{i}") for i in range(5)],
            "k int, v string"), summary={"group": g})
    snap = t.snapshot()
    # stats recorded for every dir, correct ranges
    assert set(snap.dir_stats) == set(snap.data_dirs)
    ranges = sorted(tuple(s["cols"]["k"]) for s in snap.dir_stats.values())
    assert ranges == [(0, 4), (10, 14), (20, 24), (30, 34)]
    assert all(s["rows"] == 5 for s in snap.dir_stats.values())

    # pruning: a probe of 12 can only live in one dir; 99 in none
    assert len(t._prune_candidate_dirs(snap, "k", [12])) == 1
    assert t._prune_candidate_dirs(snap, "k", [99]) == []
    # string column pruning works too
    assert len(t._prune_candidate_dirs(snap, "v", ["v2_3"])) == 1
    # a column with no stats keeps every candidate (never a filter)
    assert len(t._prune_candidate_dirs(snap, "nope", [1])) == 4

    # delete_keys: victims in two dirs → two rewritten, two pruned away
    snap2, n = t.delete_keys(spark, "k", [12, 33])
    assert n == 2
    assert snap2.summary["rewritten_dirs"] == 2
    assert snap2.summary["pruned_dirs"] == 2
    assert t.read(spark).count() == 18
    # untouched dirs' stats carried; rewritten dir got fresh stats
    assert set(snap2.dir_stats) == set(snap2.data_dirs)
    # no-match delete via stats alone: nothing committed, zero scan
    v = t.current_version()
    snap3, n3 = t.delete_keys(spark, "k", [999])
    assert n3 == 0 and t.current_version() == v


def test_timestamp_time_travel_and_history(spark, tmp_path):
    t = IceliteTable(tmp_path / "tbl")
    t.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    ts_between = t.snapshot().committed_at_ms
    time.sleep(0.01)
    t.append(spark.createDataFrame([(2, "b")], "k int, v string"))

    assert t.version_as_of(ts_between) == 1
    assert t.version_as_of(t.snapshot().committed_at_ms) == 2
    assert t.version_as_of(0) is None
    assert t.read(spark, t.version_as_of(ts_between)).count() == 1

    h = t.history()
    assert [e["version"] for e in h] == [1, 2]
    assert all(e["operation"] == "append" for e in h)


def test_delete_where_null_predicate_rows_survive(spark, tmp_path):
    """review r4b: rows where the predicate evaluates to NULL fail both
    pred and NOT(pred) under three-valued logic — they must SURVIVE a
    delete, not vanish uncounted."""
    t = IceliteTable(tmp_path / "tbl")
    t.append(spark.createDataFrame(
        [(1, "x"), (2, None), (3, "y")], "k int, v string"))
    snap, n = t.delete_where(spark, "v = 'x'")
    assert n == 1
    rows = sorted((r.k, r.v) for r in t.read(spark).collect())
    assert rows == [(2, None), (3, "y")]  # NULL row kept


def test_prune_handles_null_probes_and_truncated_strings(spark, tmp_path):
    """review r4b: NULL probe keys never match (and never crash); long
    string bounds are stored truncated (≤17 chars) yet remain valid
    bounds for pruning."""
    t = IceliteTable(tmp_path / "tbl")
    long_lo = "https://aaaa.example.com/" + "x" * 100
    long_hi = "https://zzzz.example.com/" + "y" * 100
    t.append(spark.createDataFrame(
        [(long_lo, 1), (long_hi, 2)], "url string, k int"))
    snap = t.snapshot()
    lo, hi = snap.dir_stats[snap.data_dirs[0]]["cols"]["url"]
    assert len(lo) <= 17 and (hi is None or len(hi) <= 17)
    # full original strings still fall inside the stored bounds
    assert t._prune_candidate_dirs(snap, "url", [long_lo]) \
        == snap.data_dirs
    assert t._prune_candidate_dirs(snap, "url", [long_hi]) \
        == snap.data_dirs
    # clearly-outside probe prunes; None probe matches nothing, no crash
    assert t._prune_candidate_dirs(snap, "url", ["http://0"]) == []
    assert t._prune_candidate_dirs(snap, "url", [None]) == []
    # incomparable probe type → never prune (and never raise)
    assert t._prune_candidate_dirs(snap, "url", [123]) == snap.data_dirs
    # upsert with a NULL key: insert-only, no crash
    t.upsert(spark, spark.createDataFrame(
        [(None, 9)], "url string, k int"), keys=["url"])
    assert t.read(spark).count() == 3


def test_delete_keys_on_legacy_schemaless_manifest(spark, tmp_path):
    """review r4b: tables committed before manifests carried a schema
    must still support the erasure fast path (probe type inferred)."""
    import json

    t = IceliteTable(tmp_path / "tbl")
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(6)], "k int, v string"))
    v1 = t.meta / "v1.json"
    d = json.loads(v1.read_text())
    del d["schema"]
    del d["dir_stats"]
    v1.write_text(json.dumps(d))

    snap, n = t.delete_keys(spark, "k", [2, 4])
    assert n == 2
    assert sorted(r.k for r in t.read(spark).collect()) == [0, 1, 3, 5]


def test_forget_noop_does_not_expire_history(spark, tmp_path):
    """review r4b: an erasure request for absent urls must not wipe
    retention history as a side effect."""
    from pii_spark.spark.gen_job import generate_corpus
    from pii_spark.spark.jobs import run_forget_job, run_quality_job

    corpus = generate_corpus(spark, 20).cache()
    out = run_quality_job(spark, corpus, str(tmp_path / "o"),
                          str(tmp_path / "a"), groups=2)
    versions_before = [s.version for s in out.snapshots()]
    n = run_forget_job(spark, str(tmp_path / "o"), str(tmp_path / "a"),
                       ["https://never.existed/x"], expire_now=True)
    assert n == 0
    assert [s.version for s in out.snapshots()] == versions_before


def test_dir_without_stats_stays_candidate(spark, tmp_path):
    """A dir whose manifest records no stats (a legacy manifest) stays
    an always-candidate for pruning (correctness unaffected, just no
    manifest skipping)."""
    import json

    t = IceliteTable(tmp_path / "tbl")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")],
                                   "k int, v string"))
    v1 = t.meta / "v1.json"
    d = json.loads(v1.read_text())
    del d["dir_stats"]
    v1.write_text(json.dumps(d))
    snap = t.snapshot()
    assert not snap.dir_stats
    assert t._prune_candidate_dirs(snap, "k", [999]) == snap.data_dirs
    # row-level ops still work without stats
    snap2, n = t.delete_keys(spark, "k", [1])
    assert n == 1 and t.read(spark).count() == 1


def test_delete_keys_empty_and_all_none_probe(spark, tmp_path):
    """ADVICE r4: delete_keys([]) / delete_keys([None, None]) must
    early-return (parent, 0) — the legacy fallback's
    createDataFrame([], [col]) throws on an empty probe."""
    import json

    t = IceliteTable(tmp_path / "tbl")
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(4)], "k int, v string"))
    parent = t.snapshot()

    snap, n = t.delete_keys(spark, "k", [])
    assert n == 0 and snap.version == parent.version
    snap, n = t.delete_keys(spark, "k", [None, None])
    assert n == 0 and snap.version == parent.version

    # legacy schemaless manifest takes the inference fallback — the
    # exact path the empty probe used to crash
    v1 = t.meta / "v1.json"
    d = json.loads(v1.read_text())
    del d["schema"]
    del d["dir_stats"]
    v1.write_text(json.dumps(d))
    snap, n = t.delete_keys(spark, "k", [])
    assert n == 0 and snap.version == parent.version
    assert t.read(spark).count() == 4
