"""Checkpoint-resume + lineage: a killed job restarts from the last
committed snapshot, reprocesses nothing, and produces identical output
(north-rule requirement; SURVEY §5 test plan items 5-6)."""

import pytest

from pii_spark.icelite.catalog import IceliteTable
from pii_spark.spark.gen_job import generate_corpus
from pii_spark.spark.jobs import run_quality_job

N = 160
GROUPS = 4


def _rows(spark, table):
    return sorted(
        (r.url, r.keep, r.scrubbed_text)
        for r in table.read(spark).collect()
    )


def test_resume_after_injected_failure(spark, tmp_path):
    corpus = generate_corpus(spark, N).cache()

    # uninterrupted reference run
    ref = run_quality_job(
        spark, corpus, str(tmp_path / "ref"), str(tmp_path / "ref_audit"),
        groups=GROUPS, run_id="ref",
    )
    ref_rows = _rows(spark, ref)

    # killed run: crashes after 2 group commits
    with pytest.raises(RuntimeError, match="injected failure"):
        run_quality_job(
            spark, corpus, str(tmp_path / "out"), str(tmp_path / "audit"),
            groups=GROUPS, run_id="run1", fail_after_groups=2,
        )
    out = IceliteTable(str(tmp_path / "out"))
    committed_before = out.committed_groups()
    assert len(committed_before) == 2

    # resume: only the remaining groups are processed
    out = run_quality_job(
        spark, corpus, str(tmp_path / "out"), str(tmp_path / "audit"),
        groups=GROUPS, run_id="run2",
    )
    assert out.committed_groups() == set(range(GROUPS))
    # groups committed before the crash were NOT reprocessed: their
    # snapshots still carry the first run's id
    for snap in out.snapshots():
        if snap.summary.get("group") in committed_before:
            assert snap.summary["run_id"] == "run1"

    # identical output to the uninterrupted run (byte-identical rows)
    assert _rows(spark, out) == ref_rows


def test_audit_lineage_rows(spark, tmp_path):
    corpus = generate_corpus(spark, 80).cache()
    run_quality_job(
        spark, corpus, str(tmp_path / "o"), str(tmp_path / "a"),
        groups=2, run_id="auditrun",
    )
    audit = IceliteTable(str(tmp_path / "a")).read(spark).collect()
    assert sum(r.docs_in for r in audit) == 80
    for r in audit:
        assert r.docs_in == r.docs_kept + r.docs_dropped
        assert r.run_id == "auditrun"
        assert r.snapshot_id is not None and r.wall_ms >= 0


def _path_mode_audit_rows(spark, tmp_path, name, crash=False, **opts):
    """Audit rows of a path-mode job over ``tmp_path/corpus``; with
    ``crash`` the job first dies after group 0 and is then resumed."""
    args = (spark, str(tmp_path / "corpus"), str(tmp_path / name),
            str(tmp_path / f"{name}_audit"))
    if crash:
        with pytest.raises(RuntimeError, match="injected failure"):
            run_quality_job(*args, groups=2, fail_after_groups=1, **opts)
    run_quality_job(*args, groups=2, **opts)
    return sorted(
        (r.partition_id, r.input_files, r.docs_in, r.docs_kept,
         r.docs_dropped, r.spans_scrubbed)
        for r in IceliteTable(str(tmp_path / f"{name}_audit"))
        .read(spark).collect()
    )


def test_audit_rows_reproducible_in_path_mode(spark, tmp_path):
    """Two identical path-mode runs give equal audit rows apart from
    run_id, snapshot_id, committed_at and wall_ms: each row is counted
    from a file its group's append wrote."""
    corpus_dir = str(tmp_path / "corpus")
    generate_corpus(spark, 80).repartition(4).write.parquet(corpus_dir)

    first = _path_mode_audit_rows(spark, tmp_path, "one")
    assert sum(r[2] for r in first) == 80
    assert _path_mode_audit_rows(spark, tmp_path, "two") == first


def test_audit_rows_reproducible_with_classifier(spark, tmp_path):
    """The same with a classifier model: scoring is in-row after the
    salted repartition, so each group writes one file per pinned
    partition in every run — the layout of the unscored job — and the
    audit rows, partition_id included, are equal. (A join back after
    the repartition let AQE choose the file count at run time.)"""
    import json

    from pii_spark.quality.classifier import train_quality_nb, weak_labels

    corpus_dir = str(tmp_path / "corpus")
    corpus = generate_corpus(spark, 80)
    corpus.repartition(4).write.parquet(corpus_dir)
    model = tmp_path / "model"
    train_quality_nb(weak_labels(corpus)).write.parquet(
        str(model / "census.parquet"))
    (model / "meta.json").write_text(json.dumps(
        {"dim": 2 ** 18, "hashed": True}))

    first = _path_mode_audit_rows(spark, tmp_path, "one",
                                  classifier_model=str(model))
    assert sum(r[2] for r in first) == 80
    assert _path_mode_audit_rows(spark, tmp_path, "two",
                                 classifier_model=str(model)) == first
    assert _path_mode_audit_rows(spark, tmp_path, "plain") == first


def test_audit_rows_reproducible_with_ingest_drops(spark, tmp_path):
    """The same with the ingest options that drop docs before the
    pipeline — a domain blocklist and exact plus near recrawl keys —
    and against a run that crashed after group 0 and resumed: every
    group writes the same files, so the audit rows, partition_id
    included, are equal."""
    import json

    from pyspark.sql import functions as F

    from pii_spark.spark.incr_dedup import base_keys

    corpus_dir = str(tmp_path / "corpus")
    corpus = generate_corpus(spark, 80)
    corpus.repartition(4).write.parquet(corpus_dir)
    urls = sorted(r.url for r in corpus.select("url").collect())
    # base: 10 docs verbatim (exact recrawls) and 10 with an edited
    # tail (near recrawls only)
    base = corpus.filter(F.col("url").isin(urls[:20])).withColumn(
        "text", F.when(F.col("url").isin(urls[10:20]),
                       F.concat("text", F.lit(" Edited."))
                       ).otherwise(F.col("text")))
    keys = tmp_path / "keys"
    fp, sig = base_keys(base, id_col="url", hashed=True)
    fp.write.parquet(str(keys / "fp.parquet"))
    sig.write.parquet(str(keys / "sig.parquet"))
    (keys / "keys_meta.json").write_text(json.dumps(
        {"shingle_len": 12, "stride": 5, "bands": 4, "text_col": "text",
         "hashed": True}))
    blocklist = str(tmp_path / "blocklist")
    spark.createDataFrame([("blog.example.net",)], "domain string"
                          ).write.parquet(blocklist)
    opts = dict(domain_blocklist=blocklist, recrawl_keys=str(keys),
                recrawl_near=True)

    first = _path_mode_audit_rows(spark, tmp_path, "one", **opts)
    dropped = set(urls[:20]) | {u for u in urls if "blog.example.net" in u}
    assert sum(r[2] for r in first) == 80 - len(dropped)
    assert _path_mode_audit_rows(spark, tmp_path, "two", **opts) == first
    assert _path_mode_audit_rows(spark, tmp_path, "resumed", crash=True,
                                 **opts) == first


def test_time_travel(spark, tmp_path):
    corpus = generate_corpus(spark, 40).cache()
    t = run_quality_job(
        spark, corpus, str(tmp_path / "t"), str(tmp_path / "ta"), groups=2
    )
    v1 = t.read(spark, version=1).count()
    v2 = t.read(spark, version=2).count()
    assert v1 < v2 == 40  # snapshot 1 = first group only


def test_concurrent_commits_never_lost(tmp_path):
    """ADVICE r1: two committers racing on the same table must never
    silently overwrite each other's snapshot — the O_EXCL manifest link
    forces the loser to retry on a fresh parent."""
    import threading

    from pii_spark.icelite.catalog import IceliteTable

    table = IceliteTable(tmp_path / "race")
    errs = []

    def committer(tag):
        try:
            for i in range(25):
                table._commit("append", [f"{tag}-{i}"], {tag: i})
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=committer, args=(t,))
               for t in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    snaps = table.snapshots()
    assert table.current_version() == 50 and len(snaps) == 50
    # every commit made it: 25 per committer, no overwrites
    seen = {("a", s.summary.get("a")) for s in snaps if "a" in s.summary}
    seen |= {("b", s.summary.get("b")) for s in snaps if "b" in s.summary}
    assert seen == {(t, i) for t in ("a", "b") for i in range(25)}
    # the final snapshot's data_dirs accumulated every append exactly once
    assert sorted(snaps[-1].data_dirs) == sorted(
        f"{t}-{i}" for t in ("a", "b") for i in range(25)
    )


def test_audit_backfill_on_resume(spark, tmp_path):
    """ADVICE r1: crash between output commit and audit append loses the
    group's lineage forever (resume skips the group). The backfill pass
    reconstructs a reconciliation row from the committed snapshot."""
    from pii_spark.icelite.catalog import IceliteTable
    from pii_spark.spark.gen_job import generate_corpus
    from pii_spark.spark.jobs import run_quality_job

    corpus = generate_corpus(spark, 80, partitions=4)
    out_dir = str(tmp_path / "out")
    audit_dir = str(tmp_path / "audit")
    run_quality_job(spark, corpus, out_dir, audit_dir, groups=4,
                    partitions=4, run_id="r1")

    # simulate the crash window: drop the LAST audit snapshot (its
    # output group commit survived)
    audit = IceliteTable(audit_dir)
    v = audit.current_version()
    lost_group = audit.snapshot(v).summary["group"]
    (audit.meta / f"v{v}.json").unlink()
    (audit.meta / "version-hint.text").write_text(str(v - 1))
    assert lost_group not in audit.committed_groups()

    # resume: nothing to reprocess, but the audit hole must be healed
    out = run_quality_job(spark, corpus, out_dir, audit_dir, groups=4,
                          partitions=4, run_id="r2")
    assert lost_group in audit.committed_groups()
    rows = [r for r in audit.read(spark).collect()
            if "backfill" in (r.input_files or [])]
    assert len(rows) == 1 and rows[0].partition_id == -1
    # reconciliation totals recomputed from the committed snapshot data:
    # the backfill docs_in must equal the lost group's TRUE row count in
    # the output table (recount it independently here)
    from pyspark.sql import functions as F

    grp = F.pmod(F.xxhash64(F.col("url")), F.lit(4))
    true_in = out.read(spark).where(grp == lost_group).count()
    assert rows[0].docs_in == true_in > 0
    assert out.read(spark).count() == 80


def test_expire_snapshots(spark, tmp_path):
    """Iceberg-style maintenance: expiry keeps the newest snapshots
    readable, deletes manifests + orphaned data dirs below the horizon,
    and the ledger still works over the retained tail."""
    from pathlib import Path

    from pii_spark.icelite.catalog import IceliteTable

    t = IceliteTable(tmp_path / "tbl")
    df1 = spark.range(5).withColumnRenamed("id", "x")
    t.append(df1, summary={"group": 0})
    t.append(df1, summary={"group": 1})
    overwritten_dir = t.snapshot(1).data_dirs[0]
    t.overwrite(spark.range(3).withColumnRenamed("id", "x"),
                summary={"group": 2})
    t.append(df1, summary={"group": 3})
    assert t.current_version() == 4

    removed = t.expire_snapshots(keep_last=2)
    # snapshots 1-2 gone; the pre-overwrite data dir is orphaned → deleted
    assert overwritten_dir in removed
    assert not Path(overwritten_dir).exists()
    assert t.snapshot(1) is None and t.snapshot(2) is None
    assert t.current_version() == 4
    assert t.read(spark).count() == 8  # overwrite(3) + append(5)
    assert t.read(spark, version=3).count() == 3  # retained time travel
    # the ledger SURVIVES expiry (carried to metadata/ledger.json):
    # forgetting committed groups would make a resumed job duplicate them
    assert t.committed_groups() == {0, 1, 2, 3}
    # expiring again is a no-op
    assert t.expire_snapshots(keep_last=2) == []


def test_compaction(spark, tmp_path):
    """compact() rewrites N appended snapshots' small files into few
    large ones: identical rows, fewer files, time travel + ledger
    intact (VERDICT r2 #7)."""
    t = IceliteTable(tmp_path / "tbl")
    for g in range(4):
        t.append(
            spark.range(g * 10, g * 10 + 10).repartition(4)
            .withColumnRenamed("id", "x"),
            summary={"group": g},
        )
    before_rows = sorted(r.x for r in t.read(spark).collect())
    before_files = t.data_file_count()
    assert before_files >= 8  # small-file problem exists
    pre_version = t.current_version()

    snap = t.compact(spark, target_partitions=1)
    assert snap.operation == "compact"
    assert sorted(r.x for r in t.read(spark).collect()) == before_rows
    assert t.data_file_count() < before_files
    assert t.data_file_count() <= 2
    # time travel to the pre-compaction snapshot still works
    assert sorted(r.x for r in t.read(spark, version=pre_version).collect()) \
        == before_rows
    # resume ledger unaffected
    assert t.committed_groups() == {0, 1, 2, 3}
    # appends continue on top of the compacted snapshot
    t.append(spark.range(100, 105).withColumnRenamed("id", "x"),
             summary={"group": 9})
    assert t.read(spark).count() == 45
    # ...and expiry then reclaims the pre-compaction dirs
    t.expire_snapshots(keep_last=2)
    assert t.committed_groups() == {0, 1, 2, 3, 9}
    assert sorted(r.x for r in t.read(spark).collect()) \
        == before_rows + [100, 101, 102, 103, 104]


def test_compaction_conflicts_with_concurrent_append(spark, tmp_path):
    """A snapshot landing between compaction's read and commit must
    fail the compaction (silently replacing it would drop its rows)."""
    t = IceliteTable(tmp_path / "tbl")
    t.append(spark.range(5).withColumnRenamed("id", "x"))
    snap = t.snapshot()
    df = t.read(spark).repartition(1)
    new_dir = t._write_data(df)
    # simulate the race: another append lands before compact's commit
    t.append(spark.range(5, 8).withColumnRenamed("id", "x"))
    with pytest.raises(RuntimeError, match="concurrent commit"):
        t._commit("compact", [new_dir], {},
                  require_parent_version=snap.version)
    assert t.read(spark).count() == 8  # nothing lost


def test_expire_lock_stale_takeover(spark, tmp_path):
    """A lock left by a crashed (dead-pid) expiry is taken over; a
    fresh lock from a live process still blocks (ADVICE r2)."""
    import json
    import os
    import time as _time

    t = IceliteTable(tmp_path / "tbl")
    df = spark.range(5).withColumnRenamed("id", "x")
    for g in range(3):
        t.append(df, summary={"group": g})
    lock = t.meta / ".expire.lock"

    # dead pid → stale → expiry proceeds
    lock.write_text(json.dumps({"pid": 2 ** 22 + 12345,
                                "ts": _time.time()}))
    t.expire_snapshots(keep_last=2)
    assert not lock.exists()
    assert t.committed_groups() == {0, 1, 2}

    # live pid + fresh timestamp → contention error, lock preserved
    t.append(df, summary={"group": 3})
    lock.write_text(json.dumps({"pid": os.getpid(), "ts": _time.time()}))
    with pytest.raises(RuntimeError, match="another expire_snapshots"):
        t.expire_snapshots(keep_last=1)
    assert lock.exists()
    lock.unlink()

    # live pid but ancient timestamp → stale → taken over
    lock.write_text(json.dumps({"pid": os.getpid(),
                                "ts": _time.time() - 7200}))
    t.expire_snapshots(keep_last=1)
    assert not lock.exists()

    # pre-r3 empty lock file, old mtime → age decides → taken over
    lock.write_text("")
    old = _time.time() - 7200
    os.utime(lock, (old, old))
    t.append(df, summary={"group": 4})
    t.expire_snapshots(keep_last=1)
    assert not lock.exists()
    assert t.committed_groups() == {0, 1, 2, 3, 4}


def test_expire_lock_fresh_unparseable_blocks(spark, tmp_path):
    """A FRESH lock with unknown holder (empty/torn payload) must block
    expiry, not be stolen — age alone may condemn a lock, never acquit
    (review r3: the first r3 cut stole every unparseable lock)."""
    t = IceliteTable(tmp_path / "tbl")
    df = spark.range(5).withColumnRenamed("id", "x")
    for g in range(3):
        t.append(df, summary={"group": g})
    lock = t.meta / ".expire.lock"
    lock.write_text("")  # fresh mtime, unparseable payload
    with pytest.raises(RuntimeError, match="another expire_snapshots"):
        t.expire_snapshots(keep_last=1)
    assert lock.exists()  # restored, not stolen
    lock.unlink()
    # ...and a completed takeover victim must not delete the new
    # holder's lock: simulate by putting a foreign fresh lock in place
    # right before release
    import json as _json
    import os as _os
    t.expire_snapshots(keep_last=2)  # acquires + releases normally
    lock.write_text(_json.dumps({"pid": _os.getpid() + 1,
                                 "ts": __import__("time").time()}))
    t._release_expire_lock(lock)  # not ours → no-op
    assert lock.exists()
    lock.unlink()


def test_compaction_between_streaming_runs_keeps_ledger(spark, tmp_path):
    """Operational sequence a production table actually sees: stream →
    compact → stream more. Compaction must not lose the stream_batch
    ledger (or the replayed batches would duplicate rows) and the
    compacted table must keep reading correctly."""
    from pii_spark.spark.gen_job import generate_corpus
    from pii_spark.spark.streaming import run_streaming_job

    corpus_dir = tmp_path / "corpus"
    corpus_dir.mkdir()
    generate_corpus(spark, 40, partitions=2).write.mode("overwrite"
        ).parquet(str(corpus_dir / "a"))

    out = run_streaming_job(
        spark, str(corpus_dir / "a"), str(tmp_path / "out"),
        str(tmp_path / "ckpt_a"), max_files_per_trigger=1, partitions=2,
    )
    n_files_before = out.data_file_count()
    batches_before = out.committed_groups("stream_batch")
    assert out.read(spark).count() == 40

    out.compact(spark)
    assert out.data_file_count() < n_files_before
    assert out.read(spark).count() == 40
    # the ledger survives compaction (old manifests still present)
    assert out.committed_groups("stream_batch") == batches_before

    # second corpus dir = second stream with its own checkpoint; the
    # table keeps accumulating on top of the compacted snapshot
    generate_corpus(spark, 10, partitions=1).write.mode("overwrite"
        ).parquet(str(corpus_dir / "b"))
    out2 = run_streaming_job(
        spark, str(corpus_dir / "b"), str(tmp_path / "out"),
        str(tmp_path / "ckpt_b"), partitions=2,
    )
    assert out2.read(spark).count() == 50
    # re-run of stream A's checkpoint: nothing reprocessed
    out3 = run_streaming_job(
        spark, str(corpus_dir / "a"), str(tmp_path / "out"),
        str(tmp_path / "ckpt_a"), partitions=2,
    )
    assert out3.read(spark).count() == 50


def test_group_scans_are_file_granular(spark, tmp_path):
    """VERDICT r3 #3: resuming must NOT re-scan the full corpus per
    group. DataFrame mode stages one grp-partitioned write; each
    group's scan must carry a PartitionFilters entry on grp (pruned at
    the file index, zero data read outside grp=g) and actually touch
    only files under its own partition directory."""
    from pyspark.sql import functions as F

    corpus = generate_corpus(spark, 80).cache()
    out_dir = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_quality_job(spark, corpus, out_dir, str(tmp_path / "audit"),
                        groups=4, fail_after_groups=1)
    staging = tmp_path / "out" / "_staging"
    assert (staging / "_STAGED_OK").exists()

    base = spark.read.option("basePath", str(staging)).parquet(str(staging))
    one_group = base.where(F.col("grp") == 2).drop("grp")
    plan = one_group._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "(grp" in plan, plan
    touched = {
        r[0]
        for r in one_group.select(
            F.input_file_name().alias("f")).distinct().collect()
    }
    assert touched and all("grp=2" in f for f in touched), touched

    # resume completes; staging is cleaned up once all groups commit
    out = run_quality_job(spark, corpus, out_dir, str(tmp_path / "audit"),
                          groups=4)
    assert out.committed_groups() == set(range(4))
    assert not staging.exists()


def test_path_mode_groups_by_files(spark, tmp_path):
    """Path input: files are dealt round-robin into groups with NO
    staging write; output is byte-identical to DataFrame mode, audit
    lineage records the real file names, resume skips committed
    groups."""
    corpus = generate_corpus(spark, 120).cache()
    corpus_dir = str(tmp_path / "corpus")
    corpus.repartition(8).write.parquet(corpus_dir)

    ref = run_quality_job(
        spark, corpus, str(tmp_path / "ref"), str(tmp_path / "ref_a"),
        groups=4, run_id="ref",
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        run_quality_job(
            spark, corpus_dir, str(tmp_path / "out"), str(tmp_path / "a"),
            groups=4, run_id="p1", fail_after_groups=2,
        )
    out = run_quality_job(
        spark, corpus_dir, str(tmp_path / "out"), str(tmp_path / "a"),
        groups=4, run_id="p2",
    )
    assert _rows(spark, out) == _rows(spark, ref)
    # no staging dir in path mode
    assert not (tmp_path / "out" / "_staging").exists()
    # lineage: each group's audit rows name its actual parquet files,
    # ~1/groups of the 8 input files each
    audit = IceliteTable(str(tmp_path / "a")).read(spark).collect()
    for r in audit:
        names = [f for f in r.input_files if f.endswith(".parquet")]
        assert len(names) == 2, r.input_files


def test_compaction_interleaved_with_group_commits(spark, tmp_path):
    """VERDICT r3 #6: compact() runs INSIDE the job loop (policy-gated)
    — ledger, resume, and rows must all survive maintenance happening
    mid-run."""
    corpus = generate_corpus(spark, 120).cache()
    ref = run_quality_job(
        spark, corpus, str(tmp_path / "ref"), str(tmp_path / "ref_a"),
        groups=4, run_id="ref",
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        run_quality_job(
            spark, corpus, str(tmp_path / "o"), str(tmp_path / "a"),
            groups=4, run_id="c1", compact_every=1, fail_after_groups=2,
        )
    out = run_quality_job(
        spark, corpus, str(tmp_path / "o"), str(tmp_path / "a"),
        groups=4, run_id="c2", compact_every=2,
    )
    assert out.committed_groups() == set(range(4))
    assert _rows(spark, out) == _rows(spark, ref)
    ops = [s.operation for s in out.snapshots()]
    assert "compact" in ops
    # maintenance kept the table compact: far fewer files than the
    # uncompacted reference accumulates
    assert out.data_file_count() <= ref.data_file_count()
    # time travel across a compaction boundary still works
    assert out.read(spark, version=1).count() > 0


def test_expire_lock_foreign_host_semantics(spark, tmp_path):
    """ADVICE r3: pid liveness is host-local. A FRESH lock written on
    another host whose pid happens to be dead HERE must block (its
    holder may be alive over there); a STALE foreign lock is taken
    over by age."""
    import json
    import time as _time

    t = IceliteTable(tmp_path / "tbl")
    df = spark.range(5).withColumnRenamed("id", "x")
    for g in range(3):
        t.append(df, summary={"group": g})
    lock = t.meta / ".expire.lock"

    # fresh + foreign host + locally-dead pid → must BLOCK
    lock.write_text(json.dumps({
        "pid": 2 ** 22 + 999, "host": "other-node-42", "ts": _time.time(),
    }))
    with pytest.raises(RuntimeError, match="another expire_snapshots"):
        t.expire_snapshots(keep_last=1)
    assert lock.exists()
    lock.unlink()

    # stale + foreign host → age condemns it, takeover proceeds
    lock.write_text(json.dumps({
        "pid": 2 ** 22 + 999, "host": "other-node-42",
        "ts": _time.time() - 7200,
    }))
    t.expire_snapshots(keep_last=1)
    assert not lock.exists()
    assert t.committed_groups() == {0, 1, 2}

    # release is host-aware too: a foreign lock with OUR pid value is
    # not ours to delete
    import os as _os
    lock.write_text(json.dumps({
        "pid": _os.getpid(), "host": "other-node-42", "ts": _time.time(),
    }))
    t._release_expire_lock(lock)
    assert lock.exists()
    lock.unlink()


def test_compact_conflict_cleans_orphan_dir(spark, tmp_path, monkeypatch):
    """ADVICE r3: a compaction that loses its conditional commit leaves
    a data dir referenced by no manifest; expire_snapshots never
    reclaims unreferenced dirs, so compact() itself must delete it
    before re-raising."""
    from pathlib import Path

    t = IceliteTable(tmp_path / "tbl")
    t.append(spark.range(5).withColumnRenamed("id", "x"),
             summary={"group": 0})

    orig = t._write_data
    captured = {}

    def hijack(df):
        d = orig(df)
        if "dir" not in captured:
            captured["dir"] = d
            # race injection: another append lands AFTER compact's data
            # write but BEFORE its conditional commit
            t.append(spark.range(5, 8).withColumnRenamed("id", "x"),
                     summary={"group": 1})
        return d

    monkeypatch.setattr(t, "_write_data", hijack)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        t.compact(spark)
    assert not Path(captured["dir"]).exists()  # orphan reclaimed
    assert t.read(spark).count() == 8          # racing append intact
    assert t.committed_groups() == {0, 1}


def test_path_mode_more_groups_than_files(spark, tmp_path):
    """review r4: groups > file count must commit EMPTY snapshots for
    the fileless groups (ledger completeness), not crash on an empty
    read — and resume must see all groups done."""
    corpus = generate_corpus(spark, 30).cache()
    corpus_dir = str(tmp_path / "corpus")
    corpus.repartition(2).write.parquet(corpus_dir)  # 2 data files

    out = run_quality_job(spark, corpus_dir, str(tmp_path / "o"),
                          str(tmp_path / "a"), groups=5)
    assert out.committed_groups() == set(range(5))
    assert out.read(spark).count() == 30
    # rerun is a clean no-op
    out2 = run_quality_job(spark, corpus_dir, str(tmp_path / "o"),
                           str(tmp_path / "a"), groups=5)
    assert out2.read(spark).count() == 30


def test_path_mode_rejects_drifted_file_listing(spark, tmp_path):
    """review r4: the round-robin file→group deal is only valid for the
    listing it was committed against. Adding a file between crash and
    resume must fail loudly, never silently remap committed groups."""
    corpus = generate_corpus(spark, 60).cache()
    corpus_dir = tmp_path / "corpus"
    corpus.repartition(4).write.parquet(str(corpus_dir))

    with pytest.raises(RuntimeError, match="injected failure"):
        run_quality_job(spark, str(corpus_dir), str(tmp_path / "o"),
                        str(tmp_path / "a"), groups=4,
                        fail_after_groups=2)

    # a new file lands mid-listing → deal would shift
    generate_corpus(spark, 5).repartition(1).write.mode("append"
        ).parquet(str(corpus_dir))
    with pytest.raises(RuntimeError, match="file set .* changed"):
        run_quality_job(spark, str(corpus_dir), str(tmp_path / "o"),
                        str(tmp_path / "a"), groups=4)


def test_path_mode_refuses_legacy_hash_group_table(spark, tmp_path):
    """ADVICE r4: a table whose groups were committed by the
    DataFrame/hash-group scheme records no files_fp — resuming it via
    path mode would silently reinterpret hash-of-url group ids as
    round-robin file-deal groups. The guard must fail loudly instead of
    vacuously passing on an empty recorded set."""
    corpus = generate_corpus(spark, 60).cache()
    corpus_dir = tmp_path / "corpus"
    corpus.repartition(4).write.parquet(str(corpus_dir))

    # commit 2 of 4 groups under the DataFrame-mode scheme, then crash
    with pytest.raises(RuntimeError, match="injected failure"):
        run_quality_job(spark, corpus, str(tmp_path / "o"),
                        str(tmp_path / "a"), groups=4,
                        fail_after_groups=2)

    # resume via path mode over the same rows → refuse, never remap
    with pytest.raises(RuntimeError,
                       match="different group-assignment scheme"):
        run_quality_job(spark, str(corpus_dir), str(tmp_path / "o"),
                        str(tmp_path / "a"), groups=4)
