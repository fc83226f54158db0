"""Streaming driver: availableNow + checkpoint gives exactly-once
file-level resume; batch and streaming outputs are byte-identical."""

from pii_spark.spark.gen_job import generate_corpus
from pii_spark.spark.pipeline import run_pipeline
from pii_spark.spark.streaming import run_streaming_job


def test_streaming_matches_batch_and_checkpoints(spark, tmp_path):
    corpus_dir = str(tmp_path / "corpus")
    corpus = generate_corpus(spark, 120, partitions=4)
    corpus.write.parquet(corpus_dir)

    out = run_streaming_job(
        spark, corpus_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        max_files_per_trigger=2, partitions=4,
    )
    got = {
        r.url: (r.keep, r.scrubbed_text) for r in out.read(spark).collect()
    }
    assert len(got) == 120
    assert out.current_version() >= 2  # several micro-batch commits

    batch = {
        r.url: (r.keep, r.scrubbed_text)
        for r in run_pipeline(spark.read.parquet(corpus_dir),
                              partitions=4).collect()
    }
    assert got == batch  # streaming ≡ batch, byte-identical

    # re-run with the same checkpoint: nothing new to process
    v_before = out.current_version()
    out2 = run_streaming_job(
        spark, corpus_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        partitions=4,
    )
    assert out2.read(spark).count() == 120
    assert out2.current_version() == v_before  # no duplicate commits


def _write_events(path, rows):
    import pandas as pd

    df = pd.DataFrame(rows, columns=["ts", "event_type", "value"])
    # microsecond unit: Spark cannot read pandas' default nanos parquet
    df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
    df.to_parquet(path, index=False)


def test_watermarked_window_drops_late_rows(spark, tmp_path):
    """SURVEY §2.9: withWatermark + window. A row arriving after the
    watermark passed its window's end is dropped; closed windows emit
    exactly once; restart with the same checkpoint emits nothing new."""
    from pii_spark.spark.streaming import run_events_stream

    events = tmp_path / "events"
    events.mkdir()
    out = str(tmp_path / "win_out")
    ckpt = str(tmp_path / "win_ckpt")

    # batch 1: events 12:00..12:30 → watermark after batch = 12:20
    _write_events(events / "a.parquet", [
        ("2026-01-01 12:01:00", "click", 1.0),
        ("2026-01-01 12:02:00", "click", 2.0),
        ("2026-01-01 12:11:00", "view", 3.0),
        ("2026-01-01 12:30:00", "click", 4.0),
    ])
    run_events_stream(spark, str(events), out, ckpt)
    first = {
        ((r.window_start.minute, r.window_end.minute), r.event_type):
            (r.n_events, r.sum_value)
        for r in spark.read.parquet(out).collect()
    }
    # windows ending at/before the 12:20 watermark have emitted
    assert first[((0, 5), "click")] == (2, 3.0)
    assert first[((10, 15), "view")] == (1, 3.0)
    assert ((30, 35), "click") not in first  # still open

    # batch 2: one LATE event into the already-closed 12:00-12:05 window
    # plus an on-time event at 12:50 (advances watermark to 12:40,
    # closing the 12:30-12:35 window)
    _write_events(events / "b.parquet", [
        ("2026-01-01 12:01:30", "click", 100.0),   # late → dropped
        ("2026-01-01 12:50:00", "view", 5.0),
    ])
    run_events_stream(spark, str(events), out, ckpt)
    rows = spark.read.parquet(out).collect()
    by_key = {}
    for r in rows:
        k = ((r.window_start.minute, r.window_end.minute), r.event_type)
        by_key.setdefault(k, []).append((r.n_events, r.sum_value))
    # the closed window was NOT re-emitted and the late row vanished
    assert by_key[((0, 5), "click")] == [(2, 3.0)]
    # the 12:30 window closed once the watermark reached 12:30
    assert by_key[((30, 35), "click")] == [(1, 4.0)]

    # restart with nothing new: no additional rows
    n_before = len(rows)
    run_events_stream(spark, str(events), out, ckpt)
    assert spark.read.parquet(out).count() == n_before


def test_foreach_batch_replay_is_idempotent(spark, tmp_path):
    """ADVICE r1 (medium): simulate a driver crash BETWEEN the icelite
    append and the streaming offset commit by deleting the checkpoint's
    commit marker for the last batch, then restarting in a FRESH driver
    process (the realistic crash: the old driver is gone; a same-session
    restart trips Spark's concurrent-checkpoint guard). Structured
    Streaming replays that batch; the stream_batch ledger must skip it
    so the output table gains no duplicate rows."""
    import subprocess
    import sys
    from pathlib import Path

    from pii_spark.icelite.catalog import IceliteTable
    from pii_spark.spark.gen_job import generate_corpus

    corpus_dir = str(tmp_path / "corpus")
    generate_corpus(spark, 60, partitions=2).write.parquet(corpus_dir)
    out_dir = str(tmp_path / "out")
    ckpt = tmp_path / "ckpt"

    driver = (
        "import sys; sys.path.insert(0, {root!r});\n"
        "from pii_spark.spark.session import get_spark\n"
        "from pii_spark.spark.streaming import run_streaming_job\n"
        "s = get_spark(app='replay', master='local[2]', shuffle_partitions=2)\n"
        "s.sparkContext.setLogLevel('ERROR')\n"
        "run_streaming_job(s, {corpus!r}, {out!r}, {ckpt!r},\n"
        "                  max_files_per_trigger=1, partitions=2)\n"
        "s.stop()\n"
    ).format(root=str(Path(__file__).resolve().parents[1]),
             corpus=corpus_dir, out=out_dir, ckpt=str(ckpt))

    subprocess.run([sys.executable, "-c", driver], check=True,
                   capture_output=True, timeout=300)
    out = IceliteTable(out_dir)
    baseline = {r.url for r in out.read(spark).collect()}
    assert len(baseline) == 60
    v_before = out.current_version()

    # crash simulation: offsets for the last batch exist, commit doesn't
    # (also drop the local-FS checksum shadow, or the replayed commit's
    # rename fails and Spark reports a bogus concurrent-query error)
    commits = sorted((ckpt / "commits").iterdir(), key=lambda p: p.name)
    last = [p for p in commits if not p.name.startswith(".")][-1]
    last.unlink()
    crc = last.parent / f".{last.name}.crc"
    if crc.exists():
        crc.unlink()

    subprocess.run([sys.executable, "-c", driver], check=True,
                   capture_output=True, timeout=300)
    replay = [r.url for r in out.read(spark).collect()]
    assert len(replay) == len(baseline)          # no duplicate append
    assert set(replay) == baseline
    assert out.current_version() == v_before     # ledger skipped replay


def test_stateful_stream_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState: urls deduplicate across micro-batches AND
    across restarts (state recovered from the checkpoint)."""
    import pandas as pd

    from pii_spark.spark.streaming import run_stream_dedup

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write(name, rows):
        pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"]
                     ).assign(warc_ts=pd.Timestamp("2026-01-01")
                              ).astype({"warc_ts": "datetime64[us]"}
                     ).to_parquet(corpus / name, index=False)

    # batch 1: u1 duplicated in-file, u2 once
    write("a.parquet", [
        ("u1", None, b"", "first copy", "en"),
        ("u1", None, b"", "dup in same file", "en"),
        ("u2", None, b"", "two", "en"),
    ])
    m1 = run_stream_dedup(spark, str(corpus), out, ckpt)
    got = {r.url: r.text for r in spark.read.parquet(out).collect()}
    assert set(got) == {"u1", "u2"}
    # deterministic winner (ADVICE r3): min(text) within the batch,
    # NOT arrival order
    assert got["u1"] == "dup in same file"
    # state writes are O(new urls): 2 distinct urls → 2 state rows
    assert m1["updated_state_rows"] == 2

    # batch 2 (separate run = restart): u1/u2 again + new u3
    write("b.parquet", [
        ("u1", None, b"", "late duplicate", "en"),
        ("u2", None, b"", "late duplicate", "en"),
        ("u3", None, b"", "three", "en"),
    ])
    m2 = run_stream_dedup(spark, str(corpus), out, ckpt)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 3  # u3 appended once; u1/u2 suppressed by state
    assert {r.url for r in rows} == {"u1", "u2", "u3"}
    assert [r.text for r in rows if r.url == "u3"] == ["three"]
    # only the ONE new url wrote state; u1/u2's existing rows untouched
    # (the r2 design re-serialized the full accumulated set every batch)
    assert m2["updated_state_rows"] == 1


def test_builtin_stream_dedup_across_restarts(spark, tmp_path):
    """The dropDuplicates JVM-state twin: same cross-batch + restart
    dedup semantics as the custom operator."""
    import pandas as pd

    from pii_spark.spark.streaming import run_stream_dedup_builtin

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write(name, rows):
        pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"]
                     ).assign(warc_ts=pd.Timestamp("2026-01-01")
                              ).astype({"warc_ts": "datetime64[us]"}
                     ).to_parquet(corpus / name, index=False)

    write("a.parquet", [
        ("u1", None, b"", "one", "en"),
        ("u1", None, b"", "dup", "en"),
        ("u2", None, b"", "two", "en"),
    ])
    run_stream_dedup_builtin(spark, str(corpus), out, ckpt)
    assert {r.url for r in spark.read.parquet(out).collect()} == {"u1", "u2"}

    write("b.parquet", [
        ("u2", None, b"", "late dup", "en"),
        ("u3", None, b"", "three", "en"),
    ])
    run_stream_dedup_builtin(spark, str(corpus), out, ckpt)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 3
    assert {r.url for r in rows} == {"u1", "u2", "u3"}


def test_session_window_stream(spark, tmp_path):
    """session_window streaming: events within the gap merge into one
    session per user; a >gap silence starts a new one; sessions emit
    once the watermark passes their end; restart emits nothing new."""
    from pii_spark.spark.streaming import run_session_stream

    events = tmp_path / "events"
    events.mkdir()
    out = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")

    # user 1: two bursts separated by >30min; user 2: one burst.
    # A late sentinel event advances the watermark far enough to close
    # every session.
    _write_events(events / "a.parquet", [
        ("2026-01-01 10:00:00", "u1", 1.0),
        ("2026-01-01 10:10:00", "u1", 2.0),
        ("2026-01-01 11:00:00", "u1", 4.0),   # >30min gap → new session
        ("2026-01-01 10:05:00", "u2", 8.0),
    ])
    _write_events(events / "b.parquet", [
        ("2026-01-01 14:00:00", "u3", 0.5),   # watermark → 13:30
    ])
    import pandas as pd

    # _write_events writes (ts, event_type, value); reuse with user in
    # the event_type column, then rename on read via a fixed schema
    df = pd.concat([
        pd.read_parquet(events / "a.parquet"),
        pd.read_parquet(events / "b.parquet"),
    ])
    df = df.rename(columns={"event_type": "user_id"})
    for p in ("a.parquet", "b.parquet"):
        (events / p).unlink()
    df.to_parquet(events / "all.parquet", index=False)

    run_session_stream(spark, str(events), out, ckpt)
    rows = spark.read.parquet(out).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(
            (r.session_start.hour, r.n_events, r.sum_value))
    assert sorted(by_user["u1"]) == [(10, 2, 3.0), (11, 1, 4.0)]
    assert by_user["u2"] == [(10, 1, 8.0)]
    assert "u3" not in by_user  # its session is still open

    # restart: nothing new
    n = len(rows)
    run_session_stream(spark, str(events), out, ckpt)
    assert spark.read.parquet(out).count() == n


def test_stream_dedup_winner_deterministic_across_files(spark, tmp_path):
    """ADVICE r3: a url duplicated across SEVERAL files of one
    micro-batch must keep a layout-independent survivor. The rule is
    min(text); writing the files in either order (or with the copies
    swapped between files) must yield the identical surviving row."""
    import pandas as pd

    from pii_spark.spark.streaming import run_stream_dedup

    def drive(tag, texts_by_file):
        corpus = tmp_path / f"corpus_{tag}"
        corpus.mkdir()
        for name, texts in texts_by_file.items():
            pd.DataFrame(
                [("u1", None, b"", t, "en") for t in texts],
                columns=["url", "warc_ts", "html", "text", "lang"],
            ).assign(warc_ts=pd.Timestamp("2026-01-01")).astype(
                {"warc_ts": "datetime64[us]"}
            ).to_parquet(corpus / name, index=False)
        run_stream_dedup(spark, str(corpus), str(tmp_path / f"out_{tag}"),
                         str(tmp_path / f"ckpt_{tag}"))
        rows = spark.read.parquet(str(tmp_path / f"out_{tag}")).collect()
        assert len(rows) == 1
        return rows[0].text

    a = drive("a", {"f1.parquet": ["zebra", "mango"],
                    "f2.parquet": ["apple", "pear"]})
    b = drive("b", {"f1.parquet": ["apple", "pear"],
                    "f2.parquet": ["zebra", "mango"]})
    assert a == b == "apple"


def test_stream_ledger_honors_legacy_int_entries(spark, tmp_path):
    """ADVICE r3 + review r4, both halves of the legacy-format
    migration:

    1. RESUMING a pre-migration checkpoint: a replayed batch whose id
       matches a legacy bare-int table entry is skipped (no duplicate
       rows).
    2. A FRESH checkpoint over a table carrying legacy entries is a
       NEW stream: its batch 0 holds new data and MUST be processed —
       consulting legacy ints there would silently drop it."""
    import json

    from pii_spark.icelite.catalog import IceliteTable
    from pii_spark.spark.gen_job import generate_corpus
    from pii_spark.spark.streaming import run_streaming_job

    corpus_dir = str(tmp_path / "corpus")
    generate_corpus(spark, 20, partitions=1).write.parquet(corpus_dir)
    out_dir = str(tmp_path / "out")
    ckpt = tmp_path / "ckpt"

    # build the pre-migration state: run once (creates checkpoint +
    # table), then rewrite the ledger entry to the OLD bare-int format
    out = run_streaming_job(spark, corpus_dir, out_dir, str(ckpt))
    assert out.read(spark).count() == 20
    v1 = out.meta / "v1.json"
    snap = json.loads(v1.read_text())
    assert isinstance(snap["summary"]["stream_batch"], str)
    snap["summary"]["stream_batch"] = 0
    v1.write_text(json.dumps(snap))
    v_before = out.current_version()

    # half 1 — crash window replay: offsets for batch 0 exist, commit
    # marker deleted → restart replays batch 0; the legacy int entry
    # must suppress the re-append
    commits = [p for p in sorted((ckpt / "commits").iterdir())
               if not p.name.startswith(".")]
    commits[-1].unlink()
    crc = commits[-1].parent / f".{commits[-1].name}.crc"
    if crc.exists():
        crc.unlink()
    run_streaming_job(spark, corpus_dir, out_dir, str(ckpt))
    assert out.current_version() == v_before
    assert out.read(spark).count() == 20

    # half 2 — FRESH checkpoint, same legacy table: batch 0 carries
    # genuinely new data and must be appended, not dropped
    corpus2 = str(tmp_path / "corpus2")
    generate_corpus(spark, 10, partitions=1).write.parquet(corpus2)
    out2 = run_streaming_job(spark, corpus2, out_dir,
                             str(tmp_path / "ckpt_fresh"))
    assert out2.read(spark).count() == 30  # 20 legacy + 10 new


def test_stream_dedup_on_rocksdb_state_store(spark, tmp_path):
    """The stateful dedup's 100 TB story claims it runs unchanged on
    the RocksDB state store (state on disk per partition instead of
    JVM heap). Prove it: same operator, same semantics, RocksDB
    provider — cross-batch dedup and O(new urls) state writes hold."""
    import pandas as pd

    from pii_spark.spark.streaming import run_stream_dedup

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = ("org.apache.spark.sql.execution.streaming.state."
               "RocksDBStateStoreProvider")
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, rocksdb)
    corpus = tmp_path / "corpus"
    corpus.mkdir()

    def write(name, rows):
        pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text",
                                    "lang"]
                     ).assign(warc_ts=pd.Timestamp("2026-01-01")
                              ).astype({"warc_ts": "datetime64[us]"}
                     ).to_parquet(corpus / name, index=False)

    try:
        write("a.parquet", [(f"u{i % 5}", None, b"", f"text{i:03d}", "en")
                            for i in range(20)])
        m1 = run_stream_dedup(spark, str(corpus), str(tmp_path / "out"),
                              str(tmp_path / "ckpt"))
        assert spark.read.parquet(str(tmp_path / "out")).count() == 5
        assert m1["updated_state_rows"] == 5
        # restart against RocksDB-recovered state: only the new url
        # writes state
        write("b.parquet", [("u0", None, b"", "late dup", "en"),
                            ("u9", None, b"", "nine", "en")])
        m2 = run_stream_dedup(spark, str(corpus), str(tmp_path / "out"),
                              str(tmp_path / "ckpt"))
        assert spark.read.parquet(str(tmp_path / "out")).count() == 6
        assert m2["updated_state_rows"] == 1
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)


def test_stream_dedup_handles_null_text(spark, tmp_path):
    """ADVICE r4: pandas object-dtype min() raises on str/None mixes and
    yields NaN on all-None chunks — one NULL-text row must not kill the
    streaming query. Nulls are ignored when picking the winner; a key
    whose rows are ALL null-text keeps one (url, NULL) row, matching
    built-in dropDuplicates("url")."""
    import pandas as pd

    from pii_spark.spark.streaming import run_stream_dedup

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pd.DataFrame(
        [("u1", None), ("u1", "real text"), ("u1", "zz later"),
         ("u2", None), ("u2", None),
         ("u3", "only")],
        columns=["url", "text"],
    ).to_parquet(corpus / "a.parquet", index=False)

    run_stream_dedup(spark, str(corpus), str(tmp_path / "out"),
                     str(tmp_path / "ckpt"))
    got = {r.url: r.text for r in
           spark.read.parquet(str(tmp_path / "out")).collect()}
    assert set(got) == {"u1", "u2", "u3"}
    assert got["u1"] == "real text"   # null ignored, min over non-null
    assert got["u2"] is None          # all-null key keeps a NULL row
    assert got["u3"] == "only"
