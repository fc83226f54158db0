"""Structured Streaming driver for the pipeline (SURVEY §2.9).

The batch pipeline is bounded, but the north rule's checkpoint-resume
requirement maps naturally onto Structured Streaming's own mechanism:
``readStream`` over the corpus directory + ``trigger(availableNow)`` +
``checkpointLocation`` gives exactly-once file-level progress tracking
for free — a killed run restarts from the last committed offset log and
never reprocesses a finished input file. This complements (and at file
granularity, subsumes) the icelite group ledger in jobs.py.

Every micro-batch runs the SAME per-group work as the batch job —
``jobs.ingest_stage``: blocklist drop → exact and near recrawl drop →
run_pipeline → classifier scores — via foreachBatch, and appends to an
icelite table, so batch and streaming outputs are byte-identical for
identical inputs and options. A restart is checked against the
committed batches with the batch job's drift guard
(``jobs.refuse_summary_drift``); this module keeps only what is
streaming's own: the readers, the checkpoint namespacing and the replay
ledger.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..icelite.catalog import IceliteTable
from ..schema import CORPUS
from .jobs import ingest_stage, refuse_summary_drift


def run_streaming_job(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    partitions: int | None = None,
    profile: str = "default",
    input_format: str = "parquet",
    recrawl_keys: str | None = None,
    recrawl_near: bool = False,
    classifier_model: str | None = None,
    domain_blocklist: str | None = None,
) -> IceliteTable:
    """Process all currently-available corpus files exactly once.
    ``input_format="warc"`` watches a crawl landing dir instead:
    ``.warc`` / ``.warc.gz`` files, plain or gzipped per record or as a
    whole (detected per file), stream through
    ``warc.read_warc_stream_binary``, the batch job's reader on the
    binaryFile streaming source — the same rows per file as
    ``run_quality_job(input_format="warc")``, with the same ledgered
    exactly-once tail.

    ``profile``, ``partitions``, ``recrawl_keys``, ``recrawl_near``,
    ``classifier_model`` and ``domain_blocklist`` configure the
    per-batch work, shared with the batch job: see
    `jobs.ingest_stage`. Their identity is recorded per batch summary,
    and a restart of this checkpoint under a different setting of any
    of them refuses loudly (every batch of one checkpoint must run the
    same work)."""
    out = IceliteTable(out_dir)
    identity, process = ingest_stage(
        spark, profile, partitions, recrawl_keys, recrawl_near,
        classifier_model, domain_blocklist,
    )

    if input_format == "warc":
        from .warc import read_warc_stream_binary

        stream = read_warc_stream_binary(
            spark, corpus_dir, max_files_per_trigger)
    elif input_format == "parquet":
        reader = (
            spark.readStream.schema(CORPUS)
            .option("maxFilesPerTrigger", max_files_per_trigger or 8)
        )
        stream = reader.parquet(corpus_dir)
    else:
        raise ValueError(f"unknown input_format {input_format!r}")

    # ledger read ONCE per run, maintained in memory per batch —
    # re-scanning every manifest per micro-batch would make ledger
    # maintenance O(n^2) over the stream's lifetime (review r2)
    done = out.committed_groups("stream_batch")

    # batch ids are only unique PER CHECKPOINT: two streams (or a
    # checkpoint reset) appending to the same table both start at batch
    # 0, and a bare-batch-id ledger would silently DROP the second
    # stream's batches as "replays" (r3 regression test caught this).
    # Namespace the ledger key by the checkpoint's resolved path — the
    # stable identity of a resumable stream; restarts reuse it, distinct
    # streams don't.
    import hashlib
    from pathlib import Path as _P

    ck_ns = hashlib.md5(
        str(_P(checkpoint_dir).resolve()).encode()).hexdigest()[:12]
    # Legacy bare-int ledger entries (pre-namespacing format) are
    # consulted ONLY when this run RESUMES an already-started checkpoint
    # (offsets exist): such a replayed batch id may be a pre-migration
    # batch whose rows are already in the table, and ignoring the
    # legacy entry would duplicate them (ADVICE r3). A FRESH checkpoint
    # is a NEW stream — its batch 0 carries new data, and consulting
    # legacy ints there would silently DROP it (review r4: the same
    # cross-stream collision the namespacing fix exists to prevent).
    ck_is_resume = (_P(checkpoint_dir) / "offsets").exists()
    if ck_is_resume:
        # a restarted stream must run the same per-batch work its
        # committed batches ran: check this checkpoint's batches —
        # namespaced keys, plus legacy bare-int keys which only a
        # resumed checkpoint may own. The ledger carry keeps the check
        # non-vacuous after expire_snapshots(); `fallback=bool(done)`
        # covers batches predating each field.
        def _this_ck(smry: dict) -> bool:
            return "stream_batch" in smry and (
                str(smry["stream_batch"]).startswith(f"{ck_ns}:")
                or isinstance(smry["stream_batch"], int)
            )

        refuse_summary_drift(
            out, identity, _this_ck, fallback=bool(done),
            where=f"checkpoint {checkpoint_dir} (table {out_dir})",
        )

    def process_batch(batch_df, batch_id: int) -> None:
        # foreachBatch gives at-least-once delivery: if the driver dies
        # after our append but before the checkpoint offset commit,
        # Structured Streaming replays the batch on restart. The icelite
        # snapshot summary doubles as the dedup ledger (same pattern as
        # jobs.py group commits), making the append exactly-once.
        key = f"{ck_ns}:{int(batch_id)}"
        if key in done or (ck_is_resume and int(batch_id) in done):
            return
        out.append(process(batch_df),
                   summary={"stream_batch": key, **identity})
        done.add(key)

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out


def run_stream_dedup(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> dict:
    """Custom stateful streaming operator via applyInPandasWithState:
    exact URL-dedup ACROSS micro-batches.

    State design (r3 rewrite, VERDICT r2 #3): state is keyed by the URL
    ITSELF, one boolean entry per distinct url — the same state shape
    Spark's built-in streaming ``dropDuplicates`` uses. Two properties
    the r2 bucket-keyed design lacked:

    * **O(new urls) state I/O per batch.** ``applyInPandasWithState``
      rewrites a key's whole state tuple on every ``update``, so the r2
      design (16 bucket keys, each holding the full accumulated md5
      set) re-serialized EVERY url ever seen on EVERY micro-batch —
      O(total²) cumulative bytes over a long stream. With per-url keys,
      only keys present in the current batch are touched; untouched
      state rows cost nothing. The returned ``numRowsUpdated`` state
      metric makes this driver-observable (pinned in tests).
    * **Exact, not hash-exact.** The r2 state stored md5(url)[:16] —
      64 bits, so ~10^4 silent birthday collisions at the 10^12-doc
      scale this targets (ADVICE r2). Keying by the url string has no
      collision mode; Spark's state store hashes internally but
      verifies the full key bytes.

    State size grows with distinct-url count — inherent to exact dedup;
    at 10^12 keys this runs unchanged on the RocksDB state store
    (``spark.sql.streaming.stateStore.providerClass``), which keeps
    state on disk per partition. Per-group Python dispatch is the cost
    of the *custom* operator shape; a production job wanting only plain
    url-dedup should use the built-in ``dropDuplicates(["url"])``,
    which is this exact plan JVM-side — this operator exists to carry
    custom per-key logic (payload selection here; TTLs, counters, or
    richer keep/drop policies in general).

    Payload selection is DETERMINISTIC (ADVICE r3): the surviving row
    for a url is the lexicographically-smallest ``text`` among that
    url's rows in the FIRST micro-batch containing it — shuffled
    group-arrival order within a batch (which varies with file/
    partition layout) cannot change the winner, and the state entry
    makes the first-batch choice stable across restarts.

    Returns a metrics dict: ``{"updated_state_rows": total
    numUpdatedStateRows across this run's micro-batches}``.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    schema = spark.read.parquet(corpus_dir).schema
    stream = (
        spark.readStream.schema(schema).parquet(corpus_dir)
        .select("url", "text")
    )

    def dedup(key, pdfs, state):
        import pandas as pd

        if state.exists:
            # url already emitted in an earlier batch: drain and drop.
            # No state.update → zero state bytes written for this key.
            for _ in pdfs:
                pass
            yield pd.DataFrame(
                {"url": pd.Series(dtype=object),
                 "text": pd.Series(dtype=object)})
            return
        # deterministic winner: min(text) over ALL of this url's rows
        # in the batch — arrival order of the Arrow chunks (a function
        # of file/partition layout) must not pick the survivor. Running
        # per-chunk min, O(1) state per key: a hot url with millions of
        # duplicates must not be concatenated into one frame and sorted
        # (review r4 — that is the exact skew shape crawl dedup meets)
        # NULL texts can't participate in min(): pandas object-dtype
        # min() raises TypeError on str/None mixes and yields NaN on
        # all-None chunks (ADVICE r4). Drop them per chunk; a key whose
        # rows are ALL null-text still emits one (url, NULL) row —
        # matching built-in dropDuplicates("url") semantics.
        best = None
        saw_rows = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            saw_rows = True
            s = pdf.dropna(subset=["text"])
            if not len(s):
                continue
            m = s["text"].min()
            row = s[s["text"] == m].iloc[[0]][["url", "text"]]
            if best is None or row["text"].iat[0] < best["text"].iat[0]:
                best = row
        state.update((True,))
        if best is None and saw_rows:
            best = pd.DataFrame({"url": [key[0]], "text": [None]})
        yield best if best is not None else pd.DataFrame(
            {"url": pd.Series(dtype=object),
             "text": pd.Series(dtype=object)})

    deduped = stream.groupBy("url").applyInPandasWithState(
        dedup,
        outputStructType="url string, text string",
        stateStructType="emitted boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # recentProgress keeps only the last numRecentProgressUpdates
    # (default 100) micro-batches; a long backfill would silently
    # undercount the metric (review r3) — raise retention for this run
    conf_key = "spark.sql.streaming.numRecentProgressUpdates"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "100000")
    try:
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        updated = 0
        n_progress = len(q.recentProgress)
        for p in q.recentProgress:
            for op in (p.get("stateOperators") or []):
                updated += int(op.get("numRowsUpdated") or 0)
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    return {"updated_state_rows": updated,
            "progress_events_seen": n_progress}


def run_session_stream(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "30 minutes",
    gap: str = "30 minutes",
) -> None:
    """Session-window streaming aggregation — the third canonical
    Structured Streaming window shape next to tumbling
    (run_events_stream) and the batch sessionize query: per-user
    sessions close after ``gap`` of silence, emitted once the watermark
    passes the session end (append mode). State is bounded by the
    watermark; a restart resumes from the checkpoint."""
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stream_dedup_builtin(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Plain streaming URL-dedup via the built-in ``dropDuplicates`` —
    the JVM state-store twin of run_stream_dedup for jobs that need no
    custom per-key logic: identical state shape (one entry per url) and
    the same exactly-once / cross-restart semantics, with zero Python
    dispatch per group. This is the path a production job should take
    unless it carries custom keep/drop policy; run_stream_dedup exists
    to demonstrate the applyInPandasWithState operator shape."""
    schema = spark.read.parquet(corpus_dir).schema
    q = (
        spark.readStream.schema(schema).parquet(corpus_dir)
        .select("url", "text")
        .dropDuplicates(["url"])
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_events_stream(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    window: str = "5 minutes",
) -> None:
    """Watermarked tumbling-window aggregation over an events stream
    (SURVEY §2.9): late rows older than the watermark are dropped, each
    window is emitted exactly once when the watermark passes its end
    (append mode), and the checkpoint makes restarts resume from the
    last committed offset. Batch twin: __spark_entry__.q_events_hourly.

    At cluster scale this is the canonical Structured Streaming shape —
    state store keyed by (window, event_type), partial aggregation
    map-side, watermark bounding state size.
    """
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    # event-time watermarks require TIMESTAMP (pandas-written parquet
    # often carries TIMESTAMP_NTZ)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
