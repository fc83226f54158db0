"""Physical-plan quality gates (SURVEY §4): these pin the properties
that matter at 100 TB — column pruning to the scan, predicate pushdown,
skew-flattening repartition — so a regression shows up as a test
failure, not as a 10× cluster bill."""

import pytest
from pyspark.sql import functions as F

from pii_spark.spark.gen_job import generate_corpus
from pii_spark.spark.pipeline import run_pipeline, salted_repartition


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plan") / "corpus")
    generate_corpus(spark, 400, partitions=4).write.parquet(p)
    return p


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_html_pruned_from_scan(spark, corpus_path):
    """The pipeline never touches html → it must not be read."""
    df = spark.read.parquet(corpus_path)
    out = run_pipeline(df)
    plan = _plan(out)
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan_lines, plan
    for ln in scan_lines:
        assert "html" not in ln, ln
        assert "url" in ln and "text" in ln


def test_filter_pushdown_to_parquet(spark, corpus_path):
    df = spark.read.parquet(corpus_path).filter(F.col("lang") == "en")
    plan = _plan(df.select("url"))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan


def test_salted_repartition_flattens_domain_skew(spark, corpus_path):
    """The corpus has a hot domain (~30% of rows, FIXTURES.md §1).
    Partitioning by domain leaves one partition with ~30% of all rows;
    the salted url-hash repartition bounds every partition near the
    uniform share."""
    df = spark.read.parquet(corpus_path)
    n = df.count()
    parts = 8

    domain = F.regexp_extract("url", r"https://([^/]+)/", 1)
    skewed = (
        df.repartition(parts, domain)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    )
    max_skewed = max(r["count"] for r in skewed)

    salted = (
        salted_repartition(df, parts)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    )
    max_salted = max(r["count"] for r in salted)

    assert max_skewed >= 0.25 * n        # hot domain really is hot
    assert max_salted <= 0.25 * max_skewed or max_salted <= 1.6 * n / parts
    assert len(salted) == parts          # no empty partitions


def test_explicit_partition_count_survives_aqe(spark, corpus_path):
    """AQE coalesces by bytes; compute-heavy UDF stages must keep their
    pinned partition count (the 1-task regression this guards against
    cost 10× wall time when first hit)."""
    df = spark.read.parquet(corpus_path)
    out = salted_repartition(df.select("url", "text"), 8)
    pids = out.withColumn("pid", F.spark_partition_id()) \
        .select("pid").distinct().count()
    assert pids == 8


def test_strict_profile_keeps_repartition_pin(spark, corpus_path):
    """Review r5: the strict enrich-UDF stage must run on the pinned
    partitioning, not on an AQE-coalesced shuffle (the 1-task
    collapse class). Gate: the topmost exchange under the Python UDF
    is the REPARTITION_BY_NUM one. Executed-plan partition count is
    gated too — the property that actually matters."""
    df = spark.read.parquet(corpus_path)
    out = run_pipeline(df, partitions=8, profile="strict")
    plan = _plan(out)
    udf = plan.find("ArrowEvalPython")
    if udf < 0:
        udf = plan.find("BatchEvalPython")
    assert udf >= 0, plan
    first_ex = plan.find("Exchange", udf)
    assert first_ex > 0, plan
    assert "REPARTITION" in plan[first_ex:first_ex + 120], (
        "topmost exchange under the UDF is not the pinned repartition:\n"
        + plan[first_ex:first_ex + 200]
    )
    pids = (
        out.withColumn("pid", F.spark_partition_id())
        .select("pid").distinct().count()
    )
    assert pids == 8


def test_strict_plan_reads_input_once(spark, corpus_path):
    """The strict profile's n-gram flags are in-row: its plan scans the
    input once, shuffles once (the salted repartition) and joins
    nothing — the same shape as the default profile's."""
    import re

    df = spark.read.parquet(corpus_path)
    for profile in ("default", "strict"):
        plan = _plan(run_pipeline(df, partitions=8, profile=profile))
        assert plan.count("FileScan") == 1, (profile, plan)
        assert plan.count("Exchange") == 1, (profile, plan)
        assert not re.search(r"Join|CartesianProduct", plan), (profile, plan)


def test_new_query_plans_are_scale_safe(spark):
    """Round-2 operators: column pruning reaches the scan, no cartesian
    products (the only BroadcastNestedLoopJoin allowed is the 1-row
    norm crossJoin in the top-k queries), sessionization is join-free
    (single window shuffle)."""
    import re

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"

    plan = _plan(entry.queries()["sessionize"](spark, sf))
    assert not re.search(r"Join|CartesianProduct", plan), plan
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("props" not in ln and "event_type" not in ln
                         for ln in scans)  # unused cols pruned

    plan = _plan(entry.queries()["dedup_ngram_jaccard"](spark, sf))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("source" not in ln for ln in scans)

    plan = _plan(entry.queries()["ann_ivf_topk"](spark, sf))
    assert "CartesianProduct" not in plan
    # exactly the one intentional 1-row qn broadcast NLJ
    assert plan.count("BroadcastNestedLoopJoin") <= 1

    plan = _plan(entry.queries()["dedup_embedding"](spark, sf))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # r3 operators
    plan = _plan(entry.queries()["domain_filter"](spark, sf))
    # the blocklist anti-join must be broadcast (no shuffle of the
    # big side) and the scan must read only the join+agg column
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan
    scans = [ln for ln in plan.splitlines()
             if "ReadSchema" in ln and "documents" in ln]
    assert scans and all("text" not in ln for ln in scans)

    plan = _plan(entry.queries()["gopher_repetition"](spark, sf))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # doc_id < 100 pushed to the parquet scan
    assert "PushedFilters: [" in plan and "LessThan(doc_id,100)" in plan, plan

    # the fast winnow variant must hash JVM-side with xxhash64, not md5
    plan = _plan(entry.q_fingerprint_winnow_fast(spark, sf))
    assert "CartesianProduct" not in plan
    assert "md5" not in plan and "xxhash64" in plan, plan

    # same for the 64-bit SimHash pair variant (r4): xxhash64 votes,
    # long band keys, no md5/hex anywhere in the plan
    plan = _plan(entry.q_simhash_hamming_pairs_fast(spark, sf))
    assert "CartesianProduct" not in plan
    assert "md5" not in plan and "xxhash64" in plan, plan

    # the fast ANN variant is the zero-shuffle plan: no join, no
    # explode, no aggregation exchange — one scan + top-k sort
    # (the fast variant shares the ann_cosine_topk registry slot since
    # r6 — gate its plan via the function, not the registry)
    plan = _plan(entry.q_ann_cosine_topk(spark, sf))
    assert "Join" not in plan and "Generate" not in plan, plan
    assert "HashAggregate" not in plan, plan


def test_semdedup_scale_plans(spark):
    """The semantic tier's at-scale shape (r8): kmeans_assign joins
    the exploded corpus against the centroids by BROADCAST (the big
    relation is never shuffled by centroid — its exchanges are only
    the per-vector hash-agg/window), and the blas pair engine feeds
    ONE FlatMapGroupsInPandas keyed on cluster — no (cluster, dim)
    explode, no self-join, no cartesian product."""
    from pii_spark.spark.embed import embed_documents
    from pii_spark.spark.kmeans import kmeans_assign, kmeans_fit
    from pii_spark.spark.semdedup import semdedup_decisions_fast

    corpus = generate_corpus(spark, 200, partitions=4) \
        .select("doc_id", "text")
    emb = embed_documents(corpus, dim=16).localCheckpoint(eager=True)
    fit = emb.filter(F.col("vec_id") < 40)
    assign, cents = kmeans_fit(fit, k=4, iters=2, init="hash")

    plan = _plan(kmeans_assign(emb, cents))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # the production assign is row-local: NO join, NO exchange — one
    # MapInPandas over the corpus with the centroids closed over
    from pii_spark.spark.kmeans import kmeans_assign_blas

    plan = _plan(kmeans_assign_blas(emb, cents))
    assert "Join" not in plan and "Exchange" not in plan, plan
    assert "MapInPandas" in plan, plan

    plan = _plan(semdedup_decisions_fast(
        emb, kmeans_assign(emb, cents), tau=0.9))
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the pair work must NOT be the exploded self-join in this engine
    assert "Generate" not in plan.split("FlatMapGroupsInPandas")[0], plan
    assign.unpersist()
    cents.unpersist()


def test_partition_pruning_on_date_layout(spark, tmp_path):
    """SURVEY §4: partition the corpus by warc date and a date filter
    must prune partitions at the scan (PartitionFilters), not scan-all."""
    p = str(tmp_path / "bydate")
    (generate_corpus(spark, 300, partitions=4)
     .withColumn("dt", F.to_date("warc_ts"))
     .write.partitionBy("dt").parquet(p))
    df = spark.read.parquet(p).filter(F.col("dt") == "2026-01-03")
    plan = _plan(df.select("url"))
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan, plan
    assert "PartitionFilters" in plan and "isnotnull(dt" in plan, plan
    # and the filter actually prunes: matching rows only
    n_all = spark.read.parquet(p).count()
    n_day = df.count()
    assert 0 < n_day < n_all


def test_cow_discovery_scan_pushes_predicate(spark, tmp_path):
    """File-scoped CoW relies on a cheap discovery scan: the delete
    predicate must reach the parquet reader (PushedFilters), and the
    scan must read only the predicate + attribution columns, not every
    column of the table."""
    from pii_spark.icelite.catalog import IceliteTable

    t = IceliteTable(tmp_path / "tbl")
    t.append(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    )
    snap = t.snapshot()
    # the exact shape _matching_dirs builds for a predicate: filter
    # FIRST, then input_file_name (nondeterministic exprs block
    # pushdown when projected below the filter)
    cur = t._read_dirs(spark, snap, snap.data_dirs)
    plan = _plan(
        cur.filter("doc_id = 7")
        .withColumn("_f", F.input_file_name())
        .select("_f")
    )
    assert "PushedFilters: [" in plan and "EqualTo(doc_id,7)" in plan, plan
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("text" not in ln for ln in scans), scans


def test_global_sort_uses_range_partitioning(spark, tmp_path):
    """The canonical distributed global sort: repartitionByRange +
    sortWithinPartitions writes globally ordered output WITHOUT a
    single-reducer bottleneck — the plan samples range bounds and every
    partition holds a disjoint key range. Gates: RangePartitioning in
    the exchange, no global singleton sort, and the written files read
    back in global order when concatenated by partition index."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ordered = docs.repartitionByRange(4, F.col("n_chars"), F.col("doc_id")) \
        .sortWithinPartitions("n_chars", "doc_id")
    plan = _plan(ordered)
    assert "rangepartitioning" in plan.lower(), plan
    assert "Exchange SinglePartition" not in plan, plan

    out = str(tmp_path / "sorted")
    ordered.write.parquet(out)
    # partition files, read in order, concatenate: globally sorted
    import glob

    files = sorted(glob.glob(f"{out}/part-*"))
    assert len(files) == 4
    seq = []
    for f in files:
        seq += [
            (r.n_chars, r.doc_id) for r in spark.read.parquet(f).collect()
        ]
    assert seq == sorted(seq)
    assert len(seq) == docs.count()


def test_classifier_scoring_plans_are_scale_safe(spark):
    """r7 scoring paths: the model join must be BROADCAST (the census
    is <= dim rows; a shuffle of the exploded token relation against
    it would be the 100x mistake), no Python in either scorer, and
    the fixed-point scorer must carry BIGINT sums (no float agg)."""
    from pyspark.sql import Row

    from pii_spark.quality.classifier import (
        attach_quality_scores,
        score_quality_nb_int,
        train_quality_nb,
        weak_labels,
    )

    d = weak_labels(spark.createDataFrame(
        [Row(url=f"u{i}",
             text="the cat and the dog that sat with a mat " * 3)
         for i in range(30)]
    ))
    model = train_quality_nb(d, hashed=True)

    plan = _plan(score_quality_nb_int(
        d, model, id_col="url", hashed=True))
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan

    scored = attach_quality_scores(
        d.withColumnRenamed("text", "scrubbed_text"),
        model, {"dim": 2 ** 18, "hashed": True},
    )
    plan = _plan(scored)
    assert "BroadcastHashJoin" in plan, plan  # the model join
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
