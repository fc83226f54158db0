"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship PII quality-filter pipeline over a corpus
reshaped from /root/testdata/sf0.001/documents.parquet.

``queries()``/``oracle_sql()`` cover the operator inventory from
SURVEY.md §2 plus the large-scale training-data operators (dedup
families, ANN, text analysis). Every SQL-expressible query has a DuckDB
oracle with byte-matching column names; value-bearing doubles are
rounded to 4dp on both sides so engine-internal float ordering cannot
flip the hash. PII-pipeline queries (Arrow-UDF stages) have no SQL
equivalent and take the rows-only check.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

DEFAULT_SF = "/root/testdata/sf0.001"

# shared closed lists so Spark + DuckDB agree byte-for-byte
_STOPWORDS = "(the|and|that|this|with|from|have|was|for|are)"
_EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\d{3}[-.]\d{3}[-.]\d{4}"
_SSN_RE = r"\d{3}-\d{2}-\d{4}"
_IP_RE = r"(\d{1,3}\.){3}\d{1,3}"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# r9 optimization: the testdata tables are single-file, single-row-group
# parquet, so EVERY scan collapses to one input split — compute-heavy
# map work (md5 shingles, per-doc regex batteries, in-row cosine) ran
# on 1 of 32 cores. _spread() restores a parallelism floor exactly when
# the scan is narrower than the session's core count (guide §2.5,
# "input skew: one huge unsplittable file → repartition immediately
# after the read"). At real scale the input is many splits and this is
# a no-op — no exchange is added. Narrowness is estimated from the
# file layout via os.stat (bytes / 128 MB split size, the same
# arithmetic Spark's FilePartition packing uses), NOT df.rdd — the RDD
# conversion costs a full analysis/planning pass inside the timed
# query. The estimate is memoized per (path, parallelism, layout stamp):
# an environment fact (file layout), never query state or results. The
# stamp is the path's mtime and size, so a path rewritten with another
# layout (a directory's mtime moves when files come and go) is
# re-estimated instead of answered from the old layout.
_SCAN_NARROW_MEMO: dict[tuple[str, int, int, int], bool] = {}
_SPLIT_BYTES = 128 << 20  # spark.sql.files.maxPartitionBytes default


def _scan_is_narrow(path: str, target: int) -> bool:
    import glob
    import os

    try:
        st = os.stat(path)
        memo_key = (path, target, st.st_mtime_ns, st.st_size)
    except OSError:
        memo_key = (path, target, 0, 0)
    narrow = _SCAN_NARROW_MEMO.get(memo_key)
    if narrow is not None:
        return narrow
    if os.path.isdir(path):
        files = [f for f in glob.glob(f"{path}/**", recursive=True)
                 if os.path.isfile(f) and not f.endswith(".crc")
                 and "_SUCCESS" not in f]
    else:
        files = [path] if os.path.isfile(path) else []
    # per file: byte-range splits exist at size/128MB, but a row group's
    # rows all land in the split holding its midpoint — so the EFFECTIVE
    # parallelism per file is min(byte splits, row groups). A big
    # single-row-group file (the pathological writer layout this guard
    # exists for) is correctly seen as 1 effective split. Footer reads
    # only — no Spark planning inside the timed query.
    splits = 0
    for f in files:
        byte_splits = max(1, -(-os.path.getsize(f) // _SPLIT_BYTES))
        if byte_splits > 1:
            try:
                import pyarrow.parquet as _pq

                byte_splits = min(
                    byte_splits, max(1, _pq.ParquetFile(f).metadata
                                     .num_row_groups)
                )
            except Exception:  # noqa: BLE001 — non-parquet/odd file
                pass
        splits += byte_splits
    narrow = splits < target
    _SCAN_NARROW_MEMO[memo_key] = narrow
    return narrow


def _spread(df: DataFrame, path: str) -> DataFrame:
    target = df.sparkSession.sparkContext.defaultParallelism
    if _scan_is_narrow(path, target):
        return df.repartition(target)
    return df


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _corpus_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reshape the driver's documents table into the north-rule corpus
    shape (url, warc_ts, html, text, lang)."""
    d = _docs(spark, sf_dir)
    return d.select(
        F.col("doc_id"),
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            F.col("doc_id"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(1767225600) + F.col("doc_id") % 2592000)
        .alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body>"), F.col("text"),
                          F.lit("</body></html>")), "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: language-ID + perplexity + C4/Gopher heuristics +
    two-stage PII scrub over the sf0.001 corpus; one output row per url
    with keep/drop + byte-stable scrubbed text."""
    from pii_spark.spark.pipeline import run_pipeline

    corpus = _corpus_from_documents(spark, DEFAULT_SF)
    return run_pipeline(corpus)


# ---------------------------------------------------------------------------
# SQL-expressible queries (Spark impl + DuckDB oracle)
# ---------------------------------------------------------------------------

def q_lang_filter(spark, sf_dir):  # SURVEY §2 F1
    return (
        _docs(spark, sf_dir)
        .filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


def q_minlen_filter(spark, sf_dir):  # F2 (generalized Gopher min-length)
    return (
        _docs(spark, sf_dir)
        .filter(F.length("text") >= 200)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


def q_length_analytics(spark, sf_dir):
    """A1/A2 + exact percentiles bundled as aligned (probe, key,
    value) rows (round-5 consolidation, reference_sanity pattern) —
    all three length-analytics components stay hash-checked in one
    registry slot, freeing slots for warc_extract."""
    st = q_length_stats(spark, sf_dir).select(
        F.explode(
            F.create_map(
                F.lit("n"), F.col("n").cast("double"),
                F.lit("mean_chars"), F.col("mean_chars"),
                F.lit("median_chars"), F.col("median_chars"),
                F.lit("min_chars"), F.col("min_chars").cast("double"),
                F.lit("max_chars"), F.col("max_chars").cast("double"),
                F.lit("std_chars"), F.col("std_chars"),
            )
        ).alias("key", "value")
    ).select(F.lit("stats").alias("probe"), "key", "value")
    hist = q_length_histogram(spark, sf_dir).select(
        F.lit("histogram").alias("probe"),
        F.col("bucket").alias("key"),
        F.col("n_docs").cast("double").alias("value"),
    )
    pct = q_length_percentiles(spark, sf_dir).select(
        F.explode(
            F.create_map(
                F.lit("p25"), F.col("p25"),
                F.lit("p50"), F.col("p50"),
                F.lit("p90"), F.col("p90"),
                F.lit("p99"), F.col("p99"),
                F.lit("n_docs"), F.col("n_docs").cast("double"),
            )
        ).alias("key", "value")
    ).select(F.lit("percentiles").alias("probe"), "key", "value")
    return st.unionByName(hist).unionByName(pct)


def q_length_stats(spark, sf_dir):  # A1
    return _docs(spark, sf_dir).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("n_chars"), 4).alias("mean_chars"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("median_chars"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.round(F.stddev("n_chars"), 4).alias("std_chars"),
    )


def q_length_histogram(spark, sf_dir):  # A2
    bucket = (
        F.when(F.col("n_chars") < 100, "lt100")
        .when(F.col("n_chars") < 200, "100-200")
        .when(F.col("n_chars") < 400, "200-400")
        .otherwise("ge400")
    )
    return (
        _docs(spark, sf_dir)
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n_docs"))
    )


_HEX = "0123456789abcdef"


def _md5_bucket_expr():
    """Engine-portable deterministic hash bucket: two md5 hex chars →
    0..255 → %10 (xxhash64 is not available in DuckDB)."""
    h = F.md5(F.col("doc_id").cast("string"))
    c1 = F.instr(F.lit(_HEX), F.substring(h, 1, 1)) - 1
    c2 = F.instr(F.lit(_HEX), F.substring(h, 2, 1)) - 1
    return F.pmod(c1 * 16 + c2, F.lit(10))


def q_hash_split(spark, sf_dir):  # X1/X2: shuffle-free deterministic split
    bucket = _md5_bucket_expr()
    split = (
        F.when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test")
    )
    return (
        _docs(spark, sf_dir)
        .groupBy(split.alias("split"))
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
    )


def q_dedup_exact(spark, sf_dir):
    """W4 exact + fingerprint + url-canonicalization dedup, bundled
    (round-5 consolidation, same pattern as reference_sanity):
    per-source exact-hash dup counts, the normalized-fingerprint
    multiplicity histogram, and the canonical-url collision histogram
    as aligned (probe, key, n, metric) rows — all components stay
    fully hash-checked while using one registry slot, freeing slots
    for substring_dedup and paragraph_dedup."""
    exact = (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(F.md5("text")).cast("long").alias("n_distinct"),
        )
        .select(
            F.lit("exact").alias("probe"),
            F.col("source").alias("key"),
            F.col("n_docs").cast("long").alias("n"),
            (F.col("n_docs") - F.col("n_distinct")).cast("long")
            .alias("metric"),
        )
    )
    fp = F.substring(
        F.md5(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), 1, 16
    )
    finger = (
        _docs(spark, sf_dir)
        .select(fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("m"))
        .groupBy("m")
        .agg(F.count("*").alias("n_fingerprints"))
        .select(
            F.lit("fingerprint").alias("probe"),
            F.col("m").cast("string").alias("key"),
            F.col("n_fingerprints").cast("long").alias("n"),
            F.lit(0).cast("long").alias("metric"),
        )
    )
    urlc = q_url_canonical_dedup(spark, sf_dir).select(
        F.lit("url_canonical").alias("probe"),
        F.col("n_variants").cast("string").alias("key"),
        F.col("n_urls").cast("long").alias("n"),
        F.lit(0).cast("long").alias("metric"),
    )
    return exact.unionByName(finger).unionByName(urlc)


_SUBSTR_K = 8  # tokens; the check-scale stand-in for the paper's ~50


def q_substring_dedup(spark, sf_dir):
    """Corpus-level duplicate-substring removal (SURVEY R64, Lee et al.
    2022 semantics — see pii_spark/spark/substr_dedup.py for the
    duplicated-k-gram-cover identity that replaces the suffix array).
    hashed=False here so DuckDB replicates the census byte-for-byte;
    the xxhash64 production census is pinned identical by
    tests/test_substr_dedup.py. Returns only docs that LOST tokens
    plus the corpus totals row — the full cleaned-text column for
    every doc would dominate the hash check with untouched bytes."""
    from pii_spark.spark.substr_dedup import substring_dedup

    out = substring_dedup(
        _docs(spark, sf_dir), k=_SUBSTR_K, hashed=False
    )
    touched = out.filter(F.col("n_removed_tokens") > 0).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5("cleaned_text").alias("cleaned_md5"),
        "n_tokens", "n_removed_tokens", "frac_removed",
    )
    totals = out.agg(
        F.lit(-1).cast("long").alias("doc_id"),
        F.lit("corpus").alias("cleaned_md5"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("n_removed_tokens").cast("long").alias("n_removed_tokens"),
        F.round(
            F.sum("n_removed_tokens") / F.sum("n_tokens"), 4
        ).alias("frac_removed"),
    )
    return touched.unionByName(totals)


def q_dedup_minhash(spark, sf_dir):
    """MinHash+LSH skeleton: char shingles (len 12, stride 5) → 4 banded
    min-hashes → bucket-collision census per band.

    Single-pass plan (VERDICT r1 #2): ONE shingle explode + ONE groupBy
    computing all 4 band minima as separate aggregates, then an
    unpivot to (band, mh) rows — the exploded shingle relation (the
    dominant shuffle input at scale) is scanned once instead of once
    per band.

    Single-hash (VERDICT r2 #1): each shingle is md5-hashed ONCE and
    the 4 band values are disjoint 8-hex-char substrings of that one
    digest (md5's 128 bits give 4 independent 32-bit min-hashes) —
    r2 hashed every shingle 4× with per-band salts, 4× the hashing
    work on the dominant relation for no statistical gain.

    Numeric band values (r9 optimization): min over a STRING column has
    no mutable agg buffer, so Spark planned the per-doc aggregation as
    SortAggregate — two full sorts of the exploded shingle relation
    (the dominant relation at scale). Re-coding each 8-hex-char band
    chunk as its 32-bit integer (conv base 16, a bijection that
    preserves order because fixed-width lowercase hex compares
    lexicographically exactly as its numeric value) makes the min
    HashAggregate-able: map-side partial agg, no sorts. The census
    counts are identical — bucket identity is preserved under any
    bijection of the band value."""
    sh = _minhash_shingles(spark, sf_dir).select(
        "doc_id", F.md5(F.col("shingle")).alias("h"),
    )
    per_doc = sh.groupBy("doc_id").agg(
        *[
            F.min(F.conv(F.substring("h", 1 + 8 * b, 8), 16, 10)
                  .cast("long")).alias(f"mh{b}")
            for b in range(4)
        ]
    )
    return _minhash_band_census(per_doc)


def _minhash_shingles(spark, sf_dir) -> DataFrame:
    """Shared shingle explode (len 12, stride 5) for both minhash
    variants — factored (like winnow_fps) so census/stride fixes can't
    silently desynchronize the oracle-checked and scale plans. _spread
    lifts the scan's 1-split parallelism floor before the explode (the
    md5-per-shingle work is the leg's entire compute)."""
    d = _spread(_docs(spark, sf_dir).select("doc_id", "text"),
                f"{sf_dir}/documents.parquet")
    pos = F.explode(
        F.sequence(F.lit(1), F.greatest(F.length("text") - 11, F.lit(1)),
                   F.lit(5))
    ).alias("i")
    return d.select("doc_id", pos, "text").select(
        "doc_id", F.expr("substring(text, i, 12)").alias("shingle"),
    )


def _minhash_band_census(per_doc: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh3) → per-band bucket census (shared unpivot +
    collision aggregation for both minhash variants)."""
    bands = per_doc.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"mh{b}").alias("mh"))
                for b in range(4)
            ])
        ).alias("bm"),
    ).select(F.col("bm.band").alias("band"), F.col("bm.mh").alias("mh"))
    return (
        bands.groupBy("band", "mh")
        .agg(F.count("*").alias("bucket_size"))
        .groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum(F.when(F.col("bucket_size") > 1, F.col("bucket_size"))
                  .otherwise(F.lit(0))).cast("long").alias("n_collided_docs"),
        )
    )


def _minhash_per_doc_fast(spark, sf_dir) -> DataFrame:
    """(doc_id, mh0..mh3): band-seeded xxhash64 min-hash signatures —
    the corpus-scale widening of the md5 variant (factored so the
    fast-variant bundle can materialize exactly this relation)."""
    return _minhash_shingles(spark, sf_dir).groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.lit(b), F.col("shingle"))).alias(f"mh{b}")
            for b in range(4)
        ]
    )


def q_dedup_minhash_fast(spark, sf_dir):
    """Scale variant of q_dedup_minhash (symmetric with
    fingerprint_winnow_fast): band-seeded xxhash64 instead of md5 hex.
    Each band keeps a full 64-bit min-hash (xxhash64's seed argument is
    the band salt — bit-slicing ONE hash into 4×16-bit bands would
    leave only 65k buckets per band, useless at corpus scale), and
    xxhash64 is cheap enough JVM-side that 4 evaluations still cost
    far less than one md5 + hex materialization. The hash itself has
    no DuckDB twin, but the banding census IS oracle-checked: the
    fast-variant bundle materializes this per-doc relation and DuckDB
    replays the census (r8); semantics additionally pinned against the
    oracle-checked md5 variant by tests/test_winnow_scale.py."""
    return _minhash_band_census(_minhash_per_doc_fast(spark, sf_dir))


def q_incremental_dedup(spark, sf_dir):
    """Incremental crawl-snapshot dedup (SURVEY R78,
    pii_spark/spark/incr_dedup.py): a deterministic 'new snapshot' —
    the doc_id % 4 == 0 cohort, plus planted byte-identical recrawls
    of base docs (% 10 == 1, re-idd) and planted near-recrawls with an
    appended footer (% 10 == 3, re-idd) — is deduplicated AGAINST the
    base cohort (% 4 != 0). hashed=False here so DuckDB replicates the
    md5 fingerprints and band min-hashes byte-for-byte; the xxhash64
    production path is pinned exact-tier-identical (near flags are
    hash-dependent by LSH construction) by tests/test_incr_dedup.py.
    Output: per-doc (doc_id, stage) rows for every dropped doc plus a
    (lang, stage) census over the whole snapshot — both arms inside
    the value hash."""
    from pii_spark.spark.incr_dedup import incremental_dedup

    d = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    base = d.filter(F.col("doc_id") % 4 != 0)
    snap = (
        d.filter(F.col("doc_id") % 4 == 0)
        .unionByName(
            d.filter(F.col("doc_id") % 10 == 1)
            .withColumn("doc_id", F.col("doc_id") + F.lit(1000000000))
        )
        .unionByName(
            d.filter(F.col("doc_id") % 10 == 3)
            .withColumn("doc_id", F.col("doc_id") + F.lit(2000000000))
            .withColumn(
                "text", F.concat(F.col("text"), F.lit(" footer update 2026"))
            )
        )
    )
    out = incremental_dedup(base, snap, hashed=False)
    dropped = out.filter(F.col("drop_stage").isNotNull()).select(
        F.lit("dropped").alias("probe"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("drop_stage").alias("stage"),
        F.lit(1).cast("long").alias("n"),
    )
    census = (
        out.groupBy(
            "lang",
            F.coalesce(F.col("drop_stage"), F.lit("kept")).alias("stage"),
        )
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            F.lit("census").alias("probe"),
            F.col("lang").alias("key"),
            "stage",
            "n",
        )
    )
    return dropped.unionByName(census)


_JACCARD_T = 0.6


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Word-set Jaccard near-dup pairs among English docs — EXACT result
    via prefix filtering (PPJoin-style), scale-safe join keys.

    r1 joined full token postings on a.w == b.w, which makes every
    common word ('the') a quadratic hot key (VERDICT r1 anti-pattern
    #1). Prefix filtering is exact: order each doc's token set by
    global document frequency (rarest first) and keep only the first
    n - floor(t*n) + 1 tokens; any pair with Jaccard >= t provably
    shares a token within both prefixes, so joining ONLY prefix tokens
    loses no pairs, and prefix tokens are by construction the rarest —
    no hot keys. Candidates are then verified with exact Jaccard via
    array_intersect on the full per-doc token arrays. The DuckDB oracle
    keeps the brute-force all-pairs formulation: identical output is
    the exactness proof."""
    toks = (
        _docs(spark, sf_dir)
        .filter(F.col("lang") == "en")
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                        lambda w: w != "",
                    )
                )
            ).alias("w"),
        )
    )
    dfreq = toks.groupBy("w").agg(F.count("*").alias("df"))
    docs = (
        toks.join(dfreq, "w")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "w"))).alias("sw"))
        .select(
            "doc_id",
            F.expr("transform(sw, s -> s.w)").alias("toks"),
            F.size("sw").alias("n"),
        )
        .withColumn(
            "plen",
            (F.col("n") - F.floor(F.lit(_JACCARD_T) * F.col("n"))).cast("int")
            + F.lit(1),
        )
    )
    pre = docs.select(
        "doc_id", F.explode(F.expr("slice(toks, 1, plen)")).alias("w")
    )
    cand = (
        pre.alias("a")
        .join(
            pre.alias("b"),
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )
    left = docs.select(
        F.col("doc_id").alias("da"), F.col("toks").alias("atoks"),
        F.col("n").alias("na"),
    )
    right = docs.select(
        F.col("doc_id").alias("db"), F.col("toks").alias("btoks"),
        F.col("n").alias("nb"),
    )
    inter = F.size(F.array_intersect("atoks", "btoks"))
    jac = inter / (F.col("na") + F.col("nb") - inter)
    return (
        cand.join(left, "da")
        .join(right, "db")
        .filter(jac >= _JACCARD_T)
        .select("da", "db", F.round(jac, 4).alias("jaccard"))
    )


def q_dedup_clusters(spark, sf_dir):
    """Connected components over the exact near-dup pairs — the step
    that turns pairwise dedup output into keep/drop decisions: each
    cluster keeps its min-doc_id canonical and drops the rest.

    Spark side: iterative min-label propagation (label(v) = min over
    neighbors ∪ self, driver loop until fixpoint — O(diameter)
    iterations, each one shuffle; the scale-safe alternative to
    materializing a transitive closure). Oracle: DuckDB recursive CTE
    reachability + min — two different fixpoint algorithms agreeing
    byte-for-byte is the correctness argument."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("da", "db").cache()
    edges = (
        pairs.select(F.col("da").alias("u"), F.col("db").alias("v"))
        .unionByName(pairs.select(F.col("db").alias("u"),
                                  F.col("da").alias("v")))
        .distinct()
    )
    # eager localCheckpoint per iteration: caching alone leaves the
    # logical plan growing with every join round and the driver OOMs on
    # plan analysis after a few fixpoint iterations (hit at sf0.01)
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("u").alias("node")).distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=True)
    )
    while True:
        neigh = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("lbl").alias("nl"))
        )
        new_labels = (
            labels.join(neigh, labels["node"] == neigh["u"], "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce(F.col("nl"), F.col("lbl")))
                .alias("lbl"),
                (F.coalesce(F.col("nl"), F.col("lbl")) < F.col("lbl"))
                .alias("chg"),
            )
        ).localCheckpoint(eager=True)
        changed = new_labels.filter("chg").count()
        labels = new_labels.select("node", "lbl")
        if changed == 0:
            break
    out = (
        labels.groupBy(F.col("lbl").alias("canonical"))
        .agg(F.count("*").cast("long").alias("n_members"))
        .orderBy("canonical")
        .localCheckpoint(eager=True)
    )
    pairs.unpersist()
    return out


def q_dedup_simhash(spark, sf_dir):
    """16-bit SimHash over word hashes → collision census."""
    return (
        _simhash_sigs(spark, sf_dir)
        .select("simhash")
        .groupBy("simhash")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


def _simhash_sigs(spark, sf_dir) -> DataFrame:
    """(doc_id, simhash) — the 16-bit signature as a '0'/'1' string
    (shared by the census and pair queries; same construction as the
    DuckDB oracle CTE)."""
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                     lambda w: w != "")
        ).alias("w"),
    ).withColumn("h", F.md5("w"))
    votes = [
        F.sum(
            F.when(F.substring("h", i + 1, 1).isin(*list("89abcdef")), 1)
            .otherwise(-1)
        ).alias(f"v{i}")
        for i in range(16)
    ]
    per_doc = toks.groupBy("doc_id").agg(*votes)
    bits = F.concat(
        *[F.when(F.col(f"v{i}") >= 0, "1").otherwise("0") for i in range(16)]
    )
    return per_doc.select("doc_id", bits.alias("simhash"))


def q_simhash_hamming_pairs(spark, sf_dir):
    """SimHash near-dup PAIRS within Hamming distance ≤ 3 — the step
    that turns the signature census into dedup decisions. Exact via the
    pigeonhole band trick: split the 16 bits into 4 bands of 4; ≤3
    differing bits cannot touch all 4 bands, so every qualifying pair
    shares at least one full band — join candidates on (band, bits),
    then verify exact Hamming on the candidate set only (the same
    lossless-prefilter pattern as the Jaccard prefix filter). The
    DuckDB oracle is the brute-force all-pairs formulation: identical
    output is the losslessness proof.

    Scale note: 16-bit signatures (oracle-mirrorable md5 bit votes)
    give only 16 buckets per 4-bit band — fine for the correctness
    demo, hot-key-quadratic at corpus scale. A 100 TB run uses 64-bit
    signatures (xxhash64 votes) with 4×16-bit bands = 65k buckets per
    band, the same plan shape with no hot keys — exactly the
    md5→xxhash64 widening the minhash/winnow fast variants make."""
    sigs = _simhash_sigs(spark, sf_dir)
    banded = sigs.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.substring("simhash", 1 + 4 * b, 4).alias("bits"))
            for b in range(4)
        ])).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bits")
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("da"), F.col("a.simhash").alias("sa"),
            F.col("b.doc_id").alias("db"), F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    hamming = sum(
        F.when(
            F.substring("sa", i, 1) != F.substring("sb", i, 1), 1
        ).otherwise(0)
        for i in range(1, 17)
    )
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= 3)
        .select("da", "db", "hamming")
    )


def _simhash_sigs_fast(spark, sf_dir) -> DataFrame:
    """(doc_id, sig): 64-bit SimHash signature as ONE long — xxhash64
    word hashes vote per bit, bit i of the signature is the sign of the
    vote sum. The corpus-scale widening of _simhash_sigs (md5, 16 bits):
    same construction, JVM-cheap long hashing, 64 bits of locality."""
    import functools

    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                     lambda w: w != "")
        ).alias("w"),
    ).withColumn("h", F.xxhash64("w"))
    votes = [
        F.sum(
            F.when(
                F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1))
                == 1, 1,
            ).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(64)
    ]
    per_doc = toks.groupBy("doc_id").agg(*votes)
    # disjoint bit positions → bitwise OR assembles the signature
    # (bit 63 makes the long negative; it's a bit pattern, not a number)
    sig = functools.reduce(
        lambda a, b: a.bitwiseOR(b),
        [
            F.when(
                F.col(f"v{i}") >= 0,
                F.shiftleft(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long"))
            for i in range(64)
        ],
    )
    return per_doc.select("doc_id", sig.alias("sig"))


def q_simhash_hamming_pairs_fast(spark, sf_dir):
    """64-bit SimHash Hamming-pair scale variant (VERDICT r3 #2 — kills
    the last demo-scale plan): xxhash64 bit votes → one long signature,
    4 bands of 16 bits = 65,536 buckets per band (vs the md5 variant's
    16), candidates share a full band by the same pigeonhole argument
    (Hamming ≤ 3 cannot touch all 4 bands), exact verify is ONE
    bit_count(sa ^ sb) per candidate. No hot keys at corpus scale: a
    band key space of 65k on near-random 16-bit slices keeps expected
    bucket size n/65536. The vote hash has no DuckDB twin, but the
    band/pair arithmetic IS oracle-checked: the fast-variant bundle
    materializes the signature relation and DuckDB replays the
    pigeonhole join + bit_count verify (r8); semantics additionally
    pinned against the oracle-checked md5 16-bit variant on a
    planted-duplicate corpus by tests/test_simhash_scale.py."""
    return _simhash_pairs64(_simhash_sigs_fast(spark, sf_dir))


def _simhash_pairs64(sigs: DataFrame) -> DataFrame:
    """(doc_id, sig) → Hamming ≤ 3 pairs via the 4×16-bit pigeonhole
    band prefilter + exact bit_count verify (factored so the
    fast-variant bundle can replay it from the materialized sigs)."""
    banded = sigs.select(
        "doc_id", "sig",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("sig"), 16 * b)
                .bitwiseAND(F.lit(65535)).alias("bits"),
            )
            for b in range(4)
        ])).alias("bb"),
    ).select("doc_id", "sig", "bb.band", "bb.bits")
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("da"), F.col("a.sig").alias("sa"),
            F.col("b.doc_id").alias("db"), F.col("b.sig").alias("sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= 3)
        .select("da", "db", "hamming")
    )


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 vs vec_id=0 — the zero-shuffle 100 TB
    plan: the query vector is collected once (1 row) and inlined as an
    array literal, and the dot product / norm run INSIDE the row via
    zip_with + aggregate. One scan + a top-k sort; q_ann_cosine_both
    hash-checks it against the relational, oracle-shaped plan."""
    import math

    e = _emb(spark, sf_dir)
    # one-row collect of the probe vector (intentional: it becomes a
    # literal in the plan; this is the documented eager step)
    head = e.filter(F.col("vec_id") == 0).select("embedding").head()
    if head is None:  # no probe vector → empty top-k, same as the twin
        return e.select(
            "vec_id", F.lit(0.0).alias("cos")
        ).limit(0)
    qvec = [float(x) for x in head[0]]
    nb = math.sqrt(sum(x * x for x in qvec))
    ql = F.array(*[F.lit(x) for x in qvec])
    v = F.transform("embedding", lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(v, ql, lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    ))
    cos = F.round(dot / (na * F.lit(nb)), 4)
    return (
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", cos.alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(10)
    )


def _q_ann_cosine_relational(spark, sf_dir):
    """The relational formulation (posexplode+join, identical shape to
    the DuckDB oracle) — kept as the equivalence-proof side of
    q_ann_cosine_both. _spread (r9) lifts the corpus side off the
    scan's single input split before the 64× posexplode; the 1-row
    probe side stays on the bare scan."""
    emb = _emb(spark, sf_dir)
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "v")
    ).withColumn("v", F.col("v").cast("double"))
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("i").alias("qi"), F.col("v").alias("qv")
    )
    big = _spread(
        emb.filter(F.col("vec_id") != 0), f"{sf_dir}/embeddings.parquet"
    ).select(
        "vec_id", F.posexplode("embedding").alias("i", "v")
    ).withColumn("v", F.col("v").cast("double"))
    joined = big.join(
        F.broadcast(q), F.col("i") == F.col("qi")
    )
    per = joined.groupBy("vec_id").agg(
        F.sum(F.col("v") * F.col("qv")).alias("dot"),
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("na"),
    )
    qn = q.agg(F.sqrt(F.sum(F.col("qv") * F.col("qv"))).alias("nb"))
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (
        per.crossJoin(F.broadcast(qn))
        .select("vec_id", F.round(cos, 4).alias("cos"))
        .orderBy(F.round(cos, 4).desc(), "vec_id")
        .limit(10)
    )


def q_ann_cosine_both(spark, sf_dir):
    """Both brute-force cosine top-k variants in ONE registry slot
    (r6 consolidation, frees a slot for incremental_dedup): the
    relational oracle-shaped plan and the zero-shuffle in-row plan,
    labeled per variant and unioned — identical values is exactly the
    equivalence the old two-slot layout proved, now hash-checked in
    one row. The zero-shuffle plan shape is separately gated by
    tests/test_plan_quality.py (no join / no explode / no agg
    exchange)."""
    rel = _q_ann_cosine_relational(spark, sf_dir).select(
        F.lit("relational").alias("variant"), "vec_id", "cos"
    )
    fast = q_ann_cosine_topk(spark, sf_dir).select(
        F.lit("inrow").alias("variant"), "vec_id", "cos"
    )
    return rel.unionByName(fast)


# ---- banded hyperplane LSH over embeddings (VERDICT r1 #1b) ----
# 16 bands x 8 Rademacher-sign random projections. Signs derive from
# md5(band_bit_dim) so Spark and DuckDB build the identical hyperplanes
# with zero shipped state. At the operator's design threshold
# (cos >= 0.9, true near-dups) a band matches with p = 0.856^8 = 0.287
# and 16 bands give recall 1 - (1-0.287)^16 = 0.9955 while a random
# pair collides with p = 16/2^8 = 6% — real pruning. At the testdata's
# exploratory threshold 0.42 recall vs brute force is measured by
# tests/test_lsh_recall.py (LSH at such low similarity is
# physics-limited: rho = ln p1 / ln p2 = 0.65).
_LSH_BANDS = 16
_LSH_BITS = 8
_EMB_DIM = 64
_COS_T = 0.42


def _lsh_parts(spark, sf_dir):
    """Returns (ex, sig): the 1-based posexploded embedding relation and
    the per-(vec_id, band) integer signature relation."""
    signs = (
        spark.range(1)
        .select(F.explode(F.sequence(F.lit(0), F.lit(_LSH_BANDS - 1)))
                .alias("b"))
        .select("b", F.explode(F.sequence(F.lit(0), F.lit(_LSH_BITS - 1)))
                .alias("j"))
        .select("b", "j",
                F.explode(F.sequence(F.lit(1), F.lit(_EMB_DIM))).alias("i"))
        .withColumn(
            "s",
            F.when(
                F.substring(F.md5(F.concat_ws("_", "b", "j", "i")), 1, 1)
                >= "8",
                F.lit(1.0),
            ).otherwise(F.lit(-1.0)),
        )
    )
    ex = (
        _emb(spark, sf_dir)
        .select("vec_id", F.posexplode("embedding").alias("i0", "v"))
        .select(
            "vec_id",
            (F.col("i0") + 1).alias("i"),
            F.col("v").cast("double").alias("v"),
        )
    )
    proj = (
        ex.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "b", "j")
        .agg(F.sum(F.col("s") * F.col("v")).alias("p"))
    )
    sig = proj.groupBy("vec_id", "b").agg(
        F.sum(
            F.when(F.col("p") >= 0, F.expr("CAST(pow(2, j) AS BIGINT)"))
            .otherwise(F.lit(0))
        ).alias("sig")
    )
    return ex, sig


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs via banded hyperplane LSH:
    candidate pairs share a full 8-bit signature in >=1 of 16 bands;
    exact cosine is computed on candidates only. Replaces r1's 3-sign-
    bit bucketing (8 buckets -> O(n^2/8) all-pairs, VERDICT
    anti-pattern #2) with per-band join keys of expected size n/256."""
    ex, sig = _lsh_parts(spark, sf_dir)
    cand = (
        sig.alias("a")
        .join(
            sig.alias("c"),
            (F.col("a.b") == F.col("c.b"))
            & (F.col("a.sig") == F.col("c.sig"))
            & (F.col("a.vec_id") < F.col("c.vec_id")),
        )
        .select(F.col("a.vec_id").alias("va"), F.col("c.vec_id").alias("vb"))
        .distinct()
    )
    x = ex.select(F.col("vec_id").alias("va"), "i", F.col("v").alias("xv"))
    y = ex.select(F.col("vec_id").alias("vb"), "i", F.col("v").alias("yv"))
    pairs = (
        cand.join(x, "va")
        .join(y, ["vb", "i"])
        .groupBy("va", "vb")
        .agg(
            F.sum(F.col("xv") * F.col("yv")).alias("dot"),
            F.sqrt(F.sum(F.col("xv") * F.col("xv"))).alias("na"),
            F.sqrt(F.sum(F.col("yv") * F.col("yv"))).alias("nb"),
        )
    )
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return pairs.filter(cos >= _COS_T).select(
        "va", "vb", F.round(cos, 4).alias("cos")
    )


def q_ann_lsh_bucket(spark, sf_dir):
    """ANN scale path answering a real query: top-10 neighbors of
    vec_id=0 among its LSH band-bucket candidates (exact cosine on the
    candidate set only). r1's version was only a bucket census
    (VERDICT: 'no actual within-bucket top-k query yet')."""
    ex, sig = _lsh_parts(spark, sf_dir)
    qsig = sig.filter(F.col("vec_id") == 0).select(
        "b", F.col("sig").alias("qsig")
    )
    cand = (
        sig.join(F.broadcast(qsig), "b")
        .filter((F.col("sig") == F.col("qsig")) & (F.col("vec_id") != 0))
        .select("vec_id")
        .distinct()
    )
    q = ex.filter(F.col("vec_id") == 0).select(
        F.col("i"), F.col("v").alias("qv")
    )
    per = (
        cand.join(ex, "vec_id")
        .join(F.broadcast(q), "i")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("v") * F.col("qv")).alias("dot"),
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("na"),
        )
    )
    qn = q.agg(F.sqrt(F.sum(F.col("qv") * F.col("qv"))).alias("nb"))
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (
        per.crossJoin(F.broadcast(qn))
        .select("vec_id", F.round(cos, 4).alias("cos"))
        .orderBy(F.round(cos, 4).desc(), "vec_id")
        .limit(10)
    )


# nprobe=4 of k=10 cells: recall@10 = 0.7 vs brute force on the
# driver's near-random embeddings (max pairwise cos 0.48 — weak cluster
# structure, so the coarse quantizer is physics-limited here). On
# genuinely clustered vectors the same plan reaches >0.9 recall at
# nprobe=2 (tests/test_neardup_scale.py::test_ivf_recall_on_clustered).
_IVF_NPROBE = 4

# SemDeDup cosine threshold (q_kmeans_clusters): organic pairs on the
# driver embeddings top out at ~0.48 and planted exact copies sit at
# ~1.0, so 0.9 is decision-stable under any cross-engine float drift
_SD_TAU = 0.9


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-style ANN: the embeddings table's label column defines the
    inverted-list cells (centroid = per-label mean vector — a k-means
    with converged assignment). Query vec 0 probes its _IVF_NPROBE
    nearest centroids and computes exact cosine ONLY against vectors
    assigned to those cells — the classic two-level ANN scale path
    (coarse quantizer + within-list exact scan) complementing the
    hyperplane-LSH path. At 10^9 vectors the centroid table stays tiny
    (broadcast) and the scan touches nprobe/k of the data.

    Cell-size skew (r8 equal-width audit): IVF cells are CLUSTER
    assignments, not value-space bins — a skewed cell means the data
    genuinely clusters there, the inherent IVF tradeoff (FAISS's too);
    the per-cell work is a hash aggregate (partial-agg), never a
    per-cell sort, so a hot cell costs proportionally more scan, not
    a single-task collapse."""
    ex = (
        _emb(spark, sf_dir)
        .select("vec_id", "label", F.posexplode("embedding").alias("i0", "v"))
        .select(
            "vec_id", "label",
            (F.col("i0") + 1).alias("i"),
            F.col("v").cast("double").alias("v"),
        )
    )
    cent = ex.groupBy(F.col("label").alias("c"), F.col("i")).agg(
        F.avg("v").alias("cv")
    )
    score = (
        ex.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "c")
        .agg(
            F.sum(F.col("v") * F.col("cv")).alias("dot"),
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nv"),
            F.sqrt(F.sum(F.col("cv") * F.col("cv"))).alias("nc"),
        )
        .select(
            "vec_id", "c",
            (F.col("dot") / (F.col("nv") * F.col("nc"))).alias("ccos"),
        )
    )
    # argmax via window rank, NOT a float-equality self-join: engines
    # may recompute ccos with different summation order on each CTE
    # reference, so `ccos == max(ccos)` is not portable
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("c"))
    assign = (
        score.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "c")
    )
    qcells = (
        score.filter(F.col("vec_id") == 0)
        .orderBy(F.col("ccos").desc(), F.col("c"))
        .limit(_IVF_NPROBE)
        .select("c")
    )
    cand = (
        assign.join(F.broadcast(qcells), "c")
        .filter(F.col("vec_id") != 0)
        .select("vec_id")
        .distinct()
    )
    q = ex.filter(F.col("vec_id") == 0).select("i", F.col("v").alias("qv"))
    per = (
        cand.join(ex, "vec_id")
        .join(F.broadcast(q), "i")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("v") * F.col("qv")).alias("dot"),
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("na"),
        )
    )
    qn = q.agg(F.sqrt(F.sum(F.col("qv") * F.col("qv"))).alias("nb"))
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (
        per.crossJoin(F.broadcast(qn))
        .select("vec_id", F.round(cos, 4).alias("cos"))
        .orderBy(F.round(cos, 4).desc(), "vec_id")
        .limit(10)
    )


def q_ann_recall(spark, sf_dir):
    """Driver-visible ANN quality metric (VERDICT r3 #4): recall@10 of
    the two approximate paths — LSH band-bucket and IVF nprobe — against
    the exact brute-force top-10, computed INSIDE one plan (join on the
    top-k sets, no collect). The DuckDB oracle composes the three
    already-oracle-checked top-10 formulations and intersects them, so
    the recall values themselves are hash-checked, not just row counts.
    k=10 is a fixed literal (every testdata embeddings table has well
    over 10 vectors; the three top-k queries all emit exactly 10).

    The two approximate legs are unioned BEFORE the join against the
    brute-force set (VERDICT r4 #6), so the exact-top-10 subplan appears
    exactly once in the DAG instead of once per recall row — at scale the
    brute-force scan is the expensive leg and must not re-execute. A
    2-row method frame left-joined on top keeps the output shape fixed
    even if a method ever scores zero hits."""
    bf = q_ann_cosine_topk(spark, sf_dir).select("vec_id")
    approx = (
        q_ann_lsh_bucket(spark, sf_dir)
        .select("vec_id").withColumn("method", F.lit("lsh_bucket"))
        .unionByName(
            q_ann_ivf_topk(spark, sf_dir)
            .select("vec_id").withColumn("method", F.lit("ivf"))
        )
    )
    hits = approx.join(bf, "vec_id").groupBy("method").agg(
        F.count("*").alias("c")
    )
    methods = spark.createDataFrame(
        [("lsh_bucket",), ("ivf",)], "method string"
    )
    return methods.join(hits, "method", "left").select(
        "method",
        F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("n_hits"),
        F.round(F.coalesce(F.col("c"), F.lit(0)) / 10.0, 4).alias("recall"),
    )


def q_paragraph_dedup(spark, sf_dir):
    """Dolma-style keep-first paragraph dedup (SURVEY R66,
    pii_spark/spark/para_dedup.py). The documents testdata is
    single-line with unique texts, so paragraph structure is
    synthesized deterministically (the url_canonical pattern): page i
    carries the texts of docs i, (i+7)%N, (i+14)%N as its three
    paragraphs — every text appears in exactly 3 pages, giving
    keep-first real cross-document work whose per-page cleaned bytes
    the oracle hash-checks. Same output discipline as substring_dedup:
    docs that LOST paragraphs + the corpus totals row."""
    from pii_spark.spark.para_dedup import paragraph_dedup

    d = _docs(spark, sf_dir).select("doc_id", "text")
    n = d.count()  # doc_ids are dense 0..N-1 in every testdata sf
    pages = (
        d.select("doc_id")
        .withColumn(
            "k", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2)))
        )
        .withColumn("src", (F.col("doc_id") + F.col("k") * 7) % n)
        .join(
            d.select(F.col("doc_id").alias("src"), "text"), "src"
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("k", "text"))),
                    lambda x: x["text"],
                ),
                "\n",
            ).alias("text")
        )
    )
    # hashed=False: the exact string-census path is what DuckDB can
    # replicate; production defaults to the xxhash64 census (r6), and
    # tests/test_para_dedup.py pins hashed ≡ string on this corpus
    out = paragraph_dedup(pages, hashed=False)
    touched = out.filter(F.col("n_removed_paras") > 0).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5("cleaned_text").alias("cleaned_md5"),
        "n_paras", "n_removed_paras", "frac_removed",
    )
    totals = out.agg(
        F.lit(-1).cast("long").alias("doc_id"),
        F.lit("corpus").alias("cleaned_md5"),
        F.sum("n_paras").cast("long").alias("n_paras"),
        F.sum("n_removed_paras").cast("long").alias("n_removed_paras"),
        F.round(
            F.sum("n_removed_paras") / F.sum("n_paras"), 4
        ).alias("frac_removed"),
    )
    return touched.unionByName(totals)


def q_warc_extract(spark, sf_dir):
    """WARC record parsing (SURVEY R69, pii_spark/spark/warc.py)
    driver-checked: one WARC record string is synthesized per doc
    (every 50th as a warcinfo record to prove the type filter), parsed
    with the SAME pure-Catalyst exprs read_warc uses, and the load-
    bearing outputs — url, type filtering, exact HTTP body bytes (as
    md5) — are twinned in DuckDB. File I/O and timestamp parsing are
    pytest-covered (tests/test_warc.py); this row pins the parse."""
    from pii_spark.spark.warc import warc_record_exprs

    d = _docs(spark, sf_dir)
    is_info = F.col("doc_id") % 50 == 0
    rec = F.concat(
        F.when(is_info, F.lit("WARC-Type: warcinfo\r\n")).otherwise(
            F.concat(
                # every 3rd record spells header NAMES in non-CC
                # casing — pins the (?i) match (VERDICT r5 #4)
                F.when(
                    F.col("doc_id") % 3 == 1,
                    F.lit("Warc-Type: response\r\nWarc-Target-Uri: "),
                ).otherwise(
                    F.lit("WARC-Type: response\r\nWARC-Target-URI: ")
                ),
                F.lit("https://w.example.com/"),
                F.col("doc_id").cast("string"),
                F.lit("\r\n"),
            )
        ),
        F.lit("WARC-Date: 2017-03-22T17:22:30Z\r\n\r\n"),
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
              "<html><body><p>"),
        F.col("text"),
        # the record terminator a real lineSep chunk carries — its
        # strip (review r5c) is part of what this row pins
        F.lit("</p></body></html>\r\n\r\n"),
    )
    cols = warc_record_exprs(rec)
    return (
        d.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            cols["warc_type"].alias("warc_type"),
            cols["url"].alias("url"),
            F.md5(cols["http_body"]).alias("body_md5"),
        )
        .filter(F.col("warc_type") == "response")
    )


def q_url_score(spark, sf_dir):
    """URL keyword scoring (pii_spark/quality/urlscore.py — the token
    tier of crawl URL filtering; the blocklist tier is domain_filter).
    Urls are synthesized deterministically from doc_id with spammy
    path tokens salted onto a fraction of them, scored with the native
    exprs, and censused per (score, flagged) — hits, weights, the
    flag threshold, and per-bucket counts are all DuckDB-twinned."""
    from pii_spark.quality.urlscore import url_score_exprs

    d = _docs(spark, sf_dir).select("doc_id")
    url = F.concat(
        F.lit("https://site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/page/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/free-pills-casino"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit("?ref=xxx-adult"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 == 0, F.lit("&q=discount"))
        .otherwise(F.lit("")),
    )
    cols = url_score_exprs(url)
    return (
        d.select(
            cols["url_score"].cast("long").alias("score"),
            cols["url_flagged"].alias("flagged"),
            cols["url_hits_w1"].cast("long").alias("hits_w1"),
            cols["url_hits_w2"].cast("long").alias("hits_w2"),
        )
        .groupBy("score", "flagged", "hits_w1", "hits_w2")
        .agg(F.count("*").cast("long").alias("n_urls"))
    )


def q_token_count(spark, sf_dir):
    """Token counting, BOTH modes in one entry: whitespace tokens and
    BPE-ish tokens (GPT-2-style pretokenizer classes — contractions,
    letter runs, short digit runs, punctuation runs — as a regex
    census; all regexp_extract_all, whole-stage codegen).

    Merged from the former separate token_count / token_count_bpe
    entries: the correctness driver records at most 50 queries (r3
    registered 51 → 50 rows), so the two token-count modes share one
    oracle-checked entry (VERDICT r3 #1: consolidate explicitly).

    A third 'packing' arm (r7, SURVEY R87) hash-checks the sequence-
    packing assignment (concat-and-chunk at seq_len 512, docs in
    doc_id order): per-doc global start offset + seq_first/seq_last —
    the two-phase distributed prefix sum vs DuckDB's plain window
    cumsum, all integers. Since r8 the arm feeds the TOKENIZER-style
    counts (the BPE-regex census both engines twin) through
    ``n_tokens_col`` — the external-counts path `jobs/run_pack.py`
    uses in production — instead of the internal whitespace counter.
    Labeled-union schema: tokens arm keys by lang (na/nb = ws/bpe
    sums, xa/xb = the averages); packing arm keys by doc_id
    (na/nb = start_offset/n_tokens, xa/xb = seq_first/seq_last as
    exact doubles)."""
    from pii_spark.spark.packing import pack_offsets

    ws = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    )
    bpe = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), F.lit(0))
    ) - F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"\s+"), F.lit(0))
    )
    tokens = (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.sum(ws).cast("long").alias("na"),
            F.round(F.avg(ws), 4).alias("xa"),
            F.sum(bpe).cast("long").alias("nb"),
            F.round(F.avg(bpe), 4).alias("xb"),
        )
        .select(
            F.lit("tokens").alias("part"),
            F.col("lang").alias("key"),
            "na", "nb", "xa", "xb",
        )
    )
    packing = pack_offsets(
        _docs(spark, sf_dir).withColumn("_bpe_nt", bpe.cast("long")),
        512, n_tokens_col="_bpe_nt", n_buckets=64,
    ).select(
        F.lit("packing").alias("part"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("start_offset").alias("na"),
        F.col("n_tokens").alias("nb"),
        F.col("seq_first").cast("double").alias("xa"),
        F.col("seq_last").cast("double").alias("xb"),
    )
    return tokens.unionByName(packing)


def q_langid_stopwords(spark, sf_dir):
    """Heuristic language-ID census PLUS (r7, SURVEY R91) the
    per-language document-frequency census that DERIVES such stopword
    lists from the corpus — labeled union: 'pred' arm keys by the
    langid prediction (n = doc count), 'df' arm keys by word
    (n = df_count, x = doc_frac rounded 4dp), words in ≥40% of a
    language's ≥-min_df docs."""
    from pii_spark.quality.stopwords import derive_stopwords

    hits = F.size(
        F.regexp_extract_all(F.lower(F.col("text")),
                             F.lit(rf"\b{_STOPWORDS}\b"), F.lit(0))
    )
    pred = F.when(hits >= 3, "en").otherwise("other")
    preds = (
        _docs(spark, sf_dir)
        .groupBy(F.col("lang"), pred.alias("pred"))
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.lit("pred").alias("part"),
            "lang",
            F.col("pred").alias("key"),
            F.col("n_docs").cast("long").alias("n"),
            F.lit(None).cast("double").alias("x"),
        )
    )
    sw = derive_stopwords(_docs(spark, sf_dir), 0.4).select(
        F.lit("df").alias("part"),
        "lang",
        F.col("word").alias("key"),
        F.col("df_count").alias("n"),
        F.col("doc_frac").alias("x"),
    )
    return preds.unionByName(sw)


def q_quality_heuristics(spark, sf_dir):
    """C4/Gopher heuristic scores + toxicity lexicon census, all native
    SQL (the quality + toxicity halves of the north rule's filter
    family in one oracle-checked entry — the 50-query driver cap rules
    out a separate toxicity query)."""
    from pii_spark.config import QUALITY
    from pii_spark.quality.toxicity import toxicity_sql

    nonspace = F.regexp_replace(F.col("text"), r"\s", "")
    n_ns = F.greatest(F.length(nonspace), F.lit(1))
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    n_alpha = F.length(F.regexp_replace(nonspace, r"[^\p{L}]", ""))
    mean_wl = F.length(nonspace) / n_words
    rep = 1.0 - F.size(F.array_distinct(F.transform(words, F.lower))) / n_words
    passes = (
        (n_words >= 5)
        & mean_wl.between(2.0, 12.0)
        & ((n_ns - n_alpha) / n_ns <= 0.4)
        & (rep <= 0.8)
    )
    # n_words: the same ASCII word count
    tox = {k: F.expr(v) for k, v in toxicity_sql("text").items()}
    toxic = tox["tox_score"] > F.lit(QUALITY["max_tox_score"])
    # _spread (r9): the per-doc regex battery is the entire leg cost and
    # ran on the scan's single input split; the groupBy's partial agg
    # then parallelizes over the spread partitions.
    return (
        _spread(_docs(spark, sf_dir).select("lang", "text"),
                f"{sf_dir}/documents.parquet")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(passes.cast("long")).cast("long").alias("n_pass"),
            F.round(F.avg(rep), 4).alias("avg_rep"),
            F.round(F.avg(mean_wl), 4).alias("avg_word_len"),
            F.sum(tox["tox_hits"]).cast("long").alias("n_tox_hits"),
            F.sum(toxic.cast("long")).cast("long").alias("n_toxic"),
        )
    )


def q_html_extract(spark, sf_dir):
    """HTML → text extraction (the Common-Crawl step upstream of the
    quality filter), as pure codegen expressions: each doc's text is
    wrapped into a deterministic page (script/style blocks, entities,
    block tags) and the extractor must recover it. md5 of the extracted
    text proves byte equality across engines."""
    from pii_spark.spark.html import html_text_expr

    html = F.encode(
        F.concat(
            F.lit("<html><head><title>t</title><script>var x=1;</script>"
                  "<style>p{color:red}</style></head><body>"
                  "<!-- comment --><h1>Title &amp; more</h1><p>"),
            F.col("text"),
            F.lit("</p><div>footer &lt;tag&gt; &quot;q&quot;</div>"
                  "</body></html>"),
        ),
        "utf-8",
    )
    extracted = html_text_expr(html)
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(extracted).alias("text_md5"),
        F.contains(extracted, F.col("text")).alias("payload_intact"),
    )


def q_regex_scrub(spark, sf_dir):
    """North-rule regex scrub stage (email/phone/ssn/ip) as a pure SQL
    rewrite; fingerprint of scrubbed text proves byte equality."""
    scrubbed = F.col("text")
    for pat, tag in [
        (_EMAIL_RE, "[EMAIL]"),
        (_SSN_RE, "[SSN]"),
        (_PHONE_RE, "[PHONE]"),
        (_IP_RE, "[IP]"),
    ]:
        scrubbed = F.regexp_replace(scrubbed, pat, tag)
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.md5(scrubbed).alias("scrub_md5"),
                (scrubbed != F.col("text")).alias("changed"))
    )


def q_regex_hit_counts(spark, sf_dir):  # A3/A7 analogue
    def hits(pat):
        return F.size(
            F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
        )

    return (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.sum(hits(_EMAIL_RE)).cast("long").alias("n_email"),
            F.sum(hits(_PHONE_RE)).cast("long").alias("n_phone"),
            F.sum(hits(_IP_RE)).cast("long").alias("n_ip"),
        )
    )


def q_json_extract(spark, sf_dir):  # S2/F6: safe JSON parsing
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(k).cast("long").alias("sum_k"),
            F.round(F.avg(k), 4).alias("avg_k"),
        )
    )


def q_label_map(spark, sf_dir):  # M11/J2: literal label-space mapping
    mapped = (
        F.when(F.col("event_type").isin("click", "view"), "engagement")
        .when(F.col("event_type").isin("signup", "purchase"), "conversion")
        .otherwise("other")
    )
    return (
        _events(spark, sf_dir)
        .groupBy(mapped.alias("category"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def q_union_cohorts(spark, sf_dir):  # W3: stratified union
    d = _docs(spark, sf_dir)
    en = d.filter(F.col("lang") == "en").withColumn("cohort", F.lit("en"))
    other = d.filter(F.col("lang") != "en").withColumn("cohort", F.lit("other"))
    return (
        en.unionByName(other)
        .groupBy("cohort")
        .agg(F.count("*").alias("n_docs"),
             F.max("n_chars").cast("long").alias("max_chars"))
    )


def q_deterministic_limit(spark, sf_dir):  # X4: reproducible 'limit'
    return (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < 300)
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )


def q_events_hourly(spark, sf_dir):  # tumbling-window agg (batch form)
    return (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def q_events_sliding(spark, sf_dir):
    """Sliding-window aggregation (10-min windows, 5-min slide): every
    event contributes to exactly two overlapping windows — the other
    canonical Structured Streaming window shape next to tumbling
    (q_events_hourly) and session (q_sessionize). Spark's window()
    generates the per-event window set natively; the DuckDB twin
    materializes the two candidate window starts per event explicitly."""
    w = F.window(F.col("ts").cast("timestamp"), "10 minutes", "5 minutes")
    return (
        _events(spark, sf_dir)
        .groupBy(w.alias("w"), F.col("event_type"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization over the events stream shape (the
    window-function operator family the engine needs for behavioral
    data): a >30-min silence starts a new session per user. Plan: one
    shuffle on user_id, lag + running sum inside the window — the
    canonical scale-safe sessionization (no self-join).

    The final ``user_id < 50`` filter bounds the CHECK output (oracle
    tractability), not the operator: sessionization itself runs over
    every user, uncapped (VERDICT r3 #7)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ cannot cast to long directly; go via timestamp. Only
    # DIFFERENCES of the epoch are used, so the session-tz offset cancels
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = (
        _events(spark, sf_dir)
        .withColumn("new_sess", new_sess)
        .withColumn(
            "session_no",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            (F.max(F.col("ts").cast("timestamp").cast("long"))
             - F.min(F.col("ts").cast("timestamp").cast("long")))
            .alias("duration_s"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.max("n_events").cast("long").alias("max_session_events"),
            F.round(F.avg("duration_s"), 4).alias("avg_duration_s"),
        )
        .filter(F.col("user_id") < 50)
    )


_BPE_RE = (
    r"'[a-z]+|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]+|\s+"
)


def winnow_fps(d: DataFrame, fast: bool = False) -> DataFrame:
    """(doc_id, text) → winnowing fingerprints (doc_id, win, fp):
    k-gram shingles (k=8, stride 1 within a window of 16), per-window
    minimum hash selected as the fingerprint — identical docs share all
    fingerprints, near-identical share most.

    fast=False hashes with md5 (DuckDB-mirrorable, the oracle-checked
    path). fast=True hashes with xxhash64 (VERDICT r2 #6): the
    dominant exploded relation carries an 8-byte long instead of a
    32-char hex string — no hex materialization, a much cheaper hash,
    and narrower partial-agg/shuffle rows; DuckDB has no xxhash64, so
    this is the rows-only scale path whose winnowing semantics are
    pinned against the md5 variant by tests/test_winnow_scale.py."""
    pos = F.explode(
        F.sequence(F.lit(1), F.greatest(F.length("text") - 7, F.lit(1)),
                   F.lit(1))
    ).alias("i")
    gram = F.expr("substring(text, i, 8)")
    h = F.xxhash64(gram) if fast else F.md5(gram)
    grams = d.select("doc_id", pos, "text").select(
        "doc_id",
        # explicit floor: int/int is double in both engines but a bare
        # CAST rounds half-even in DuckDB while Spark truncates
        F.floor((F.col("i") - 1) / 16).cast("long").alias("win"),
        h.alias("h"),
    )
    return grams.groupBy("doc_id", "win").agg(F.min("h").alias("fp"))


def _winnow_census(fps: DataFrame) -> DataFrame:
    per_doc = fps.groupBy("doc_id").agg(
        F.countDistinct("fp").cast("long").alias("n_fp")
    )
    shared = (
        fps.groupBy("fp").agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .agg(F.count("*").cast("long").alias("n_shared_fp"))
    )
    return (
        per_doc.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("n_fp"), 4).alias("avg_fp_per_doc"),
        )
        .crossJoin(shared)
    )


def q_fingerprint_winnow(spark, sf_dir):
    """Winnowing census, md5 fingerprints (DuckDB-oracle-checked):
    distinct fingerprints per doc + global collision count."""
    return _winnow_census(
        winnow_fps(_docs(spark, sf_dir).select("doc_id", "text"))
    )


def q_fingerprint_winnow_fast(spark, sf_dir):
    """Winnowing census on the xxhash64 scale path (see winnow_fps) —
    the plan a 100 TB run should use; rows-only driver check (DuckDB
    cannot mirror xxhash64), semantics pinned vs the md5 variant in
    tests/test_winnow_scale.py."""
    return _winnow_census(
        winnow_fps(_docs(spark, sf_dir).select("doc_id", "text"), fast=True)
    )


def q_scale_fast_variants(spark, sf_dir):
    """One driver entry bundling the THREE xxhash64 scale variants —
    minhash bands, winnowing fingerprints, 64-bit SimHash Hamming pairs
    — as (variant, stat, value) summary rows.

    Why bundled: the correctness driver records at most 50 queries per
    round (r3 registered 51 → 50 rows recorded), so the fast twins
    share one rows-only entry instead of three (VERDICT r3 #1:
    consolidate explicitly, not by silent truncation). Each variant
    keeps its full operator (q_dedup_minhash_fast,
    q_fingerprint_winnow_fast, q_simhash_hamming_pairs_fast) and its
    own semantics pin against the oracle-checked md5 twin
    (tests/test_winnow_scale.py, tests/test_simhash_scale.py).

    r8: left the no_oracle set via the materialization pattern. DuckDB
    cannot compute xxhash64, but everything DOWNSTREAM of the hash is
    relational — the bundle writes the three hash relations (minhash
    per-doc signatures, winnow fingerprints, simhash longs) to
    artifacts/oracle/fastvar_*.parquet and the oracle replays the band
    census, the winnow census, and the full pigeonhole band join +
    bit_count(xor) Hamming verify from them. The hash step itself
    stays pinned by the md5-twin tests."""
    mh_rel = _minhash_per_doc_fast(spark, sf_dir)
    wf_rel = winnow_fps(
        _docs(spark, sf_dir).select("doc_id", "text"), fast=True
    )
    sh_rel = _simhash_sigs_fast(spark, sf_dir)
    rels = {}
    for name, rel in (("minhash", mh_rel), ("winnow", wf_rel),
                      ("simhash", sh_rel)):
        path = f"{_ORACLE_ART}/fastvar_{name}.parquet"
        _write_oracle_parquet(rel, path)
        rels[name] = spark.read.parquet(path)
    mh = _minhash_band_census(rels["minhash"]).select(
        F.lit("minhash_xxh64").alias("variant"),
        F.explode(F.array(
            F.struct(
                F.concat(F.lit("band"), F.col("band").cast("string"),
                         F.lit("_buckets")).alias("stat"),
                F.col("n_buckets").cast("double").alias("value")),
            F.struct(
                F.concat(F.lit("band"), F.col("band").cast("string"),
                         F.lit("_collided")).alias("stat"),
                F.col("n_collided_docs").cast("double").alias("value")),
        )).alias("s"),
    ).select("variant", "s.stat", "s.value")
    wf = _winnow_census(rels["winnow"]).select(
        F.lit("winnow_xxh64").alias("variant"),
        F.explode(F.array(
            F.struct(F.lit("n_docs").alias("stat"),
                     F.col("n_docs").cast("double").alias("value")),
            F.struct(F.lit("avg_fp_per_doc").alias("stat"),
                     F.col("avg_fp_per_doc").cast("double").alias("value")),
            F.struct(F.lit("n_shared_fp").alias("stat"),
                     F.col("n_shared_fp").cast("double").alias("value")),
        )).alias("s"),
    ).select("variant", "s.stat", "s.value")
    sp = (
        _simhash_pairs64(rels["simhash"])
        .agg(
            F.count("*").alias("n_pairs"),
            F.coalesce(F.max("hamming"), F.lit(-1)).alias("max_hamming"),
        )
        .select(
            F.lit("simhash64_xxh64").alias("variant"),
            F.explode(F.array(
                F.struct(F.lit("n_pairs").alias("stat"),
                         F.col("n_pairs").cast("double").alias("value")),
                F.struct(F.lit("max_hamming").alias("stat"),
                         F.col("max_hamming").cast("double").alias("value")),
            )).alias("s"),
        )
        .select("variant", "s.stat", "s.value")
    )
    return mh.unionByName(wf).unionByName(sp)


def q_url_canonical_dedup(spark, sf_dir):
    """URL canonicalization dedup (web-crawl staple: the same page is
    fetched as http/https, with/without tracking params and trailing
    slash). Variant urls are synthesized deterministically from doc_id,
    then canonicalized — lowercase host, scheme fold to https, strip
    utm_* params and trailing slash — and collision classes counted.
    All native string expressions; the canonical key is what a 100 TB
    crawl dedups on before any content hashing."""
    d = _docs(spark, sf_dir).select("doc_id")
    raw = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https://"))
        .otherwise(F.lit("http://")),
        F.when(F.col("doc_id") % 4 < 2, F.lit("WWW")).otherwise(F.lit("www")),
        F.lit(".example.com/doc/"),
        (F.col("doc_id") / 3).cast("long").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("?utm_source=feed"))
        .otherwise(F.lit("")),
    )
    canon = F.regexp_replace(
        F.regexp_replace(F.lower(raw), r"\?utm_[^#]*$", ""),
        r"^http://", "https://",
    )
    canon = F.regexp_replace(canon, r"/$", "")
    return (
        d.select(canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count("*").alias("n_variants"))
        .groupBy("n_variants")
        .agg(F.count("*").cast("long").alias("n_urls"))
    )


def q_tpch_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shape pricing summary over lineitem: scan + filter +
    hash agg with map-side partial aggregation (the canonical
    columnar-agg benchmark shape; every expression codegen)."""
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc), 4).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 4)
            .alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


def q_tpch_shipping_priority(spark, sf_dir):
    """TPC-H Q3-shape: 3-way join (customer ⋈ orders ⋈ lineitem) with
    selective filters on both dimensions + agg + top-k. customer is
    broadcast (small side); orders⋈lineitem shuffles on the join key —
    the plan a 100 TB fact table wants."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderdate") < F.lit("1995-03-15")
    )
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") > F.lit("1995-03-15")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(
            o.join(F.broadcast(c),
                   F.col("o_custkey") == F.col("c_custkey"))
            .select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue",
                F.col("o_orderdate").cast("string").alias("o_orderdate"),
                "o_orderpriority")
    )


def q_gopher_repetition(spark, sf_dir):
    """Gopher-style repetition metrics (Rae et al. 2021 §A1.1 quality
    heuristics, the training-data filter family): per doc, the most
    frequent word's share of all words and the duplicate word-bigram
    fraction; docs exceeding either threshold are flagged. All-native
    columnar expressions — no UDF, whole-stage codegen.

    The ``doc_id < 100`` filter bounds the CHECK output (oracle
    tractability — it pushes to the parquet scan, see
    tests/test_plan_quality.py), not the operator: the metrics are
    per-row expressions that run uncapped at corpus scale (VERDICT r3
    #7)."""
    d = _docs(spark, sf_dir).select("doc_id", "text").filter(
        F.col("doc_id") < 100
    )
    words = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda w: w != ""
    )
    d = d.select("doc_id", words.alias("w")).filter(F.size("w") >= 2)
    grams = F.expr(
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1]))"
    )
    d = d.withColumn(
        "dup2_frac",
        F.round(
            1.0 - F.size(F.array_distinct(grams)) / F.size(grams), 4
        ),
    )
    top = (
        d.select("doc_id", F.explode("w").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg((F.max("c") / F.sum("c")).alias("tf"))
        .select("doc_id", F.round("tf", 4).alias("top_word_frac"))
    )
    return (
        d.select("doc_id", "dup2_frac")
        .join(top, "doc_id")
        .select(
            "doc_id",
            "top_word_frac",
            "dup2_frac",
            (
                (F.col("top_word_frac") > 0.2) | (F.col("dup2_frac") > 0.4)
            ).alias("flagged"),
        )
    )


def q_domain_filter(spark, sf_dir):
    """Blocklist filtering as a broadcast LEFT ANTI join — the shape a
    url/domain blocklist takes at 100 TB (blocklist broadcast to every
    executor, no shuffle of the big side). Census of surviving docs per
    source."""
    block = spark.createDataFrame(
        [("src0",), ("src3",)], "source string"
    )
    return (
        _docs(spark, sf_dir)
        .join(F.broadcast(block), "source", "left_anti")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def q_length_percentiles(spark, sf_dir):
    """Exact interpolated length percentiles over the corpus (scan +
    one aggregate). Both engines use linear interpolation (Spark
    percentile ≡ DuckDB quantile_cont)."""
    pct = F.percentile(F.length("text"), F.lit([0.25, 0.5, 0.9, 0.99]))
    return _docs(spark, sf_dir).agg(
        F.round(pct[0], 4).alias("p25"),
        F.round(pct[1], 4).alias("p50"),
        F.round(pct[2], 4).alias("p90"),
        F.round(pct[3], 4).alias("p99"),
        F.count("*").cast("long").alias("n_docs"),
    )


def q_max_label_id(spark, sf_dir):
    """W2 (model.ipynb cell 8, synth_checks.ipynb cell 10): label-id
    bound sanity agg. Per doc, the max BILOU label id implied by the
    regex detector's hits (U-EMAIL/U-PHONE/U-SSN ids from the 37-label
    space, config_and_labels.py:38-45); max + census over the corpus."""
    from pii_spark.config import LABEL2ID

    u_email = LABEL2ID["U-EMAIL"]   # 4
    u_phone = LABEL2ID["U-PHONE"]   # 8
    u_ssn = LABEL2ID["U-SSN"]       # 12
    per_doc = F.greatest(
        F.when(F.col("text").rlike(_EMAIL_RE), u_email).otherwise(0),
        F.when(F.col("text").rlike(_PHONE_RE), u_phone).otherwise(0),
        F.when(F.col("text").rlike(_SSN_RE), u_ssn).otherwise(0),
    )
    return (
        _docs(spark, sf_dir)
        .select(per_doc.alias("doc_max"))
        .agg(
            F.max("doc_max").cast("long").alias("max_label_id"),
            F.sum((F.col("doc_max") > 0).cast("long")).cast("long")
            .alias("n_docs_with_entity"),
        )
    )


def q_over_under_prediction(spark, sf_dir):
    """Over/under-prediction totals (model_evaluation.py:346-352): the
    stopword language-ID predictor's positive count vs the true lang
    column — sum(true), sum(pred), difference, ratio."""
    hits = F.size(
        F.regexp_extract_all(F.lower(F.col("text")),
                             F.lit(rf"\b{_STOPWORDS}\b"), F.lit(0))
    )
    return _docs(spark, sf_dir).agg(
        F.sum((F.col("lang") == "en").cast("long")).cast("long")
        .alias("n_true"),
        F.sum((hits >= 3).cast("long")).cast("long").alias("n_pred"),
        (F.sum((hits >= 3).cast("long"))
         - F.sum((F.col("lang") == "en").cast("long"))).cast("long")
        .alias("over_prediction"),
        F.round(
            F.sum((hits >= 3).cast("long"))
            / F.sum((F.col("lang") == "en").cast("long")), 4
        ).alias("pred_ratio"),
    )


def q_rollup_lang_source(spark, sf_dir):
    """Grouping-sets surface: lang × source rollup with subtotal and
    grand-total rows (the reference's per-class report + macro rollup,
    A6, as one relational op)."""
    return (
        _docs(spark, sf_dir)
        .rollup("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("<all>")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("<all>")).alias("source"),
            "n_docs", "avg_chars",
        )
    )


def q_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT surface over two cohorts: English docs vs
    long docs (>= 300 chars)."""
    d = _docs(spark, sf_dir)
    en = d.filter(F.col("lang") == "en").select("doc_id")
    long_ = d.filter(F.col("n_chars") >= 300).select("doc_id")
    return (
        en.intersect(long_).agg(F.count("*").cast("long").alias("n"))
        .select(F.lit("en_and_long").alias("cohort"), "n")
        .unionByName(
            en.exceptAll(long_).agg(F.count("*").cast("long").alias("n"))
            .select(F.lit("en_not_long").alias("cohort"), "n")
        )
        .unionByName(
            long_.exceptAll(en).agg(F.count("*").cast("long").alias("n"))
            .select(F.lit("long_not_en").alias("cohort"), "n")
        )
    )


def q_topk_longest(spark, sf_dir):  # W1: deterministic top-k
    return (
        _docs(spark, sf_dir)
        .orderBy(F.col("n_chars").desc(), F.col("doc_id"))
        .limit(10)
        .select("doc_id", "n_chars", "lang")
    )


# ---------------------------------------------------------------------------
# PII-pipeline queries (Arrow UDF stages — rows-only check, no SQL oracle)
# ---------------------------------------------------------------------------

def q_pii_pipeline(spark, sf_dir):
    """Flagship pipeline over the driver corpus. r8: left the
    no_oracle set via the materialization pattern (VERDICT r7 #6) —
    the fused-UDF signals (lang_pred, ppl, span count, and the
    UDF-derived lang_ok/ppl_ok gate bits) are written to
    ``artifacts/oracle/pipeline_signals.parquet``; DuckDB then
    RECOMPUTES the per-row C4/Gopher heuristics + toxicity gates from
    ``documents.text`` and replays the keep/drop decision chain with
    its reason precedence. Spark's native keep/drop_reason are also in
    the parquet (so this query reads its one pipeline run back rather
    than running it twice), but the oracle provably ignores them: its
    keep/drop_reason are derived from lang_ok/ppl_ok + its own
    heuristics — a per-row cross-engine check of the entire native
    decision chain, not a passthrough."""
    from pii_spark.config import QUALITY
    from pii_spark.spark.pipeline import run_pipeline

    corpus = _corpus_from_documents(spark, sf_dir)
    out = run_pipeline(corpus)
    sig = out.select(
        "url", "keep", "drop_reason", "lang_pred",
        F.round("ppl", 4).alias("ppl"),
        F.col("lang_pred").isin(*QUALITY["langs_kept"]).alias("lang_ok"),
        (F.col("ppl") <= F.lit(QUALITY["max_ppl"])).alias("ppl_ok"),
        F.size("spans").alias("n_spans"),
    )
    path = f"{_ORACLE_ART}/pipeline_signals.parquet"
    _write_oracle_parquet(sig, path)
    return spark.read.parquet(path).select(
        "url", "keep", "drop_reason", "lang_pred", "ppl", "n_spans")


# The two confusion queries materialize their decoded entity tuples
# here so DuckDB can replay the F1/confusion arithmetic in SQL
# (VERDICT r7 #6 — the UDF decode is pinned by the seqeval twin; the
# join/count arithmetic needs no UDF). Both relations are
# DETERMINISTIC and sf-independent (seeded generator / fixed fixture),
# so the committed artifacts match a fresh regeneration byte-for-byte
# in content — the oracle reads them whatever order the driver runs.
_ORACLE_ART = str(Path(__file__).resolve().parent / "artifacts" / "oracle")


def _write_oracle_parquet(rel, path: str) -> None:
    """coalesce(1) overwrite + STABLE filenames (r9, VERDICT r8 #2):
    Spark's UUID-suffixed part names made every harness run dirty the
    committed artifact tree even when the bytes were identical. After
    the write, the single part file is renamed to ``data.parquet`` and
    the crc/_SUCCESS markers are dropped, so identical relation content
    means an identical (git-clean) tree."""
    import glob as _glob
    import os as _os

    rel.coalesce(1).write.mode("overwrite").parquet(path)
    for p in {*_glob.glob(f"{path}/.*.crc"),
              *_glob.glob(f"{path}/_SUCCESS*")}:
        _os.remove(p)
    parts = sorted(_glob.glob(f"{path}/part-*"))
    if len(parts) == 1:
        _os.replace(parts[0], f"{path}/data.parquet")
        # canonicalize bytes: (a) parquet-mr serializes the footer's
        # encodings set in JVM-identity-hash order, which varies per
        # process; (b) any upstream shuffle makes intra-partition row
        # order depend on fetch arrival order. A pyarrow round-trip
        # (deterministic writer, schema + key-value metadata preserved)
        # with a total sort over all columns makes identical relation
        # CONTENT → identical bytes, which is what keeps the committed
        # artifact git-clean across harness runs. Every consumer of
        # these artifacts is order-insensitive (aggregates / joins /
        # order-insensitive driver compare), so the stored order is
        # free to be canonical.
        import pyarrow.parquet as _pq

        f = f"{path}/data.parquet"
        table = _pq.read_table(f)
        table = table.sort_by([(c, "ascending")
                               for c in table.column_names])
        _pq.write_table(table, f, compression="snappy")


def _materialize_entities(spark, truth, pred, name: str):
    from pii_spark.spark.metrics import entity_rows

    rel = (
        entity_rows(truth).withColumn("src", F.lit("t"))
        .unionByName(entity_rows(pred).withColumn("src", F.lit("p")))
    )
    path = f"{_ORACLE_ART}/{name}.parquet"
    _write_oracle_parquet(rel, path)
    return spark.read.parquet(path)


def _confusion_from_relation(rel):
    from pii_spark.spark.metrics import entity_confusion

    return entity_confusion(
        rel.filter(F.col("src") == "t").drop("src"),
        rel.filter(F.col("src") == "p").drop("src"),
    )


def q_pii_f1(spark, sf_dir):
    """Entity-level F1 vs generator ground truth on the synthetic PII
    corpus (the reference's evaluation protocol as Spark joins). The
    decoded (doc_id, label, t0, t1, src) tuples are materialized to
    ``artifacts/oracle/pii_entities.parquet`` and the confusion is
    computed FROM that relation — identically in DuckDB (r8: this
    query left the no_oracle set)."""
    from pii_spark.spark.gen_job import generate_full
    from pii_spark.spark.pipeline import run_pipeline

    full = generate_full(spark, 500).where("lang = 'en'").cache()
    truth = full.select("doc_id", "text", "spans")
    pred = (
        run_pipeline(full, with_doc_id=True)
        .select("doc_id", "spans")
        .join(full.select("doc_id", "text"), "doc_id")
    )
    rel = _materialize_entities(spark, truth, pred, "pii_entities")
    full.unpersist()
    return _confusion_from_relation(rel)


def q_eval_confusion(spark, sf_dir):
    """EP3 real-world-style eval (model_evaluation.py end to end) over
    the deterministic ai4privacy-shaped fixture: per-label TP/FP/FN
    entity confusion rows, computed from the materialized entity
    relation (``artifacts/oracle/eval_entities.parquet``) so DuckDB
    replays the arithmetic (r8: left the no_oracle set). Committed
    artifact from the same job: evaluation/evaluation_results.json
    (see evaluation/COMPARISON.md)."""
    from pii_spark.spark.eval_fixture import eval_fixture_df
    from pii_spark.spark.evaljob import aligned_truth_pred

    truth, pred = aligned_truth_pred(eval_fixture_df(spark, 150),
                                     limit_n=150)
    rel = _materialize_entities(spark, truth, pred, "eval_entities")
    truth.unpersist()
    pred.unpersist()
    return _confusion_from_relation(rel).orderBy("label")


def q_kmeans_clusters(spark, sf_dir):
    """Distributed Lloyd's k-means + SemDeDup (Abbas et al. 2023) over
    the embeddings table. r8: left the no_oracle set via the
    materialization pattern — the ITERATIVE part (the Lloyd fit, the
    one step SQL cannot express) writes its converged centroids to
    ``artifacts/oracle/kmeans_centroids.parquet``, and DuckDB replays
    everything downstream of the fit from scratch: nearest-centroid
    assignment (argmin via window rank — the ann_ivf_topk float-
    portability rule), per-cluster census + inertia, and the full
    SemDeDup within-cluster cosine keep/drop rule.

    The corpus is the first 500 vectors plus exact-copy near-dups
    planted at every 25th id (id+100000) — the planted copies give the
    semdedup tier deterministic drops (cos ≈ 1, far from tau on both
    engines; organic max pairwise cos on this table is ~0.48, see the
    IVF recall note), while the base vectors prove the no-drop arm.

    Rows: part='cluster' (key=cluster, n=n_vecs, metric=inertia@3dp)
    + part='semdedup' (key=cluster, n=n_dropped, metric=n_kept)."""
    from pii_spark.spark.kmeans import _explode
    from pii_spark.spark.semdedup import semdedup

    base = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") < 500)
        .select("vec_id", "embedding")
    )
    dups = base.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    aug = base.unionByName(dups)
    # pairs="blas" puts the PRODUCTION pair engine (one gram matrix
    # per cluster task) under the oracle; DuckDB replays the exploded
    # cosine arithmetic, so a hash match certifies the two
    # formulations agree end-to-end (the join twin stays pinned by
    # tests/test_semdedup.py's equivalence fuzz)
    dec, cents = semdedup(aug, k=8, iters=5, tau=_SD_TAU, pairs="blas")
    path = f"{_ORACLE_ART}/kmeans_centroids.parquet"
    _write_oracle_parquet(cents.select("cluster", "i", "cv"), path)
    rcents = spark.read.parquet(path)
    sq = (
        _explode(aug)
        .join(dec.select("vec_id", "cluster"), "vec_id")
        .join(F.broadcast(rcents), ["cluster", "i"])
        .groupBy("vec_id", "cluster")
        .agg(F.sum((F.col("v") - F.col("cv")) ** 2).alias("sqdist"))
    )
    cl = sq.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("sqdist"), 3).alias("metric"),
    ).select(
        F.lit("cluster").alias("part"),
        F.col("cluster").cast("string").alias("key"), "n", "metric",
    )
    sd = dec.groupBy("cluster").agg(
        F.sum((~F.col("keep")).cast("long")).cast("long").alias("n"),
        F.sum(F.col("keep").cast("long")).cast("double").alias("metric"),
    ).select(
        F.lit("semdedup").alias("part"),
        F.col("cluster").cast("string").alias("key"), "n", "metric",
    )
    out = cl.unionByName(sd)
    rows = out.collect()
    schema = out.schema
    dec.unpersist()
    cents.unpersist()
    return spark.createDataFrame(rows, schema)


def q_media_features(spark, sf_dir):
    """Multimodal plumbing (VERDICT r1 #8): binary media column →
    mapInPandas decode → per-item features, BOTH decode paths on the
    driver path:

      * decoder='fake' — deterministic fake decode over the corpus's
        text-bytes payloads (the plumbing check: schema, Arrow batches,
        stability across partitionings);
      * decoder='real' — fake_decode=False over REAL uncompressed
        24-bpp BMP / binary PPM payloads generated deterministically
        per doc_id (VERDICT r3 #5: the r3 pure-numpy decoders run on
        the driver path, not just handcrafted-bytes pytest; sha/mean_px
        goldens pinned in tests/test_multimodal.py).

    r8: left the no_oracle set — the UDF outputs are materialized
    TOGETHER with the raw payload bytes
    (artifacts/oracle/media_features.parquet) and DuckDB recomputes
    n_bytes (octet_length) and sha (sha256 prefix) from the payload:
    the UDF's byte accounting and content hashing are cross-checked
    per row. mean_px/feat_dim remain decode outputs (passthrough —
    the decode itself is pinned by the multimodal goldens)."""
    from pii_spark.multimodal import (
        media_features,
        with_fake_media,
        with_synthetic_real_media,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text").filter(
        F.col("doc_id") < 200
    )
    f_in = with_fake_media(d)
    fake = media_features(f_in, fake_decode=True).join(
        f_in.select("doc_id", F.col("media.payload").alias("payload")),
        "doc_id",
    ).withColumn("decoder", F.lit("fake"))
    d2 = _docs(spark, sf_dir).select("doc_id").filter(
        (F.col("doc_id") >= 200) & (F.col("doc_id") < 250)
    )
    r_in = with_synthetic_real_media(d2)
    real = media_features(r_in, fake_decode=False).join(
        r_in.select("doc_id", F.col("media.payload").alias("payload")),
        "doc_id",
    ).withColumn("decoder", F.lit("real"))
    rel = fake.unionByName(real).select(
        "doc_id", "decoder", "payload", "n_bytes", "sha",
        F.round("mean_px", 4).alias("mean_px"),
        F.size("feat").alias("feat_dim"),
    )
    path = f"{_ORACLE_ART}/media_features.parquet"
    _write_oracle_parquet(rel, path)
    return spark.read.parquet(path).select(
        "doc_id", "decoder", "n_bytes", "sha", "mean_px", "feat_dim")


def q_synth_corpus(spark, sf_dir):
    """Distributed corpus generation (EP1): mix + span census.

    r8: left the no_oracle set — the generated per-doc relation
    (doc_id, kind, lang, n_spans) is materialized
    (artifacts/oracle/synth_docs.parquet; deterministic AND
    sf-independent, seeded generator) and DuckDB replays the census.
    The generation itself is pinned by the single-process twin
    (tests/test_independent_twins.py) and the grammar suite."""
    from pii_spark.spark.gen_job import generate_full

    rel = generate_full(spark, 600).select(
        "doc_id", "kind", "lang",
        F.size("spans").cast("long").alias("n_spans"),
    )
    path = f"{_ORACLE_ART}/synth_docs.parquet"
    _write_oracle_parquet(rel, path)
    return (
        spark.read.parquet(path)
        .groupBy("kind", "lang")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_spans").cast("long").alias("n_spans"))
    )


def q_reference_sanity(spark, sf_dir):
    """Bundle of the four near-trivial reference-sanity aggregates —
    label_map (M11/J2), union_cohorts (W3), deterministic_limit (X4),
    max_label_id (W2) — as aligned (probe, key, n, metric) rows.

    Why bundled: the correctness driver records at most 50 queries per
    round, and these four trivially-green slots are worth less than
    hash-checked rows for the r4 operator families (VERDICT r4 #1).
    Each component keeps its own function and full DuckDB twin; the
    bundle unions them, so all four stay rows+schema+hash checked."""
    lm = q_label_map(spark, sf_dir).select(
        F.lit("label_map").alias("probe"),
        F.col("category").alias("key"),
        F.col("n_events").cast("long").alias("n"),
        F.col("sum_value").cast("double").alias("metric"),
    )
    uc = q_union_cohorts(spark, sf_dir).select(
        F.lit("union_cohorts").alias("probe"),
        F.col("cohort").alias("key"),
        F.col("n_docs").cast("long").alias("n"),
        F.col("max_chars").cast("double").alias("metric"),
    )
    dl = q_deterministic_limit(spark, sf_dir).select(
        F.lit("deterministic_limit").alias("probe"),
        F.col("lang").alias("key"),
        F.col("n_docs").cast("long").alias("n"),
        F.lit(0.0).alias("metric"),
    )
    ml = q_max_label_id(spark, sf_dir).select(
        F.lit("max_label_id").alias("probe"),
        F.lit("corpus").alias("key"),
        F.col("n_docs_with_entity").cast("long").alias("n"),
        F.col("max_label_id").cast("double").alias("metric"),
    )
    return lm.unionByName(uc).unionByName(dl).unionByName(ml)


# md5-keyed permutation shared by the sampling query and its oracle:
# the production path is xxhash64 (pii_spark/spark/sampling.py); the
# driver row swaps in this DuckDB-replicable key to hash-check the
# operator LOGIC (permutation prefix / per-stratum window / bucketed
# budget cut) end to end.
_SAMPLE_KEY_SQL = "md5(concat(cast(doc_id as string), '_42'))"
_SAMPLE_BUDGET = 30_000  # chars; ~20% of sf0.01, scale-independent rule


def q_sampling(spark, sf_dir):
    """Deterministic sampling operators (pii_spark/spark/sampling.py)
    oracle-checked end to end: uniform prefix draw (40 docs),
    stratified per-lang draw (10/stratum), the bucketed token-budget
    draw (~30k chars on n_chars), and CCNet head/middle/tail
    bucketing (R65), unioned as (part, doc_id) membership rows — the
    oracle checks the exact sampled SETS and bucket assignments, not
    just sizes."""
    from pii_spark.spark.sampling import (
        ccnet_buckets,
        mixture_sample,
        stratified_sample_n,
        token_budget_sample,
        uniform_sample_n,
    )

    d = _docs(spark, sf_dir)

    def md5_key(id_col, seed):
        return F.md5(
            F.concat(F.col(id_col).cast("string"), F.lit(f"_{seed}"))
        )

    uni = uniform_sample_n(d, 40, key_fn=md5_key).select(
        F.lit("uniform").alias("part"),
        F.col("doc_id").cast("long").alias("doc_id"),
    )
    # leading-two-hex-chars bucket of the md5 key: order-consistent
    # with the key string (hex digits sort '0'<'9'<'a'<'f' in ASCII),
    # which is the r6 bucketed-cut engine's correctness precondition —
    # the same bucket feeds the token-budget cut below
    bucket = F.expr(
        f"(instr('0123456789abcdef', substr({_SAMPLE_KEY_SQL}, 1, 1)) - 1)"
        f" * 16 + (instr('0123456789abcdef',"
        f" substr({_SAMPLE_KEY_SQL}, 2, 1)) - 1)"
    )
    strat = stratified_sample_n(
        d, "lang", 10, key_fn=md5_key, bucket_expr=bucket
    ).select(
        F.concat(F.lit("stratified_"), F.col("lang")).alias("part"),
        F.col("doc_id").cast("long").alias("doc_id"),
    )
    tb = token_budget_sample(
        d, _SAMPLE_BUDGET, "n_chars", bucket_bits=8, bucket_expr=bucket
    ).select(
        F.lit("token_budget").alias("part"),
        F.col("doc_id").cast("long").alias("doc_id"),
    )
    # CCNet head/middle/tail bucketing (R65): per-lang ntile over a
    # score column. n_chars stands in for the LM perplexity so DuckDB
    # replicates the bucketing LOGIC exactly (same swap pattern as the
    # md5 permutation key); production scores with quality/perplexity
    ccn = ccnet_buckets(d, "n_chars").select(
        F.concat(
            F.lit("ccnet_"), F.col("lang"), F.lit("_"),
            F.col("ccnet_bucket"),
        ).alias("part"),
        F.col("doc_id").cast("long").alias("doc_id"),
    )
    # mixture draw (source-reweighting): weights 5/3/2 over three
    # sources at total 37 → largest-remainder quotas 19/11/7, a pure
    # function of the weights, so the oracle encodes them as literals
    mix = mixture_sample(
        d, {"src0": 5, "src1": 3, "src2": 2}, 37, key_fn=md5_key,
        bucket_expr=bucket,
    ).select(
        F.concat(F.lit("mixture_"), F.col("source")).alias("part"),
        F.col("doc_id").cast("long").alias("doc_id"),
    )
    return (
        uni.unionByName(strat).unionByName(tb)
        .unionByName(ccn).unionByName(mix)
    )


def q_quality_report(spark, sf_dir):
    """One-call corpus quality report (spark/quality_report.py) — the
    single-scan rates row, fully DuckDB-oracleable: every rate is a
    plain aggregate over per-doc native expressions (VERDICT r4 #1)."""
    from pii_spark.spark.quality_report import quality_report

    return quality_report(_docs(spark, sf_dir))


def q_events_windows(spark, sf_dir):
    """Tumbling (hourly) + sliding (10-min/5-min) window aggregations
    in ONE registry slot (r6 consolidation, frees the slot for
    quality_classifier): the former events_hourly / events_sliding
    entries, labeled per variant and unioned — both window shapes stay
    fully hash-checked."""
    hourly = q_events_hourly(spark, sf_dir).select(
        F.lit("tumbling").alias("variant"),
        F.col("hour").cast("string").alias("window_start"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        "sum_value",
    )
    sliding = q_events_sliding(spark, sf_dir).select(
        F.lit("sliding").alias("variant"),
        "window_start",
        "event_type",
        "n_events",
        "sum_value",
    )
    return hourly.unionByName(sliding)


def q_quality_classifier(spark, sf_dir):
    """NB quality-classifier training census (SURVEY R80,
    pii_spark/quality/classifier.py): weak labels from the rule
    composition (stopword density ∧ no markup junk ∧ zero toxicity
    hits) over documents, then
    the one-pass bag-of-words sufficient statistics. The oracle hash
    carries the whole distributed training pass — weak labeling,
    tokenization, md5 feature keys, per-class occurrence census — as
    INTEGERS (no cross-engine float-summation hazard; the float
    scoring pass is pinned by tests/test_classifier.py instead).
    Features below 3 total occurrences collapse into one tail row to
    bound the check size; a label-census arm pins the weak labeler.

    A fourth 'score' arm (r7, VERDICT r6 #8) puts the full
    train→SCORE path in the hash: per-feature llr quantized to
    floor(1e6 * llr) BIGINTs, summed per doc as integers — the
    classifier.score_quality_nb_int fixed-point twin, replicated in
    the SQL below (n_pos carries the integer score, n_neg the token
    count)."""
    from pii_spark.quality.classifier import (
        score_quality_nb_int,
        train_quality_nb,
        weak_labels,
    )

    d = weak_labels(_docs(spark, sf_dir))
    counts = train_quality_nb(d, hashed=False)
    scores = score_quality_nb_int(
        _docs(spark, sf_dir), counts, hashed=False
    ).select(
        F.lit("score").alias("part"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("score_int").alias("n_pos"),
        F.col("n_tokens").alias("n_neg"),
    )
    big = counts.filter(F.col("n_pos") + F.col("n_neg") >= 3).select(
        F.lit("feature").alias("part"),
        F.col("feature").alias("key"),
        "n_pos",
        "n_neg",
    )
    tail = counts.filter(F.col("n_pos") + F.col("n_neg") < 3).agg(
        F.lit("tail").alias("part"),
        F.lit("lt3").alias("key"),
        F.coalesce(F.sum("n_pos"), F.lit(0)).cast("long").alias("n_pos"),
        F.coalesce(F.sum("n_neg"), F.lit(0)).cast("long").alias("n_neg"),
    )
    labels = d.groupBy("label").agg(
        F.count("*").cast("long").alias("n_pos")
    ).select(
        F.lit("labels").alias("part"),
        F.col("label").cast("string").alias("key"),
        "n_pos",
        F.lit(0).cast("long").alias("n_neg"),
    )
    return (
        big.unionByName(tail).unionByName(labels).unionByName(scores)
    )


def q_sketch_decontam(spark, sf_dir):
    """Heavy-hitters sketch + benchmark decontamination, bundled as
    (part, key, n) rows.

    * heavy_hitters over `source` with capacity ≥ distinct sources:
      the space-saving merge is EXACT in that regime (no evictions →
      err 0, thresholds 0), so lower == upper == true count and DuckDB
      checks both bounds against plain GROUP BY counts — the sketch's
      exactness contract, driver-checked.
    * decontaminate with corpus = documents, benchmark = every 50th
      doc, md5 fingerprints (hash_fn swap; xxhash64 is the scale
      path): per-doc shared-fingerprint counts with the contaminated
      flag encoded in the part name."""
    from pii_spark.spark.decontam import decontaminate
    from pii_spark.spark.sketches import heavy_hitters

    d = _docs(spark, sf_dir)
    hh = heavy_hitters(d, "source", k=64, capacity=64)
    hh_df = spark.createDataFrame(
        [("hh_lower", item, int(lo)) for item, lo, up in hh]
        + [("hh_upper", item, int(up)) for item, lo, up in hh],
        "part string, key string, n long",
    )
    bench = d.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    dec = decontaminate(
        d.select("doc_id", "text"), bench, hash_fn=F.md5
    ).select(
        F.when(F.col("contaminated"), "decontam_contaminated")
        .otherwise("decontam_clean").alias("part"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("n_shared_fp").cast("long").alias("n"),
    )
    return hh_df.unionByName(dec)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # EXACTLY 50 entries: the correctness driver records at most 50
    # queries per round (r1: 27/27, r2: 40/40, r3: 50 of 51 — the 51st,
    # synth_corpus, silently got no row). Consolidations that hold the
    # cap: token_count carries both token modes, scale_fast_variants
    # bundles the three xxhash64 twins, reference_sanity bundles four
    # near-trivial aggregates (label_map, union_cohorts,
    # deterministic_limit, max_label_id — each still fully
    # hash-checked inside the bundle), freeing slots for the r4
    # families (sampling, quality_report, sketch_decontam); round 5
    # folds dedup_fingerprint into dedup_exact, freeing the slot for
    # substring_dedup.
    # tests/test_driver_contract.py pins len(queries()) <= 50.
    return {
        "lang_filter": q_lang_filter,
        "minlen_filter": q_minlen_filter,
        "length_analytics": q_length_analytics,
        "warc_extract": q_warc_extract,
        "url_score": q_url_score,
        "hash_split": q_hash_split,
        "synth_corpus": q_synth_corpus,
        "dedup_exact": q_dedup_exact,
        "substring_dedup": q_substring_dedup,
        "paragraph_dedup": q_paragraph_dedup,
        "dedup_minhash": q_dedup_minhash,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "dedup_simhash": q_dedup_simhash,
        "simhash_hamming_pairs": q_simhash_hamming_pairs,
        "scale_fast_variants": q_scale_fast_variants,
        "ann_cosine_topk": q_ann_cosine_both,
        "incremental_dedup": q_incremental_dedup,
        "dedup_embedding": q_dedup_embedding,
        "ann_lsh_bucket": q_ann_lsh_bucket,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_recall": q_ann_recall,
        "token_count": q_token_count,
        "langid_stopwords": q_langid_stopwords,
        "quality_heuristics": q_quality_heuristics,
        "html_extract": q_html_extract,
        "regex_scrub": q_regex_scrub,
        "regex_hit_counts": q_regex_hit_counts,
        "json_extract": q_json_extract,
        "reference_sanity": q_reference_sanity,
        "sampling": q_sampling,
        "quality_report": q_quality_report,
        "events_windows": q_events_windows,
        "quality_classifier": q_quality_classifier,
        "sessionize": q_sessionize,
        "fingerprint_winnow": q_fingerprint_winnow,
        "gopher_repetition": q_gopher_repetition,
        "tpch_pricing_summary": q_tpch_pricing_summary,
        "tpch_shipping_priority": q_tpch_shipping_priority,
        "domain_filter": q_domain_filter,
        "sketch_decontam": q_sketch_decontam,
        "over_under_prediction": q_over_under_prediction,
        "rollup_lang_source": q_rollup_lang_source,
        "set_ops": q_set_ops,
        "topk_longest": q_topk_longest,
        "pii_pipeline": q_pii_pipeline,
        "pii_f1": q_pii_f1,
        "eval_confusion": q_eval_confusion,
        "kmeans_clusters": q_kmeans_clusters,
        "media_features": q_media_features,
    }


# brute-force all-pairs Jaccard (the exactness oracle for the
# prefix-filtered Spark plan); also reused as the edge set of the
# dedup_clusters connected-components oracle
_NGRAM_JACCARD_SQL = """
            WITH toks AS (
              SELECT DISTINCT doc_id, w
              FROM (SELECT doc_id,
                           unnest(list_filter(
                               string_split_regex(lower(text), '[^a-z0-9]+'),
                               x -> x <> '')) AS w
                    FROM documents
                    WHERE lang = 'en')),
            sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
            pairs AS (
              SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
              FROM toks a JOIN toks b
                ON a.w = b.w AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT da, db,
                   round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard
            FROM pairs
            JOIN sizes sa ON sa.doc_id = da
            JOIN sizes sb ON sb.doc_id = db
            WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.6
        """


# DuckDB twin of _lsh_parts: identical md5-derived hyperplane signs,
# projections, and per-(vec_id, band) integer signatures.
_LSH_SQL_CTES = f"""signs AS (
              SELECT b, j, i,
                     CASE WHEN substr(md5(CAST(b AS VARCHAR) || '_'
                               || CAST(j AS VARCHAR) || '_'
                               || CAST(i AS VARCHAR)), 1, 1) >= '8'
                          THEN 1.0 ELSE -1.0 END AS s
              FROM (SELECT unnest(generate_series(0, {_LSH_BANDS - 1})) AS b),
                   (SELECT unnest(generate_series(0, {_LSH_BITS - 1})) AS j),
                   (SELECT unnest(generate_series(1, {_EMB_DIM})) AS i)),
            ex AS (
              SELECT vec_id,
                     generate_subscripts(embedding, 1) AS i,
                     CAST(unnest(embedding) AS DOUBLE) AS v
              FROM embeddings),
            proj AS (
              SELECT ex.vec_id, signs.b, signs.j, sum(signs.s * ex.v) AS p
              FROM ex JOIN signs ON ex.i = signs.i
              GROUP BY 1, 2, 3),
            sig AS (
              SELECT vec_id, b,
                     sum(CASE WHEN p >= 0 THEN CAST(pow(2, j) AS BIGINT)
                         ELSE 0 END) AS sig
              FROM proj GROUP BY 1, 2)"""


def oracle_sql() -> dict[str, str]:
    # interpolate label ids from the single source of truth so a
    # label-space reorder cannot desynchronize engine and oracle
    # (ADVICE r2: the r2 oracle hardcoded 4/8/12); same for the
    # toxicity lexicon/threshold (quality/toxicity.py, config.QUALITY)
    from pii_spark.config import LABEL2ID as _L2I
    from pii_spark.config import QUALITY as _Q
    from pii_spark.quality.gopher import THRESHOLDS as _GT
    from pii_spark.quality.toxicity import TOX_RE_W1 as _TOX_RE_W1
    from pii_spark.quality.toxicity import TOX_RE_W2 as _TOX_RE_W2
    from pii_spark.quality.classifier import (
        _EN_STOPWORDS_RE as _CLS_STOP_RE,
        _MIN_STOPWORD_HITS as _CLS_MIN_STOP,
    )
    from pii_spark.quality.urlscore import URL_SCORE_FLAG as _URL_FLAG
    from pii_spark.quality.urlscore import URL_W1 as _URL_W1
    from pii_spark.quality.urlscore import URL_W2 as _URL_W2

    _TOX_MAX = _Q["max_tox_score"]

    simhash_votes = ", ".join(
        "sum(CASE WHEN substr(h, {i}, 1) IN "
        "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v{j}"
        .format(i=i + 1, j=i)
        for i in range(16)
    )
    simhash_bits = " || ".join(
        f"CASE WHEN v{i} >= 0 THEN '1' ELSE '0' END" for i in range(16)
    )
    d = {
        "lang_filter": """
            SELECT source, count(*) AS n_docs,
                   round(avg(n_chars), 4) AS avg_chars
            FROM documents WHERE lang = 'en' GROUP BY source
        """,
        "minlen_filter": """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents WHERE length(text) >= 200 GROUP BY lang
        """,
        "length_analytics": """
            WITH s AS (
              SELECT CAST(count(*) AS DOUBLE) AS n,
                     round(avg(n_chars), 4) AS mean_chars,
                     round(quantile_cont(n_chars, 0.5), 4) AS median_chars,
                     CAST(min(n_chars) AS DOUBLE) AS min_chars,
                     CAST(max(n_chars) AS DOUBLE) AS max_chars,
                     round(stddev(n_chars), 4) AS std_chars
              FROM documents),
            stats AS (
              SELECT 'stats' AS probe, u.key, u.value
              FROM s, LATERAL (
                SELECT unnest(['n','mean_chars','median_chars',
                               'min_chars','max_chars','std_chars'])
                           AS key,
                       unnest([n, mean_chars, median_chars, min_chars,
                               max_chars, std_chars]) AS value) u),
            hist AS (
              SELECT 'histogram' AS probe,
                     CASE WHEN n_chars < 100 THEN 'lt100'
                          WHEN n_chars < 200 THEN '100-200'
                          WHEN n_chars < 400 THEN '200-400'
                          ELSE 'ge400' END AS key,
                     CAST(count(*) AS DOUBLE) AS value
              FROM documents GROUP BY 2),
            p AS (
              SELECT round(quantile_cont(length(text), 0.25), 4) AS p25,
                     round(quantile_cont(length(text), 0.5), 4) AS p50,
                     round(quantile_cont(length(text), 0.9), 4) AS p90,
                     round(quantile_cont(length(text), 0.99), 4) AS p99,
                     CAST(count(*) AS DOUBLE) AS n_docs
              FROM documents),
            pct AS (
              SELECT 'percentiles' AS probe, u.key, u.value
              FROM p, LATERAL (
                SELECT unnest(['p25','p50','p90','p99','n_docs'])
                           AS key,
                       unnest([p25, p50, p90, p99, n_docs]) AS value) u)
            SELECT * FROM stats UNION ALL SELECT * FROM hist
            UNION ALL SELECT * FROM pct
        """,
        "warc_extract": """
            WITH crlf AS (SELECT chr(13) || chr(10) AS c),
            rec AS (
              SELECT doc_id,
                     (CASE WHEN doc_id % 50 = 0
                           THEN 'WARC-Type: warcinfo' || c.c
                           WHEN doc_id % 3 = 1
                           THEN 'Warc-Type: response' || c.c
                                || 'Warc-Target-Uri: '
                                || 'https://w.example.com/'
                                || CAST(doc_id AS VARCHAR) || c.c
                           ELSE 'WARC-Type: response' || c.c
                                || 'WARC-Target-URI: '
                                || 'https://w.example.com/'
                                || CAST(doc_id AS VARCHAR) || c.c
                      END)
                     || 'WARC-Date: 2017-03-22T17:22:30Z' || c.c || c.c
                     || 'HTTP/1.1 200 OK' || c.c
                     || 'Content-Type: text/html' || c.c || c.c
                     || '<html><body><p>' || text
                     || '</p></body></html>' || c.c || c.c AS r,
                     c.c AS c
              FROM documents, crlf c),
            parsed AS (
              SELECT doc_id,
                     strpos(r, c || c) AS hdr_end, r, c
              FROM rec),
            hdr AS (
              SELECT doc_id,
                     substr(r, 1, hdr_end - 1) AS headers,
                     regexp_replace(substr(r, hdr_end + 4),
                                    '\\r\\n\\r\\n$', '') AS pay, c
              FROM parsed WHERE hdr_end > 0),
            fields AS (
              SELECT doc_id,
                     -- (?i): header names are case-insensitive in
                     -- lockstep with warc_record_exprs (VERDICT r5 #4)
                     regexp_extract(headers,
                         '(?i)WARC-Type: *([^\r\n]+)', 1) AS warc_type,
                     regexp_extract(headers,
                         '(?i)WARC-Target-URI: *([^\r\n]+)', 1) AS url,
                     CASE WHEN strpos(pay, c || c) > 0
                          THEN substr(pay, strpos(pay, c || c) + 4)
                     END AS body
              FROM hdr)
            SELECT CAST(doc_id AS BIGINT) AS doc_id, warc_type, url,
                   md5(body) AS body_md5
            FROM fields WHERE warc_type = 'response'
        """,
        "url_score": f"""
            WITH u AS (
              SELECT 'https://site' || CAST(doc_id % 7 AS VARCHAR)
                     || '.example.com/page/'
                     || CAST(doc_id AS VARCHAR)
                     || (CASE WHEN doc_id % 5 = 0
                              THEN '/free-pills-casino' ELSE '' END)
                     || (CASE WHEN doc_id % 11 = 0
                              THEN '?ref=xxx-adult' ELSE '' END)
                     || (CASE WHEN doc_id % 3 = 0
                              THEN '&q=discount' ELSE '' END) AS url
              FROM documents),
            -- separators normalized to spaces before \b, matching
            -- urlscore.URL_SEP_RE ('_' is a word char in RE2 too)
            h AS (
              SELECT len(regexp_extract_all(
                  regexp_replace(lower(url), '[-_/.?=&]', ' ', 'g'),
                  '\\b({'|'.join(_URL_W1)})\\b', 1))
                     AS hits_w1,
                     len(regexp_extract_all(
                  regexp_replace(lower(url), '[-_/.?=&]', ' ', 'g'),
                  '\\b({'|'.join(_URL_W2)})\\b', 1))
                     AS hits_w2
              FROM u),
            s AS (
              SELECT CAST(hits_w1 + 3 * hits_w2 AS BIGINT) AS score,
                     (hits_w1 + 3 * hits_w2) >= {_URL_FLAG} AS flagged,
                     CAST(hits_w1 AS BIGINT) AS hits_w1,
                     CAST(hits_w2 AS BIGINT) AS hits_w2
              FROM h)
            SELECT score, flagged, hits_w1, hits_w2,
                   CAST(count(*) AS BIGINT) AS n_urls
            FROM s GROUP BY 1, 2, 3, 4
        """,
        "hash_split": """
            WITH b AS (
              SELECT lang,
                     ((instr('0123456789abcdef',
                             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                    + (instr('0123456789abcdef',
                             substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 10
                     AS bucket
              FROM documents)
            SELECT CASE WHEN bucket < 8 THEN 'train'
                        WHEN bucket < 9 THEN 'val' ELSE 'test' END AS split,
                   count(*) AS n_docs,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
            FROM b GROUP BY 1
        """,
        "dedup_exact": """
            WITH exact AS (
              SELECT 'exact' AS probe, source AS key,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT)
                         AS metric
              FROM documents GROUP BY source),
            fp AS (
              SELECT substr(md5(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')),
                            1, 16) AS fp
              FROM documents),
            c AS (SELECT fp, count(*) AS m FROM fp GROUP BY fp),
            finger AS (
              SELECT 'fingerprint' AS probe, CAST(m AS VARCHAR) AS key,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(0 AS BIGINT) AS metric
              FROM c GROUP BY m),
            uraw AS (
              SELECT (CASE WHEN doc_id % 2 = 0 THEN 'https://'
                           ELSE 'http://' END)
                     || (CASE WHEN doc_id % 4 < 2 THEN 'WWW'
                              ELSE 'www' END)
                     || '.example.com/doc/'
                     || CAST(CAST(floor(doc_id / 3) AS BIGINT) AS VARCHAR)
                     || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
                     || (CASE WHEN doc_id % 5 = 0
                              THEN '?utm_source=feed' ELSE '' END) AS u
              FROM documents),
            ucanon AS (
              SELECT regexp_replace(
                       regexp_replace(
                         regexp_replace(lower(u), '\\?utm_[^#]*$', ''),
                         '^http://', 'https://'),
                       '/$', '') AS canonical_url
              FROM uraw),
            ucls AS (
              SELECT canonical_url, count(*) AS n_variants
              FROM ucanon GROUP BY canonical_url),
            urlc AS (
              SELECT 'url_canonical' AS probe,
                     CAST(n_variants AS VARCHAR) AS key,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(0 AS BIGINT) AS metric
              FROM ucls GROUP BY n_variants)
            SELECT * FROM exact UNION ALL SELECT * FROM finger
            UNION ALL SELECT * FROM urlc
        """,
        "substring_dedup": f"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(text,
                                             '[ \\t\\n\\x0b\\f\\r]+'),
                       w -> w <> '') AS tk
              FROM documents),
            g2 AS (
              SELECT doc_id,
                     unnest(range(0, greatest(len(tk) - {_SUBSTR_K} + 1,
                                              0))) AS s,
                     tk
              FROM toks),
            g3 AS (
              SELECT doc_id, s,
                     array_to_string(tk[s + 1 : s + {_SUBSTR_K}], ' ') AS g
              FROM g2),
            dup AS (SELECT g FROM g3 GROUP BY g HAVING count(*) > 1),
            cov AS (
              SELECT DISTINCT doc_id,
                     unnest(range(s, s + {_SUBSTR_K})) AS pos
              FROM g3 WHERE g IN (SELECT g FROM dup)),
            tok_rows AS (
              SELECT doc_id, unnest(tk) AS tok,
                     unnest(range(0, len(tk))) AS pos
              FROM toks),
            kept AS (
              SELECT t.doc_id, t.tok, t.pos
              FROM tok_rows t LEFT JOIN cov c
                ON t.doc_id = c.doc_id AND t.pos = c.pos
              WHERE c.pos IS NULL),
            agg AS (
              SELECT doc_id,
                     string_agg(tok, ' ' ORDER BY pos) AS cleaned_text,
                     count(*) AS n_kept
              FROM kept GROUP BY doc_id),
            per_doc AS (
              SELECT b.doc_id,
                     coalesce(a.cleaned_text, '') AS cleaned_text,
                     CAST(len(b.tk) AS BIGINT) AS n_tokens,
                     CAST(len(b.tk) - coalesce(a.n_kept, 0) AS BIGINT)
                         AS n_removed_tokens
              FROM toks b LEFT JOIN agg a ON b.doc_id = a.doc_id),
            touched AS (
              SELECT doc_id, md5(cleaned_text) AS cleaned_md5, n_tokens,
                     n_removed_tokens,
                     round(n_removed_tokens /
                           greatest(n_tokens, 1), 4) AS frac_removed
              FROM per_doc WHERE n_removed_tokens > 0),
            totals AS (
              SELECT CAST(-1 AS BIGINT) AS doc_id,
                     'corpus' AS cleaned_md5,
                     CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                     CAST(sum(n_removed_tokens) AS BIGINT)
                         AS n_removed_tokens,
                     round(sum(n_removed_tokens) / sum(n_tokens), 4)
                         AS frac_removed
              FROM per_doc)
            SELECT * FROM touched UNION ALL SELECT * FROM totals
        """,
        "paragraph_dedup": """
            WITH n AS (SELECT count(*) AS n FROM documents),
            pages AS (
              SELECT p.doc_id,
                     string_agg(d.text, chr(10) ORDER BY k.k) AS text
              FROM documents p,
                   (SELECT unnest([0, 1, 2]) AS k) k,
                   documents d, n
              WHERE d.doc_id = (p.doc_id + k.k * 7) % n.n
              GROUP BY p.doc_id),
            sp AS (
              SELECT doc_id,
                     string_split(coalesce(text, ''), chr(10)) AS ps
              FROM pages),
            occ AS (
              SELECT doc_id, unnest(ps) AS para,
                     unnest(range(0, len(ps))) AS pos
              FROM sp),
            occ2 AS (
              SELECT doc_id, pos, para,
                     regexp_matches(para, '[^ \\t\\n\\x0b\\f\\r]')
                         AS content
              FROM occ),
            dup AS (
              SELECT para, min(doc_id) AS fid
              FROM occ2 WHERE content GROUP BY para
              HAVING count(*) > 1),
            dup2 AS (
              SELECT d.para, d.fid, min(o.pos) AS fpos
              FROM dup d JOIN occ2 o
                ON o.para = d.para AND o.doc_id = d.fid
              GROUP BY d.para, d.fid),
            kept AS (
              SELECT o.doc_id, o.pos, o.para
              FROM occ2 o LEFT JOIN dup2 d ON o.para = d.para
              WHERE d.para IS NULL
                 OR (o.doc_id = d.fid AND o.pos = d.fpos)),
            agg AS (
              SELECT doc_id,
                     string_agg(para, chr(10) ORDER BY pos)
                         AS cleaned_text,
                     count(*) AS n_kept
              FROM kept GROUP BY doc_id),
            per_doc AS (
              SELECT b.doc_id,
                     coalesce(a.cleaned_text, '') AS cleaned_text,
                     CAST(len(b.ps) AS BIGINT) AS n_paras,
                     CAST(len(b.ps) - coalesce(a.n_kept, 0) AS BIGINT)
                         AS n_removed_paras
              FROM sp b LEFT JOIN agg a ON b.doc_id = a.doc_id),
            touched AS (
              SELECT doc_id, md5(cleaned_text) AS cleaned_md5, n_paras,
                     n_removed_paras,
                     round(n_removed_paras /
                           greatest(n_paras, 1), 4) AS frac_removed
              FROM per_doc WHERE n_removed_paras > 0),
            totals AS (
              SELECT CAST(-1 AS BIGINT) AS doc_id,
                     'corpus' AS cleaned_md5,
                     CAST(sum(n_paras) AS BIGINT) AS n_paras,
                     CAST(sum(n_removed_paras) AS BIGINT)
                         AS n_removed_paras,
                     round(sum(n_removed_paras) / sum(n_paras), 4)
                         AS frac_removed
              FROM per_doc)
            SELECT * FROM touched UNION ALL SELECT * FROM totals
        """,
        "dedup_minhash": """
            WITH sh AS (
              SELECT doc_id, md5(substr(text, i, 12)) AS h
              FROM documents,
                   LATERAL (SELECT unnest(generate_series(
                       1, greatest(length(text) - 11, 1), 5)) AS i) t),
            mh AS (
              SELECT b.band, sh.doc_id,
                     min(substr(sh.h, 1 + 8 * b.band, 8)) AS mh
              FROM sh, (SELECT unnest([0,1,2,3]) AS band) b
              GROUP BY b.band, sh.doc_id),
            buckets AS (
              SELECT band, mh, count(*) AS bucket_size
              FROM mh GROUP BY band, mh)
            SELECT band,
                   CAST(count(*) AS BIGINT) AS n_buckets,
                   CAST(sum(CASE WHEN bucket_size > 1 THEN bucket_size
                            ELSE 0 END) AS BIGINT) AS n_collided_docs
            FROM buckets GROUP BY band
        """,
        # brute-force all-pairs formulation on purpose: the Spark side
        # uses exact prefix filtering, so identical output proves the
        # optimization lossless
        "dedup_ngram_jaccard": _NGRAM_JACCARD_SQL,
        # connected components: recursive-CTE reachability + min label,
        # a DIFFERENT fixpoint algorithm than Spark's iterative min-label
        # propagation — byte agreement is the correctness argument
        "dedup_clusters": f"""
            WITH RECURSIVE pairs AS ({_NGRAM_JACCARD_SQL}),
            e AS (
              SELECT da AS u, db AS v FROM pairs
              UNION
              SELECT db AS u, da AS v FROM pairs),
            nodes AS (SELECT DISTINCT u AS node FROM e),
            reach(a, b) AS (
              SELECT u, v FROM e
              UNION
              SELECT r.a, e.v FROM reach r JOIN e ON e.u = r.b),
            lab AS (
              SELECT n.node,
                     least(n.node, coalesce(min(r.b), n.node)) AS lbl
              FROM nodes n LEFT JOIN reach r ON r.a = n.node
              GROUP BY n.node)
            SELECT lbl AS canonical,
                   CAST(count(*) AS BIGINT) AS n_members
            FROM lab GROUP BY lbl ORDER BY lbl
        """,
        "dedup_simhash": f"""
            WITH toks AS (
              SELECT doc_id,
                     md5(unnest(list_filter(
                         string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> ''))) AS h
              FROM documents),
            votes AS (
              SELECT doc_id, {simhash_votes}
              FROM toks GROUP BY doc_id),
            sh AS (SELECT {simhash_bits} AS simhash FROM votes)
            SELECT simhash, count(*) AS n FROM sh
            GROUP BY simhash HAVING count(*) > 1
        """,
        # brute-force all-pairs formulation on purpose: the Spark side
        # uses exact pigeonhole band prefiltering, so identical output
        # is the losslessness proof (same pattern as ngram_jaccard)
        "simhash_hamming_pairs": f"""
            WITH toks AS (
              SELECT doc_id,
                     md5(unnest(list_filter(
                         string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> ''))) AS h
              FROM documents),
            votes AS (
              SELECT doc_id, {simhash_votes}
              FROM toks GROUP BY doc_id),
            sh AS (SELECT doc_id, {simhash_bits} AS simhash FROM votes),
            pairs AS (
              SELECT a.doc_id AS da, b.doc_id AS db,
                     CAST((
                       {" + ".join(
                           f"CASE WHEN substr(a.simhash, {i}, 1) <> "
                           f"substr(b.simhash, {i}, 1) THEN 1 ELSE 0 END"
                           for i in range(1, 17))}
                     ) AS BIGINT) AS hamming
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
            SELECT da, db, hamming FROM pairs WHERE hamming <= 3
        """,
        "ann_cosine_topk": """
            WITH e AS (
              SELECT vec_id,
                     CAST(unnest(embedding) AS DOUBLE) AS v,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings),
            q AS (SELECT i AS qi, v AS qv FROM e WHERE vec_id = 0),
            per AS (
              SELECT e.vec_id,
                     sum(e.v * q.qv) AS dot,
                     sqrt(sum(e.v * e.v)) AS na
              FROM e JOIN q ON e.i = q.qi
              WHERE e.vec_id <> 0 GROUP BY e.vec_id),
            qn AS (SELECT sqrt(sum(qv * qv)) AS nb FROM q)
            SELECT vec_id, round(dot / (na * nb), 4) AS cos
            FROM per, qn
            ORDER BY round(dot / (na * nb), 4) DESC, vec_id
            LIMIT 10
        """,
        "dedup_embedding": f"""
            WITH {_LSH_SQL_CTES}
            , cand AS (
              SELECT DISTINCT a.vec_id AS va, c.vec_id AS vb
              FROM sig a JOIN sig c
                ON a.b = c.b AND a.sig = c.sig AND a.vec_id < c.vec_id),
            pairs AS (
              SELECT va, vb, sum(x.v * y.v) AS dot,
                     sqrt(sum(x.v * x.v)) AS na,
                     sqrt(sum(y.v * y.v)) AS nb
              FROM cand
              JOIN ex x ON x.vec_id = va
              JOIN ex y ON y.vec_id = vb AND y.i = x.i
              GROUP BY 1, 2)
            SELECT va, vb, round(dot / (na * nb), 4) AS cos
            FROM pairs WHERE dot / (na * nb) >= {_COS_T}
        """,
        "ann_lsh_bucket": f"""
            WITH {_LSH_SQL_CTES}
            , qsig AS (SELECT b, sig AS qsig FROM sig WHERE vec_id = 0),
            cand AS (
              SELECT DISTINCT sig.vec_id
              FROM sig JOIN qsig ON sig.b = qsig.b AND sig.sig = qsig.qsig
              WHERE sig.vec_id <> 0),
            q AS (SELECT i AS qi, v AS qv FROM ex WHERE vec_id = 0),
            per AS (
              SELECT ex.vec_id,
                     sum(ex.v * q.qv) AS dot,
                     sqrt(sum(ex.v * ex.v)) AS na
              FROM cand JOIN ex ON ex.vec_id = cand.vec_id
              JOIN q ON ex.i = q.qi
              GROUP BY ex.vec_id),
            qn AS (SELECT sqrt(sum(qv * qv)) AS nb FROM q)
            SELECT vec_id, round(dot / (na * nb), 4) AS cos
            FROM per, qn
            ORDER BY round(dot / (na * nb), 4) DESC, vec_id
            LIMIT 10
        """,
        "ann_ivf_topk": f"""
            WITH ex AS (
              SELECT vec_id, label,
                     generate_subscripts(embedding, 1) AS i,
                     CAST(unnest(embedding) AS DOUBLE) AS v
              FROM embeddings),
            cent AS (
              SELECT label AS c, i, avg(v) AS cv
              FROM ex GROUP BY 1, 2),
            score AS (
              SELECT ex.vec_id, cent.c,
                     sum(ex.v * cent.cv)
                       / (sqrt(sum(ex.v * ex.v)) * sqrt(sum(cent.cv * cent.cv)))
                       AS ccos
              FROM ex JOIN cent ON ex.i = cent.i
              GROUP BY 1, 2),
            assign AS (
              SELECT vec_id, c FROM (
                SELECT vec_id, c,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY ccos DESC, c) AS rn
                FROM score) WHERE rn = 1),
            qcells AS (
              SELECT c FROM score WHERE vec_id = 0
              ORDER BY ccos DESC, c LIMIT {_IVF_NPROBE}),
            cand AS (
              SELECT DISTINCT assign.vec_id
              FROM assign JOIN qcells ON assign.c = qcells.c
              WHERE assign.vec_id <> 0),
            q AS (SELECT i AS qi, v AS qv FROM ex WHERE vec_id = 0),
            per AS (
              SELECT ex.vec_id,
                     sum(ex.v * q.qv) AS dot,
                     sqrt(sum(ex.v * ex.v)) AS na
              FROM cand JOIN ex ON ex.vec_id = cand.vec_id
              JOIN q ON ex.i = q.qi
              GROUP BY ex.vec_id),
            qn AS (SELECT sqrt(sum(qv * qv)) AS nb FROM q)
            SELECT vec_id, round(dot / (na * nb), 4) AS cos
            FROM per, qn
            ORDER BY round(dot / (na * nb), 4) DESC, vec_id
            LIMIT 10
        """,
        "token_count": f"""
            WITH s AS (
              SELECT doc_id, lang,
                     len(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'),
                                     x -> x <> '')) AS ws,
                     len(regexp_extract_all(text,
                         '{_BPE_RE.replace("'", "''")}'))
                   - len(regexp_extract_all(text, '[ \\t\\n\\x0b\\f\\r]+')) AS ntok
              FROM documents)
            SELECT 'tokens' AS part, lang AS key,
                   CAST(sum(ws) AS BIGINT) AS na,
                   CAST(sum(ntok) AS BIGINT) AS nb,
                   round(avg(ws), 4) AS xa,
                   round(avg(ntok), 4) AS xb
            FROM s GROUP BY lang
            UNION ALL
            -- packing arm (R87): global prefix-sum offsets + 512-token
            -- chunk ids, integer-exact (Spark side is the two-phase
            -- distributed prefix sum; this is the plain window cumsum).
            -- r8: counts are the tokenizer-style BPE-regex census
            -- (ntok) through the n_tokens_col path, not whitespace
            SELECT 'packing', CAST(doc_id AS VARCHAR),
                   CAST(sum(ntok) OVER (ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - ntok AS BIGINT),
                   CAST(ntok AS BIGINT),
                   CAST((sum(ntok) OVER (ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - ntok) // 512
                        AS DOUBLE),
                   CAST((sum(ntok) OVER (ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - ntok
                        + greatest(ntok, 1) - 1) // 512 AS DOUBLE)
            FROM s
        """,
        # pii_pipeline (r8): the fused-UDF signals are materialized by
        # the query; DuckDB recomputes the per-row heuristic + toxicity
        # gates from documents.text (the same expression twins the
        # quality_report oracle uses, per-row instead of averaged) and
        # replays keep/drop_reason precedence. lang_ok/ppl_ok are the
        # only bits taken from the parquet — the native decision chain
        # is recomputed, never passed through.
        "pii_pipeline": f"""
            WITH sig AS (SELECT url, lang_pred, ppl, lang_ok, ppl_ok,
                                n_spans
                         FROM read_parquet(
                   '{_ORACLE_ART}/pipeline_signals.parquet/*.parquet')),
            m AS (
              SELECT 'https://' || source || '.example.com/doc/'
                     || CAST(doc_id AS VARCHAR) AS url,
                     greatest(length(regexp_replace(txt,
                         '[ \\t\\n\\x0b\\f\\r]', '', 'g')), 1) AS n_ns,
                     length(regexp_replace(txt, '[ \\t\\n\\x0b\\f\\r]',
                                           '', 'g')) AS n_ns_raw,
                     len(list_filter(string_split_regex(txt,
                         '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> ''))
                         AS n_words,
                     length(regexp_replace(
                         regexp_replace(txt, '[ \\t\\n\\x0b\\f\\r]', '', 'g'),
                         '[^\\p{{L}}]', '', 'g')) AS n_alpha,
                     length(regexp_replace(
                         regexp_replace(txt, '[ \\t\\n\\x0b\\f\\r]', '', 'g'),
                         '[^\\p{{Nd}}]', '', 'g')) AS n_digit,
                     CASE WHEN len(list_filter(
                              string_split_regex(txt, '[ \\t\\n\\x0b\\f\\r]+'),
                              x -> x <> '')) > 0
                          THEN 1.0 - len(list_distinct(list_transform(
                              list_filter(
                                  string_split_regex(txt,
                                      '[ \\t\\n\\x0b\\f\\r]+'),
                                  x -> x <> ''),
                              x -> lower(x)))) * 1.0
                            / len(list_filter(
                                  string_split_regex(txt,
                                      '[ \\t\\n\\x0b\\f\\r]+'),
                                  x -> x <> ''))
                          ELSE 1.0 END AS rep,
                     len(regexp_extract_all(lower(txt), '{_TOX_RE_W1}'))
                   + 2 * len(regexp_extract_all(lower(txt),
                                                '{_TOX_RE_W2}'))
                         AS tox_hits
              FROM (SELECT doc_id, source, coalesce(text, '') AS txt
                    FROM documents)),
            d AS (
              SELECT url,
                     (n_words BETWEEN {_Q["min_words"]}
                                  AND {_Q["max_words"]}
                      AND (CASE WHEN n_words > 0
                                THEN n_ns_raw * 1.0 / n_words
                                ELSE 0.0 END)
                          BETWEEN {_Q["min_mean_word_len"]}
                              AND {_Q["max_mean_word_len"]}
                      AND (n_ns - n_alpha - n_digit) * 1.0 / n_ns
                          <= {_Q["max_symbol_ratio"]}
                      AND rep <= {_Q["max_rep_ratio"]}
                      AND n_digit * 1.0 / n_ns
                          <= {_Q["max_digit_ratio"]}
                      AND n_alpha * 1.0 / n_ns
                          >= {_Q["min_alpha_ratio"]}) AS heur_ok,
                     tox_hits * 1.0 / greatest(n_words, 1)
                         <= {_TOX_MAX} AS tox_ok
              FROM m)
            SELECT s.url,
                   s.lang_ok AND s.ppl_ok AND d.heur_ok AND d.tox_ok
                       AS keep,
                   CASE WHEN NOT s.lang_ok THEN 'langid'
                        WHEN NOT s.ppl_ok THEN 'perplexity'
                        WHEN NOT d.heur_ok THEN 'heuristics'
                        WHEN NOT d.tox_ok THEN 'toxicity'
                        END AS drop_reason,
                   s.lang_pred, s.ppl, s.n_spans
            FROM sig s JOIN d USING (url)
        """,
        # synth_corpus (r8): the seeded generation materializes its
        # per-doc relation (deterministic AND sf-independent); the
        # census is replayed here. Generation itself is pinned by the
        # single-process twin test.
        "synth_corpus": f"""
            SELECT kind, lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_spans) AS BIGINT) AS n_spans
            FROM read_parquet(
                 '{_ORACLE_ART}/synth_docs.parquet/*.parquet')
            GROUP BY kind, lang
        """,
        # media_features (r8): n_bytes is recomputed from the
        # materialized payload for every row; sha is recomputed for
        # the fake arm (utf-8 payloads — DuckDB 1.0 sha256 takes only
        # VARCHAR, so the real arm's binary BMP/PPM sha stays a
        # passthrough, pinned instead by the multimodal goldens).
        "media_features": f"""
            SELECT doc_id, decoder,
                   CAST(octet_length(payload) AS INTEGER) AS n_bytes,
                   CASE WHEN decoder = 'fake'
                        THEN substr(sha256(CAST(payload AS VARCHAR)),
                                    1, 16)
                        ELSE sha END AS sha,
                   mean_px, feat_dim
            FROM read_parquet(
                 '{_ORACLE_ART}/media_features.parquet/*.parquet')
        """,
        # scale_fast_variants (r8): DuckDB has no xxhash64, but the
        # band census / winnow census / pigeonhole Hamming verify are
        # relational — replayed here from the hash relations the query
        # materializes. The arithmetic-vs-logical shift difference is
        # immaterial: (sig >> k) & 65535 extracts bits k..k+15 under
        # either shift semantics.
        "scale_fast_variants": f"""
            WITH mh AS (SELECT * FROM read_parquet(
                   '{_ORACLE_ART}/fastvar_minhash.parquet/*.parquet')),
            bands AS (
              SELECT 0 AS band, mh0 AS mh FROM mh UNION ALL
              SELECT 1, mh1 FROM mh UNION ALL
              SELECT 2, mh2 FROM mh UNION ALL
              SELECT 3, mh3 FROM mh),
            mcen AS (SELECT band, count(*) AS n_buckets,
                            sum(CASE WHEN c > 1 THEN c ELSE 0 END)
                                AS n_collided
                     FROM (SELECT band, mh, count(*) AS c
                           FROM bands GROUP BY 1, 2)
                     GROUP BY band),
            wf AS (SELECT * FROM read_parquet(
                   '{_ORACLE_ART}/fastvar_winnow.parquet/*.parquet')),
            wper AS (SELECT doc_id, count(DISTINCT fp) AS n_fp
                     FROM wf GROUP BY 1),
            wshared AS (SELECT count(*) AS n_shared FROM (
                SELECT fp FROM wf GROUP BY fp
                HAVING count(DISTINCT doc_id) > 1)),
            sh AS (SELECT * FROM read_parquet(
                   '{_ORACLE_ART}/fastvar_simhash.parquet/*.parquet')),
            sbanded AS (SELECT doc_id, sig, band,
                               ((sig >> (16 * band)) & 65535) AS bits
                        FROM sh,
                             (SELECT unnest([0, 1, 2, 3]) AS band)),
            cand AS (SELECT DISTINCT a.doc_id AS da, a.sig AS sa,
                                     b.doc_id AS db, b.sig AS sb
                     FROM sbanded a JOIN sbanded b
                       ON a.band = b.band AND a.bits = b.bits
                      AND a.doc_id < b.doc_id),
            spairs AS (SELECT bit_count(xor(sa, sb)) AS hamming
                       FROM cand
                       WHERE bit_count(xor(sa, sb)) <= 3)
            SELECT 'minhash_xxh64' AS variant,
                   'band' || CAST(band AS VARCHAR) || '_buckets' AS stat,
                   CAST(n_buckets AS DOUBLE) AS value FROM mcen
            UNION ALL
            SELECT 'minhash_xxh64',
                   'band' || CAST(band AS VARCHAR) || '_collided',
                   CAST(n_collided AS DOUBLE) FROM mcen
            UNION ALL
            SELECT 'winnow_xxh64', 'n_docs', CAST(count(*) AS DOUBLE)
            FROM wper
            UNION ALL
            SELECT 'winnow_xxh64', 'avg_fp_per_doc',
                   round(sum(n_fp) * 1.0 / count(*), 4) FROM wper
            UNION ALL
            SELECT 'winnow_xxh64', 'n_shared_fp',
                   CAST(n_shared AS DOUBLE) FROM wshared
            UNION ALL
            SELECT 'simhash64_xxh64', 'n_pairs',
                   CAST(count(*) AS DOUBLE) FROM spairs
            UNION ALL
            SELECT 'simhash64_xxh64', 'max_hamming',
                   CAST(coalesce(max(hamming), -1) AS DOUBLE)
            FROM spairs
        """,
        # kmeans_clusters (r8): the Lloyd fit (the only genuinely
        # iterative step) materializes its converged centroids; DuckDB
        # replays the ENTIRE downstream from scratch — nearest-centroid
        # assignment (window-rank argmin, never float-equality),
        # cluster census + inertia, and the SemDeDup within-cluster
        # cosine keep/drop rule over the planted exact-copy dups
        "kmeans_clusters": f"""
            WITH cents AS (SELECT cluster, i, cv FROM read_parquet(
                   '{_ORACLE_ART}/kmeans_centroids.parquet/*.parquet')),
            base AS (SELECT vec_id, embedding FROM embeddings
                     WHERE vec_id < 500),
            aug AS (SELECT vec_id, embedding FROM base
                    UNION ALL
                    SELECT vec_id + 100000, embedding FROM base
                    WHERE vec_id % 25 = 0),
            ex AS (SELECT vec_id,
                          generate_subscripts(embedding, 1) - 1 AS i,
                          CAST(unnest(embedding) AS DOUBLE) AS v
                   FROM aug),
            score AS (SELECT e.vec_id, c.cluster,
                             sum(c.cv * c.cv) - 2 * sum(e.v * c.cv)
                                 AS part
                      FROM ex e JOIN cents c ON e.i = c.i
                      GROUP BY 1, 2),
            assign AS (SELECT vec_id, cluster FROM (
                         SELECT vec_id, cluster,
                                row_number() OVER (PARTITION BY vec_id
                                    ORDER BY part, cluster) AS rn
                         FROM score) WHERE rn = 1),
            sq AS (SELECT e.vec_id, a.cluster,
                          sum((e.v - c.cv) * (e.v - c.cv)) AS sqdist
                   FROM ex e JOIN assign a USING (vec_id)
                   JOIN cents c ON c.cluster = a.cluster AND c.i = e.i
                   GROUP BY 1, 2),
            exc AS (SELECT e.vec_id, e.i, e.v, a.cluster
                    FROM ex e JOIN assign a USING (vec_id)),
            pair AS (SELECT l.vec_id AS u, r.vec_id AS w,
                            sum(l.v * r.v) AS dot,
                            sqrt(sum(l.v * l.v)) AS nu,
                            sqrt(sum(r.v * r.v)) AS nw
                     FROM exc l JOIN exc r
                       ON l.cluster = r.cluster AND l.i = r.i
                      AND l.vec_id < r.vec_id
                     GROUP BY 1, 2),
            dup AS (SELECT w FROM pair
                    WHERE dot / (nu * nw) >= {_SD_TAU}
                    GROUP BY w),
            dd AS (SELECT a.cluster,
                          sum(CASE WHEN d.w IS NOT NULL
                              THEN 1 ELSE 0 END) AS n_drop,
                          sum(CASE WHEN d.w IS NULL
                              THEN 1 ELSE 0 END) AS n_keep
                   FROM assign a LEFT JOIN dup d ON a.vec_id = d.w
                   GROUP BY 1)
            SELECT 'cluster' AS part, CAST(cluster AS VARCHAR) AS key,
                   CAST(count(*) AS BIGINT) AS n,
                   round(sum(sqdist), 3) AS metric
            FROM sq GROUP BY cluster
            UNION ALL
            SELECT 'semdedup', CAST(cluster AS VARCHAR),
                   CAST(n_drop AS BIGINT), CAST(n_keep AS DOUBLE)
            FROM dd
        """,
        # pii_f1 / eval_confusion (r8, VERDICT r7 #6): the queries
        # materialize their decoded (doc_id, label, t0, t1, src)
        # entity tuples to artifacts/oracle/*.parquet (deterministic,
        # sf-independent, committed); the confusion arithmetic is then
        # pure SQL — a full outer join on the tuple key + per-label
        # counts, exactly pii_spark.spark.metrics.entity_confusion
        "pii_f1": f"""
            WITH e AS (SELECT * FROM read_parquet(
                   '{_ORACLE_ART}/pii_entities.parquet/*.parquet')),
            t AS (SELECT doc_id, label, t0, t1 FROM e WHERE src = 't'),
            p AS (SELECT doc_id, label, t0, t1 FROM e WHERE src = 'p'),
            j AS (SELECT coalesce(t.label, p.label) AS label,
                         t.doc_id IS NOT NULL AS ht,
                         p.doc_id IS NOT NULL AS hp
                  FROM t FULL OUTER JOIN p
                    ON t.doc_id = p.doc_id AND t.label = p.label
                   AND t.t0 = p.t0 AND t.t1 = p.t1)
            SELECT label,
                   CAST(sum(CASE WHEN ht AND hp THEN 1 ELSE 0 END)
                        AS BIGINT) AS tp,
                   CAST(sum(CASE WHEN ht AND NOT hp THEN 1 ELSE 0 END)
                        AS BIGINT) AS fn,
                   CAST(sum(CASE WHEN hp AND NOT ht THEN 1 ELSE 0 END)
                        AS BIGINT) AS fp
            FROM j GROUP BY label
        """,
        "eval_confusion": f"""
            WITH e AS (SELECT * FROM read_parquet(
                   '{_ORACLE_ART}/eval_entities.parquet/*.parquet')),
            t AS (SELECT doc_id, label, t0, t1 FROM e WHERE src = 't'),
            p AS (SELECT doc_id, label, t0, t1 FROM e WHERE src = 'p'),
            j AS (SELECT coalesce(t.label, p.label) AS label,
                         t.doc_id IS NOT NULL AS ht,
                         p.doc_id IS NOT NULL AS hp
                  FROM t FULL OUTER JOIN p
                    ON t.doc_id = p.doc_id AND t.label = p.label
                   AND t.t0 = p.t0 AND t.t1 = p.t1)
            SELECT label,
                   CAST(sum(CASE WHEN ht AND hp THEN 1 ELSE 0 END)
                        AS BIGINT) AS tp,
                   CAST(sum(CASE WHEN ht AND NOT hp THEN 1 ELSE 0 END)
                        AS BIGINT) AS fn,
                   CAST(sum(CASE WHEN hp AND NOT ht THEN 1 ELSE 0 END)
                        AS BIGINT) AS fp
            FROM j GROUP BY label ORDER BY label
        """,
        "langid_stopwords": f"""
            SELECT 'pred' AS part, lang,
                   CASE WHEN len(regexp_extract_all(lower(text),
                        '\\b{_STOPWORDS}\\b')) >= 3
                        THEN 'en' ELSE 'other' END AS key,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(NULL AS DOUBLE) AS x
            FROM documents GROUP BY 1, 2, 3
            UNION ALL
            -- df arm (R91): per-language document frequency — a word
            -- counts once per doc (list_distinct), stopwords = words
            -- in >= 40% of a language's docs, min_df 2
            SELECT 'df', lang, word,
                   CAST(df_count AS BIGINT),
                   round(df_count / n_docs, 4)
            FROM (
              SELECT lang, word, count(*) AS df_count
              FROM (SELECT lang, unnest(list_distinct(list_filter(
                      string_split_regex(lower(coalesce(text, '')),
                                         '[^a-z0-9]+'),
                      w -> w <> ''))) AS word
                    FROM documents)
              GROUP BY 1, 2 HAVING count(*) >= 2) c
            JOIN (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
                  FROM documents GROUP BY 1) t USING (lang)
            WHERE round(df_count / n_docs, 4) >= 0.4
        """,
        "quality_heuristics": f"""
            WITH s AS (
              SELECT lang,
                     greatest(length(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]', '', 'g')), 1)
                         AS n_ns,
                     len(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'),
                                     x -> x <> '')) AS n_words,
                     length(regexp_replace(
                         regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]', '', 'g'),
                         '[^\\p{{L}}]', '', 'g')) AS n_alpha,
                     1.0 - len(list_distinct(list_transform(
                         list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'),
                                     x -> x <> ''), x -> lower(x))))
                         * 1.0 / len(list_filter(
                             string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'),
                             x -> x <> '')) AS rep,
                     len(regexp_extract_all(lower(text), '{_TOX_RE_W1}'))
                   + 2 * len(regexp_extract_all(lower(text), '{_TOX_RE_W2}'))
                         AS tox_hits
              FROM documents)
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(CASE WHEN n_words >= 5
                         AND (n_ns * 1.0 / n_words) BETWEEN 2.0 AND 12.0
                         AND ((n_ns - n_alpha) * 1.0 / n_ns) <= 0.4
                         AND rep <= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_pass,
                   round(avg(rep), 4) AS avg_rep,
                   round(avg(n_ns * 1.0 / n_words), 4) AS avg_word_len,
                   CAST(sum(tox_hits) AS BIGINT) AS n_tox_hits,
                   CAST(sum(CASE WHEN tox_hits * 1.0 / greatest(n_words, 1)
                                      > {_TOX_MAX}
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_toxic
            FROM s GROUP BY lang
        """,
        "html_extract": """
            WITH page AS (
              SELECT doc_id, text,
                     '<html><head><title>t</title><script>var x=1;</script>'
                     || '<style>p{color:red}</style></head><body>'
                     || '<!-- comment --><h1>Title &amp; more</h1><p>'
                     || text
                     || '</p><div>footer &lt;tag&gt; &quot;q&quot;</div>'
                     || '</body></html>' AS html
              FROM documents),
            x AS (
              SELECT doc_id, text,
                trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                  replace(replace(replace(replace(replace(replace(
                    regexp_replace(regexp_replace(regexp_replace(
                      regexp_replace(regexp_replace(html,
                        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                      '(?s)<!--.*?-->', ' ', 'g'),
                      '(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|section|article|header|footer|blockquote)[^>]*>',
                      chr(10), 'g'),
                    '(?s)<[^>]+>', ' ', 'g'),
                  '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                  '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                  '[ \\t\\r\\f]+', ' ', 'g'),
                  ' ?\\n ?', chr(10), 'g'),
                  '\\n{2,}', chr(10), 'g'),
                  '^\\n+|\\n+$', '', 'g')) AS extracted
              FROM page)
            SELECT doc_id, md5(extracted) AS text_md5,
                   contains(extracted, text) AS payload_intact
            FROM x
        """,
        "regex_scrub": f"""
            WITH s AS (
              SELECT doc_id,
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(text,
                             '{_EMAIL_RE}', '[EMAIL]', 'g'),
                           '{_SSN_RE}', '[SSN]', 'g'),
                         '{_PHONE_RE}', '[PHONE]', 'g'),
                       '{_IP_RE}', '[IP]', 'g') AS scrubbed,
                     text
              FROM documents)
            SELECT doc_id, md5(scrubbed) AS scrub_md5,
                   scrubbed <> text AS changed
            FROM s
        """,
        "regex_hit_counts": f"""
            SELECT source,
                   CAST(sum(len(regexp_extract_all(text, '{_EMAIL_RE}')))
                        AS BIGINT) AS n_email,
                   CAST(sum(len(regexp_extract_all(text, '{_PHONE_RE}')))
                        AS BIGINT) AS n_phone,
                   CAST(sum(len(regexp_extract_all(text, '{_IP_RE}')))
                        AS BIGINT) AS n_ip
            FROM documents GROUP BY source
        """,
        "json_extract": """
            SELECT event_type, count(*) AS n_events,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k,
                   round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)),
                         4) AS avg_k
            FROM events GROUP BY event_type
        """,
        # the four reference-sanity aggregates keep their full twins,
        # just unioned into one aligned (probe, key, n, metric) relation
        # so the bundle stays rows+schema+hash checked in one slot
        "reference_sanity": f"""
            SELECT 'label_map' AS probe, category AS key,
                   CAST(n_events AS BIGINT) AS n, sum_value AS metric
            FROM (SELECT CASE WHEN event_type IN ('click', 'view')
                               THEN 'engagement'
                              WHEN event_type IN ('signup', 'purchase')
                               THEN 'conversion'
                              ELSE 'other' END AS category,
                         count(*) AS n_events,
                         round(sum(value), 4) AS sum_value
                  FROM events GROUP BY 1)
            UNION ALL
            SELECT 'union_cohorts', cohort, CAST(n_docs AS BIGINT),
                   CAST(max_chars AS DOUBLE)
            FROM (SELECT CASE WHEN lang = 'en' THEN 'en'
                              ELSE 'other' END AS cohort,
                         count(*) AS n_docs, max(n_chars) AS max_chars
                  FROM documents GROUP BY 1)
            UNION ALL
            SELECT 'deterministic_limit', lang,
                   CAST(count(*) AS BIGINT), 0.0
            FROM documents WHERE doc_id < 300 GROUP BY lang
            UNION ALL
            SELECT 'max_label_id', 'corpus',
                   CAST(sum(CASE WHEN doc_max > 0 THEN 1 ELSE 0 END)
                        AS BIGINT),
                   CAST(max(doc_max) AS DOUBLE)
            FROM (SELECT greatest(
                       CASE WHEN regexp_matches(text, '{_EMAIL_RE}')
                            THEN {_L2I["U-EMAIL"]} ELSE 0 END,
                       CASE WHEN regexp_matches(text, '{_PHONE_RE}')
                            THEN {_L2I["U-PHONE"]} ELSE 0 END,
                       CASE WHEN regexp_matches(text, '{_SSN_RE}')
                            THEN {_L2I["U-SSN"]} ELSE 0 END) AS doc_max
                  FROM documents)
        """,
        # deterministic sampling — the oracle re-derives the md5-keyed
        # permutation and checks the exact sampled SETS for all three
        # draw operators (uniform prefix, per-stratum window, bucketed
        # token-budget cut). The budget-cut CTE mirrors the driver-side
        # loop in token_budget_sample exactly: a bucket is included iff
        # no earlier bucket already reached the budget (sprev < B) and
        # either the running total stays within budget (s <= B) or the
        # bucket is the first non-empty one (sprev = 0 — always taken).
        # Empty buckets only extend the cut past the last selected doc,
        # so restricting to non-empty buckets selects the same set.
        "sampling": f"""
            WITH k AS (
              SELECT doc_id, lang, source, n_chars,
                     md5(CAST(doc_id AS VARCHAR) || '_42') AS h
              FROM documents),
            uni AS (
              SELECT 'uniform' AS part, doc_id
              FROM k ORDER BY h, doc_id LIMIT 40),
            strat AS (
              SELECT 'stratified_' || lang AS part, doc_id
              FROM (SELECT lang, doc_id,
                           row_number() OVER (PARTITION BY lang
                                              ORDER BY h, doc_id) AS rn
                    FROM k)
              WHERE rn <= 10),
            b AS (
              SELECT doc_id, n_chars,
                     (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
                   + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) AS bkt
              FROM k),
            per AS (SELECT bkt, sum(n_chars) AS t FROM b GROUP BY bkt),
            cum AS (
              SELECT bkt, t,
                     sum(t) OVER (ORDER BY bkt) AS s,
                     coalesce(sum(t) OVER (ORDER BY bkt
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS sprev
              FROM per),
            cut AS (
              SELECT max(bkt) AS c FROM cum
              WHERE (s <= {_SAMPLE_BUDGET} OR sprev = 0)
                AND sprev < {_SAMPLE_BUDGET}),
            tb AS (
              SELECT 'token_budget' AS part, doc_id
              FROM b, cut WHERE bkt <= c)
            , ccn AS (
              SELECT 'ccnet_' || lang || '_' ||
                     CASE ntile(3) OVER (PARTITION BY lang
                                         ORDER BY n_chars, doc_id)
                          WHEN 1 THEN 'head'
                          WHEN 2 THEN 'middle'
                          ELSE 'tail' END AS part,
                     doc_id
              FROM k)
            , mix AS (
              SELECT 'mixture_' || t.source AS part, t.doc_id
              FROM (SELECT source, doc_id,
                           row_number() OVER (PARTITION BY source
                                              ORDER BY h, doc_id) AS rn
                    FROM k) t
              JOIN (VALUES ('src0', 19), ('src1', 11), ('src2', 7))
                   q(src, n)
                ON t.source = q.src
              WHERE t.rn <= q.n)
            SELECT part, CAST(doc_id AS BIGINT) AS doc_id FROM uni
            UNION ALL
            SELECT part, CAST(doc_id AS BIGINT) FROM strat
            UNION ALL
            SELECT part, CAST(doc_id AS BIGINT) FROM tb
            UNION ALL
            SELECT part, CAST(doc_id AS BIGINT) FROM ccn
            UNION ALL
            SELECT part, CAST(doc_id AS BIGINT) FROM mix
        """,
        # both Structured-Streaming batch window shapes in ONE slot
        # (r6 consolidation): tumbling hourly + 10-min/5-min sliding
        # (each event belongs to the two windows whose starts are the
        # two 5-min slide marks in (ts-10min, ts])
        "events_windows": """
            SELECT 'tumbling' AS variant,
                   CAST(date_trunc('hour', ts) AS VARCHAR)
                       AS window_start,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 2, 3
            UNION ALL
            SELECT 'sliding',
                   CAST(window_start AS VARCHAR), event_type,
                   CAST(count(*) AS BIGINT),
                   round(sum(value), 4)
            FROM (
              SELECT event_type, value,
                     CAST(to_timestamp(
                       CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)
                       - k.k * 300) AS TIMESTAMP) AS window_start
              FROM events,
                   (SELECT unnest([0, 1]) AS k) k) ev
            GROUP BY 2, 3
        """,
        # NB quality-classifier training census (R80): weak label =
        # English-stopword density (regex interpolated from the module
        # source) AND no markup junk (the C4 doc flags) AND zero
        # toxicity hits; then tokenize -> md5 feature -> integer
        # per-class occurrence counts. Floats never cross engines
        # (scoring is pytest-side).
        "quality_classifier": f"""
            WITH lab AS (
              SELECT doc_id, txt,
                     CASE WHEN len(regexp_extract_all(lower(txt),
                                   '{_CLS_STOP_RE}'))
                                   >= {_CLS_MIN_STOP}
                               AND NOT contains(lower(txt),
                                                'lorem ipsum')
                               AND NOT contains(txt, '{{')
                               AND len(regexp_extract_all(lower(txt),
                                       '{_TOX_RE_W1}'))
                                 + 2 * len(regexp_extract_all(lower(txt),
                                       '{_TOX_RE_W2}')) = 0
                          THEN 1 ELSE 0 END AS y
              FROM (SELECT doc_id, coalesce(text, '') AS txt
                    FROM documents)),
            tok AS (
              SELECT y, unnest(list_filter(
                  string_split_regex(lower(txt), '[^a-z0-9]+'),
                  x -> x <> '')) AS tok
              FROM lab),
            cnt AS (
              SELECT substr(md5(tok), 1, 8) AS feature,
                     CAST(sum(y) AS BIGINT) AS n_pos,
                     CAST(sum(1 - y) AS BIGINT) AS n_neg
              FROM tok GROUP BY 1)
            SELECT 'feature' AS part, feature AS key, n_pos, n_neg
            FROM cnt WHERE n_pos + n_neg >= 3
            UNION ALL
            SELECT 'tail', 'lt3',
                   CAST(coalesce(sum(n_pos), 0) AS BIGINT),
                   CAST(coalesce(sum(n_neg), 0) AS BIGINT)
            FROM cnt WHERE n_pos + n_neg < 3
            UNION ALL
            SELECT 'labels', CAST(y AS VARCHAR),
                   CAST(count(*) AS BIGINT), CAST(0 AS BIGINT)
            FROM lab GROUP BY y
            UNION ALL
            -- score arm (r7): fixed-point NB llr, summed as BIGINT —
            -- the full train->score path, cross-engine exact up to a
            -- ~4e-9/feature ln-ulp floor-boundary residual
            SELECT 'score', CAST(doc_id AS VARCHAR), s, nt
            FROM (
              WITH tot AS (
                SELECT CAST(sum(n_pos) AS BIGINT) AS tp,
                       CAST(sum(n_neg) AS BIGINT) AS tn,
                       CAST(count(*) AS BIGINT) AS v
                FROM cnt),
              w AS (
                SELECT feature,
                       CAST(floor(1000000.0 * (
                         ln((n_pos + 1.0) / (tp + v))
                         - ln((n_neg + 1.0) / (tn + v))
                       )) AS BIGINT) AS lli
                FROM cnt, tot),
              unseen AS (
                SELECT CAST(floor(1000000.0 * (
                  ln(1.0 / (tp + v)) - ln(1.0 / (tn + v))
                )) AS BIGINT) AS u FROM tot),
              dtok AS (
                SELECT doc_id, substr(md5(tok), 1, 8) AS feature
                FROM (SELECT doc_id, unnest(list_filter(
                        string_split_regex(
                          lower(coalesce(text, '')), '[^a-z0-9]+'),
                        x -> x <> '')) AS tok
                      FROM documents))
              SELECT doc_id,
                     CAST(sum(coalesce(lli, u)) AS BIGINT) AS s,
                     CAST(count(*) AS BIGINT) AS nt
              FROM dtok LEFT JOIN w USING (feature), unseen
              GROUP BY doc_id, u
              UNION ALL
              SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              FROM documents
              WHERE len(list_filter(string_split_regex(
                      lower(coalesce(text, '')), '[^a-z0-9]+'),
                      x -> x <> '')) = 0
            )
        """,
        "sessionize": """
            WITH e AS (
              -- floor-epoch: Spark's cast-to-long truncates sub-second
              SELECT user_id, event_id, ts, value,
                     CAST(floor(epoch(ts)) AS BIGINT) AS es,
                     CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w
                              IS NULL
                            OR CAST(floor(epoch(ts)) AS BIGINT)
                             - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w
                             > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (
              SELECT user_id, ts, es, value,
                     sum(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_no
              FROM e),
            per AS (
              SELECT user_id, session_no, count(*) AS n_events,
                     round(sum(value), 4) AS sum_value,
                     max(es) - min(es) AS duration_s
              FROM s GROUP BY 1, 2)
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_sessions,
                   CAST(max(n_events) AS BIGINT) AS max_session_events,
                   round(avg(duration_s), 4) AS avg_duration_s
            FROM per WHERE user_id < 50 GROUP BY user_id
        """,
        "fingerprint_winnow": """
            WITH grams AS (
              SELECT doc_id,
                     CAST(floor((i - 1) / 16) AS BIGINT) AS win,
                     md5(substring(text, i, 8)) AS h
              FROM documents,
                   LATERAL (SELECT unnest(generate_series(
                       1, greatest(length(text) - 7, 1), 1)) AS i) t),
            fps AS (
              SELECT doc_id, win, min(h) AS fp
              FROM grams GROUP BY 1, 2),
            per_doc AS (
              SELECT doc_id, count(DISTINCT fp) AS n_fp
              FROM fps GROUP BY doc_id),
            shared AS (
              SELECT CAST(count(*) AS BIGINT) AS n_shared_fp
              FROM (SELECT fp FROM fps GROUP BY fp
                    HAVING count(DISTINCT doc_id) > 1))
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   round(avg(n_fp), 4) AS avg_fp_per_doc,
                   n_shared_fp
            FROM per_doc, shared GROUP BY n_shared_fp
        """,
        "tpch_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4)
                       AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount)
                             * (1 + l_tax)), 4) AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_shipping_priority": """
            SELECT l_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 4)
                       AS revenue,
                   CAST(o_orderdate AS VARCHAR) AS o_orderdate,
                   o_orderpriority
            FROM customer
            JOIN orders ON o_custkey = c_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < '1995-03-15'
              AND l_shipdate > '1995-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """,
        "gopher_repetition": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                                 '[^a-z0-9]+'), x -> x <> '') AS w
              FROM documents WHERE doc_id < 100),
            base AS (
              SELECT doc_id, w,
                     list_transform(generate_series(1, len(w) - 1),
                                    i -> w[i] || ' ' || w[i+1]) AS grams
              FROM w WHERE len(w) >= 2),
            dup AS (
              SELECT doc_id,
                     round(1.0 - len(list_distinct(grams))
                           * 1.0 / len(grams), 4) AS dup2_frac
              FROM base),
            cnt AS (
              SELECT doc_id, unnest(w) AS word FROM base),
            topw AS (
              SELECT doc_id,
                     round(max(c) * 1.0 / sum(c), 4) AS top_word_frac
              FROM (SELECT doc_id, word, count(*) AS c
                    FROM cnt GROUP BY doc_id, word)
              GROUP BY doc_id)
            SELECT d.doc_id, t.top_word_frac, d.dup2_frac,
                   (t.top_word_frac > 0.2 OR d.dup2_frac > 0.4) AS flagged
            FROM dup d JOIN topw t USING (doc_id)
        """,
        "domain_filter": """
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs
            FROM documents
            WHERE source NOT IN ('src0', 'src3')
            GROUP BY source
        """,
        # one-call corpus quality report: per-doc twins of the SQL
        # builders quality_sql / toxicity_sql / c4_sql / gopher_line_sql
        # (same constants, interpolated from the single config source),
        # then the same rounded aggregates as quality_report()
        "quality_report": f"""
            WITH m AS (
              SELECT length(txt) AS n_chars_t,
                     length(regexp_replace(txt, '[ \\t\\n\\x0b\\f\\r]', '', 'g'))
                         AS n_ns_raw,
                     greatest(length(regexp_replace(txt, '[ \\t\\n\\x0b\\f\\r]', '',
                                                    'g')), 1) AS n_ns,
                     len(list_filter(string_split_regex(txt, '[ \\t\\n\\x0b\\f\\r]+'),
                                     x -> x <> '')) AS n_words,
                     length(regexp_replace(
                         regexp_replace(txt, '[ \\t\\n\\x0b\\f\\r]', '', 'g'),
                         '[^\\p{{L}}]', '', 'g')) AS n_alpha,
                     length(regexp_replace(
                         regexp_replace(txt, '[ \\t\\n\\x0b\\f\\r]', '', 'g'),
                         '[^\\p{{Nd}}]', '', 'g')) AS n_digit,
                     CASE WHEN len(list_filter(
                              string_split_regex(txt, '[ \\t\\n\\x0b\\f\\r]+'),
                              x -> x <> '')) > 0
                          THEN 1.0 - len(list_distinct(list_transform(
                              list_filter(
                                  string_split_regex(txt, '[ \\t\\n\\x0b\\f\\r]+'),
                                  x -> x <> ''),
                              x -> lower(x)))) * 1.0
                            / len(list_filter(
                                  string_split_regex(txt, '[ \\t\\n\\x0b\\f\\r]+'),
                                  x -> x <> ''))
                          ELSE 1.0 END AS rep,
                     len(regexp_extract_all(lower(txt), '{_TOX_RE_W1}'))
                   + 2 * len(regexp_extract_all(lower(txt),
                                                '{_TOX_RE_W2}'))
                         AS tox_hits,
                     len(list_filter(
                         list_transform(string_split(txt, chr(10)),
                             ln -> regexp_replace(ln, '^[ \\t\\n\\x0b\\f\\r]+|[ \\t\\n\\x0b\\f\\r]+$',
                                                  '', 'g')),
                         s -> right(s, 1) IN ('.', '!', '?', '"')
                           AND len(list_filter(
                                   string_split_regex(s, '[ \\t\\n\\x0b\\f\\r]+'),
                                   w -> w <> '')) >= 5
                           AND NOT (contains(lower(s), 'javascript')
                                 OR contains(lower(s), 'cookie policy')
                                 OR contains(lower(s), 'terms of use')
                                 OR contains(lower(s),
                                             'privacy policy'))))
                         AS n_kept,
                     NOT contains(lower(txt), 'lorem ipsum')
                         AND NOT contains(txt, '{{') AS c4_doc_ok,
                     list_filter(string_split(txt, chr(10)),
                                 x -> regexp_matches(x, '[^ \\t\\n\\x0b\\f\\r]'))
                         AS lines_f,
                     list_filter(string_split(txt, chr(10) || chr(10)),
                                 x -> regexp_matches(x, '[^ \\t\\n\\x0b\\f\\r]'))
                         AS paras_f
              FROM (SELECT coalesce(text, '') AS txt FROM documents)),
            d AS (
              SELECT n_chars_t, n_words, rep, tox_hits, n_kept,
                     c4_doc_ok AND n_kept >= 3 AS c4_keep,
                     CASE WHEN n_words > 0
                          THEN n_ns_raw * 1.0 / n_words
                          ELSE 0.0 END AS mean_wl,
                     (n_ns - n_alpha - n_digit) * 1.0 / n_ns AS sym_r,
                     n_digit * 1.0 / n_ns AS dig_r,
                     n_alpha * 1.0 / n_ns AS alp_r,
                     tox_hits * 1.0 / greatest(n_words, 1) AS tox_score,
                     CASE WHEN len(lines_f) > 0
                          THEN 1.0 - len(list_distinct(lines_f)) * 1.0
                               / len(lines_f)
                          ELSE 0.0 END AS dup_line_frac,
                     CASE WHEN len(paras_f) > 0
                          THEN 1.0 - len(list_distinct(paras_f)) * 1.0
                               / len(paras_f)
                          ELSE 0.0 END AS dup_para_frac,
                     coalesce(list_sum(list_transform(lines_f,
                         x -> length(x))), 0) AS line_chars,
                     coalesce(list_sum(list_transform(lines_f,
                         x -> CASE WHEN len(list_filter(lines_f,
                                       y -> y = x)) > 1
                                   THEN length(x) ELSE 0 END)), 0)
                         AS dup_line_chars,
                     coalesce(list_sum(list_transform(paras_f,
                         x -> length(x))), 0) AS para_chars,
                     coalesce(list_sum(list_transform(paras_f,
                         x -> CASE WHEN len(list_filter(paras_f,
                                       y -> y = x)) > 1
                                   THEN length(x) ELSE 0 END)), 0)
                         AS dup_para_chars
              FROM m)
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   round(avg(n_chars_t), 2) AS avg_chars,
                   round(quantile_cont(n_chars_t, 0.5), 1) AS p50_chars,
                   round(quantile_cont(n_chars_t, 0.9), 1) AS p90_chars,
                   round(avg(n_words), 2) AS avg_words,
                   round(avg(CASE WHEN
                       n_words BETWEEN {_Q["min_words"]}
                                   AND {_Q["max_words"]}
                       AND mean_wl BETWEEN {_Q["min_mean_word_len"]}
                                       AND {_Q["max_mean_word_len"]}
                       AND sym_r <= {_Q["max_symbol_ratio"]}
                       AND rep <= {_Q["max_rep_ratio"]}
                       AND dig_r <= {_Q["max_digit_ratio"]}
                       AND alp_r >= {_Q["min_alpha_ratio"]}
                       THEN 1.0 ELSE 0.0 END), 4)
                       AS heuristics_pass_rate,
                   round(avg(CASE WHEN tox_score > {_TOX_MAX}
                             THEN 1.0 ELSE 0.0 END), 4)
                       AS toxicity_flag_rate,
                   round(avg(CASE WHEN
                       n_words BETWEEN {_Q["min_words"]}
                                   AND {_Q["max_words"]}
                       AND mean_wl BETWEEN {_Q["min_mean_word_len"]}
                                       AND {_Q["max_mean_word_len"]}
                       AND sym_r <= {_Q["max_symbol_ratio"]}
                       AND rep <= {_Q["max_rep_ratio"]}
                       AND dig_r <= {_Q["max_digit_ratio"]}
                       AND alp_r >= {_Q["min_alpha_ratio"]}
                       AND NOT tox_score > {_TOX_MAX}
                       THEN 1.0 ELSE 0.0 END), 4)
                       AS rule_keep_rate,
                   round(avg(rep), 4) AS avg_rep_ratio,
                   round(avg(CASE WHEN c4_keep THEN 1.0 ELSE 0.0 END),
                         4) AS c4_keep_rate,
                   round(avg(n_kept), 2) AS avg_c4_kept_lines,
                   round(avg(CASE WHEN dup_line_frac
                                       > {_GT["dup_line_frac"]}
                             THEN 1.0 ELSE 0.0 END), 4)
                       AS dup_line_frac_flag_rate,
                   round(avg(CASE WHEN dup_para_frac
                                       > {_GT["dup_para_frac"]}
                             THEN 1.0 ELSE 0.0 END), 4)
                       AS dup_para_frac_flag_rate,
                   round(avg(CASE WHEN (CASE WHEN line_chars > 0
                                 THEN dup_line_chars * 1.0 / line_chars
                                 ELSE 0.0 END)
                                       > {_GT["dup_line_char_frac"]}
                             THEN 1.0 ELSE 0.0 END), 4)
                       AS dup_line_char_frac_flag_rate,
                   round(avg(CASE WHEN (CASE WHEN para_chars > 0
                                 THEN dup_para_chars * 1.0 / para_chars
                                 ELSE 0.0 END)
                                       > {_GT["dup_para_char_frac"]}
                             THEN 1.0 ELSE 0.0 END), 4)
                       AS dup_para_char_frac_flag_rate,
                   -- strict-profile composition (VERDICT r5 #6):
                   -- any Gopher line flag, and the strict in-row keep
                   round(avg(CASE WHEN
                       dup_line_frac > {_GT["dup_line_frac"]}
                       OR dup_para_frac > {_GT["dup_para_frac"]}
                       OR (CASE WHEN line_chars > 0
                           THEN dup_line_chars * 1.0 / line_chars
                           ELSE 0.0 END) > {_GT["dup_line_char_frac"]}
                       OR (CASE WHEN para_chars > 0
                           THEN dup_para_chars * 1.0 / para_chars
                           ELSE 0.0 END) > {_GT["dup_para_char_frac"]}
                       THEN 1.0 ELSE 0.0 END), 4)
                       AS gopher_line_flag_rate,
                   round(avg(CASE WHEN
                       n_words BETWEEN {_Q["min_words"]}
                                   AND {_Q["max_words"]}
                       AND mean_wl BETWEEN {_Q["min_mean_word_len"]}
                                       AND {_Q["max_mean_word_len"]}
                       AND sym_r <= {_Q["max_symbol_ratio"]}
                       AND rep <= {_Q["max_rep_ratio"]}
                       AND dig_r <= {_Q["max_digit_ratio"]}
                       AND alp_r >= {_Q["min_alpha_ratio"]}
                       AND NOT tox_score > {_TOX_MAX}
                       AND c4_keep
                       AND NOT (
                           dup_line_frac > {_GT["dup_line_frac"]}
                           OR dup_para_frac > {_GT["dup_para_frac"]}
                           OR (CASE WHEN line_chars > 0
                               THEN dup_line_chars * 1.0 / line_chars
                               ELSE 0.0 END)
                               > {_GT["dup_line_char_frac"]}
                           OR (CASE WHEN para_chars > 0
                               THEN dup_para_chars * 1.0 / para_chars
                               ELSE 0.0 END)
                               > {_GT["dup_para_char_frac"]})
                       THEN 1.0 ELSE 0.0 END), 4)
                       AS strict_rule_keep_rate
            FROM d
        """,
        # heavy-hitters bounds (exact in the capacity ≥ distinct
        # regime → both bounds equal plain GROUP BY counts) + md5
        # winnowing decontamination shared-fingerprint counts
        "sketch_decontam": """
            WITH grams AS (
              SELECT doc_id, CAST(floor((i - 1) / 16) AS BIGINT) AS win,
                     md5(substr(text, i, 8)) AS h
              FROM documents,
                   LATERAL (SELECT unnest(generate_series(
                       1, greatest(length(text) - 7, 1), 1)) AS i) t),
            fps AS (
              SELECT DISTINCT doc_id, fp FROM (
                SELECT doc_id, win, min(h) AS fp
                FROM grams GROUP BY doc_id, win)),
            bfp AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 50 = 0),
            shared AS (
              SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n
              FROM fps c JOIN bfp ON c.fp = bfp.fp
              GROUP BY c.doc_id),
            src AS (SELECT source AS key, CAST(count(*) AS BIGINT) AS n
                    FROM documents GROUP BY source)
            SELECT 'hh_lower' AS part, key, n FROM src
            UNION ALL SELECT 'hh_upper', key, n FROM src
            UNION ALL
            SELECT CASE WHEN n >= 2 THEN 'decontam_contaminated'
                        ELSE 'decontam_clean' END,
                   CAST(doc_id AS VARCHAR), n
            FROM shared
        """,
        "over_under_prediction": f"""
            WITH s AS (
              SELECT (lang = 'en') AS is_en,
                     len(regexp_extract_all(lower(text),
                         '\\b{_STOPWORDS}\\b')) >= 3 AS pred_en
              FROM documents)
            SELECT CAST(sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_true,
                   CAST(sum(CASE WHEN pred_en THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_pred,
                   CAST(sum(CASE WHEN pred_en THEN 1 ELSE 0 END)
                      - sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT)
                       AS over_prediction,
                   round(sum(CASE WHEN pred_en THEN 1 ELSE 0 END) * 1.0
                       / sum(CASE WHEN is_en THEN 1 ELSE 0 END), 4)
                       AS pred_ratio
            FROM s
        """,
        "rollup_lang_source": """
            SELECT coalesce(lang, '<all>') AS lang,
                   coalesce(source, '<all>') AS source,
                   count(*) AS n_docs,
                   round(avg(n_chars), 4) AS avg_chars
            FROM documents GROUP BY ROLLUP (lang, source)
        """,
        "set_ops": """
            WITH en AS (SELECT doc_id FROM documents WHERE lang = 'en'),
            lng AS (SELECT doc_id FROM documents WHERE n_chars >= 300)
            SELECT 'en_and_long' AS cohort,
                   CAST((SELECT count(*) FROM
                         (SELECT * FROM en INTERSECT SELECT * FROM lng))
                        AS BIGINT) AS n
            UNION ALL
            SELECT 'en_not_long',
                   CAST((SELECT count(*) FROM
                         (SELECT * FROM en EXCEPT ALL SELECT * FROM lng))
                        AS BIGINT)
            UNION ALL
            SELECT 'long_not_en',
                   CAST((SELECT count(*) FROM
                         (SELECT * FROM lng EXCEPT ALL SELECT * FROM en))
                        AS BIGINT)
        """,
        "topk_longest": """
            SELECT doc_id, n_chars, lang
            FROM documents ORDER BY n_chars DESC, doc_id LIMIT 10
        """,
        # incremental snapshot-vs-base dedup (R78): same deterministic
        # base/snapshot construction, md5 fingerprint + md5-slice band
        # min-hashes (the dedup_minhash scheme), exact tier then band
        # collision on tier-1 survivors only — mirrors
        # pii_spark/spark/incr_dedup.py hashed=False byte-for-byte
        "incremental_dedup": """
            WITH d AS (SELECT doc_id, text, lang FROM documents),
            base AS (SELECT * FROM d WHERE doc_id % 4 <> 0),
            snap AS (
              SELECT doc_id, text, lang FROM d WHERE doc_id % 4 = 0
              UNION ALL
              SELECT doc_id + 1000000000, text, lang
              FROM d WHERE doc_id % 10 = 1
              UNION ALL
              SELECT doc_id + 2000000000,
                     text || ' footer update 2026', lang
              FROM d WHERE doc_id % 10 = 3),
            bfp AS (
              SELECT DISTINCT substr(md5(trim(regexp_replace(
                  lower(coalesce(text, '')),
                  '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))), 1, 16) AS fp
              FROM base),
            sfp AS (
              SELECT doc_id, lang,
                     coalesce(text, '') AS t,
                     substr(md5(trim(regexp_replace(
                         lower(coalesce(text, '')),
                         '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))), 1, 16) AS fp
              FROM snap),
            ex AS (SELECT doc_id FROM sfp
                   WHERE fp IN (SELECT fp FROM bfp)),
            bmh AS (
              SELECT bd.band,
                     min(substr(bsh.h, 1 + 8 * bd.band, 8)) AS mh
              FROM (SELECT b.doc_id, md5(substr(coalesce(b.text, ''),
                                               i, 12)) AS h
                    FROM base b,
                         LATERAL (SELECT unnest(generate_series(
                             1, greatest(
                                 length(coalesce(b.text, '')) - 11, 1),
                             5)) AS i) t) bsh,
                   (SELECT unnest([0,1,2,3]) AS band) bd
              GROUP BY bd.band, bsh.doc_id),
            bsig AS (SELECT DISTINCT band, mh FROM bmh),
            surv AS (SELECT * FROM sfp
                     WHERE doc_id NOT IN (SELECT doc_id FROM ex)),
            smh AS (
              SELECT sd.band, ssh.doc_id,
                     min(substr(ssh.h, 1 + 8 * sd.band, 8)) AS mh
              FROM (SELECT s.doc_id, md5(substr(s.t, i, 12)) AS h
                    FROM surv s,
                         LATERAL (SELECT unnest(generate_series(
                             1, greatest(length(s.t) - 11, 1),
                             5)) AS i) t) ssh,
                   (SELECT unnest([0,1,2,3]) AS band) sd
              GROUP BY sd.band, ssh.doc_id),
            near AS (
              SELECT DISTINCT smh.doc_id
              FROM smh JOIN bsig USING (band, mh)),
            stage AS (
              SELECT s.doc_id, s.lang,
                     CASE WHEN s.doc_id IN (SELECT doc_id FROM ex)
                          THEN 'exact'
                          WHEN s.doc_id IN (SELECT doc_id FROM near)
                          THEN 'near' END AS drop_stage
              FROM sfp s)
            SELECT 'dropped' AS probe,
                   CAST(doc_id AS VARCHAR) AS key,
                   drop_stage AS stage,
                   CAST(1 AS BIGINT) AS n
            FROM stage WHERE drop_stage IS NOT NULL
            UNION ALL
            SELECT 'census', lang, coalesce(drop_stage, 'kept'),
                   CAST(count(*) AS BIGINT)
            FROM stage GROUP BY lang, coalesce(drop_stage, 'kept')
        """,
        # pii_pipeline / pii_f1 / synth_corpus: Arrow-UDF pipeline stages,
        # not SQL-expressible → rows-only check
    }
    # recall oracle composes the three already-checked top-10
    # formulations (nested WITH inside CTE bodies — DuckDB-supported);
    # joins are on integer vec_id only, so DuckDB's CTE re-inlining
    # (different float summation order per reference) cannot flip rows
    d["ann_recall"] = f"""
        WITH bf AS ({d["ann_cosine_topk"]}),
             lshq AS ({d["ann_lsh_bucket"]}),
             ivfq AS ({d["ann_ivf_topk"]})
        SELECT 'lsh_bucket' AS method,
               CAST(count(*) AS BIGINT) AS n_hits,
               round(count(*) / 10.0, 4) AS recall
        FROM lshq JOIN bf USING (vec_id)
        UNION ALL
        SELECT 'ivf' AS method,
               CAST(count(*) AS BIGINT) AS n_hits,
               round(count(*) / 10.0, 4) AS recall
        FROM ivfq JOIN bf USING (vec_id)
    """
    # both ANN variants share ONE slot (r6 consolidation): the oracle
    # is plan-agnostic, so the slot's SQL is the same SELECT labeled
    # twice. MATERIALIZED pins one evaluation of the float aggregate —
    # DuckDB re-inlines plain CTEs per reference and a different
    # summation order could flip a 4dp rounding between the two arms
    # (the CTE-float hazard documented in r3). ann_recall above keeps
    # the unlabeled form.
    d["ann_cosine_topk"] = f"""
        WITH bf AS MATERIALIZED ({d["ann_cosine_topk"]})
        SELECT 'relational' AS variant, vec_id, cos FROM bf
        UNION ALL
        SELECT 'inrow' AS variant, vec_id, cos FROM bf
    """
    return d
