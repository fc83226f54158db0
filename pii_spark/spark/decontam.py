"""Benchmark decontamination + quality-aware dedup canonicalization —
the two corpus-hygiene decisions downstream of fingerprinting/dedup.

``decontaminate``: flag training documents that contain benchmark/eval
text (the contamination that silently inflates eval scores). Both sides
are winnowed to k-gram fingerprints (the SAME operator the dedup family
uses — ``__spark_entry__.winnow_fps``); a corpus doc sharing ≥
``min_shared`` fingerprints with any benchmark doc is flagged. The
benchmark side is tiny by nature (eval sets are thousands of docs, the
corpus is 10^12), so its fingerprint relation broadcasts and the plan
is one broadcast hash join + per-doc aggregation over the corpus
fingerprints — no shuffle of the corpus side beyond its own winnowing
aggregation.

``select_canonical``: near-dup clustering says WHICH docs are copies;
this decides which copy to KEEP — the highest-quality member (longest
text here; any scalar quality column works), not the arbitrary
min-doc_id. One window over the cluster id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..identity import digest, listing


def doc_fingerprints(df: DataFrame, hash_fn=F.xxhash64) -> DataFrame:
    """(doc_id, text) → distinct (doc_id, fp) winnowing fingerprints
    (xxhash64 scale path; window-position-free so the same gram content
    matches regardless of where it sits in the document). ``hash_fn``
    overrides the gram hash — the driver's oracle query passes F.md5 so
    DuckDB can replicate; production keeps 8-byte xxhash64 longs."""
    pos = F.explode(
        F.sequence(F.lit(1), F.greatest(F.length("text") - 7, F.lit(1)),
                   F.lit(1))
    ).alias("i")
    gram = F.expr("substring(text, i, 8)")
    grams = df.select("doc_id", pos, "text").select(
        "doc_id",
        F.floor((F.col("i") - 1) / 16).cast("long").alias("win"),
        hash_fn(gram).alias("h"),
    )
    return (
        grams.groupBy("doc_id", "win").agg(F.min("h").alias("fp"))
        .select("doc_id", "fp").distinct()
    )


def decontaminate(
    corpus: DataFrame, benchmark: DataFrame, min_shared: int = 2,
    hash_fn=F.xxhash64,
) -> DataFrame:
    """(doc_id, n_shared_fp, contaminated) per corpus doc that shares
    at least one fingerprint with the benchmark; ``contaminated`` when
    ≥ ``min_shared`` (one shared fingerprint can be a coincidence of a
    common 8-gram; two selected-minimum collisions almost never are).
    Docs with zero shared fingerprints are absent (join semantics).
    To drop contaminated rows, filter on ``contaminated`` FIRST and
    left-anti-join the corpus against that subset — anti-joining the
    whole result would also drop clean docs that share a single
    coincidental fingerprint (ADVICE r4):
    ``corpus.join(out.filter("contaminated"), "doc_id", "left_anti")``
    """
    bench_fps = doc_fingerprints(benchmark, hash_fn).select("fp").distinct()
    corpus_fps = doc_fingerprints(corpus, hash_fn)
    return (
        corpus_fps.join(F.broadcast(bench_fps), "fp")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_shared_fp"))
        .withColumn("contaminated", F.col("n_shared_fp") >= min_shared)
    )


def benchmark_identity(bench_dir: str) -> str:
    """`pii_spark.identity` of a benchmark dir, recorded by the
    pack/export job: exporting shards decontaminated against a
    DIFFERENT benchmark set must refuse loudly, not silently change
    training membership."""
    return digest(listing(
        bench_dir, f"no benchmark parquet files under {bench_dir}"
    ))


def select_canonical(
    clusters: DataFrame, docs: DataFrame, quality_col: str = "n_chars"
) -> DataFrame:
    """clusters(doc_id, cluster) ⋈ docs(doc_id, quality_col) → one
    (cluster, canonical_doc_id) row per cluster: the member with the
    highest quality (ties broken by doc_id for determinism)."""
    from pyspark.sql import Window

    w = Window.partitionBy("cluster").orderBy(
        F.col(quality_col).desc(), F.col("doc_id")
    )
    return (
        clusters.join(docs.select("doc_id", quality_col), "doc_id")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("cluster", F.col("doc_id").alias("canonical_doc_id"),
                F.col(quality_col).alias("canonical_quality"))
    )
