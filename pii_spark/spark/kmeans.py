"""Distributed Lloyd's k-means over an embedding column — the
iterative-algorithm pattern (the one operator class the driver's
oracle cannot express in SQL, recorded rows-only).

Everything is DataFrame ops: squared-L2 scoring is a broadcast join of
the exploded vectors against the (tiny) centroid relation, assignment
is a window rank (NOT a float-equality self-join — see ann_ivf_topk's
portability note), and the update step is one groupBy average. Each
iteration is one Spark job over the same cached explode; at 10^9
vectors the centroid relation stays broadcast-sized and the shuffle is
one hash-agg per iteration.

Determinism: farthest-point init seeded at the lowest vec_id (no
sampling; first-k seeding merged true clusters), fixed iteration count —
identical output for any partitioning/retry, which is what lets the
driver's rows-only check re-run it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# cells cap for the pure-fit driver collect (r9): n*dim above this and
# the fit stays distributed even under the row bound — 16M float64
# cells ≈ 128 MB as an ndarray (a few hundred MB transiently as
# collected rows), comfortably inside the default 8g driver
_PURE_CELLS_BOUND = 16_000_000


def _explode(df: DataFrame) -> DataFrame:
    return df.select(
        "vec_id", F.posexplode("embedding").alias("i", "v")
    ).select("vec_id", "i", F.col("v").cast("double").alias("v"))


def kmeans_fit(
    df: DataFrame, k: int = 8, iters: int = 5, init: str = "farthest",
    driver_bound: int = 100_000,
) -> tuple[DataFrame, DataFrame]:
    """df(vec_id, embedding) → (assignment(vec_id, cluster, sqdist),
    centroids(cluster, i, cv)). Squared-L2 objective.

    Auto-dispatch (the BPE trainer's pattern): when the input has at
    most ``driver_bound`` rows — ALWAYS true for the sampled-fit
    composition, whose sample is bounded by construction — the fit
    collects once and runs the pure numpy Lloyd twin (identical
    deterministic rules, pinned equal by tests/test_independent_twins
    and the dispatch-boundary test) instead of ~6 Spark jobs per
    iteration over a kilobyte-scale relation; measured ~10-18 s of
    job-launch latency for a 5k-row fit becomes milliseconds.
    ``driver_bound=0`` forces the distributed loop (the 10^9-vector
    path, and how the twin tests pin it).

    ``init`` picks the seeding:

    * ``"farthest"`` (default) — deterministic farthest-point: best
      seed spread, but k-1 sequential one-row collects, each a full
      pass over the exploded frame. Right for small k (the oracle
      query, blocking a sampled fit).
    * ``"hash"`` — the k vec_ids with the lowest ``xxhash64(vec_id)``:
      a uniform deterministic sample of the rows as seeds, ONE
      sort-limit pass regardless of k. The at-scale choice when k is
      sized from the corpus (SemDeDup's k ≈ n/cluster_size): O(k)
      init passes would dominate the whole fit. Seed quality is that
      of uniform random init — for dedup BLOCKING (near-identical
      vectors co-cluster under any reasonable partition of the space)
      that trade is free; duplicate seed vectors can die as empty
      clusters during Lloyd, which blocking also tolerates.
    """
    if init not in ("farthest", "hash"):
        raise ValueError(f"unknown init {init!r}: farthest|hash")
    if driver_bound:
        # one pass: the max width can only tighten the cells bound
        n, dim = df.selectExpr("count(*)", "max(size(embedding))").head()
        if n <= driver_bound:
            # r9 (ADVICE r8 high): the row-count bound alone ignored
            # the vector width — n rows of a wide embedding can be a
            # multi-GB driver collect even under the row bound. Gate
            # the pure dispatch on total cells too; past it, the
            # distributed loop (which never collects the vectors) runs
            # instead. Either engine returns identical results
            # (numpy-twin pinned). With no non-null vector (dim NULL or
            # size(NULL) = -1) the width counts as 1. The (n, k)
            # distance matrix is the other pure-path allocation —
            # bound it too (256M cells ≈ 2 GB float64)
            if (n * max(dim or 1, 1) <= _PURE_CELLS_BOUND
                    and n * max(k, 1) <= 256_000_000):
                return _fit_pure(df, k, iters, init)
    ex = _explode(df).cache()
    if init == "hash":
        chosen = [
            int(r.vec_id)
            for r in df.select("vec_id")
            .orderBy(F.xxhash64(F.col("vec_id")), F.col("vec_id"))
            .limit(k)
            .collect()
        ]
        return _lloyd(df, ex, chosen, iters)
    # deterministic farthest-point init (k-means++ without randomness):
    # seed 0 = lowest vec_id, each next seed = the vector maximizing its
    # min squared distance to the chosen seeds (ties → lowest vec_id).
    # First-k init merges true clusters whenever two low ids share one;
    # farthest-point provably spreads the seeds. k-1 one-row collects —
    # driver-side but O(k), k tiny.
    first = df.select(F.min("vec_id")).collect()[0][0]
    chosen = [int(first)]
    for _ in range(1, k):
        seeds_ex = (
            ex.filter(F.col("vec_id").isin(chosen))
            .select(F.col("vec_id").alias("sid"), "i",
                    F.col("v").alias("sv"))
        )
        mind = (
            ex.join(F.broadcast(seeds_ex), "i")
            .groupBy("vec_id", "sid")
            .agg(F.sum((F.col("v") - F.col("sv")) ** 2).alias("d"))
            .groupBy("vec_id")
            .agg(F.min("d").alias("mind"))
            .orderBy(F.col("mind").desc(), "vec_id")
            .limit(1)
            .collect()
        )
        chosen.append(int(mind[0].vec_id))
    return _lloyd(df, ex, chosen, iters)


def _pairwise_d2(v, cm, budget_cells: int = 32_000_000):
    """((v[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2), computed in
    row chunks (r9, ADVICE r8 high): the broadcast-subtract temporary
    is (n, k, dim) float64 — ~13 GB per temp at the semantic stage's
    advertised defaults (n=100k sample, k clamp 256, dim 64), a driver
    MemoryError on the at-scale path. Chunking bounds the temp to
    ~``budget_cells`` float64 cells (256 MB) while performing the
    IDENTICAL per-element float ops in the identical order, so results
    are bit-equal to the unchunked expression (the numpy-twin equality
    with the distributed loop is untouched)."""
    import numpy as np

    n, dim = v.shape if v.ndim == 2 else (v.shape[0], 1)
    k = cm.shape[0]
    step = max(1, int(budget_cells // max(1, k * dim)))
    if step >= n:
        return ((v[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
    out = np.empty((n, k), dtype=np.float64)
    for s in range(0, n, step):
        e = min(n, s + step)
        out[s:e] = ((v[s:e, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
    return out


def _fit_pure(
    df: DataFrame, k: int, iters: int, init: str
) -> tuple[DataFrame, DataFrame]:
    """Driver-side Lloyd for driver-fitting inputs — the SAME
    deterministic rules as the distributed loop (farthest-point /
    hash seeding, squared-L2 ranking with ties → lowest cluster, mean
    update, empty clusters dropped, final reassignment against the
    converged centroids), collected once and run in numpy. Equality
    with the distributed path is pinned by the numpy-twin test (which
    forces driver_bound=0 on the distributed side) and the
    dispatch-boundary test. All pairwise-distance steps go through the
    chunked ``_pairwise_d2`` so peak memory is bounded regardless of
    (n, k, dim)."""
    import numpy as np

    rows = df.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r.vec_id)
    ids = [int(r.vec_id) for r in rows]
    v = np.array([r.embedding for r in rows], dtype=np.float64)
    if init == "hash":
        # same one-pass seed choice as the distributed loop — Spark's
        # xxhash64 is not worth reimplementing in Python for parity
        seed_ids = [
            int(r.vec_id)
            for r in df.select("vec_id")
            .orderBy(F.xxhash64(F.col("vec_id")), F.col("vec_id"))
            .limit(k).collect()
        ]
        pos = {vid: j for j, vid in enumerate(ids)}
        seeds = [pos[s] for s in seed_ids]
    else:
        seeds = [0]  # lowest vec_id (ids sorted ascending)
        for _ in range(1, min(k, max(len(ids), 1))):
            d = np.min(_pairwise_d2(v, v[seeds]), axis=1)
            # max min-distance, ties → lowest vec_id (first argmax)
            seeds.append(int(np.argmax(d)))
    cents = {c: v[s].copy() for c, s in enumerate(seeds)}
    for _ in range(iters):
        live = sorted(cents)
        cm = np.stack([cents[c] for c in live])
        d2 = _pairwise_d2(v, cm)
        assign = np.array([live[j] for j in d2.argmin(axis=1)])
        cents = {c: v[assign == c].mean(axis=0)
                 for c in live if (assign == c).any()}
    live = sorted(cents)
    cm = np.stack([cents[c] for c in live])
    d2 = _pairwise_d2(v, cm)
    j = d2.argmin(axis=1)
    spark = df.sparkSession
    assign_df = spark.createDataFrame(
        [(ids[x], int(live[j[x]]), float(d2[x, j[x]]))
         for x in range(len(ids))],
        "vec_id long, cluster int, sqdist double",
    )
    cents_df = spark.createDataFrame(
        [(int(c), int(i), float(cents[c][i]))
         for c in live for i in range(cm.shape[1])],
        "cluster int, i int, cv double",
    )
    return assign_df, cents_df


def _lloyd(
    df: DataFrame, ex: DataFrame, chosen: list, iters: int
) -> tuple[DataFrame, DataFrame]:
    """Lloyd iterations from explicit seed vec_ids; ``ex`` is the
    caller's cached explode (released here once the result is live)."""
    seeds = df.sparkSession.createDataFrame(
        [(v, c) for c, v in enumerate(chosen)], "vec_id long, cluster int"
    )
    cents = (
        ex.join(F.broadcast(seeds), "vec_id")
        .select("cluster", "i", F.col("v").alias("cv"))
    )
    assign = None
    for _ in range(iters):
        # ||v - c||^2 = sum(v^2) - 2 v.c + sum(c^2); the v^2 term is
        # cluster-independent, so rank by (sum(c^2) - 2 v.c)
        score = (
            ex.join(F.broadcast(cents), "i")
            .groupBy("vec_id", "cluster")
            .agg(
                (F.sum(F.col("cv") * F.col("cv"))
                 - 2.0 * F.sum(F.col("v") * F.col("cv"))).alias("part")
            )
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.col("part"), F.col("cluster")
        )
        assign = (
            score.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cluster")
        )
        prev_cents = cents
        cents = (
            ex.join(assign, "vec_id")
            .groupBy("cluster", "i")
            .agg(F.avg("v").alias("cv"))
        )
        # materialize per iteration: Lloyd's is inherently sequential,
        # and leaving 5 iterations lazy would replay the whole lineage;
        # release the previous iteration's centroid cache once the new
        # one is live (review r2: stale cents pinned storage memory)
        cents = cents.cache()
        cents.count()
        prev_cents.unpersist()  # no-op on the uncached seed frame
    # final assignment pass against the CONVERGED centroids (r8): the
    # in-loop assign corresponds to the previous iteration's centroids,
    # so returning it would pair a stale assignment with the final
    # centroid relation — the returned triple must be self-consistent
    # (it is what the kmeans_clusters oracle replays from the
    # materialized centroids).
    sqdist = _assign_ex(ex, cents)
    # materialize the RESULT before dropping the exploded cache: the
    # returned frames are lazy, and unpersisting ex first would make
    # the caller's first action replay the full explode twice
    sqdist = sqdist.cache()
    sqdist.count()
    ex.unpersist()
    return sqdist, cents


def _assign_only(ex: DataFrame, cents: DataFrame) -> DataFrame:
    """Exploded vectors + FIXED centroids → (vec_id, cluster): one
    broadcast join + hash-agg + per-vector window rank."""
    fscore = (
        ex.join(F.broadcast(cents), "i")
        .groupBy("vec_id", "cluster")
        .agg(
            (F.sum(F.col("cv") * F.col("cv"))
             - 2.0 * F.sum(F.col("v") * F.col("cv"))).alias("part")
        )
    )
    fw = Window.partitionBy("vec_id").orderBy(
        F.col("part"), F.col("cluster")
    )
    return (
        fscore.withColumn("rn", F.row_number().over(fw))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cluster")
    )


def _assign_ex(ex: DataFrame, cents: DataFrame) -> DataFrame:
    """As ``_assign_only`` plus the per-vector sqdist to the assigned
    centroid (a second pass over ``ex`` — callers that don't need the
    distance should not pay for it)."""
    assign = _assign_only(ex, cents)
    return (
        ex.join(assign, "vec_id")
        .join(F.broadcast(cents), ["cluster", "i"])
        .groupBy("vec_id", "cluster")
        .agg(F.sum((F.col("v") - F.col("cv")) ** 2).alias("sqdist"))
    )


def kmeans_assign_blas(df: DataFrame, cents: DataFrame) -> DataFrame:
    """Row-local BLAS twin of ``kmeans_assign(with_sqdist=False)``:
    the centroid relation (k×dim — tiny by the broadcast contract) is
    collected once and closed over BY VALUE into one ``mapInPandas``;
    each Arrow batch scores all centroids with a single matmul and
    argmins. Identical assignments to the join path (pinned by
    tests/test_semdedup.py: same ranking expression sum(cv²)−2·v·cv,
    ties → lowest cluster id = numpy argmin's first occurrence over
    ascending cluster columns).

    Why it exists (measured, BENCH/dedup_ops.json:semdedup_scaling):
    the exploded broadcast-join assign streams n×dim×k aggregate rows
    through the hash-agg — ~30 GB of memory traffic at 200k docs,
    which saturates one socket's DRAM bandwidth near 8 threads
    (corpus-part rate grew only 1.2–1.6× from local[8] to local[32]).
    The matmul formulation moves n×dim floats (~25× less) and keeps
    the arithmetic in BLAS, so the per-node scan scales with cores
    and, on a cluster, with nodes."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    rows = cents.collect()
    clusters = sorted({int(r.cluster) for r in rows})
    cmap = {c: j for j, c in enumerate(clusters)}
    dim = max(int(r.i) for r in rows) + 1
    cm = np.zeros((len(clusters), dim), dtype=np.float64)
    for r in rows:
        cm[cmap[int(r.cluster)], int(r.i)] = float(r.cv)
    half = (cm * cm).sum(axis=1)  # sum(cv^2) per centroid
    cl_arr = np.array(clusters, dtype=np.int64)

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("cluster", T.IntegerType()),
    ])

    def fn(batches):
        for pdf in batches:
            e = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            # part = sum(cv^2) - 2 v.cv, exactly the join path's rank
            part = half[None, :] - 2.0 * (e @ cm.T)
            idx = np.argmin(part, axis=1)  # first occurrence = lowest
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].astype("int64"),
                "cluster": cl_arr[idx].astype("int32"),
            })

    return df.select("vec_id", "embedding").mapInPandas(fn, schema)


def kmeans_assign(
    df: DataFrame, cents: DataFrame, with_sqdist: bool = True
) -> DataFrame:
    """Assign arbitrary vectors to FIXED centroids — (vec_id, cluster
    [, sqdist]). This is the fit-on-a-sample composition (SemDeDup,
    Abbas et al. 2023 §3 runs exactly this at the 1.1B-point scale):
    fit centroids on a bounded sample with ``kmeans_fit``, then
    broadcast-assign the full corpus — the big relation is never
    touched by the per-iteration Lloyd work or the O(k) init.

    ``with_sqdist=False`` skips the distance aggregate: it is a SECOND
    full pass over the exploded corpus, pure waste for consumers that
    only need the blocking (semdedup passes False — one pass total)."""
    ex = _explode(df)
    return _assign_ex(ex, cents) if with_sqdist else _assign_only(
        ex, cents)

