"""Deterministic corpus sampling — the draw operators a training-data
pipeline runs against a 10^12-document table.

All draw operators share one principle: the randomness is a
deterministic per-row hash key ``xxhash64(id, seed)``, never Spark's
``rand()`` (not stable across retries/partitionings — SURVEY §2.8).
Ordering rows by that key IS a seeded random permutation, so a prefix
of it is an exact uniform sample, reproducible on any cluster layout.

Scale shape (VERDICT r5 #1): NONE of these operators sorts a whole
stratum. A ``Window.partitionBy(stratum)`` formulation puts every row
of a stratum through one task's sort — with a dominant language
(90%+ of a web crawl is routinely one lang) that is a single-task
50 TB sort at the target scale. Instead every operator here uses the
bucketed-histogram-cut pattern:

1. map each row to a small BUCKET whose ordering is consistent with
   the operator's sort order (top bits of the hash key for the
   seeded draws; an equal-width score bin for CCNet bucketing);
2. ONE tiny aggregation — counts per (stratum, bucket), partial-
   aggregated map-side, ≤ #strata × 2^bits rows to the driver;
3. the driver walks each stratum's cumulative histogram and finds the
   bucket where the cut (sample quota / ntile rank boundary) lands;
4. assignment is a broadcast join + filter for every row NOT in a cut
   bucket, and an exact window over ONLY the cut bucket's rows
   (~stratum/2^bits of the data) for the boundary — so the only sort
   task any stratum pays is one bucket wide, and the only shuffled
   rows are candidates/boundaries, never the corpus.

Membership is EXACTLY what the single-window formulation produces
(the bucket order refines the sort order, and the boundary window
resolves the cut bucket at full (key, id) resolution) — the DuckDB
oracle for these operators still uses the plain window SQL.

* ``uniform_sample_n`` — exact-size uniform sample as the hash-order
  top-n: Spark executes orderBy+limit as a distributed TakeOrdered
  (per-partition top-n, tree-merged) — no global sort shuffle.
* ``stratified_sample_n`` / ``mixture_sample`` — exact per-stratum
  quotas via the bucketed cut above.
* ``token_budget_sample`` — "draw documents until ~B tokens": the
  budget threshold from a bucketed cumulative token histogram;
  resolution is one bucket's tokens (≈ total/2^bits in expectation).
* ``ccnet_buckets`` — per-stratum ntile by a score column via an
  equal-width score histogram + exact boundary windows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..identity import digest, listing

_SIGN_FLIP = -(1 << 63)  # XOR flips the top bit: signed order ≡ unsigned

# Every cut in this module is driven from a driver-side collect of a
# per-(stratum, bin) aggregate — ≤ #strata × 2^bits rows. That is tiny
# for the intended strata (lang/source, ≤10²) but silently
# driver-fatal if someone strata-fies by, say, URL domain (10⁷ strata
# on a web crawl). The collects are therefore bounded: above this many
# rows the operator refuses instead of OOMing the driver.
_MAX_DRIVER_ROWS = 1_000_000


def _collect_bounded(df, what: str):
    """collect() with an explicit cardinality contract (VERDICT r6 #3):
    raise if the aggregate exceeds ``_MAX_DRIVER_ROWS`` rows rather
    than materializing an unbounded stratum space on the driver."""
    rows = df.limit(_MAX_DRIVER_ROWS + 1).collect()
    if len(rows) > _MAX_DRIVER_ROWS:
        raise ValueError(
            f"{what}: stratum cardinality too high — the driver-side "
            f"cut would collect more than {_MAX_DRIVER_ROWS:,} "
            "(stratum, bin) rows. Strata are meant to be coarse "
            "(lang, source — at most thousands); a per-domain stratum "
            "column on a web crawl is ~10^7 strata and belongs in a "
            "coarser rollup before sampling."
        )
    return rows


def _key(id_col: str, seed: int):
    return F.xxhash64(F.col(id_col), F.lit(seed))


def _key_bucket(key: Column, bucket_bits: int) -> Column:
    """Top ``bucket_bits`` bits of the signed 64-bit key, remapped so
    bucket order matches the key's SIGNED sort order (xxhash64 is
    signed in Spark; a plain unsigned shift would put negative keys —
    which sort first — into the top half of the buckets).

    Bounded-domain contract (r8 equal-width audit): this equal-width
    geometry is safe ONLY because the domain is a HASH output —
    xxhash64 is uniform over int64 whatever the id distribution, so
    every bucket holds ≈ rows/2^bits and no planted id can
    concentrate mass (unlike raw ids or scores, where equal-width
    collapsed twice: VERDICT r6 #1 scores, r7 #1 packing ids). Never
    reuse this bucket for a non-hash column."""
    return F.shiftrightunsigned(
        key.bitwiseXOR(F.lit(_SIGN_FLIP)), 64 - bucket_bits
    )


def uniform_sample_n(
    df: DataFrame, n: int, id_col: str = "doc_id", seed: int = 42,
    key_fn=None,
) -> DataFrame:
    """Exact-size seeded uniform sample (hash-permutation prefix).

    ``key_fn(id_col, seed)`` overrides the permutation key — the
    driver's oracle query passes an md5-string key so DuckDB can
    replicate the draw byte-for-byte; production keeps the default
    xxhash64 (8-byte longs, no digest strings shuffled)."""
    key = (key_fn or _key)(id_col, seed)
    return df.orderBy(key, F.col(id_col)).limit(n)


def _quota_prefix(
    df: DataFrame,
    stratum_col: str,
    quotas,  # int (same for every stratum) or {stratum: n}
    id_col: str,
    key: Column,
    bucket: Column,
) -> DataFrame:
    """Shared bucketed-cut engine for the per-stratum prefix draws.

    ``bucket`` MUST order consistently with ``key`` (equal keys in
    equal buckets, bucket strictly increasing across distinct key
    order) — both built-in pairs (xxhash64/top-bits and the oracle's
    md5/leading-hex-chars) satisfy this; the membership is then
    byte-identical to ``row_number() OVER (PARTITION BY stratum ORDER
    BY key, id) <= quota``."""
    from pyspark.sql import Window
    from pyspark.sql.types import LongType, StructField, StructType

    if isinstance(quotas, dict):
        # isin() never matches NULL — admit the NULL stratum explicitly
        # when the quota dict names it (None key)
        member = F.col(stratum_col).isin(
            [s for s in quotas if s is not None]
        )
        if None in quotas:
            member = member | F.col(stratum_col).isNull()
        df = df.filter(member)

    df = df.withColumn("_bkt", bucket)
    hist = _collect_bounded(
        # ≤ #strata × 2^bits tiny rows, partial-aggregated
        df.groupBy(stratum_col, "_bkt").count(),
        "stratified/mixture sample",
    )
    per: dict = {}
    for r in hist:
        per.setdefault(r[stratum_col], []).append((r["_bkt"], r["count"]))

    cut_rows = []
    for s, bl in per.items():
        q = quotas[s] if isinstance(quotas, dict) else quotas
        if q <= 0:
            continue
        cum, cut, need = 0, None, 0
        for b, c in sorted(bl):
            if cum + c >= q:
                cut, need = b, q - cum
                break
            cum += c
        if cut is None:  # whole stratum smaller than its quota:
            cut, need = max(bl)  # keep the last bucket in full
        cut_rows.append((s, int(cut), int(need)))
    cuts = df.sparkSession.createDataFrame(
        cut_rows,
        StructType([
            StructField(stratum_col, df.schema[stratum_col].dataType),
            StructField("_cut", LongType()),
            StructField("_need", LongType()),
        ]),
    )

    # candidates = buckets ≤ cut (≈ quota + one bucket per stratum) —
    # only these shuffle; the window partitions by (stratum, BUCKET),
    # so the largest sort task is one bucket of one stratum.
    # eqNullSafe: a NULL stratum is a stratum (the window formulation
    # this engine replaces partitioned it like any other; a plain
    # equi-join silently dropped its rows — review r6)
    w = Window.partitionBy(stratum_col, "_bkt").orderBy(key, F.col(id_col))
    return (
        df.join(
            F.broadcast(cuts),
            df[stratum_col].eqNullSafe(cuts[stratum_col]),
        )
        .drop(cuts[stratum_col])
        .filter(F.col("_bkt") <= F.col("_cut"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(
            (F.col("_bkt") < F.col("_cut"))
            | (F.col("_rn") <= F.col("_need"))
        )
        .drop("_bkt", "_cut", "_need", "_rn")
    )


def stratified_sample_n(
    df: DataFrame,
    stratum_col: str,
    n_per_stratum: int,
    id_col: str = "doc_id",
    seed: int = 42,
    key_fn=None,
    bucket_expr=None,
    bucket_bits: int = 12,
) -> DataFrame:
    """Exactly ``n_per_stratum`` rows from each stratum (fewer when a
    stratum is smaller), uniformly within the stratum — the bucketed
    cut, never a per-stratum sort. ``key_fn`` as in
    ``uniform_sample_n``; ``bucket_expr`` must then be supplied and
    order-consistent with that key (the driver's oracle passes the
    md5 key with a leading-hex-chars bucket)."""
    key = (key_fn or _key)(id_col, seed)
    bucket = (
        bucket_expr if bucket_expr is not None
        else _key_bucket(key, bucket_bits)
    )
    return _quota_prefix(
        df, stratum_col, n_per_stratum, id_col, key, bucket
    )


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    token_col: str,
    id_col: str = "doc_id",
    seed: int = 42,
    bucket_bits: int = 12,
    bucket_expr=None,
) -> DataFrame:
    """Seeded random draw of documents totalling ≈ ``budget_tokens``
    (within one bucket's resolution). Deterministic across layouts.

    Plan: bucket = top ``bucket_bits`` bits of the hash key → ONE small
    aggregation of token sums per bucket (2^bits rows) → driver-side
    cumulative scan picks the cut bucket → the sample is one
    predicate-pushed filter ``bucket <= cut``. No global sort, no
    window over the whole corpus.

    ``bucket_expr`` overrides the default xxhash64-derived bucket with
    any integer column in [0, 2^bucket_bits) — the driver's oracle
    query passes an md5-hex-derived bucket so DuckDB can replicate the
    cut deterministically.

    Bounded-domain contract (r8 equal-width audit): the default bucket
    is equal-width over a HASH output, uniform by construction — see
    ``_key_bucket``. Token-count skew cannot collapse it either: a
    single 10^9-token doc only coarsens the budget RESOLUTION (its
    whole bucket is taken or left); there is no sort or per-bucket
    window anywhere in this operator."""
    n_buckets = 1 << bucket_bits
    # unsigned-shift the 64-bit key into [0, 2^bits)
    bucket = (
        bucket_expr if bucket_expr is not None
        else F.shiftrightunsigned(_key(id_col, seed), 64 - bucket_bits)
    )
    per_bucket = (
        df.select(bucket.alias("_b"), F.col(token_col))
        .groupBy("_b")
        .agg(F.sum(token_col).alias("t"))
        .collect()  # ≤ 2^bits tiny rows by construction
    )
    # an all-NULL-token bucket sums to None (SQL sum semantics) —
    # contributes zero tokens, must not poison the driver arithmetic
    sums = {r._b: (r.t or 0) for r in per_bucket}
    running, cut = 0, -1
    for b in range(n_buckets):
        t = sums.get(b, 0)
        if running + t > budget_tokens and running > 0:
            break
        running += t
        cut = b
        if running >= budget_tokens:
            break
    return df.filter(bucket <= F.lit(cut))


def mixture_sample(
    df: DataFrame,
    weights: dict,
    total_n: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
    key_fn=None,
    bucket_expr=None,
    bucket_bits: int = 12,
) -> DataFrame:
    """Data-mixing draw: sample ≈``total_n`` rows with per-stratum
    counts proportional to ``weights`` (the DoReMi/Pile-style static
    source-reweighting step). Strata absent from ``weights`` are
    excluded.

    Quotas use largest-remainder apportionment (floor the
    proportional share, hand the leftover rows to the largest
    fractional parts, stratum name as the tie-break) — exact integer
    counts summing to ``total_n``, deterministically. Within a
    stratum the draw is the same seeded hash-permutation prefix as
    ``stratified_sample_n``, executed with the same bucketed cut (no
    per-stratum sort); a stratum smaller than its quota yields all
    its rows (no silent redistribution — the shortfall is the
    caller's signal that the mix is infeasible)."""
    if any(w < 0 for w in weights.values()):
        # a negative weight would give another stratum a quota above
        # total_n while its own negative quota selects nothing — the
        # call would silently return MORE than total_n rows (review
        # r5b). Zero is fine: quota 0 = explicit exclusion.
        raise ValueError("weights must be non-negative")
    total_w = sum(weights.values())
    if total_w <= 0:
        raise ValueError("weights must sum to a positive value")
    shares = {s: w / total_w * total_n for s, w in weights.items()}
    quotas = {s: int(share) for s, share in shares.items()}
    leftover = total_n - sum(quotas.values())
    # tie-break key is None-safe (NULL stratum sorts first) while
    # preserving the NATIVE ordering of non-None strata — str(s) here
    # would reorder int strata lexicographically and silently change
    # same-seed apportionment (review r6b)
    for s in sorted(
        shares,
        key=lambda s: (-(shares[s] - quotas[s]), s is not None,
                       s if s is not None else 0),
    )[:leftover]:
        quotas[s] += 1

    key = (key_fn or _key)(id_col, seed)
    bucket = (
        bucket_expr if bucket_expr is not None
        else _key_bucket(key, bucket_bits)
    )
    return _quota_prefix(df, stratum_col, quotas, id_col, key, bucket)


def route_table_identity(route_dir: str) -> str:
    """`pii_spark.identity` of a routing-table dir, recorded by the
    pack/export job so an export under a different routing table
    refuses loudly instead of silently changing which docs train."""
    return digest(listing(
        route_dir,
        f"no routing-table parquet files under {route_dir} — "
        "derive one with jobs/run_maintenance.py --route-buckets",
    ))


def route_weight_filter(
    df: DataFrame,
    route: DataFrame,
    weights: dict,
    id_col: str = "url",
    seed: int = 2026,
    bucket_col: str = "ccnet_bucket",
) -> DataFrame:
    """Consume a CCNet routing table (VERDICT r7 missing #2 — the
    `--route-buckets` output had no consumer): join every doc to its
    routed bucket and keep it with probability ``weights[bucket]`` —
    head/middle kept, tail down-weighted/dropped is CCNet §3.3's
    export-time use of the buckets. Adds the bucket column to the
    survivors (export census / lineage).

    Determinism: the draw is the repo-standard per-row hash key
    ``xxhash64(id, seed)`` mapped to [0, 1) — never ``rand()`` — so
    membership is identical across retries, partitionings, and
    engines. Weight 1.0 keeps the whole bucket, 0.0 drops it; >1.0
    (upsampling) is refused — duplicating rows belongs to an explicit
    repeat-epoch step, not a filter. Docs ABSENT from the route table
    are dropped (the table is derived from the keep-filtered corpus;
    an unrouted doc was never eligible), via the inner join.

    Cost shape: one corpus-sized equi-join on ``id_col`` (the route
    table is corpus-sized too — it cannot broadcast) + a row-local
    hash filter; no aggregation, no window."""
    for b, w in weights.items():
        if not (0.0 <= float(w) <= 1.0):
            raise ValueError(
                f"route weight for {b!r} is {w}; weights are keep "
                "probabilities in [0, 1] — upsampling is a repeat-"
                "epoch concern, not a filter"
            )
    # r9 (ADVICE r8 medium): a table bucket absent from ``weights``
    # used to coalesce to keep probability 0.0 — a typo in
    # --route-weights, or a table built with a different
    # --route-buckets (whose labels are not head/middle/tail), silently
    # dropped part or all of the corpus. Every ACTUAL table bucket must
    # now carry an explicit weight (a typo'd key always leaves its real
    # bucket uncovered, so this one check catches both directions; a
    # weight naming a bucket the table lacks is harmless — it gates
    # nothing). The distinct scan is bucket-count rows (the table has a
    # handful of labels by construction).
    table_buckets = {
        r[0] for r in route.select(bucket_col).distinct().collect()
    }
    missing = sorted(b for b in table_buckets if b not in weights)
    if missing:
        raise ValueError(
            f"route table buckets {missing} have no weight; pass an "
            f"explicit weight for every bucket "
            f"(table has {sorted(table_buckets)})"
        )
    wmap = F.create_map(
        *[F.lit(x) for b, w in weights.items() for x in (b, float(w))]
    )
    r = route.select(F.col(id_col), F.col(bucket_col))
    # uniform in [0,1): top 53 bits of the unsigned 64-bit key (53 so
    # the double mantissa holds it exactly)
    u = (
        F.shiftrightunsigned(F.xxhash64(F.col(id_col), F.lit(seed)), 11)
        / F.lit(float(1 << 53))
    )
    return (
        df.join(r, id_col, "inner")
        .withColumn("_w", F.coalesce(wmap[F.col(bucket_col)], F.lit(0.0)))
        .filter(u < F.col("_w"))
        .drop("_w")
    )


_CCNET_NAMES = {3: ("head", "middle", "tail")}


def ccnet_buckets(
    df: DataFrame,
    score_col: str,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    n_buckets: int = 3,
    hist_bits: int = 10,
) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020,
    arXiv:1911.00359 §3.3): within each language, rank documents by an
    LM perplexity score and split into equal-size buckets — head
    (lowest perplexity, best), middle, tail. CCNet trains on head or
    head+middle depending on the target; the bucket label is the
    routing key.

    Rank-based on purpose: ntile needs no percentile-interpolation
    semantics to agree across engines (the paper also cuts at fixed
    FRACTIONS of the per-language distribution, which is exactly what
    equal-size rank buckets are), and the id tie-break makes the split
    deterministic under score ties and any partitioning. NULL scores
    rank LAST (worst — into the tail), matching both engines' ASC
    NULLS LAST; ranking unknown-perplexity docs into the head was the
    r5 ADVICE bug.

    Scale shape: labels come from a 2^``hist_bits``-bin per-stratum
    score histogram — every bin that does not straddle an ntile rank
    boundary gets its label from a broadcast map (zero shuffle for
    ~all rows); only the ≤ n_buckets-1 straddling bins per stratum are
    resolved by an exact (score, id) window over just those bins'
    rows. Membership is EXACTLY the single-window ntile's.

    Bins are equal-width in ``log1p(score - min)``, not in the raw
    score (VERDICT r6 #1, confirmed live): perplexity — the operator's
    stated score — is heavy-tailed, and a single 10^6-ppl junk doc
    against a 50–1000 bulk puts 99.99% of the stratum into raw bin 0,
    degrading the boundary window to the stratum-wide single-task sort
    this histogram exists to avoid. ``log1p`` is strictly monotone, so
    bin order still refines (score, id) order — the exactness
    precondition is untouched — while the outlier now costs ~half the
    log extent instead of ~all of the raw extent. Degenerate
    distributions (one point mass = one bin) still fall back to
    sorting that bin; continuous scores keep boundary bins at
    ~stratum/2^bits rows.

    Adds a ``ccnet_bucket`` string column ("head"/"middle"/"tail" for
    the canonical 3, else "b1".."bN")."""
    from pyspark.sql import Window

    marked = _ccnet_marked(
        df, score_col, stratum_col, n_buckets, hist_bits
    )
    names = _CCNET_NAMES.get(n_buckets)

    def label_expr(tile: Column) -> Column:
        if names:
            return F.element_at(
                F.array(*[F.lit(x) for x in names]), tile.cast("int")
            )
        return F.concat(F.lit("b"), tile.cast("string"))

    keep = [c for c in df.columns]
    uniform = marked.filter(F.col("_tile").isNotNull()).select(
        *keep, label_expr(F.col("_tile")).alias("ccnet_bucket")
    )
    # boundary bins only: exact rank = bin offset + within-bin
    # (score NULLS LAST, id) row number; tile = 1 + #cuts below rank
    # (rank materialized via withColumn — a window expr cannot live
    # inside a higher-order-function lambda)
    w = Window.partitionBy(stratum_col, "_sb").orderBy(
        F.col(score_col).asc_nulls_last(), F.col(id_col)
    )
    btile = F.lit(1) + F.size(
        F.filter("_cuts", lambda u: u < F.col("_rank"))
    )
    boundary = (
        marked.filter(F.col("_tile").isNull())
        .withColumn(
            "_rank",
            (F.col("_off") + F.row_number().over(w)).cast("double"),
        )
        .select(*keep, label_expr(btile).alias("ccnet_bucket"))
    )
    return uniform.unionByName(boundary)


def _ccnet_marked(
    df: DataFrame,
    score_col: str,
    stratum_col: str,
    n_buckets: int,
    hist_bits: int,
) -> DataFrame:
    """The histogram-cut core of :func:`ccnet_buckets`: returns ``df``
    plus ``_sb`` (log-width score bin), ``_tile`` (the bucket, already
    known for non-straddling bins; NULL for rows the boundary window
    must rank), ``_off`` (rank offset of the bin) and ``_cuts``.
    Split out so tests can measure the ``_tile IS NULL`` population —
    the rows that pay a sort — under adversarial score shapes."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    H = 1 << hist_bits
    spark = df.sparkSession
    stype = df.schema[stratum_col].dataType

    extent = _collect_bounded(
        df.groupBy(stratum_col).agg(
            F.count("*").alias("c"),
            F.min(score_col).alias("mn"),
            F.max(score_col).alias("mx"),
        ),
        "ccnet_buckets",
    )
    # per-stratum bin geometry (log-space width) + exact ntile rank
    # uppers: uppers[i] = i*floor(c/n) + min(i, c mod n)
    import math

    geo_rows, cuts_of = [], {}
    for r in extent:
        c = r["c"]
        mn = float(r["mn"]) if r["mn"] is not None else 0.0
        mx = float(r["mx"]) if r["mx"] is not None else 0.0
        w = math.log1p(mx - mn) / H if mx > mn else 0.0
        fl, rem = c // n_buckets, c % n_buckets
        cuts = [i * fl + min(i, rem) for i in range(1, n_buckets)]
        cuts_of[r[stratum_col]] = cuts
        geo_rows.append((r[stratum_col], mn, w, [float(x) for x in cuts]))
    geo = spark.createDataFrame(
        geo_rows,
        StructType([
            StructField(stratum_col, stype),
            StructField("_mn", DoubleType()),
            StructField("_w", DoubleType()),
            StructField("_cuts", ArrayType(DoubleType())),
        ]),
    )

    # bin of a row: equal-width in log1p(score-mn), NULLs in the
    # trailing bin H (NULLS LAST); log1p is strictly increasing and
    # floor(log1p(s-mn)/w) is monotone in s, so bin order refines
    # (score, id) order — the exactness precondition
    sb = (
        F.when(F.col(score_col).isNull(), F.lit(H))
        .when(F.col("_w") == 0.0, F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    F.log1p(
                        F.col(score_col).cast("double") - F.col("_mn")
                    )
                    / F.col("_w")
                ),
                F.lit(H - 1),
            )
        )
        .cast("long")
    )
    # eqNullSafe: docs with a NULL stratum (lang unset — exactly what
    # the WARC readers emit) must be bucketed like any stratum, not silently
    # dropped by an equi-join (review r6)
    binned = (
        df.join(
            F.broadcast(geo),
            df[stratum_col].eqNullSafe(geo[stratum_col]),
        )
        .drop(geo[stratum_col])
        .withColumn("_sb", sb)
    )

    hist = _collect_bounded(
        binned.groupBy(stratum_col, "_sb").count(), "ccnet_buckets"
    )
    per: dict = {}
    for r in hist:
        per.setdefault(r[stratum_col], []).append((r["_sb"], r["count"]))

    # driver: cumulative walk → uniform bins get their tile directly,
    # straddling bins get (tile=NULL, rank offset) for the window
    def tile_of(rank: int, cuts: list) -> int:
        t = 1
        for u in cuts:
            if rank > u:
                t += 1
        return t

    lab_rows = []
    for s, bl in per.items():
        cuts = cuts_of[s]
        cum = 0
        for b, c in sorted(bl):
            lo, hi = cum + 1, cum + c
            t_lo, t_hi = tile_of(lo, cuts), tile_of(hi, cuts)
            lab_rows.append(
                (s, int(b), t_lo if t_lo == t_hi else None, int(cum))
            )
            cum += c
    labels = spark.createDataFrame(
        lab_rows,
        StructType([
            StructField(stratum_col, stype),
            StructField("_sb", LongType()),
            StructField("_tile", LongType()),
            StructField("_off", LongType()),
        ]),
    )

    return binned.join(
        F.broadcast(labels),
        binned[stratum_col].eqNullSafe(labels[stratum_col])
        & (binned["_sb"] == labels["_sb"]),
    ).drop(labels[stratum_col]).drop(labels["_sb"])
