"""icelite manifest stats read from parquet footers, against the Spark
aggregate that computed them before, and the audit table written by
both Spark and pyarrow.

``spark_dir_stats`` is that aggregate, kept here as the twin: one
column-pruned read-back of the dir with count(*) and min/max per stat
column, bounds truncated the same way. Footer stats must equal it
wherever the footers bound a column; where they cannot (values over
4 KB, which parquet-java writes no min/max for) or where the twin's
bound is NaN (which would prune a matching dir), the footer column is
unbounded.
"""

from __future__ import annotations

import json
import math
import random
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pii_spark.icelite.catalog import IceliteTable
from pii_spark.schema import AUDIT
from pii_spark.spark.jobs import _append_audit

_SPARK_STAT_TYPES = {"string", "integer", "long", "double", "float"}


def spark_dir_stats(spark, d: str) -> dict:
    df = spark.read.parquet(d)
    eligible = [f.name for f in df.schema.fields
                if f.dataType.typeName() in _SPARK_STAT_TYPES]
    aggs = [F.count("*").alias("__rows")]
    for c in eligible:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    row = df.agg(*aggs).collect()[0]
    return {
        "rows": int(row["__rows"]),
        "cols": {c: list(IceliteTable._truncate_bounds(row[f"__min_{c}"],
                                                       row[f"__max_{c}"]))
                 for c in eligible},
    }


def _stats(spark, tmp_path, name, rows, schema, files=1, **opts):
    """(footer stats, twin stats) of ``rows`` written by Spark into
    ``files`` files."""
    d = str(tmp_path / name)
    (spark.createDataFrame(rows, schema).repartition(files)
     .write.options(**opts).parquet(d))
    return IceliteTable._collect_dir_stats(d), spark_dir_stats(spark, d)


def test_strings_over_4kb_are_unbounded(spark, tmp_path):
    rows = [(i, "x" * 5000 if i == 3 else f"doc{i}", f"u{i}")
            for i in range(8)]
    foot, twin = _stats(spark, tmp_path, "big", rows,
                        "k int, text string, url string", files=2)
    assert foot["cols"]["text"] == [None, None]
    assert twin["cols"]["text"] == ["doc0", "xxxxxxxxxxxxxxxy"]
    del foot["cols"]["text"], twin["cols"]["text"]
    assert foot == twin


def test_non_ascii_and_astral_strings_order_like_spark(spark, tmp_path):
    """Code-point order of the decoded footer bounds is Spark's UTF-8
    byte order, also across files and past the 16-char truncation."""
    alphabet = ["a", "z", "é", "ÿ", "Ω", "中", "￯", "￿",
                "\U00010000", "\U0001f600", "\U0010fffd", "\U0010ffff"]
    rng = random.Random(7)
    for case in range(12):
        rows = [("".join(rng.choice(alphabet)
                         for _ in range(rng.randint(0, 20))),)
                for _ in range(rng.randint(1, 6))]
        foot, twin = _stats(spark, tmp_path, f"s{case}", rows, "s string",
                            files=rng.randint(1, 3))
        assert foot == twin, rows


def test_nan_bound_is_unbounded_and_infinities_kept(spark, tmp_path):
    rows = [(1.0, 1.0, float("-inf")), (float("nan"), 2.0, float("inf")),
            (0.5, float("nan"), 3.0)]
    foot, twin = _stats(spark, tmp_path, "dbl", rows,
                        "d double, f float, e double")
    assert math.isnan(twin["cols"]["d"][1])
    assert math.isnan(twin["cols"]["f"][1])
    assert foot["cols"]["d"] == [None, None]
    assert foot["cols"]["f"] == [None, None]
    assert foot["cols"]["e"] == twin["cols"]["e"] == [float("-inf"),
                                                      float("inf")]
    assert foot["rows"] == twin["rows"] == 3


def test_nan_dir_is_not_pruned(spark, tmp_path):
    """A NaN max would make every probe fall outside [min, NaN]: the
    dir holding d=1.0 would be pruned and the delete would miss it."""
    t = IceliteTable(tmp_path / "tbl")
    t.append(spark.createDataFrame([(1.0,), (float("nan"),)], "d double"))
    snap, n = t.delete_keys(spark, "d", [1.0])
    assert n == 1 and t.read(spark).count() == 1


def test_all_null_columns_and_empty_group(spark, tmp_path):
    schema = "k int, s string, d double, b bigint"
    foot, twin = _stats(spark, tmp_path, "nulls",
                        [(None, None, None, 5), (None, None, None, 6)],
                        schema, files=2)
    assert foot == twin
    assert foot["cols"]["s"] == [None, None]
    foot, twin = _stats(spark, tmp_path, "empty", [], schema)
    assert foot == twin == {
        "rows": 0, "cols": {c: [None, None] for c in ("k", "s", "d", "b")}}


def test_several_files_and_row_groups(spark, tmp_path):
    """Bounds fold over every row group of every file; nested and
    non-stat columns before a stat column do not shift its leaf."""
    rng = random.Random(11)
    rows = [(i, [(rng.randint(0, 9), "ab")] * (i % 3),
             (rng.random(), f"n{i}"), rng.randint(-10**12, 10**12),
             rng.uniform(-1e6, 1e6), f"k{rng.randint(0, 10**6):07d}",
             bool(i % 2))
            for i in range(3000)]
    schema = T.StructType([
        T.StructField("i", T.IntegerType()),
        T.StructField("spans", T.ArrayType(T.StructType([
            T.StructField("start", T.IntegerType()),
            T.StructField("label", T.StringType())]))),
        T.StructField("nested", T.StructType([
            T.StructField("x", T.DoubleType()),
            T.StructField("y", T.StringType())])),
        T.StructField("l", T.LongType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("s", T.StringType()),
        T.StructField("b", T.BooleanType()),
    ])
    foot, twin = _stats(spark, tmp_path, "multi", rows, schema, files=3,
                        **{"parquet.block.size": "4096"})
    d = tmp_path / "multi"
    mds = [pq.read_metadata(f) for f in d.glob("*.parquet")]
    assert len(mds) == 3 and all(md.num_row_groups > 1 for md in mds)
    assert set(foot["cols"]) == {"i", "l", "d", "s"}
    assert foot == twin


def test_mixed_writer_audit_table(spark, tmp_path):
    """An audit snapshot written by Spark (INT96 committed_at) followed
    by driver-written pyarrow ones reads back through one pinned
    schema with the same types and values."""
    audit = IceliteTable(tmp_path / "audit")
    t0 = time.time()
    fields = AUDIT.fields[:-1]
    audit.append(
        spark.createDataFrame(
            [("old", 1, 0, ["group=0", "a.parquet"], 10, 7, 3, 4, 50)],
            T.StructType(fields),
        ).withColumn("committed_at", F.current_timestamp()),
        summary={"group": 0},
    )
    spark_file = next((tmp_path / "audit" / "data").glob("*/*.parquet"))
    assert str(pq.read_schema(spark_file).field("committed_at").type) \
        == "timestamp[ns]"  # INT96
    _append_audit(audit, "new", 2,
                  [(0, ["group=1", "b.parquet"], 20, 15, 5, 60),
                   (3, ["group=1", "c.parquet"], 5, 0, 0, 60)],
                  summary={"group": 1})
    _append_audit(audit, "new", 3, [(-1, ["forget:1_urls"], 1, 0, 0, 9)],
                  summary={"forget_run": "new"})
    t1 = time.time()

    schemas = {json.dumps(s.schema) for s in audit.snapshots()}
    assert len(schemas) == 1
    df = audit.read(spark)
    assert [(f.name, f.dataType) for f in df.schema.fields] \
        == [(f.name, f.dataType) for f in AUDIT.fields]
    got = sorted(tuple(r)[:-1] for r in df.collect())
    assert got == [
        ("new", 2, 0, ["group=1", "b.parquet"], 20, 15, 5, 5, 60),
        ("new", 2, 3, ["group=1", "c.parquet"], 5, 0, 5, 0, 60),
        ("new", 3, -1, ["forget:1_urls"], 1, 0, 1, 0, 9),
        ("old", 1, 0, ["group=0", "a.parquet"], 10, 7, 3, 4, 50),
    ]
    for r in df.collect():
        assert t0 - 1 <= r.committed_at.timestamp() <= t1 + 1
    assert audit.committed_groups() == {0, 1}
