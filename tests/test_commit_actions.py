"""Spark actions per icelite commit: the data write and nothing after it.

Manifest stats come from the parquet footers just written and audit
rows are written on the driver, so a commit costs exactly the jobs of
its write; a path-mode job starts none before its first group read.
Jobs are counted per job group through the status tracker.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql.readwriter import DataFrameReader

from pii_spark.icelite.catalog import IceliteTable
from pii_spark.spark.jobs import _append_audit, run_quality_job


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts."""
    sc = spark.sparkContext
    group = f"commit-actions-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _frame(spark, lo: int, hi: int):
    return spark.range(lo, hi, numPartitions=4).selectExpr(
        "id", "cast(id as string) AS s", "id / 7.0 AS d")


def test_append_starts_only_its_write(spark, tmp_path):
    df = _frame(spark, 0, 200)
    plain = _jobs(spark, lambda: df.write.parquet(str(tmp_path / "plain")))
    t = IceliteTable(tmp_path / "tbl")
    assert plain >= 1
    assert _jobs(spark, lambda: t.append(df)) == plain
    snap = t.snapshot()
    assert snap.dir_stats[snap.data_dirs[0]]["rows"] == 200


def test_append_audit_starts_no_job(spark, tmp_path):
    audit = IceliteTable(tmp_path / "audit")
    rows = [(p, ["group=0", f"f{p}.parquet"], 10, 7, 3, 5) for p in range(4)]
    assert _jobs(spark, lambda: _append_audit(
        audit, "run", 123, rows, summary={"group": 0})) == 0
    assert audit.read(spark).count() == 4


def test_compact_starts_only_its_rewrite(spark, tmp_path):
    t = IceliteTable(tmp_path / "tbl")
    for g in range(3):
        t.append(_frame(spark, g * 100, g * 100 + 100), summary={"group": g})
    rewrite = _jobs(spark, lambda: t.read(spark).repartition(1)
                    .write.parquet(str(tmp_path / "plain")))
    assert rewrite >= 1
    assert _jobs(spark, lambda: t.compact(spark)) == rewrite
    assert t.data_file_count() == 1 and t.read(spark).count() == 300


def test_path_mode_job_starts_no_job_before_its_first_group_read(
        spark, tmp_path, monkeypatch):
    """With no group short of files, the input schema is never needed:
    the first parquet read of the run is group 0's, and no Spark job
    starts before it."""
    corpus = tmp_path / "corpus"
    spark.range(8, numPartitions=4).selectExpr(
        "concat('https://t.example.com/', id) AS url",
        "'A short line of plain words.' AS text",
    ).write.parquet(str(corpus))
    files = sorted(str(p) for p in corpus.glob("*.parquet"))
    assert len(files) == 4
    reads = []

    class FirstRead(Exception):
        pass

    def first_read(self, *paths, **options):
        reads.append(list(paths))
        raise FirstRead

    def run():
        with pytest.raises(FirstRead):
            run_quality_job(spark, str(corpus), str(tmp_path / "o"),
                            str(tmp_path / "a"), groups=2)

    monkeypatch.setattr(DataFrameReader, "parquet", first_read)
    assert _jobs(spark, run) == 0
    assert reads == [files[0::2]]
