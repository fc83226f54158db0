"""Distributed corpus generation (EP1 re-expressed Spark-first).

The reference generates its corpus in a single-threaded driver loop
(pii_synth/generation.py:908-929 + build_datasets.py:120-122). Here the
same grammar runs as ONE Spark job:

    spark.range(n)  →  mapInPandas(generate rows)  →  corpus + truth

Randomness is keyed on (seed, doc_id) inside the UDF (never global
state, never Spark rand()) so the output is identical for any partition
count, retry, or executor placement — which is also what makes the
determinism and resume tests possible. At 10^12-doc scale this job is
embarrassingly parallel: no shuffle at all, and writes go straight to a
partitioned table.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..schema import CORPUS

_GEN_SCHEMA = (
    "doc_id long, url string, warc_ts timestamp, html binary, text string,"
    " lang string, kind string,"
    " spans array<struct<start:int,end:int,label:string>>"
)


def _gen_batches(seed: int):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..textgrammar.generator import build_example

        for pdf in batches:
            rows = [build_example(seed, int(i)) for i in pdf["id"]]
            out = pd.DataFrame(rows)
            out["warc_ts"] = pd.to_datetime(out["warc_ts"])
            yield out

    return gen


def generate_full(spark: SparkSession, n: int, seed: int = 42,
                  partitions: int | None = None) -> DataFrame:
    """Corpus + ground-truth spans in one DataFrame (test/fixture use)."""
    rng = spark.range(n, numPartitions=partitions)
    return rng.mapInPandas(_gen_batches(seed), schema=_GEN_SCHEMA)


def generate_corpus(spark: SparkSession, n: int, seed: int = 42,
                    partitions: int | None = None) -> DataFrame:
    """Input-table view: exactly the BASELINE.json input_hint columns."""
    return generate_full(spark, n, seed, partitions).select(
        *[f.name for f in CORPUS.fields]
    )
