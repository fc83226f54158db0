"""Spark schemas (single source of truth).

Corpus shape is fixed by BASELINE.json input_hint:
(url string, warc_ts timestamp, html binary, text string, lang string);
doc_id is carried as a stable join key for tests/metrics.
Output + audit shapes per FIXTURES.md §5.
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN = T.StructType(
    [
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("label", T.StringType()),
    ]
)

SPAN_SRC = T.StructType(
    [
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("label", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)

CORPUS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

QUALITY_STRUCT = T.StructType(
    [
        T.StructField("n_words", T.IntegerType()),
        T.StructField("mean_word_len", T.DoubleType()),
        T.StructField("symbol_ratio", T.DoubleType()),
        T.StructField("rep_ratio", T.DoubleType()),
    ]
)

OUTPUT = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("keep", T.BooleanType()),
        T.StructField("drop_reason", T.StringType()),
        T.StructField("lang_pred", T.StringType()),
        T.StructField("ppl", T.DoubleType()),
        T.StructField("quality", QUALITY_STRUCT),
        T.StructField("spans", T.ArrayType(SPAN_SRC)),
        T.StructField("scrubbed_text", T.StringType()),
    ]
)

AUDIT = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("input_files", T.ArrayType(T.StringType())),
        T.StructField("docs_in", T.LongType()),
        T.StructField("docs_kept", T.LongType()),
        T.StructField("docs_dropped", T.LongType()),
        T.StructField("spans_scrubbed", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        # stamped by every commit, never null
        T.StructField("committed_at", T.TimestampType(), False),
    ]
)
