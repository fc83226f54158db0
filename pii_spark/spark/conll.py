"""CoNLL debug sink (SURVEY §2 S7 — pii_synth/write_conll.py:8-29).

token<TAB>LABEL lines, blank line between documents, special tokens
(-100 / offset (0,0)) skipped. Expressed with native array functions —
arrays_zip → filter → concat_ws — so the only Python is the alignment
UDF that already exists for metrics. Debug-scale sink: coalesce(1) like
the reference's single output file.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TOKTAG = T.ArrayType(
    T.StructType(
        [
            T.StructField("token", T.StringType()),
            T.StructField("tag", T.StringType()),
        ]
    )
)


def _toktags_fn(
    batches: Iterator[tuple[pd.Series, pd.Series]],
) -> Iterator[pd.Series]:
    from .metrics import gold_token_rows

    return gold_token_rows(batches, False, lambda toks, tags, ids: [
        {"token": tok, "tag": tag}
        for tok, tag, lid in zip(toks, tags, ids)
        if lid != -100  # skip specials (write_conll.py:24-26)
    ])


def conll_lines(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """(text, spans) → one CoNLL block string per document."""
    toktags = F.pandas_udf(_toktags_fn, _TOKTAG)(
        F.col("text"), F.col(spans_col)
    )
    block = F.array_join(
        F.transform(toktags, lambda tt: F.concat_ws("\t", tt.token, tt.tag)),
        "\n",
    )
    return df.select(block.alias("value"))


def write_conll(df: DataFrame, path: str, spans_col: str = "spans") -> None:
    blocks = conll_lines(df, spans_col)
    # blank line between docs: append one trailing newline per block
    blocks.select(F.concat(F.col("value"), F.lit("\n")).alias("value")) \
        .coalesce(1).write.mode("overwrite").text(path)
