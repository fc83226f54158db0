"""Spark SQL text for the functions that build columns.

Under PySpark classic's default ``spark.python.sql.dataFrameDebugging
.enabled=true`` every Column-API call records its call site through
Py4J before it builds anything: ``F.col`` costs 13 round trips,
``F.when(...).otherwise(...)`` 53 and ``F.filter`` with a lambda 34,
while ``F.expr`` parses a whole expression tree for 3. The column
functions in ``spark/pipeline.py`` and ``quality/`` therefore write
each column as one SQL expression string, compose those strings in
Python, and turn each finished string into a Column (or a
``selectExpr`` item) once.

Literals are typed the way ``F.lit`` types them: a float is written
with the ``D`` suffix, because a bare ``1.0`` in Spark SQL is
``DECIMAL(2,1)``; strings are raw literals, so regex backslashes and
newlines reach the engine unchanged whatever
``spark.sql.parser.escapedStringLiterals`` says."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def lit(v) -> str:
    """A Python constant as a SQL literal of the type ``F.lit(v)`` has."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return f"{v!r}D"
    if isinstance(v, str) and "'" not in v and not v.endswith("\\"):
        return f"r'{v}'"
    raise ValueError(f"no raw SQL literal for {v!r}")


def as_sql(c: str | Column) -> str:
    """A column function's argument as SQL text. A str already is; a Column
    renders as its SQL text, which parses back for column references,
    literals and plain function calls (not for a Column holding a
    lambda — pass SQL text for those)."""
    return c if isinstance(c, str) else f"({c._jc.toString()})"


def exprs(sql: dict[str, str]) -> dict[str, Column]:
    return {k: F.expr(v) for k, v in sql.items()}
