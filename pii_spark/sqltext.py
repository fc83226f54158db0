"""Spark SQL text for the functions that build columns.

Under PySpark classic's default ``spark.python.sql.dataFrameDebugging
.enabled=true`` every Column-API call records its call site through
Py4J before it builds anything: ``F.col`` costs 13 round trips,
``F.when(...).otherwise(...)`` 53 and ``F.filter`` with a lambda 34,
while ``F.expr`` parses a whole expression tree for 3. The column
functions in ``spark/pipeline.py`` and ``quality/`` therefore write
each column as one SQL expression string and compose those strings in
Python. They take and return SQL text only — there is no Column-typed
twin of any of them — and the caller turns each finished string into
a Column (``F.expr``) or a ``selectExpr`` item once.

Literals are typed the way ``F.lit`` types them: a float is written
with the ``D`` suffix, because a bare ``1.0`` in Spark SQL is
``DECIMAL(2,1)``; strings are raw literals, so regex backslashes and
newlines reach the engine unchanged whatever
``spark.sql.parser.escapedStringLiterals`` says."""

from __future__ import annotations


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
