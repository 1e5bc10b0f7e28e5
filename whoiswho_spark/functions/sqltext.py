"""SQL-text expression building.

A PySpark ``Column`` built in Python costs one py4j round trip per
function, literal and lambda variable: a ``F.filter`` with a Python
lambda costs about 20 ms of round trips, and ``isin`` over a stop list
one call per word. The same expression as SQL text costs one
``F.expr`` / ``selectExpr`` call and is parsed in the JVM, so the
hot-path expressions (normalize, blocking, the metrics rows) are SQL
text, wrapped once.
"""

from __future__ import annotations

import math

from pyspark.sql import Column


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal. Backslashes and quotes are
    escaped; the default parser (``escapedStringLiterals=false``)
    unescapes both, so the literal's value is ``s`` exactly."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_lit(v) -> str:
    """A Python scalar (None, int, float or str) as SQL literal text. A
    float becomes a DOUBLE literal (``1.5D``; a bare ``1.5`` would parse
    as a DECIMAL)."""
    if v is None:
        return "NULL"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float) and math.isfinite(v):
        return f"{v!r}D"
    if isinstance(v, str):
        return sql_str(v)
    raise TypeError(f"no SQL literal for {type(v).__name__}")


def sql_text(c: Column | str) -> str:
    """SQL text of an expression argument. A str already is SQL text (a
    plain column name is one); a Column is rendered by the JVM
    (``ColumnNode.sql``). The rendering keeps neither a DataFrame
    binding (``df["x"]`` resolves by name) nor backtick quoting, so pass
    such references as text."""
    return c if isinstance(c, str) else c._jc.node().sql()
