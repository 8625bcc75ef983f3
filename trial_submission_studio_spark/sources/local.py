"""Small literal DataFrames without the Python-RDD path.

This module is the ONE place that renders Python values and names as
SQL text (``sql_string``, ``ident``; other modules build SQL strings
from these two). A list-built ``createDataFrame`` routes through
``applySchemaToPythonRDD`` — every downstream action then schedules
Python-worker tasks (~250 ms of protocol latency each) and the lookup
side of every broadcast join becomes an opaque ExistingRDD. For
driver-known tables (codelists, reciprocal maps, issue reports, gate
rows) a SQL ``VALUES`` relation keeps the whole thing JVM-side:
Catalyst folds it into a LocalRelation and ``collect`` runs no job.

Literal rules (each value is rendered as its declared column type,
so every row of a column carries exactly that type):

- strings escape backslash, then quote, then ``$`` as ``\\u0024``.
  Spark substitutes ``${...}`` variables (``spark.sql.variable.
  substitute``, on by default) in the SQL TEXT before parsing, so a
  raw ``$`` would let data such as ``${env:HOME}`` pull host values
  into the frame; the parser decodes ``\\u0024`` after substitution.
- doubles are ``CAST('<repr>' AS DOUBLE)`` (repr round-trips, the
  cast is correctly rounded); NaN and ±Infinity are casts too.
- NULLs carry their column type; identifiers are backtick-quoted.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def sql_string(s: str) -> str:
    """A SQL string literal that parses back to exactly ``s``."""
    esc = s.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
    return f"'{esc}'"


def ident(name: str) -> str:
    """A backtick-quoted SQL identifier that names exactly ``name``."""
    return "`" + name.replace("`", "``") + "`"


def _sql_literal(v, t: T.DataType) -> str:
    if v is None:
        return f"CAST(NULL AS {t.simpleString()})"
    if isinstance(t, T.StringType):
        return sql_string(str(v))
    if isinstance(t, T.BooleanType):
        return "TRUE" if v else "FALSE"
    if isinstance(t, T.IntegralType):
        return f"CAST({int(v)} AS {t.simpleString()})"
    if isinstance(t, (T.DoubleType, T.FloatType)):
        # repr round-trips; 'nan', 'inf', '-inf' are cast spellings too
        lit = f"CAST('{float(v)!r}' AS DOUBLE)"
        # FLOAT narrows from the double, as Python's float would
        return lit if isinstance(t, T.DoubleType) else f"CAST({lit} AS FLOAT)"
    if isinstance(t, T.BinaryType):
        return f"X'{bytes(v).hex()}'"
    if isinstance(t, T.ArrayType):
        items = ", ".join(_sql_literal(x, t.elementType) for x in v)
        return f"CAST(array({items}) AS {t.simpleString()})"
    # decimal, date, timestamp, ...: Spark casts the value's text
    return f"CAST({sql_string(str(v))} AS {t.simpleString()})"


@functools.lru_cache(maxsize=256)
def _schema(ddl: str) -> T.StructType:
    return T.StructType.fromDDL(ddl)


def values_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """``schema``: Spark DDL, e.g. ``'name string, n bigint'``.

    Builds ``SELECT * FROM VALUES (...) AS t(cols)`` with every value
    rendered as its declared type (empty ``rows``: a typed zero-row
    SELECT), so the frame's types match the DDL exactly.
    """
    fields = _schema(schema).fields
    names = ", ".join(ident(f.name) for f in fields)
    if rows:
        value_rows = ", ".join(
            "("
            + ", ".join(
                _sql_literal(v, f.dataType) for v, f in zip(row, fields, strict=True)
            )
            + ")"
            for row in rows
        )
        sql = f"SELECT * FROM VALUES {value_rows} AS t({names})"
    else:
        casts = ", ".join(
            f"CAST(NULL AS {f.dataType.simpleString()}) AS {ident(f.name)}"
            for f in fields
        )
        sql = f"SELECT {casts} WHERE FALSE"
    out = spark.sql(sql)
    # literal-row provenance: consumers that can compile a lookup into
    # a constant expression (operators/ct_lookup.py) skip the per-use
    # build job + BroadcastExchange. Best-effort: any transformation
    # returns a new DataFrame without it, so every consumer keeps the
    # frame-based path as the fallback.
    out._tss_local_rows = [tuple(r) for r in rows]
    out._tss_local_cols = tuple(f.name for f in fields)
    return out
