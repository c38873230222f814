"""Python values as Spark SQL literals, and driver rows as JVM-local tables.

In PySpark classic, `spark.createDataFrame(list)` is `sc.parallelize`
plus a Python identity map: every small driver table (a query file's
term table, a list of top docs) becomes a Python-worker stage with one
task per default partition, run again by every job that reads it.
`local_frame` renders the rows as an inline `VALUES` table of literals
instead. Catalyst resolves it to a LocalRelation, so the table plans as a
`LocalTableScan` inside the JVM: no Python worker, no extra stage, and a
broadcast of it collects no job. Arrow-from-pandas would also give a
local relation, but it silently falls back to the Python-RDD path when
`spark.sql.execution.arrow.pyspark.enabled` is off.

Expressions over such tables are written the same way: one SQL string
(`F.expr`, `selectExpr`, a `where` string) whose literals come from
`str_lit`, `double_lit` and `sql_in`. Each `Column` a classic PySpark
driver builds (every `F.lit`, every `isin` value, every `F.struct`) is a
Py4J round trip of its own; an expression string is one, whatever its
size. Named parameter markers (`spark.sql(text, args=...)`) do not help
here: classic PySpark turns each argument into a `lit` Column over Py4J.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (BooleanType, DataType, DoubleType,
                               IntegerType, LongType, StringType, StructType)


def str_lit(s: str) -> str:
    """A Python str as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def double_lit(x: float) -> str:
    """A Python float as an exact Spark SQL double literal (repr
    round-trips; the D suffix keeps it from parsing as a decimal)."""
    return f"{float(x)!r}D"


def sql_in(column: str, values: Iterable) -> str:
    """`column IN (v, ...)` as one SQL predicate over str or int values;
    FALSE for no values. One `where` string costs one Py4J call, where
    `Column.isin` sends one per value."""
    vals = [str_lit(v) if isinstance(v, str) else str(int(v))
            for v in values]
    return f"{column} IN ({', '.join(vals)})" if vals else "FALSE"


def _lit(v, t: DataType) -> str:
    if v is None:
        return "NULL"
    if isinstance(t, StringType):
        return str_lit(str(v))
    if isinstance(t, BooleanType):
        return "TRUE" if v else "FALSE"
    if isinstance(t, IntegerType):
        return str(int(v))
    if isinstance(t, LongType):
        return f"{int(v)}L"
    if isinstance(t, DoubleType):
        return double_lit(v)
    raise TypeError(f"local_frame: no literal form for {t.simpleString()}")


def local_frame(spark: SparkSession, rows: Iterable[Sequence],
                schema: str) -> DataFrame:
    """`rows` (tuples in `schema` column order) as a JVM-local DataFrame
    with exactly `schema` ("name type, ..." DDL over string, int,
    bigint, double and boolean columns).
    No rows gives an empty local relation of the same schema."""
    st = DataType.fromDDL(schema)
    if not isinstance(st, StructType):
        raise ValueError(f"local_frame: {schema!r} is not a column list")
    fields = st.fields
    rows = list(rows)
    bad = next((r for r in rows if len(r) != len(fields)), None)
    if bad is not None:
        raise ValueError(f"local_frame: row {bad!r} does not match "
                         f"{len(fields)} columns of {schema!r}")
    body = rows or [(None,) * len(fields)]
    values = ", ".join(
        "(" + ", ".join(_lit(v, f.dataType) for v, f in zip(r, fields)) + ")"
        for r in body)
    cols = ", ".join(f"CAST(col{i + 1} AS {f.dataType.simpleString()}) "
                     f"AS `{f.name}`" for i, f in enumerate(fields))
    df = spark.sql(f"SELECT {cols} FROM VALUES {values}")
    return df if rows else df.limit(0)
