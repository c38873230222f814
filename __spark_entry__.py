"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship batch-BM25 plan on sf0.001;
`queries()` / `oracle_sql()` delegate to
`search_engines_spark.entry_queries.REGISTRY` — one entry per implemented
operator from SURVEY.md §2 plus the dedup / similarity / serving /
streaming operators, each paired with DuckDB oracle SQL transcribing the
same reference semantics. The first 50 entries are the driver window.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from search_engines_spark import entry_queries as EQ


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: batched BM25 retrieval (one Catalyst plan for all queries,
    `Engine.search_many`) over the sf0.001 documents corpus."""
    from search_engines_spark.engine.compile import Engine

    idx = EQ._index(spark, "/root/testdata/sf0.001")
    eng = Engine(idx, "bm25")
    return eng.search_many(
        {"q1": "dup stream join", "q2": "hash merge batch",
         "q3": "data table", "q4": "#sum( #near/2( spark stream ) spark )"},
        k=20)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return EQ.queries()


def oracle_sql() -> dict[str, str]:
    return EQ.oracle_sql()
