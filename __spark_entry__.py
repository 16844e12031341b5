"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship KG-construction query (documents-as-transcripts ->
                 mention scan -> link -> canonicalize -> triples) at sf0.001.
queries()      — one callable per implemented operator (SURVEY.md §2),
                 registered in cliner_spark.entry_queries.
oracle_sql()   — DuckDB ANSI-SQL twins for every SQL-expressible operator.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cliner_spark import entry_queries as EQ


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return EQ.REGISTRY[EQ.ENTRY_QUERY].spark_fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordered: the KG-construction core first, then the rest in registration
    # order (see entry_queries.KG_CORE).
    return {name: spec.spark_fn for name, spec in EQ.ordered_registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.sql
        for name, spec in EQ.ordered_registry().items()
        if spec.sql is not None
    }
