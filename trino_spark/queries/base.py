"""Query registry plumbing.

Each QuerySpec pairs a Spark DataFrame builder with the equivalent ANSI SQL
that DuckDB runs as the differential oracle — the same strategy Trino's own
test harness uses with H2 (reference:
testing/trino-testing/src/main/java/io/trino/testing/QueryAssertions.java:154).

Conventions (driver contract):
- builder(spark, sf_dir) -> DataFrame; never collects.
- every computed column aliased identically in Spark and oracle SQL.
- integer-typed aggregates cast to BIGINT on both sides (DuckDB widens
  sums of INTEGER to HUGEINT otherwise); EXTRACT-style fields to INTEGER.
- oracle=None marks non-SQL-expressible operators (driver does a weaker
  rows-only check).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


class QueryRegistry:
    def __init__(self) -> None:
        self._specs: dict[str, QuerySpec] = {}

    def add(self, name: str, oracle: str | None, doc: str = ""):
        """Decorator registering a builder under `name`."""

        def deco(fn: Callable[[SparkSession, str], DataFrame]):
            self._specs[name] = QuerySpec(name=name, build=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
            return fn

        return deco

    def specs(self) -> dict[str, QuerySpec]:
        return dict(self._specs)

    def merge(self, other: "QueryRegistry") -> None:
        overlap = set(self._specs) & set(other._specs)
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        self._specs.update(other._specs)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame (schema from parquet footer).

    Delegates to catalog.load, which normalizes events.ts (parquet ns
    timestamps) to a Spark TimestampType.
    """
    from trino_spark.catalog import load

    return load(spark, sf_dir, name)


def views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register testdata tables as temp views for spark.sql-based builders."""
    for name in names:
        t(spark, sf_dir, name).createOrReplaceTempView(name)


def materialized(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Pin a lazy builder result to concrete rows BEFORE builder-side
    cleanup (dropping the tables/roles the plan still references).

    Session-conf-independent on purpose: a ``toPandas`` round-trip
    stores a NULL in an integer column as NaN-in-float64 (coercing the
    non-null values to float too), and only the Arrow path of
    ``createDataFrame`` converts that back — the plain path's verifier
    rejects both ``nan`` and ``7.0`` for IntegerType. The driver's
    session does not enable Arrow, so rebuild from ``collect()`` Rows,
    which preserve exact Python types under every session conf (the
    round-4 ``dialect_ddl_evolution`` red was exactly this)."""
    return spark.createDataFrame(df.collect(), df.schema)


def engine_for(spark: SparkSession, sf_dir: str):
    """One shared TrinoEngine per (session, sf_dir) — engine construction
    registers the testdata views (~1 s), so query builders that dispatch
    SQL text must not each build their own."""
    from trino_spark.dialect import TrinoEngine

    key = f"_shared_engine_{sf_dir}"
    eng = getattr(spark, key, None)
    if eng is None:
        eng = TrinoEngine(spark, sf_dir=sf_dir)
        setattr(spark, key, eng)
    return eng
