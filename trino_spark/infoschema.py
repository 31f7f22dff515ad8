"""information_schema views + SHOW statement support.

The reference rewrites SHOW TABLES/COLUMNS/SCHEMAS into SELECTs over
information_schema before planning (core/trino-main/.../sql/rewrite/
ShowQueriesRewrite.java; the schema itself is served by
main/connector/informationschema/InformationSchemaMetadata.java). Same
approach here: two temp views built from the engine catalog, plus a
SHOW → SELECT rewrite used by TrinoEngine.sql.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import SparkSession


# Explicit schemas: an engine whose last table is dropped refreshes with
# zero rows, from which no schema can be inferred.
_TABLES = pa.schema(
    [(n, pa.string()) for n in ("table_catalog", "table_schema", "table_name", "table_type")]
)
_COLUMNS = pa.schema(
    [(n, pa.string()) for n in ("table_catalog", "table_schema", "table_name", "column_name")]
    + [("ordinal_position", pa.int32()), ("data_type", pa.string())]
)


def register_information_schema(spark: SparkSession, tables: dict[str, list[tuple[str, str]]]) -> None:
    """tables: name -> [(column_name, data_type)].

    Both views are built from Arrow tables, so they plan as LocalRelations
    and reading them runs no Spark job (from Python lists they would plan a
    Scan ExistingRDD, a job through the Python workers)."""
    trows = [
        dict(table_catalog="spark", table_schema="default", table_name=t, table_type="BASE TABLE")
        for t in sorted(tables)
    ]
    crows = [
        dict(
            table_catalog="spark",
            table_schema="default",
            table_name=t,
            column_name=c,
            ordinal_position=i + 1,
            data_type=dt,
        )
        for t, cols in sorted(tables.items())
        for i, (c, dt) in enumerate(cols)
    ]
    spark.createDataFrame(pa.Table.from_pylist(trows, _TABLES)).createOrReplaceTempView(
        "information_schema_tables"
    )
    spark.createDataFrame(pa.Table.from_pylist(crows, _COLUMNS)).createOrReplaceTempView(
        "information_schema_columns"
    )


def rewrite_show(sql: str) -> str | None:
    """SHOW TABLES / SHOW COLUMNS FROM t / SHOW SCHEMAS → SELECTs.
    Returns None when `sql` is not a SHOW statement."""
    words = sql.strip().rstrip(";").split()
    if not words or words[0].upper() != "SHOW":
        return None
    kind = words[1].upper() if len(words) > 1 else ""
    if kind == "TABLES":
        return "SELECT table_name FROM information_schema_tables ORDER BY table_name"
    if kind == "SCHEMAS":
        return "SELECT DISTINCT table_schema AS schema_name FROM information_schema_tables"
    if kind == "COLUMNS" and len(words) >= 4 and words[2].upper() in ("FROM", "IN"):
        t = words[3].strip('"')
        return (
            "SELECT column_name, data_type, ordinal_position "
            f"FROM information_schema_columns WHERE table_name = '{t}' "
            "ORDER BY ordinal_position"
        )
    return None


def show_stats(spark: SparkSession, table: str, cache: dict | None = None, populate: bool = False):
    """SHOW STATS FOR <table> — Trino's table statistics surface
    (reference: ShowStatsRewrite.java; stats model spi/statistics/).

    Output shape matches the reference: one row per column
    (data_size for varchars, approx NDV, null fraction, min/max rendered
    as varchar) plus a summary row with row_count. Computed on demand in
    ONE aggregation pass over the table (each metric is a column of a
    single agg — no per-column scans); only the 1-row agg result is
    collected. When an ANALYZE-populated `cache` holds the table, the
    cached relation is served without a scan (AnalyzeTask.java: ANALYZE
    persists statistics, SHOW STATS reads them back). Only ANALYZE
    populates the cache (populate=True) — a plain SHOW STATS on a
    never-analyzed table always computes fresh, so refreshed MVs or
    re-registered generator views cannot serve stale numbers."""
    if cache is not None and table in cache:
        rows, schema = cache[table]
        return spark.createDataFrame(rows, schema)
    from pyspark.sql import functions as F
    from pyspark.sql.types import NumericType, StringType

    df = spark.table(table)
    aggs = [F.count(F.lit(1)).cast("double").alias("__rows")]
    fields = [f for f in df.schema.fields]
    for f in fields:
        c = f.name
        aggs.append(F.approx_count_distinct(c).cast("double").alias(f"{c}__ndv"))
        aggs.append(F.avg(F.col(c).isNull().cast("double")).alias(f"{c}__nulls"))
        if isinstance(f.dataType, StringType):
            aggs.append(F.sum(F.length(c)).cast("double").alias(f"{c}__size"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"{c}__size"))
        if isinstance(f.dataType, NumericType) or f.dataType.simpleString() in ("date", "timestamp"):
            aggs.append(F.min(c).cast("string").alias(f"{c}__lo"))
            aggs.append(F.max(c).cast("string").alias(f"{c}__hi"))
        else:
            aggs.append(F.lit(None).cast("string").alias(f"{c}__lo"))
            aggs.append(F.lit(None).cast("string").alias(f"{c}__hi"))
    row = df.agg(*aggs).first()

    out = [
        (
            f.name,
            row[f"{f.name}__size"],
            row[f"{f.name}__ndv"],
            row[f"{f.name}__nulls"],
            None,
            row[f"{f.name}__lo"],
            row[f"{f.name}__hi"],
        )
        for f in fields
    ] + [(None, None, None, None, row["__rows"], None, None)]
    schema = (
        "column_name string, data_size double, distinct_values_count double, "
        "nulls_fraction double, row_count double, low_value string, high_value string"
    )
    if cache is not None and populate:
        cache[table] = (out, schema)
    return spark.createDataFrame(out, schema)
