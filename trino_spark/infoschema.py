"""information_schema, the system connector's tables, and SHOW support.

The reference answers metadata on the coordinator: information_schema
(main/connector/informationschema/InformationSchemaMetadata.java) and
the system connector (main/connector/system/) are relations the analyzer
resolves like any other table, and SHOW statements become SELECTs over
them before planning (core/trino-main/.../sql/rewrite/
ShowQueriesRewrite.java). Same here: TABLES maps each dotted name to a
schema and a row builder, `view_for` builds the temp view a relation
reference to one resolves to (dialect/relations.py) when a statement
names it, and `SHOWS` turns SHOW into SELECTs over those names.
"""

from __future__ import annotations

import re
from typing import Callable, NamedTuple

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

from trino_spark.catalog import Described
from trino_spark.dialect.dml import _norm_name, rows_result
from trino_spark.dialect.rewrites import translate
from trino_spark.dialect.types import trino_type


class SystemTable(NamedTuple):
    ddl: str  # Spark DDL schema of the rows
    rows: Callable  # engine -> its rows for rows_result, in listing order


class ColumnMetadata(NamedTuple):
    """One column as the reference's connector reports it (spi
    ColumnMetadata). Every reader of column facts renders these."""

    name: str
    type: str  # Trino's spelling
    nullable: bool
    default: str | None  # SQL
    comment: str | None

    @property
    def ddl(self) -> str:
        """The column's definition as SHOW CREATE TABLE writes it."""
        default = "" if self.default is None else f" DEFAULT {self.default}"
        comment = "" if self.comment is None else f" COMMENT {quote(self.comment)}"
        return f"{self.name} {self.type}{default}{'' if self.nullable else ' NOT NULL'}{comment}"


def quote(text: str) -> str:
    return "'" + text.replace("'", "''") + "'"


def described(engine, table: str) -> Described | None:
    """`table`'s record: its ManagedTable, its catalog source, or None
    (a view has none)."""
    return engine.dml_tables.get(table) or engine.catalog._sources.get(table)


def columns(engine, table: str) -> list[ColumnMetadata]:
    """`table`'s columns, derived now from its Spark schema and its
    record; nothing about them is stored elsewhere."""
    rec = described(engine, table) or Described()
    return [
        ColumnMetadata(
            f.name, trino_type(f.dataType), f.nullable,
            rec.defaults.get(f.name), rec.comments.get(f.name),
        )
        for f in engine.spark.table(table).schema.fields
    ]


def _schemata(engine) -> list[tuple]:
    # CREATE SCHEMA registers names only: the table namespace is flat
    return [("spark", s) for s in sorted(engine.schemas)]


def _tables(engine) -> list[tuple]:
    # branch forks are not tables: they are read as t@branch
    types = dict.fromkeys(engine.catalog._sources, "BASE TABLE")
    types.update((n, "BASE TABLE") for n, rec in engine.dml_tables.items() if rec.base is None)
    types.update(dict.fromkeys([*engine.views, *engine.materialized_views], "VIEW"))
    return [("spark", "default", t, ty) for t, ty in sorted(types.items())]


def _columns(engine) -> list[tuple]:
    out = []
    for _cat, schema, table, _type in _tables(engine):
        try:
            cols = columns(engine, table)
        except AnalysisException:
            continue  # a name whose view is gone
        out += [
            ("spark", schema, table, c.name, i + 1, c.default, "YES" if c.nullable else "NO",
             c.type)
            for i, c in enumerate(cols)
        ]
    return out


def _views(engine) -> list[tuple]:
    # the engine's logical views + MVs (InformationSchemaPageSource VIEWS)
    return [(n, d, "VIEW") for n, d in sorted(engine.views.items())] + [
        (n, d, "MATERIALIZED VIEW") for n, d in sorted(engine.materialized_views.items())
    ]


def _nodes(engine) -> list[tuple]:
    # NodesSystemTable.java: one coordinator row in local mode; on a real
    # cluster this would enumerate executors
    sc = engine.spark.sparkContext
    return [(sc.applicationId, sc.master, sc.version, True, "active")]


def _tasks(engine) -> list[tuple]:
    # TaskSystemTable.java: live execution tasks, one row per active
    # Spark stage
    sc = engine.spark.sparkContext
    st = sc.statusTracker()
    infos = [(sid, st.getStageInfo(sid)) for sid in st.getActiveStageIds()]
    return [
        (sc.applicationId, f"stage-{sid}", "RUNNING", i.numTasks, i.numActiveTasks,
         i.numCompletedTasks, i.numFailedTasks)
        for sid, i in infos
        if i
    ]


def _catalogs(engine) -> list[tuple]:
    # CatalogSystemTable.java: the session catalog + dynamic mounts
    mounts = engine.catalogs
    return sorted([("spark", "spark")] + [(n, m["connector"]) for n, m in mounts.items()])


def _table_comments(engine) -> list[tuple]:
    records = {**engine.catalog._sources, **engine.dml_tables}
    return sorted((n, rec.comment) for n, rec in records.items() if rec.comment is not None)


# {Schema,Table,Column,Analyze,MaterializedView}PropertiesSystemTable.java:
# the property names the catalog accepts
_PROPERTIES = {
    "table_properties": [
        ("format", "varchar", "PARQUET", "File format"),
        ("location", "varchar", "", "Storage location"),
        ("partitioned_by", "array(varchar)", "[]", "Partition columns"),
        ("bucketed_by", "array(varchar)", "[]", "Bucketing columns"),
        ("bucket_count", "integer", "0", "Number of buckets"),
    ],
    "schema_properties": [("location", "varchar", "", "Storage location")],
    "column_properties": [],
    "analyze_properties": [("columns", "array(varchar)", "[]", "Columns to analyze")],
    "materialized_view_properties": [("storage_schema", "varchar", "", "Storage schema")],
}

# JdbcTypesSystemTable: type_name + java.sql.Types DATA_TYPE codes
_JDBC_TYPES = [
    ("boolean", 16), ("tinyint", -6), ("smallint", 5), ("integer", 4), ("bigint", -5),
    ("real", 7), ("double", 8), ("decimal", 3), ("varchar", 12), ("char", 1),
    ("varbinary", -3), ("date", 91), ("time", 92), ("timestamp", 93),
    ("timestamp with time zone", 2014), ("array", 2003), ("map", 2000), ("row", 2002),
    ("json", 2000),
]

TABLES: dict[str, SystemTable] = {
    "information_schema.schemata": SystemTable(
        "catalog_name string, schema_name string", _schemata
    ),
    "information_schema.tables": SystemTable(
        "table_catalog string, table_schema string, table_name string, table_type string",
        _tables,
    ),
    "information_schema.columns": SystemTable(
        "table_catalog string, table_schema string, table_name string,"
        " column_name string, ordinal_position int, column_default string,"
        " is_nullable string, data_type string",
        _columns,
    ),
    "information_schema.views": SystemTable(
        "table_name string, view_definition string, view_type string", _views
    ),
    "system.runtime.nodes": SystemTable(
        "node_id string, http_uri string, node_version string, coordinator boolean,"
        " state string",
        _nodes,
    ),
    "system.runtime.tasks": SystemTable(
        "node_id string, task_id string, state string, splits int, running_splits int,"
        " completed_splits int, failed_splits int",
        _tasks,
    ),
    # QuerySystemTable.java: one row per query record, live ones included
    "system.runtime.queries": SystemTable(
        "query_id string, state string, user string, query string, elapsed_ms double,"
        " created timestamp, started timestamp, `end` timestamp",
        lambda engine: engine.queries.table(),
    ),
    "system.metadata.catalogs": SystemTable(
        "catalog_name string, connector_name string", _catalogs
    ),
    **{
        f"system.metadata.{name}": SystemTable(
            "catalog_name string, property_name string, type string,"
            " default_value string, description string",
            lambda engine, props=props: [("spark", *p) for p in props],
        )
        for name, props in _PROPERTIES.items()
    },
    # MaterializedViewSystemTable.java: name/definition/freshness
    "system.metadata.materialized_views": SystemTable(
        "name string, definition string, freshness string",
        lambda engine: [
            (n, d, engine._mv_freshness(n)) for n, d in sorted(engine.materialized_views.items())
        ],
    ),
    "system.metadata.table_comments": SystemTable(
        "table_name string, comment string", _table_comments
    ),
    # the system.jdbc schema (JdbcSystemTables serving JDBC driver
    # DatabaseMetaData), read off information_schema
    "system.jdbc.tables": SystemTable(
        "table_cat string, table_schem string, table_name string, table_type string",
        lambda engine: [
            ("spark", s, t, "VIEW" if ty == "VIEW" else "TABLE") for _c, s, t, ty in _tables(engine)
        ],
    ),
    "system.jdbc.schemas": SystemTable(
        "table_schem string, table_catalog string",
        lambda engine: sorted({(s, "spark") for _c, s, _t, _ty in _tables(engine)}),
    ),
    "system.jdbc.columns": SystemTable(
        "table_cat string, table_schem string, table_name string, column_name string,"
        " type_name string, ordinal_position int",
        lambda engine: [
            ("spark", s, t, c, dt, pos) for _cat, s, t, c, pos, _d, _n, dt in _columns(engine)
        ],
    ),
    "system.jdbc.table_types": SystemTable(
        "table_type string", lambda engine: [("TABLE",), ("VIEW",)]
    ),
    "system.jdbc.catalogs": SystemTable("table_cat string", lambda engine: [("spark",)]),
    "system.jdbc.types": SystemTable(
        "type_name string, data_type int", lambda engine: _JDBC_TYPES
    ),
}


def _view(key: str) -> str:
    return "_" + key.replace(".", "_")


# the temp views `view_for` builds; access control lets any role read them
VIEWS = frozenset(map(_view, TABLES))
# a reference's name parts (unquoted, lower case) -> its TABLES key; the
# flat `information_schema_columns` spelling resolves too
_REFS = {tuple(k.split(".")): k for k in TABLES} | {(k.replace(".", "_"),): k for k in TABLES}
# every name in _REFS contains one of these, in any case: a view
# definition without either reads no TABLES entry directly
_GATE = re.compile("system|information_schema", re.IGNORECASE)


def _reads(sql: str, views: set[str]) -> bool:
    """Whether `sql` may name a TABLES entry or one of `views`."""
    named = (re.search(rf"\b{re.escape(v)}\b", sql, re.IGNORECASE) for v in views)
    return bool(_GATE.search(sql)) or any(named)


def live_views(engine) -> set[str]:
    """The views that read a TABLES entry, directly or through another such
    view: each read re-plans one from its definition, as the reference
    re-analyzes a view's text on each query."""
    live: set[str] = set()
    while new := {n for n, d in engine.views.items() if n not in live and _reads(d, live)}:
        live |= new
    return live


def view_for(engine, parts: tuple[str, ...]) -> str | None:
    """The temp view of the TABLES entry a reference's name parts
    (unquoted, lower case) spell, its rows built now from the live engine;
    None for any other name."""
    key = _REFS.get(parts)
    if key is None:
        return None
    table = TABLES[key]
    rows_result(engine.spark, table.rows(engine), table.ddl).createOrReplaceTempView(_view(key))
    return _view(key)


def _catalogs(text: str) -> str:
    like = re.search(r"\bLIKE\s+('(?:[^']|'')*')", text, re.IGNORECASE)
    where = f" WHERE catalog_name LIKE {like.group(1)}" if like else ""
    return f"SELECT catalog_name AS catalog FROM system.metadata.catalogs{where}"


# SHOW TABLES / SCHEMAS / CATALOGS [LIKE p] as SELECTs over TABLES, by
# statement head: each maps the statement text to its SELECT. The builders
# emit rows in listing order, so no ORDER BY is needed and the SELECT plans
# as a LocalRelation (a Sort would run a Spark job).
SHOWS: dict[str, Callable[[str], str]] = {
    "SHOW TABLES": lambda text: "SELECT table_name FROM information_schema.tables",
    "SHOW SCHEMAS": lambda text: "SELECT schema_name FROM information_schema.schemata",
    "SHOW CATALOGS": _catalogs,
}


def describe(engine, text: str):
    """DESCRIBE t and SHOW COLUMNS FROM t (ShowQueriesRewrite.java):
    Trino's Column, Type, Extra and Comment, '' for a null, from the
    column records of that one table. Another DESCRIBE form is Spark's."""
    m = re.match(
        r"DESCRIBE\s+(\S+)\s*$|SHOW\s+COLUMNS\s+(?:FROM|IN)\s+(\S+)", text, re.IGNORECASE
    )
    if m is None:
        return engine.spark.sql(translate(text))
    cols = columns(engine, _norm_name(m.group(1) or m.group(2)))
    return rows_result(
        engine.spark,
        [(c.name, c.type, "", c.comment or "") for c in cols],
        "`Column` string, `Type` string, `Extra` string, `Comment` string",
    )


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
        return rows_result(spark, *cache[table])
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
    return rows_result(spark, out, schema)
