"""A fresh server does no throwaway set-up work: building an engine
registers no function, registering parquet tables runs no Spark job
(schemas come from footers read on the driver), and bundle functions are
registered on a session the first time a statement calls them."""

import os
import sys
import threading
import time
from collections import Counter
from types import SimpleNamespace

import pytest
from pyspark.sql import Row
from pyspark.sql.types import StructType

from trino_spark.catalog import ALL_TABLES, Catalog, read_parquet
from trino_spark.dialect.engine import TrinoEngine
from trino_spark.functions.registry import bundle, register_functions


def _jobs(spark) -> int:
    """Jobs started so far, once every queued event is in. Job ids count
    up from 0 and the status store lists the newest first; its size is no
    count, because it keeps only the last spark.ui.retainedJobs jobs."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return jobs.head().jobId() + 1 if jobs.size() else 0


def _registered(spark) -> set[str]:
    """Bundle names registered on this session (a name that shadows a
    Spark built-in counts once the session's entry is the engine's)."""
    builtin = ("org.apache.spark.sql.catalyst.", "org.apache.spark.sql.execution.")
    return {
        f.name
        for f in spark.catalog.listFunctions()
        if f.isTemporary and not (f.className or "").startswith(builtin)
    } & set(bundle())


@pytest.fixture
def fresh(spark):
    """An engine on a new session: no temp views, no functions."""
    return TrinoEngine(spark.newSession())


def test_registering_tables_runs_no_job(spark, sf_dir):
    session = spark.newSession()
    before = _jobs(session)
    Catalog(session).register_parquet_dir(sf_dir, ALL_TABLES)
    assert _jobs(session) == before
    # the footer converts under the session's settings (nanosAsLong for
    # an INT64-nanos events.ts), as Spark's own inference does
    path = os.path.join(sf_dir, "events.parquet")
    assert read_parquet(session, path).schema == session.read.parquet(path).schema


def test_new_session_has_no_bundle_function(fresh):
    assert _registered(fresh.spark) == set()


def test_first_reference_registers_only_that_name(fresh):
    assert fresh.sql("SELECT normalize('é') AS n").collect()[0].n == "é"
    assert _registered(fresh.spark) == {"normalize"}


def test_to_char_resolves_to_the_engine_version(fresh):
    # Spark's own to_char reads 'mm' as minutes; the engine's Teradata
    # to_char reads it as the month
    got = fresh.sql("SELECT to_char(TIMESTAMP '2024-03-05 10:07:00', 'yyyy-mm-dd') AS s")
    assert got.collect()[0].s == "2024-03-05"
    assert _registered(fresh.spark) == {"to_char"}


def test_show_functions_lists_the_bundle_before_use(fresh):
    names = {r.function_name for r in fresh.sql("SHOW FUNCTIONS").collect()}
    assert {"st_point", "normalize", "split_to_rows"} <= names
    assert _registered(fresh.spark) == set()


@pytest.fixture
def partitioned(fresh):
    fresh.sql("DROP TABLE IF EXISTS setup_part")
    fresh.sql(
        "CREATE TABLE setup_part WITH (partitioned_by = ARRAY['p']) AS"
        " SELECT x, CAST(x AS VARCHAR) AS s, x % 3 AS p FROM (VALUES 1, 2, 3, 4, 5, 6) t(x)"
    )
    yield fresh
    fresh.sql("DROP TABLE IF EXISTS setup_part")


def test_partitioned_dml_table_schema_from_footer(partitioned):
    session, path = partitioned.spark, partitioned.dml_tables["setup_part"].path
    before = _jobs(session)
    df = read_parquet(session, path)
    assert _jobs(session) == before
    assert df.schema == session.read.parquet(path).schema
    assert df.columns == ["x", "s", "p"]  # discovered partition column appended


def test_dml_where_fragment_calls_bundle_function(partitioned):
    out = partitioned.sql("UPDATE setup_part SET s = word_stem('running') WHERE normalize(s) = '4'")
    assert out.collect()[0].rows == 1
    rows = partitioned.sql("SELECT s FROM setup_part WHERE x = 4").collect()
    assert rows[0].s == "run"
    assert _registered(partitioned.spark) == {"normalize", "word_stem"}


def test_update_runs_no_inference_job_and_result_runs_none(partitioned):
    session = partitioned.spark
    before = _jobs(session)
    out = partitioned.sql("UPDATE setup_part SET x = x + 10 WHERE p = 1")
    # the affected-partition scan (map stage and collect) and the write;
    # reading the table for the update infers nothing
    assert _jobs(session) - before == 3
    before = _jobs(session)
    assert out.collect()[0].rows == 2
    assert _jobs(session) == before


def test_concurrent_first_references_register_each_name_once():
    calls = Counter()

    class Registration:
        def register(self, name, f, returnType=None):
            time.sleep(0.001)  # widen the window between check and record
            calls[name] += 1

    session = SimpleNamespace(udf=Registration(), udtf=Registration())
    names = ["normalize", "to_char", "st_point", "qdigest_agg", "split_to_rows"]
    bundle()  # built once up front, so every thread races on registration
    start = threading.Barrier(16)

    def first_reference():
        start.wait(timeout=60)
        register_functions(names, session)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=first_reference) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert calls == {n: 1 for n in names}


def test_information_schema_read_after_insert_runs_no_job(fresh):
    fresh.sql("DROP TABLE IF EXISTS setup_info")
    fresh.sql("CREATE TABLE setup_info (k bigint, name varchar)")
    try:
        fresh.sql("INSERT INTO setup_info VALUES (1, 'a')").collect()
        session = fresh.spark
        before = _jobs(session)
        df = fresh.sql(
            "SELECT * FROM information_schema.columns WHERE table_name = 'setup_info'"
        )
        rows = df.collect()
        assert _jobs(session) == before
        assert df.schema == StructType.fromDDL(
            "table_catalog string, table_schema string, table_name string,"
            " column_name string, ordinal_position int, column_default string,"
            " is_nullable string, data_type string"
        )
        assert rows == [
            Row("spark", "default", "setup_info", "k", 1, None, "YES", "bigint"),
            Row("spark", "default", "setup_info", "name", 2, None, "YES", "varchar"),
        ]
    finally:
        fresh.sql("DROP TABLE IF EXISTS setup_info")
    # the last table dropped: both views refresh with zero rows
    assert fresh.sql("SELECT * FROM information_schema.tables").collect() == []


def test_runtime_queries_read_runs_no_job(fresh):
    fresh.sql("SELECT 1 AS x").collect()
    before = _jobs(fresh.spark)
    df = fresh.sql("SELECT * FROM system.runtime.queries")
    rows = df.collect()
    assert _jobs(fresh.spark) == before
    assert df.schema == StructType.fromDDL(
        "query_id string, state string, user string, query string, elapsed_ms double,"
        " created timestamp, started timestamp, `end` timestamp"
    )
    assert [(r.state, r.query) for r in rows] == [("FINISHED", "SELECT 1 AS x")]


def test_engine_set_up_like_the_server_has_information_schema(spark, sf_dir):
    # the server and perfbench build the engine bare, then register tables
    eng = TrinoEngine(spark.newSession())
    eng.catalog.register_parquet_dir(sf_dir, ALL_TABLES)
    assert [r.table_name for r in eng.sql("SHOW TABLES").collect()] == sorted(ALL_TABLES)
    described = eng.sql("DESCRIBE nation").collect()
    assert [r.Column for r in described] == ["n_nationkey", "n_name", "n_regionkey"]
    rows = eng.sql("SELECT table_name FROM information_schema.tables").collect()
    assert sorted(r.table_name for r in rows) == sorted(ALL_TABLES)


@pytest.fixture(scope="module")
def metadata_engine(spark, sf_dir):
    """An engine on its own session with the testdata tables and one
    managed table."""
    eng = TrinoEngine(spark.newSession())
    eng.catalog.register_parquet_dir(sf_dir, ALL_TABLES)
    eng.sql("DROP TABLE IF EXISTS setup_meta")
    eng.sql("CREATE TABLE setup_meta AS SELECT 1 AS x").collect()
    yield eng
    eng.sql("DROP TABLE IF EXISTS setup_meta")


_PROPERTIES = (
    "catalog_name string, property_name string, type string, default_value string,"
    " description string"
)
_COLUMNS = (
    "table_catalog string, table_schema string, table_name string, column_name string,"
    " ordinal_position int, column_default string, is_nullable string, data_type string"
)


# (statement run first, statement collected, its result schema)
_METADATA = [
    (None, "SHOW SESSION", "name string, value string"),
    (None, "SHOW CATALOGS", "catalog string"),
    (None, "USE default", "schema string"),
    (None, "SET SESSION query_max_run_time = '2h'", "name string, value string"),
    (None, "PREPARE setup_p FROM SELECT 1", "prepared string"),
    ("PREPARE setup_d FROM SELECT 1", "DEALLOCATE PREPARE setup_d", "prepared string"),
    (None, "CREATE ROLE setup_r", "role string"),
    ("CREATE ROLE setup_g", "GRANT SELECT ON nation TO ROLE setup_g",
     "role string, table_name string"),
    (None, 'SELECT * FROM "setup_meta$snapshots"',
     "version bigint, committed_at string, operation string, is_current boolean,"
     " expired boolean"),
    (None, "SELECT * FROM information_schema.schemata",
     "catalog_name string, schema_name string"),
    (None, "SELECT * FROM information_schema.tables",
     "table_catalog string, table_schema string, table_name string, table_type string"),
    (None, "SELECT * FROM information_schema.columns", _COLUMNS),
    (None, "SELECT * FROM information_schema_columns", _COLUMNS),
    (None, "SELECT * FROM information_schema.views",
     "table_name string, view_definition string, view_type string"),
    (None, "SELECT * FROM system.runtime.nodes",
     "node_id string, http_uri string, node_version string, coordinator boolean,"
     " state string"),
    (None, "SELECT * FROM system.runtime.tasks",
     "node_id string, task_id string, state string, splits int, running_splits int,"
     " completed_splits int, failed_splits int"),
    (None, "SELECT * FROM system.runtime.queries",
     "query_id string, state string, user string, query string, elapsed_ms double,"
     " created timestamp, started timestamp, `end` timestamp"),
    (None, "SELECT * FROM system.metadata.catalogs",
     "catalog_name string, connector_name string"),
    (None, "SELECT * FROM system.metadata.table_properties", _PROPERTIES),
    (None, "SELECT * FROM system.metadata.schema_properties", _PROPERTIES),
    (None, "SELECT * FROM system.metadata.column_properties", _PROPERTIES),
    (None, "SELECT * FROM system.metadata.analyze_properties", _PROPERTIES),
    (None, "SELECT * FROM system.metadata.materialized_view_properties", _PROPERTIES),
    (None, "SELECT * FROM system.metadata.materialized_views",
     "name string, definition string, freshness string"),
    (None, "SELECT * FROM system.metadata.table_comments", "table_name string, comment string"),
    (None, "SELECT * FROM system.jdbc.tables",
     "table_cat string, table_schem string, table_name string, table_type string"),
    (None, "SELECT * FROM system.jdbc.schemas", "table_schem string, table_catalog string"),
    (None, "SELECT * FROM system.jdbc.columns",
     "table_cat string, table_schem string, table_name string, column_name string,"
     " type_name string, ordinal_position int"),
    (None, "SELECT * FROM system.jdbc.table_types", "table_type string"),
    (None, "SELECT * FROM system.jdbc.catalogs", "table_cat string"),
    (None, "SELECT * FROM system.jdbc.types", "type_name string, data_type int"),
]


@pytest.mark.parametrize("setup, stmt, ddl", _METADATA, ids=[c[1] for c in _METADATA])
def test_metadata_statement_runs_no_job(metadata_engine, setup, stmt, ddl):
    eng = metadata_engine
    if setup:
        eng.sql(setup).collect()
    before = _jobs(eng.spark)
    df = eng.sql(stmt)
    df.collect()
    assert _jobs(eng.spark) == before
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in StructType.fromDDL(ddl)
    ]


def test_system_table_join_reads_only_driver_rows(metadata_engine):
    # Catalyst folds only a projection, filter or limit over a driver-local
    # relation: a join of two still runs a broadcast and a collect job, but
    # both scan the rows the driver built, not a Python-sourced RDD
    df = metadata_engine.sql(
        "SELECT n.node_id, c.catalog_name"
        " FROM system.runtime.nodes n CROSS JOIN system.metadata.catalogs c"
    )
    assert [r.catalog_name for r in df.collect()] == ["spark"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_dialect_results_are_built_by_the_helper():
    """Every driver-built result under trino_spark/dialect/ and in
    infoschema.py goes through dml.rows_result, whose Arrow table plans as
    a LocalRelation: `createDataFrame(list)` would start Python workers."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "trino_spark"
    # the helper itself; and connector table data (a memory table's rows,
    # a blackhole or emptied file table's zero rows), which may hold any
    # column type (nested, intervals) and is not a result
    allowed = {("dialect/dml.py", "rows_result"), ("dialect/catalogs.py", "_pages")}
    calls = []  # (file, innermost enclosing function, line)

    def visit(node, rel: str, fn: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, rel, child.name)
                continue
            if isinstance(child, ast.Attribute) and child.attr == "createDataFrame":
                calls.append((rel, fn, child.lineno))
            visit(child, rel, fn)

    for path in [*sorted((root / "dialect").glob("*.py")), root / "infoschema.py"]:
        visit(ast.parse(path.read_text()), path.relative_to(root).as_posix(), None)
    outside = [c for c in calls if c[:2] not in allowed]
    assert not outside, outside
    assert {c[:2] for c in calls} == allowed
