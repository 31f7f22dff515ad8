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
    session, path = partitioned.spark, partitioned.dml_tables["setup_part"]
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
            " column_name string, ordinal_position int, data_type string"
        )
        assert rows == [
            Row("spark", "default", "setup_info", "k", 1, "bigint"),
            Row("spark", "default", "setup_info", "name", 2, "string"),
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
