"""Branches (dialect/branches.py) + table procedures (dml._table_execute).

Reference: grammar SqlBase.g4 #createBranch/#dropBranch/#fastForwardBranch/
#showBranches + t@branch refs (lines 80/82/217/221); Iceberg's
OptimizeTableProcedure / ExpireSnapshotsTableProcedure."""

import os

import pytest

from trino_spark.dialect.engine import TrinoEngine


@pytest.fixture()
def engine(spark, sf_dir):
    return TrinoEngine(spark, sf_dir)


@pytest.fixture()
def table(engine):
    name = f"brt_{os.getpid()}"
    engine.sql(f"DROP TABLE IF EXISTS {name}")
    engine.sql(
        f"CREATE TABLE {name} AS SELECT n_nationkey AS k, n_name AS name, n_regionkey AS r FROM nation"
    )
    yield name
    engine.sql(f"DROP TABLE IF EXISTS {name}")


class TestBranches:
    def test_branch_isolation_and_publish(self, engine, table):
        engine.sql(f"CREATE BRANCH staging IN TABLE {table}")
        engine.sql(f"INSERT INTO {table}@staging SELECT k + 100, upper(name), r FROM {table}@staging WHERE r = 0")
        engine.sql(f"DELETE FROM {table}@staging WHERE r = 3")
        # main untouched by branch writes
        assert engine.sql(f"SELECT count(*) c FROM {table}").collect()[0].c == 25
        assert engine.sql(f"SELECT count(*) c FROM {table}@staging").collect()[0].c == 25
        assert engine.sql(f"SELECT count(*) c FROM {table}@staging WHERE r = 3").collect()[0].c == 0
        # publish: fast forward main to the branch head
        engine.sql(f"ALTER BRANCH main IN TABLE {table} FAST FORWARD TO staging")
        assert engine.sql(f"SELECT count(*) c FROM {table} WHERE k >= 100").collect()[0].c == 5
        # pre-publish state still reachable by time travel
        assert engine.sql(f"SELECT count(*) c FROM {table} FOR VERSION AS OF 1").collect()[0].c == 25

    def test_branch_fork_shares_inodes(self, engine, table, spark):
        engine.sql(f"CREATE BRANCH cheap IN TABLE {table}")
        main_dir = engine.dml_tables[table].path
        br_dir = engine.dml_tables[f"{table}__branch_cheap"].path
        main_inodes = {
            f: os.stat(os.path.join(main_dir, f)).st_ino
            for f in os.listdir(main_dir) if f.endswith(".parquet")
        }
        for f, ino in main_inodes.items():
            assert os.stat(os.path.join(br_dir, f)).st_ino == ino  # hardlinked, not copied

    def test_show_branches_and_drop(self, engine, table):
        engine.sql(f"CREATE BRANCH b1 IN TABLE {table}")
        engine.sql(f"CREATE BRANCH b2 IN TABLE {table} FROM b1")
        rows = {r.branch: r for r in engine.sql(f"SHOW BRANCHES FROM TABLE {table}").collect()}
        assert set(rows) == {"main", "b1", "b2"}
        assert rows["b1"].created_from_version == 1
        engine.sql(f"DROP BRANCH b2 IN TABLE {table}")
        engine.sql(f"DROP BRANCH IF EXISTS b2 IN TABLE {table}")  # idempotent
        with pytest.raises(Exception, match="does not exist"):
            engine.sql(f"DROP BRANCH b2 IN TABLE {table}")
        rows = [r.branch for r in engine.sql(f"SHOW BRANCHES IN TABLE {table}").collect()]
        assert rows == ["main", "b1"]

    def test_unknown_branch_read_errors(self, engine, table):
        with pytest.raises(Exception, match="Branch 'nope' does not exist"):
            engine.sql(f"SELECT * FROM {table}@nope").collect()

    def test_at_main_is_the_table(self, engine, table):
        assert engine.sql(f"SELECT count(*) c FROM {table}@main").collect()[0].c == 25

    def test_string_literal_at_untouched(self, engine, table):
        out = engine.sql(f"SELECT '{table}@x' AS s").collect()
        assert out[0].s == f"{table}@x"

    def test_create_branch_duplicate_and_if_not_exists(self, engine, table):
        engine.sql(f"CREATE BRANCH dup IN TABLE {table}")
        with pytest.raises(Exception, match="already exists"):
            engine.sql(f"CREATE BRANCH dup IN TABLE {table}")
        engine.sql(f"CREATE BRANCH IF NOT EXISTS dup IN TABLE {table}")
        engine.sql(f"CREATE OR REPLACE BRANCH dup IN TABLE {table}")

    def test_forks_are_not_tables(self, engine, table):
        # a branch is read as t@b: its fork is not listed as a table, and
        # DROP TABLE drops it with the table
        fork = f"{table}__branch_dev"
        engine.sql(f"CREATE BRANCH dev IN TABLE {table}")
        listed = {r.table_name for r in engine.sql("SHOW TABLES").collect()}
        assert table in listed and fork not in listed
        listed = {
            r.table_name for r in engine.sql("SELECT * FROM information_schema.tables").collect()
        }
        assert table in listed and fork not in listed
        engine.sql(f"DROP TABLE {table}")
        assert fork not in {r.table_name for r in engine.sql("SHOW TABLES").collect()}
        with pytest.raises(Exception):
            engine.sql(f"SELECT * FROM {fork}").collect()

    def test_branch_to_branch_fast_forward(self, engine, table):
        engine.sql(f"CREATE BRANCH a IN TABLE {table}")
        engine.sql(f"CREATE BRANCH b IN TABLE {table}")
        engine.sql(f"DELETE FROM {table}@b WHERE r <> 0")
        engine.sql(f"ALTER BRANCH a IN TABLE {table} FAST FORWARD TO b")
        assert engine.sql(f"SELECT count(*) c FROM {table}@a").collect()[0].c == 5
        assert engine.sql(f"SELECT count(*) c FROM {table}").collect()[0].c == 25


class TestTableProcedures:
    def test_optimize_compacts_to_single_file(self, engine, table):
        from trino_spark.dialect.dml import _file_count

        for i in (1, 2, 3):
            engine.sql(f"INSERT INTO {table} SELECT n_nationkey + {100 * i}, n_name, n_regionkey FROM nation")
        before = _file_count(engine.dml_tables[table].path)
        assert before >= 4
        out = engine.sql(f"ALTER TABLE {table} EXECUTE optimize").collect()[0]
        assert out.files_before == before and out.files_after == 1
        assert engine.sql(f"SELECT count(*) c FROM {table}").collect()[0].c == 100
        # compaction is a snapshot: the pre-optimize state is time-travelable
        assert engine.sql(f"SELECT count(*) c FROM {table} FOR VERSION AS OF 4").collect()[0].c == 100

    def test_scoped_optimize_preserves_untouched_partitions(self, engine, spark):
        from trino_spark.dialect.dml import _file_count

        name = f"brtp_{os.getpid()}"
        engine.sql(f"DROP TABLE IF EXISTS {name}")
        engine.sql(
            f"CREATE TABLE {name} WITH (partitioned_by = ARRAY['r']) AS "
            "SELECT n_nationkey AS k, n_name AS name, n_regionkey AS r FROM nation"
        )
        for i in (1, 2):
            engine.sql(f"INSERT INTO {name} SELECT n_nationkey + {100 * i}, n_name, n_regionkey FROM nation")
        path = engine.dml_tables[name].path
        r4_inodes = {
            f: os.stat(os.path.join(path, "r=4", f)).st_ino
            for f in os.listdir(os.path.join(path, "r=4")) if f.endswith(".parquet")
        }
        out = engine.sql(f"ALTER TABLE {name} EXECUTE optimize WHERE r = 0").collect()[0]
        assert out.files_after < out.files_before
        # untouched partition carried by hardlink (same inodes)
        for f, ino in r4_inodes.items():
            assert os.stat(os.path.join(path, "r=4", f)).st_ino == ino
        # compacted partition has exactly one file
        assert sum(1 for f in os.listdir(os.path.join(path, "r=0")) if f.endswith(".parquet")) == 1
        assert engine.sql(f"SELECT count(*) c FROM {name}").collect()[0].c == 75
        engine.sql(f"DROP TABLE {name}")

    def test_expire_snapshots_blocks_time_travel(self, engine, table):
        engine.sql(f"INSERT INTO {table} SELECT n_nationkey + 100, n_name, n_regionkey FROM nation")
        out = engine.sql(
            f"ALTER TABLE {table} EXECUTE expire_snapshots(retention_threshold => '0s')"
        ).collect()[0]
        assert out.expired_snapshots >= 1
        with pytest.raises(Exception, match="expired"):
            engine.sql(f"SELECT count(*) c FROM {table} FOR VERSION AS OF 1").collect()

    def test_set_data_type_evolution(self, engine, table):
        engine.sql(f"ALTER TABLE {table} ALTER COLUMN k SET DATA TYPE DOUBLE")
        assert dict(engine.spark.table(table).dtypes)["k"] == "double"
        assert engine.sql(f"SELECT sum(k) s FROM {table}").collect()[0].s == 300.0

    def test_unknown_procedure_errors(self, engine, table):
        with pytest.raises(Exception, match="unknown table procedure"):
            engine.sql(f"ALTER TABLE {table} EXECUTE vacuum")


class TestStatementSurface:
    """Schema DDL, view renames, table properties, column defaults
    (grammar #createSchema/#renameView/#setTableProperties/#setDefaultValue)."""

    def test_schema_ddl_lifecycle(self, engine):
        engine.sql("CREATE SCHEMA analytics WITH (owner = 'data-eng')")
        engine.sql("CREATE SCHEMA IF NOT EXISTS analytics")
        names = [r.schema_name for r in engine.sql("SHOW SCHEMAS").collect()]
        assert "analytics" in names and "default" in names
        ddl = engine.sql("SHOW CREATE SCHEMA analytics").collect()[0].create_schema
        assert "owner = 'data-eng'" in ddl
        engine.sql("ALTER SCHEMA analytics RENAME TO insights")
        names = [r.schema_name for r in engine.sql("SHOW SCHEMAS").collect()]
        assert "insights" in names and "analytics" not in names
        engine.sql("DROP SCHEMA insights")
        engine.sql("DROP SCHEMA IF EXISTS insights")
        with pytest.raises(Exception, match="not found"):
            engine.sql("DROP SCHEMA insights")
        with pytest.raises(Exception, match="default"):
            engine.sql("DROP SCHEMA default")

    def test_alter_view_rename_and_refresh(self, engine):
        engine.sql("CREATE OR REPLACE VIEW vren AS SELECT n_nationkey AS k FROM nation WHERE n_regionkey = 0")
        engine.sql("ALTER VIEW vren RENAME TO vren2")
        assert engine.sql("SELECT count(*) AS c FROM vren2").collect()[0].c == 5
        engine.sql("ALTER VIEW vren2 REFRESH")
        assert engine.sql("SELECT count(*) AS c FROM vren2").collect()[0].c == 5
        engine.sql("DROP VIEW vren2")

    def test_alter_materialized_view_rename(self, engine, table):
        engine.sql(f"CREATE OR REPLACE MATERIALIZED VIEW mvren AS SELECT count(*) AS c FROM {table}")
        engine.sql("ALTER MATERIALIZED VIEW mvren RENAME TO mvren2")
        assert engine.sql("SELECT c FROM mvren2").collect()[0].c == 25
        engine.sql("DROP MATERIALIZED VIEW mvren2")

    def test_set_table_properties_in_show_create(self, engine, table):
        engine.sql(f"ALTER TABLE {table} SET PROPERTIES retention_days = '30'")
        ddl = engine.sql(f"SHOW CREATE TABLE {table}").collect()[0].create_table
        assert "retention_days = '30'" in ddl

    def test_column_default_fills_unmentioned_insert(self, engine):
        import os

        tbl = f"dflt_{os.getpid()}"
        engine.sql(f"DROP TABLE IF EXISTS {tbl}")
        engine.sql(f"CREATE TABLE {tbl} (k BIGINT, status VARCHAR)")
        engine.sql(f"ALTER TABLE {tbl} ALTER COLUMN status SET DEFAULT 'new'")
        engine.sql(f"INSERT INTO {tbl} (k) VALUES (CAST(1 AS BIGINT))")
        # a branch of the table fills the same default
        engine.sql(f"CREATE BRANCH dev IN TABLE {tbl}")
        engine.sql(f"INSERT INTO {tbl}@dev (k) VALUES (CAST(3 AS BIGINT))")
        rows = engine.sql(f"SELECT k, status FROM {tbl}@dev WHERE k = 3").collect()
        assert [tuple(r) for r in rows] == [(3, "new")]
        engine.sql(f"ALTER TABLE {tbl} ALTER COLUMN status DROP DEFAULT")
        engine.sql(f"INSERT INTO {tbl} (k) VALUES (CAST(2 AS BIGINT))")
        rows = {r.k: r.status for r in engine.sql(f"SELECT k, status FROM {tbl}").collect()}
        assert rows == {1: "new", 2: None}
        engine.sql(f"ALTER TABLE {tbl} ALTER COLUMN status DROP NOT NULL")  # accepted no-op
        # a default follows its column's rename and goes with the column
        engine.sql(f"ALTER TABLE {tbl} ALTER COLUMN status SET DEFAULT 'again'")
        engine.sql(f"ALTER TABLE {tbl} RENAME COLUMN status TO state")
        engine.sql(f"INSERT INTO {tbl} (k) VALUES (CAST(4 AS BIGINT))")
        assert engine.sql(f"SELECT state FROM {tbl} WHERE k = 4").collect()[0].state == "again"
        engine.sql(f"ALTER TABLE {tbl} DROP COLUMN state")
        engine.sql(f"ALTER TABLE {tbl} ADD COLUMN state VARCHAR")
        engine.sql(f"INSERT INTO {tbl} (k) VALUES (CAST(5 AS BIGINT))")
        assert engine.sql(f"SELECT state FROM {tbl} WHERE k = 5").collect()[0].state is None
        engine.sql(f"DROP TABLE {tbl}")

    def test_show_create_function_and_set_path(self, engine):
        engine.sql("CREATE FUNCTION sq_fn(x BIGINT) RETURNS BIGINT RETURN x * x")
        ddl = engine.sql("SHOW CREATE FUNCTION sq_fn").collect()[0].create_function
        assert ddl == "CREATE FUNCTION sq_fn(x BIGINT) RETURNS BIGINT RETURN x * x"
        assert engine.sql("SELECT sq_fn(6) AS v").collect()[0].v == 36
        assert engine.sql("SET PATH a.b").collect()[0].path == "a.b"
        engine.sql("DROP FUNCTION sq_fn")
        with pytest.raises(Exception, match="function not found"):
            engine.sql("SHOW CREATE FUNCTION missing_fn")


class TestRefsAndPropertiesMetadataTables:
    def test_refs_lists_main_and_branches(self, engine, table):
        engine.sql(f"CREATE BRANCH audit IN TABLE {table}")
        engine.sql(f"INSERT INTO {table}@audit SELECT k + 500, name, r FROM {table}@audit WHERE r = 1")
        rows = {r.name: r for r in engine.sql(f'SELECT * FROM "{table}$refs" ORDER BY name').collect()}
        assert set(rows) == {"main", "audit"}
        assert all(r.type == "BRANCH" for r in rows.values())
        # the branch tip advanced past main's
        assert rows["audit"].version > rows["main"].version - 1

    def test_properties_surface_set_properties(self, engine, table):
        engine.sql(f"ALTER TABLE {table} SET PROPERTIES retention_days = '7', owner = 'etl'")
        rows = {r.key: r.value for r in engine.sql(f'SELECT * FROM "{table}$properties"').collect()}
        assert rows["retention_days"] == "7" and rows["owner"] == "etl"
        # empty for a table with no properties set
        assert engine.sql(f'SELECT count(*) AS c FROM "{table}$refs"').collect()[0].c >= 1


class TestBranchColumnOrder:
    """Branches of PARTITIONED tables keep the declared column order —
    fork registration, t@branch DML, and fast-forward commits must not
    adopt the partition-last physical parquet layout (review findings on
    the round-4 _dml_logical_cols mechanism)."""

    @pytest.fixture()
    def ptable(self, engine):
        name = f"brp_{os.getpid()}"
        engine.sql(f"DROP TABLE IF EXISTS {name}")
        engine.sql(
            f"CREATE TABLE {name} WITH (partitioned_by = ARRAY['cat']) AS "
            "SELECT * FROM (VALUES (1, 'a', 10), (2, 'b', 20)) AS t(k, cat, v)"
        )
        yield name
        engine.sql(f"DROP TABLE IF EXISTS {name}")

    def test_fork_presents_declared_order(self, engine, ptable):
        engine.sql(f"CREATE BRANCH dev IN TABLE {ptable}")
        assert engine.sql(f"SELECT * FROM {ptable}@dev").columns == ["k", "cat", "v"]

    def test_branch_positional_insert(self, engine, ptable):
        engine.sql(f"CREATE BRANCH dev IN TABLE {ptable}")
        engine.sql(f"INSERT INTO {ptable}@dev VALUES (3, 'c', 30)")
        rows = {tuple(r) for r in engine.sql(
            f"SELECT k, cat, v FROM {ptable}@dev").collect()}
        assert (3, "c", 30) in rows
        # main unaffected
        assert engine.sql(f"SELECT count(*) AS n FROM {ptable}").collect()[0].n == 2

    def test_fast_forward_keeps_declared_order(self, engine, ptable):
        engine.sql(f"CREATE BRANCH dev IN TABLE {ptable}")
        engine.sql(f"INSERT INTO {ptable}@dev VALUES (3, 'c', 30)")
        engine.sql(f"ALTER BRANCH main IN TABLE {ptable} FAST FORWARD TO dev")
        assert engine.sql(f"SELECT * FROM {ptable}").columns == ["k", "cat", "v"]
        rows = {tuple(r) for r in engine.sql(f"SELECT k, cat, v FROM {ptable}").collect()}
        assert rows == {(1, "a", 10), (2, "b", 20), (3, "c", 30)}
        # positional INSERT still maps by declared order after fast-forward
        engine.sql(f"INSERT INTO {ptable} VALUES (4, 'd', 40)")
        rows = {tuple(r) for r in engine.sql(f"SELECT k, cat, v FROM {ptable}").collect()}
        assert (4, "d", 40) in rows


def test_rename_to_keeps_declared_order(engine):
    name = f"rnp_{os.getpid()}"
    engine.sql(f"DROP TABLE IF EXISTS {name}")
    engine.sql(f"DROP TABLE IF EXISTS {name}_2")
    engine.sql(
        f"CREATE TABLE {name} WITH (partitioned_by = ARRAY['cat']) AS "
        "SELECT * FROM (VALUES (1, 'a', 10)) AS t(k, cat, v)"
    )
    engine.sql(f"ALTER TABLE {name} RENAME TO {name}_2")
    try:
        assert engine.sql(f"SELECT * FROM {name}_2").columns == ["k", "cat", "v"]
    finally:
        engine.sql(f"DROP TABLE IF EXISTS {name}_2")


class TestBranchReferences:
    """`t@b` is read from the statement's relation references once: text in
    a comment or a quoted identifier is no reference, and a view over a
    branch keeps the text it was written with."""

    def test_comment_and_quoted_identifier_untouched(self, engine, table):
        # the table has no branch 'dev': resolving either would raise
        assert engine.sql(f"SELECT 1 AS x -- {table}@dev").collect()[0].x == 1
        assert engine.sql(f'SELECT 1 AS "{table}@dev"').columns == [f"{table}@dev"]

    def test_describe_and_stats_name_a_branch(self, engine, table):
        engine.sql(f"CREATE BRANCH dev IN TABLE {table}")
        cols = [r.Column for r in engine.sql(f"DESCRIBE {table}@dev").collect()]
        assert cols == ["k", "name", "r"]
        stats = engine.sql(f"SHOW STATS FOR {table}@dev").collect()
        assert [r.row_count for r in stats if r.column_name is None] == [25.0]

    def test_view_over_branch_keeps_its_text(self, engine, table):
        engine.sql(f"CREATE BRANCH dev IN TABLE {table}")
        engine.sql(f"DELETE FROM {table}@dev WHERE r = 0")
        view = f"{table}_v"
        engine.sql(f"CREATE OR REPLACE VIEW {view} AS SELECT k FROM {table}@dev")
        try:
            shown = engine.sql(f"SHOW CREATE VIEW {view}").collect()[0].create_view
            assert shown == f"CREATE VIEW {view} AS\nSELECT k FROM {table}@dev"
            defs = {
                r.table_name: r.view_definition
                for r in engine.sql("SELECT * FROM information_schema.views").collect()
            }
            assert defs[view] == f"SELECT k FROM {table}@dev"
            assert engine.sql(f"SELECT count(*) AS c FROM {view}").collect()[0].c == 20
        finally:
            engine.sql(f"DROP VIEW {view}")


def test_new_branch_log_starts_at_its_source_version(engine, table):
    # Iceberg's branch ref points at the snapshot it was created from:
    # the fork lists that version, and time travel to it reads the
    # fork's first state
    engine.sql(f"INSERT INTO {table} VALUES (100, 'X', 9)")
    engine.sql(f"CREATE BRANCH dev IN TABLE {table}")
    refs = {r.name: r.version for r in engine.sql(f'SELECT * FROM "{table}$refs"').collect()}
    assert refs == {"main": 2, "dev": 2}
    at = f"SELECT count(*) AS c FROM {table}@dev FOR VERSION AS OF 2"
    assert engine.sql(at).collect()[0].c == 26
    engine.sql(f"DELETE FROM {table}@dev WHERE k = 100")
    assert engine.sql(f"SELECT count(*) AS c FROM {table}@dev").collect()[0].c == 25
    assert engine.sql(at).collect()[0].c == 26
    branches = {r.branch: r.current_version for r in engine.sql(f"SHOW BRANCHES IN TABLE {table}").collect()}
    assert branches == {"main": 2, "dev": 3}
