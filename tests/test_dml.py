"""Dialect DML tests: CTAS / INSERT / DELETE / UPDATE / MERGE / TRUNCATE /
DROP through TrinoEngine.sql, copy-on-write managed tables.

Reference semantics: SURVEY §3.3 entry point C — TableWriterOperator +
TableFinishOperator rowcount result (TableWriterOperator.java:69),
MergeWriterOperator row routing (MergeWriterOperator.java:48), and the
"connector does not support updates" guard for read-only sources."""

import os

import pytest

from trino_spark.dialect import TrinoEngine


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    eng = TrinoEngine(spark, sf_dir=sf_dir)
    eng.sql("DROP TABLE IF EXISTS dml_t")
    return eng


def _rows(df):
    return df.collect()[0][0]


def test_ctas_and_select(engine):
    n = _rows(engine.sql("CREATE TABLE dml_t AS SELECT n_nationkey AS k, n_name AS name, n_regionkey AS r FROM nation"))
    assert n == 25
    assert engine.sql("SELECT count(*) AS c FROM dml_t").collect()[0].c == 25


def test_ctas_if_not_exists_noop(engine):
    n = _rows(engine.sql("CREATE TABLE IF NOT EXISTS dml_t AS SELECT 1 AS x"))
    assert n == 0
    assert engine.sql("SELECT count(*) AS c FROM dml_t").collect()[0].c == 25


def test_ctas_column_list_names_the_columns(engine):
    """CREATE TABLE t (a, b) AS query: the list names the query's columns
    (Trino's CreateTableAsSelect column aliases)."""
    assert _rows(engine.sql("CREATE TABLE dml_ctas_cols (a, b) AS SELECT 1, 'x' AS s")) == 1
    assert engine.sql("SELECT a, b FROM dml_ctas_cols").collect()[0].asDict() == {"a": 1, "b": "x"}
    with pytest.raises(ValueError, match="MISMATCHED_COLUMN_ALIASES"):
        engine.sql("CREATE TABLE dml_ctas_bad (a) AS SELECT 1, 2")
    engine.sql("DROP TABLE dml_ctas_cols")


def test_insert_select(engine):
    n = _rows(engine.sql("INSERT INTO dml_t SELECT n_nationkey + 100, upper(n_name), n_regionkey FROM nation WHERE n_regionkey = 0"))
    assert n == 5
    assert engine.sql("SELECT count(*) AS c FROM dml_t").collect()[0].c == 30


def test_insert_column_list_null_fill(engine):
    n = _rows(engine.sql("INSERT INTO dml_t (k, r) SELECT 999, 9"))
    assert n == 1
    row = engine.sql("SELECT * FROM dml_t WHERE k = 999").collect()[0]
    assert row.name is None and row.r == 9


def test_update_where(engine):
    n = _rows(engine.sql("UPDATE dml_t SET name = lower(name) WHERE r = 1"))
    assert n == 5
    names = [r.name for r in engine.sql("SELECT name FROM dml_t WHERE r = 1").collect()]
    assert names and all(nm == nm.lower() for nm in names)


def test_delete_where(engine):
    n = _rows(engine.sql("DELETE FROM dml_t WHERE k >= 900"))
    assert n == 1
    assert engine.sql("SELECT count(*) AS c FROM dml_t").collect()[0].c == 30


def test_merge_full(engine):
    n = _rows(
        engine.sql(
            """
        MERGE INTO dml_t t USING (SELECT n_nationkey AS k, n_name AS name, n_regionkey AS r
                                  FROM nation WHERE n_regionkey IN (2, 4)) s
        ON t.k = s.k
        WHEN MATCHED AND s.r = 4 THEN DELETE
        WHEN MATCHED THEN UPDATE SET name = concat(t.name, '!')
        WHEN NOT MATCHED THEN INSERT (k, name, r) VALUES (s.k + 200, s.name, s.r)
        """
        )
    )
    # nation has 5 keys per region; all 10 source rows match -> affected 10.
    assert n == 10
    out = {r.k: r.name for r in engine.sql("SELECT k, name FROM dml_t").collect()}
    # region-4 keys deleted, region-2 keys updated with '!'
    assert sum(1 for nm in out.values() if nm and nm.endswith("!")) == 5


def test_merge_insert_not_matched(engine):
    n = _rows(
        engine.sql(
            """
        MERGE INTO dml_t t USING (SELECT 5000 AS k, 'NEW' AS name, 0 AS r) s
        ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT (k, name, r) VALUES (s.k, s.name, s.r)
        """
        )
    )
    assert n == 1
    assert engine.sql("SELECT name FROM dml_t WHERE k = 5000").collect()[0].name == "NEW"


def test_merge_update_before_delete_rejected(engine):
    with pytest.raises(ValueError, match="DELETE before UPDATE"):
        engine.sql(
            """
            MERGE INTO dml_t t USING (SELECT 1 AS k) s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET name = 'x'
            WHEN MATCHED AND s.k = 1 THEN DELETE
            """
        )


def test_merge_non_equi_on_rejected(engine):
    with pytest.raises(ValueError, match="equalities"):
        engine.sql(
            """
            MERGE INTO dml_t t USING (SELECT 1 AS k) s ON t.k > s.k
            WHEN MATCHED THEN DELETE
            """
        )


def test_mutating_readonly_source_raises(engine):
    with pytest.raises(ValueError, match="does not support updates"):
        engine.sql("DELETE FROM nation WHERE n_nationkey = 0")
    with pytest.raises(ValueError, match="does not support updates"):
        engine.sql("UPDATE nation SET n_name = 'x'")


def test_truncate_and_drop(engine):
    engine.sql("CREATE TABLE dml_tmp AS SELECT 1 AS x")
    engine.sql("TRUNCATE TABLE dml_tmp")
    assert engine.sql("SELECT count(*) AS c FROM dml_tmp").collect()[0].c == 0
    engine.sql("DROP TABLE dml_tmp")
    with pytest.raises(Exception):
        engine.sql("SELECT * FROM dml_tmp").collect()
    # idempotent with IF EXISTS
    engine.sql("DROP TABLE IF EXISTS dml_tmp")


def test_delete_null_predicate_keeps_row(engine):
    engine.sql("CREATE TABLE dml_null AS SELECT * FROM (VALUES (1, 10), (2, NULL)) AS v(id, val)")
    n = _rows(engine.sql("DELETE FROM dml_null WHERE val < 100"))
    assert n == 1  # NULL predicate row is kept (three-valued logic)
    assert engine.sql("SELECT id FROM dml_null").collect()[0].id == 2
    engine.sql("DROP TABLE dml_null")


class TestTransactions:
    """START TRANSACTION / COMMIT / ROLLBACK over copy-on-write managed
    tables (snapshot pin + restore; reference StartTransactionTask.java)."""

    def test_rollback_restores_pre_txn_state(self, engine):
        engine.sql("DROP TABLE IF EXISTS txn_t")
        engine.sql("CREATE TABLE txn_t AS SELECT n_nationkey AS k, n_regionkey AS r FROM nation")
        engine.sql("START TRANSACTION")
        # a leading comment leaves a write inside the transaction
        engine.sql("/* app=x */ INSERT INTO txn_t VALUES (200, 1)")
        engine.sql("-- c\nINSERT INTO txn_t VALUES (201, 1)")
        engine.sql("DELETE FROM txn_t WHERE k < 20")
        engine.sql("ALTER TABLE txn_t ALTER COLUMN r SET DEFAULT 9")
        engine.sql("ALTER TABLE txn_t SET PROPERTIES owner_note = 'in-txn'")
        assert engine.sql("SELECT count(*) AS c FROM txn_t").collect()[0].c == 7
        engine.sql("ROLLBACK")
        assert engine.sql("SELECT count(*) AS c FROM txn_t").collect()[0].c == 25
        # the default and the property set inside rewind with the data
        assert engine.sql('SELECT * FROM "txn_t$properties"').collect() == []
        engine.sql("INSERT INTO txn_t (k) VALUES (100)")
        assert engine.sql("SELECT r FROM txn_t WHERE k = 100").collect()[0].r is None
        engine.sql("DROP TABLE txn_t")

    def test_commit_keeps_changes(self, engine):
        engine.sql("DROP TABLE IF EXISTS txn_c")
        engine.sql("CREATE TABLE txn_c AS SELECT n_nationkey AS k FROM nation")
        engine.sql("START TRANSACTION")
        engine.sql("UPDATE txn_c SET k = k + 1000 WHERE k = 0")
        engine.sql("COMMIT")
        assert engine.sql("SELECT max(k) AS m FROM txn_c").collect()[0].m == 1000
        engine.sql("DROP TABLE txn_c")

    def test_rollback_drops_tables_created_in_txn(self, engine):
        engine.sql("START TRANSACTION")
        engine.sql("CREATE TABLE txn_new AS SELECT 1 AS x, 'a' AS s")
        engine.sql("ALTER TABLE txn_new ALTER COLUMN s SET DEFAULT 'in-txn'")
        engine.sql("ROLLBACK")
        import pytest as _pytest

        with _pytest.raises(Exception):
            engine.sql("SELECT * FROM txn_new").collect()
        # nothing of it is left for the next table of that name
        engine.sql("CREATE TABLE txn_new AS SELECT 1 AS x, 'a' AS s")
        engine.sql("INSERT INTO txn_new (x) VALUES (2)")
        assert engine.sql("SELECT s FROM txn_new WHERE x = 2").collect()[0].s is None
        engine.sql("DROP TABLE txn_new")

    def test_rollback_restores_dropped_table(self, engine):
        engine.sql("DROP TABLE IF EXISTS txn_d")
        engine.sql("CREATE TABLE txn_d AS SELECT 7 AS x")
        engine.sql("START TRANSACTION")
        engine.sql("DROP TABLE txn_d")
        engine.sql("ROLLBACK")
        assert engine.sql("SELECT x FROM txn_d").collect()[0].x == 7
        engine.sql("DROP TABLE txn_d")

    def test_nested_txn_rejected(self, engine):
        engine.sql("START TRANSACTION")
        with pytest.raises(ValueError, match="already in progress"):
            engine.sql("START TRANSACTION")
        engine.sql("ROLLBACK")

    def test_commit_without_txn_rejected(self, engine):
        with pytest.raises(ValueError, match="no transaction"):
            engine.sql("COMMIT")


def test_show_create_table(engine):
    ddl = engine.sql("SHOW CREATE TABLE nation").collect()[0].create_table
    assert "CREATE TABLE nation" in ddl and "n_nationkey" in ddl and "PARQUET" in ddl


def test_show_create_materialized_view(engine):
    engine.sql("CREATE MATERIALIZED VIEW scmv AS SELECT count(*) AS c FROM nation")
    ddl = engine.sql("SHOW CREATE MATERIALIZED VIEW scmv").collect()[0].create_materialized_view
    assert ddl.startswith("CREATE MATERIALIZED VIEW scmv AS")
    engine.sql("DROP MATERIALIZED VIEW scmv")


def test_describe_and_explain_types(engine):
    cols = [r.Column for r in engine.sql("DESCRIBE nation").collect()]
    assert cols == ["n_nationkey", "n_name", "n_regionkey"]
    assert "VALID" in engine.sql("EXPLAIN (TYPE VALIDATE) SELECT 1").collect()[0].query_plan
    logical = engine.sql("EXPLAIN (TYPE LOGICAL) SELECT count(*) FROM nation").collect()[0].query_plan
    assert "Optimized Logical Plan" in logical or "Aggregate" in logical
    io = engine.sql("EXPLAIN (TYPE IO) SELECT n_name FROM nation").collect()[0].query_plan
    assert "parquet" in io.lower() or "relation" in io.lower()
    dist = engine.sql("EXPLAIN (TYPE DISTRIBUTED) SELECT count(*) FROM nation").collect()[0].query_plan
    assert "Physical Plan" in dist or "Exchange" in dist or "HashAggregate" in dist


class TestDDL:
    """CREATE VIEW / plain CREATE TABLE / ALTER TABLE (CreateViewTask /
    CreateTableTask / AddColumnTask-family statement surface)."""

    def test_create_view_lazy(self, engine):
        engine.sql("CREATE TABLE ddl_base AS SELECT 1 AS x")
        engine.sql("CREATE VIEW ddl_v AS SELECT x * 10 AS y FROM ddl_base")
        assert engine.sql("SELECT y FROM ddl_v").collect()[0].y == 10
        ddl = engine.sql("SHOW CREATE VIEW ddl_v").collect()[0].create_view
        assert ddl.startswith("CREATE VIEW ddl_v AS")
        engine.sql("DROP VIEW ddl_v")
        engine.sql("DROP TABLE ddl_base")

    def test_create_view_duplicate_rejected_or_replace(self, engine):
        engine.sql("CREATE VIEW ddl_v2 AS SELECT 1 AS a")
        with pytest.raises(ValueError, match="already exists"):
            engine.sql("CREATE VIEW ddl_v2 AS SELECT 2 AS a")
        engine.sql("CREATE OR REPLACE VIEW ddl_v2 AS SELECT 2 AS a")
        assert engine.sql("SELECT a FROM ddl_v2").collect()[0].a == 2
        engine.sql("DROP VIEW ddl_v2")

    def test_create_empty_table_then_insert(self, engine):
        engine.sql("DROP TABLE IF EXISTS ddl_e")
        engine.sql("CREATE TABLE ddl_e (id BIGINT, name VARCHAR(20), price DOUBLE)")
        assert engine.sql("SELECT count(*) AS c FROM ddl_e").collect()[0].c == 0
        n = engine.sql("INSERT INTO ddl_e SELECT 1, 'a', 9.5").collect()[0][0]
        assert n == 1
        row = engine.sql("SELECT * FROM ddl_e").collect()[0]
        assert row.id == 1 and row.name == "a" and row.price == 9.5
        engine.sql("DROP TABLE ddl_e")

    def test_column_text_with_as_is_not_a_ctas(self, engine):
        # CTAS is an AS outside the column list, not " as " in its text
        for col in ("b varchar DEFAULT 'known as b'", "b varchar COMMENT 'known as b'"):
            engine.sql("DROP TABLE IF EXISTS ddl_c")
            engine.sql(f"CREATE TABLE ddl_c (a bigint, {col})")
            engine.sql("INSERT INTO ddl_c (a) VALUES (1)")
            row = engine.sql("SELECT * FROM ddl_c").collect()[0]
            assert (row.a, row.b) == (1, "known as b" if "DEFAULT" in col else None)
        engine.sql("DROP TABLE ddl_c")

    def test_alter_add_drop_rename_column(self, engine):
        engine.sql("DROP TABLE IF EXISTS ddl_a")
        engine.sql("CREATE TABLE ddl_a AS SELECT 1 AS x, 'k' AS tag")
        engine.sql("ALTER TABLE ddl_a ADD COLUMN note VARCHAR")
        row = engine.sql("SELECT * FROM ddl_a").collect()[0]
        assert row.note is None
        engine.sql("ALTER TABLE ddl_a RENAME COLUMN note TO comment")
        assert "comment" in engine.sql("SELECT * FROM ddl_a").columns
        engine.sql("ALTER TABLE ddl_a DROP COLUMN comment")
        assert engine.sql("SELECT * FROM ddl_a").columns == ["x", "tag"]
        engine.sql("ALTER TABLE ddl_a RENAME TO ddl_b")
        assert engine.sql("SELECT x FROM ddl_b").collect()[0].x == 1
        engine.sql("DROP TABLE ddl_b")

    def test_row_column_types(self, engine):
        # a ROW column in CREATE TABLE and ADD COLUMN, shown in Trino's spelling
        engine.sql("DROP TABLE IF EXISTS ddl_r")
        engine.sql("CREATE TABLE ddl_r (k bigint, r row(x integer, y varchar))")
        engine.sql("ALTER TABLE ddl_r ADD COLUMN s row(x integer, y varchar)")
        engine.sql("INSERT INTO ddl_r (k, r) VALUES (1, ROW(2, 'b'))")
        row = engine.sql("SELECT k, r.x AS x, r.y AS y, s FROM ddl_r").collect()[0]
        assert (row.k, row.x, row.y, row.s) == (1, 2, "b", None)
        described = [(r.Column, r.Type) for r in engine.sql("DESCRIBE ddl_r").collect()]
        assert described == [
            ("k", "bigint"), ("r", "row(x integer, y varchar)"), ("s", "row(x integer, y varchar)")
        ]
        engine.sql("DROP TABLE ddl_r")

    def test_show_create_table_has_defaults_and_comments(self, engine):
        engine.sql("DROP TABLE IF EXISTS ddl_sc")
        engine.sql(
            "CREATE TABLE ddl_sc (a bigint COMMENT 'the key', b varchar DEFAULT 'x')"
            " COMMENT 'the table' WITH (format = 'PARQUET')"
        )
        ddl = engine.sql("SHOW CREATE TABLE ddl_sc").collect()[0].create_table
        assert "a bigint COMMENT 'the key'" in ddl and "b varchar DEFAULT 'x'" in ddl
        assert ")\nCOMMENT 'the table'\nWITH (" in ddl
        engine.sql("DROP TABLE ddl_sc")

    def test_column_comment_follows_rename_and_drop(self, engine):
        engine.sql("DROP TABLE IF EXISTS ddl_cc")
        engine.sql("CREATE TABLE ddl_cc AS SELECT 1 AS a, 2 AS b")
        engine.sql("COMMENT ON COLUMN ddl_cc.a IS 'first'")
        engine.sql("ALTER TABLE ddl_cc RENAME COLUMN a TO z")

        def comments():
            return {r.Column: r.Comment for r in engine.sql("DESCRIBE ddl_cc").collect()}

        assert comments() == {"z": "first", "b": ""}
        engine.sql("ALTER TABLE ddl_cc DROP COLUMN z")
        engine.sql("ALTER TABLE ddl_cc ADD COLUMN z bigint")
        assert comments() == {"b": "", "z": ""}
        engine.sql("DROP TABLE ddl_cc")

    def test_comment_in_a_rolled_back_transaction_is_gone(self, engine):
        engine.sql("DROP TABLE IF EXISTS ddl_tc")
        engine.sql("CREATE TABLE ddl_tc AS SELECT 1 AS a")
        engine.sql("START TRANSACTION")
        engine.sql("COMMENT ON COLUMN ddl_tc.a IS 'inside'")
        engine.sql("COMMENT ON TABLE ddl_tc IS 'inside'")
        engine.sql("ROLLBACK")
        assert [r.Comment for r in engine.sql("DESCRIBE ddl_tc").collect()] == [""]
        rows = engine.sql("SELECT table_name FROM system.metadata.table_comments").collect()
        assert "ddl_tc" not in [r.table_name for r in rows]
        engine.sql("DROP TABLE ddl_tc")

    def test_alter_guards(self, engine):
        engine.sql("DROP TABLE IF EXISTS ddl_g")
        engine.sql("CREATE TABLE ddl_g AS SELECT 1 AS only_col")
        with pytest.raises(ValueError, match="only column"):
            engine.sql("ALTER TABLE ddl_g DROP COLUMN only_col")
        with pytest.raises(ValueError, match="not found"):
            engine.sql("ALTER TABLE ddl_g DROP COLUMN ghost")
        with pytest.raises(ValueError, match="does not support updates"):
            engine.sql("ALTER TABLE nation ADD COLUMN c INT")
        engine.sql("DROP TABLE ddl_g")


def test_system_runtime_nodes_and_infoschema_views(engine):
    nodes = engine.sql("SELECT * FROM system.runtime.nodes").collect()
    assert len(nodes) == 1 and nodes[0].coordinator is True and nodes[0].state == "active"
    engine.sql("CREATE OR REPLACE VIEW isv_demo AS SELECT 1 AS a")
    views = {r.table_name: r.view_type for r in engine.sql("SELECT * FROM information_schema.views").collect()}
    assert views.get("isv_demo") == "VIEW"
    engine.sql("DROP VIEW isv_demo")


def test_infoschema_lists_views_as_views(engine):
    # information_schema.tables and system.jdbc.tables type logical and
    # materialized views as views (InformationSchemaPageSource, JDBC
    # getTables), tables as tables
    engine.sql("CREATE OR REPLACE VIEW itv_v AS SELECT 1 AS a")
    engine.sql("CREATE OR REPLACE MATERIALIZED VIEW itv_mv AS SELECT 2 AS a")
    engine.sql("CREATE TABLE itv_t AS SELECT 3 AS a")
    try:
        names = ("itv_v", "itv_mv", "itv_t", "nation")
        types = {
            r.table_name: r.table_type
            for r in engine.sql("SELECT * FROM information_schema.tables").collect()
            if r.table_name in names
        }
        assert types == {"itv_v": "VIEW", "itv_mv": "VIEW", "itv_t": "BASE TABLE", "nation": "BASE TABLE"}
        jdbc = {
            r.table_name: r.table_type
            for r in engine.sql("SELECT * FROM system.jdbc.tables").collect()
            if r.table_name in names
        }
        assert jdbc == {"itv_v": "VIEW", "itv_mv": "VIEW", "itv_t": "TABLE", "nation": "TABLE"}
    finally:
        engine.sql("DROP VIEW itv_v")
        engine.sql("DROP MATERIALIZED VIEW itv_mv")
        engine.sql("DROP TABLE itv_t")


def test_view_over_system_table_keeps_its_text(engine):
    # the stored definition is the statement's own text, not the internal
    # name its rows were built under
    engine.sql("CREATE OR REPLACE VIEW sysq_v AS SELECT query FROM system.runtime.queries")
    try:
        defs = {
            r.table_name: r.view_definition
            for r in engine.sql("SELECT * FROM information_schema.views").collect()
        }
        assert defs["sysq_v"] == "SELECT query FROM system.runtime.queries"
        shown = engine.sql("SHOW CREATE VIEW sysq_v").collect()[0].create_view
        assert shown == "CREATE VIEW sysq_v AS\nSELECT query FROM system.runtime.queries"
    finally:
        engine.sql("DROP VIEW sysq_v")


def test_view_over_system_table_reads_live_rows(engine):
    # the view re-resolves its definition on each read, as Trino does, and
    # so does a view over it
    engine.sql("CREATE OR REPLACE VIEW sysq_n AS SELECT count(*) AS n FROM system.runtime.queries")
    engine.sql("CREATE OR REPLACE VIEW sysq_n2 AS SELECT n FROM sysq_n")
    try:
        for view in ("sysq_n", "sysq_n2"):
            before = engine.sql(f"SELECT n FROM {view}").collect()[0].n
            engine.sql("SELECT 1").collect()
            assert engine.sql(f"SELECT n FROM {view}").collect()[0].n > before
    finally:
        engine.sql("DROP VIEW sysq_n2")
        engine.sql("DROP VIEW sysq_n")


def test_show_tables_reflects_ddl(engine):
    engine.sql("CREATE TABLE st_demo AS SELECT 1 AS x")
    names = {r.table_name for r in engine.sql("SHOW TABLES").collect()}
    assert "st_demo" in names and "nation" in names
    cols = [r.Column for r in engine.sql("SHOW COLUMNS FROM st_demo").collect()]
    assert cols == ["x"]
    engine.sql("DROP TABLE st_demo")
    names = {r.table_name for r in engine.sql("SHOW TABLES").collect()}
    assert "st_demo" not in names


def test_ctas_with_partitioned_by(engine):
    import os

    engine.sql("DROP TABLE IF EXISTS part_t")
    n = engine.sql(
        "CREATE TABLE part_t WITH (format = 'PARQUET', partitioned_by = ARRAY['r']) AS "
        "SELECT n_nationkey AS k, n_regionkey AS r FROM nation"
    ).collect()[0][0]
    assert n == 25
    path = engine.dml_tables["part_t"].path
    assert any(d.startswith("r=") for d in os.listdir(path))
    # mutations preserve the partitioned layout
    engine.sql("DELETE FROM part_t WHERE r = 4")
    assert not any(d == "r=4" for d in os.listdir(engine.dml_tables["part_t"].path))
    assert any(d.startswith("r=") for d in os.listdir(engine.dml_tables["part_t"].path))
    assert engine.sql("SELECT count(*) AS c FROM part_t").collect()[0].c == 20
    engine.sql("DROP TABLE part_t")


def test_ctas_with_bad_format_rejected(engine):
    with pytest.raises(ValueError, match="parquet only"):
        engine.sql("CREATE TABLE bad_fmt WITH (format = 'ORC') AS SELECT 1 AS x")


def test_ctas_with_unknown_property_rejected(engine):
    with pytest.raises(ValueError, match="unsupported CTAS table property"):
        engine.sql("CREATE TABLE bad_prop WITH (bucket_count = 8) AS SELECT 1 AS x")


def test_set_time_zone_and_use(engine):
    engine.sql("SET TIME ZONE 'America/New_York'")
    try:
        # UTC midnight renders as 19:00 previous day in New York
        out = engine.sql(
            "SELECT date_format(TIMESTAMP '2024-06-01 00:00:00+00:00', '%H:%i') AS hm"
        ).collect()[0].hm
        assert out == "20:00"  # EDT = UTC-4 in June
    finally:
        engine.sql("SET TIME ZONE LOCAL")
    assert engine.spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert engine.sql("USE memory.default").collect()[0].schema == "memory.default"


def test_drop_table_on_a_catalog_source_is_refused(engine):
    # a registered source is read-only, as Trino's tpch connector is: the
    # table stays listed and readable, IF EXISTS or not
    for stmt in ("DROP TABLE region", "DROP TABLE IF EXISTS region"):
        with pytest.raises(ValueError, match="does not support dropping tables"):
            engine.sql(stmt)
    assert engine.sql("SELECT count(*) AS c FROM region").collect()[0].c == 5
    listed = engine.sql(
        "SELECT table_name FROM information_schema.tables WHERE table_name = 'region'"
    ).collect()
    assert len(listed) == 1


class TestVersionReferences:
    """`t FOR VERSION AS OF n` and `"t$kind"` are read from the statement's
    relation references once: never from a literal, in any qualified or
    commented spelling, and a view over one keeps its text."""

    @pytest.fixture(scope="class")
    def pt(self, engine):
        engine.sql("DROP TABLE IF EXISTS tv_pt")
        engine.sql("CREATE TABLE tv_pt AS SELECT n_nationkey AS k FROM nation")
        engine.sql("INSERT INTO tv_pt VALUES (100)")
        yield "tv_pt"
        engine.sql("DROP TABLE tv_pt")

    @pytest.mark.parametrize(
        "text",
        ["the tv_pt FOR VERSION AS OF 1 case", 'see "tv_pt$history"', "o FOR VERSION AS OF 1"],
    )
    def test_literals_untouched(self, engine, pt, text):
        assert engine.sql(f"SELECT '{text}' AS s").collect()[0].s == text

    @pytest.mark.parametrize(
        "ref, rows",
        [
            ("default.tv_pt FOR VERSION AS OF 1", 25),
            ("tv_pt /* c */ FOR VERSION AS OF 1", 25),
            ('default."tv_pt$snapshots"', 2),
        ],
    )
    def test_other_spellings_resolve(self, engine, pt, ref, rows):
        assert engine.sql(f"SELECT count(*) AS c FROM {ref}").collect()[0].c == rows

    def test_view_over_version_keeps_its_text(self, engine, pt):
        engine.sql("CREATE OR REPLACE VIEW tv_v AS SELECT k FROM tv_pt FOR VERSION AS OF 1")
        try:
            shown = engine.sql("SHOW CREATE VIEW tv_v").collect()[0].create_view
            assert shown == "CREATE VIEW tv_v AS\nSELECT k FROM tv_pt FOR VERSION AS OF 1"
            defs = {
                r.table_name: r.view_definition
                for r in engine.sql("SELECT * FROM information_schema.views").collect()
            }
            assert defs["tv_v"] == "SELECT k FROM tv_pt FOR VERSION AS OF 1"
            assert engine.sql("SELECT count(*) AS c FROM tv_v").collect()[0].c == 25
        finally:
            engine.sql("DROP VIEW tv_v")


class TestWriteClauses:
    """A write's target and clauses are read once from its tokens
    (dialect/writes.py): a clause keyword inside a literal, a subquery or
    CASE ... END ends no clause, an alias inside a literal is not
    rebound, and a schema-qualified target names the managed table."""

    @pytest.fixture()
    def wt(self, engine):
        engine.sql("DROP TABLE IF EXISTS wc_t")
        engine.sql("CREATE TABLE wc_t AS SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')) AS v(k, s)")
        yield "wc_t"
        engine.sql("DROP TABLE IF EXISTS wc_t")

    def _s(self, engine, k):
        return engine.sql(f"SELECT s FROM wc_t WHERE k = {k}").collect()[0].s

    def test_merge_update_set_with_case_when(self, engine, wt):
        n = _rows(engine.sql(
            "MERGE INTO wc_t t USING (SELECT 1 AS k UNION ALL SELECT 2) s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET s = CASE WHEN s.k > 1 THEN 'pos' ELSE 'neg' END "
            "WHEN NOT MATCHED THEN INSERT (k, s) VALUES (s.k, 'new')"
        ))
        assert n == 2
        assert (self._s(engine, 1), self._s(engine, 2), self._s(engine, 3)) == ("neg", "pos", "c")

    def test_merge_alias_inside_a_literal_is_kept(self, engine, wt):
        engine.sql(
            "MERGE INTO wc_t t USING (SELECT 1 AS k) s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET s = 's.k WHEN t.s'"
        )
        assert self._s(engine, 1) == "s.k WHEN t.s"

    def test_update_literal_with_where(self, engine, wt):
        assert _rows(engine.sql("UPDATE wc_t SET s = 'see WHERE clause' WHERE k = 2")) == 1
        assert self._s(engine, 2) == "see WHERE clause"
        assert self._s(engine, 1) == "a"

    def test_update_subquery_with_where(self, engine, wt):
        n = _rows(engine.sql("UPDATE wc_t SET s = (SELECT max(s) FROM wc_t WHERE k = 4) WHERE k = 3"))
        assert n == 1
        assert self._s(engine, 3) == "d"
        assert self._s(engine, 1) == "a"

    def test_schema_qualified_targets(self, engine, wt):
        assert _rows(engine.sql("INSERT INTO default.wc_t VALUES (5, 'e')")) == 1
        assert _rows(engine.sql("DELETE FROM default.wc_t WHERE k = 1")) == 1
        assert _rows(engine.sql("UPDATE default.wc_t SET s = 'B' WHERE k = 2")) == 1
        engine.sql(
            "MERGE INTO default.wc_t t USING (SELECT 3 AS k) s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET s = 'C'"
        )
        got = {r.k: r.s for r in engine.sql("SELECT k, s FROM wc_t").collect()}
        assert got == {2: "B", 3: "C", 4: "d", 5: "e"}
        engine.sql("ALTER TABLE default.wc_t ADD COLUMN z bigint")
        assert engine.sql("SELECT * FROM wc_t").columns == ["k", "s", "z"]
        engine.sql("DROP TABLE IF EXISTS wc_u")
        engine.sql("DROP TABLE IF EXISTS wc_e")
        try:
            assert _rows(engine.sql("CREATE TABLE default.wc_u AS SELECT k FROM wc_t")) == 4
            engine.sql("CREATE TABLE default.wc_e (a integer)")
            assert "wc_u" in engine.dml_tables and "wc_e" in engine.dml_tables
            engine.sql("CREATE VIEW default.wc_v AS SELECT count(*) AS c FROM wc_u")
            assert engine.sql("SELECT c FROM wc_v").collect()[0].c == 4
        finally:
            engine.sql("DROP VIEW IF EXISTS wc_v")
            engine.sql("DROP TABLE IF EXISTS default.wc_u")
            engine.sql("DROP TABLE IF EXISTS wc_e")

    def test_column_definitions_take_ctas_properties(self, engine):
        engine.sql("DROP TABLE IF EXISTS wc_p")
        engine.sql(
            "CREATE TABLE wc_p (a integer, p varchar) WITH (partitioned_by = ARRAY['p'], format = 'PARQUET')"
        )
        try:
            assert engine.dml_tables["wc_p"].partition_by == ["p"]
            engine.sql("INSERT INTO wc_p VALUES (1, 'x'), (2, 'y')")
            parts = [d for d in os.listdir(engine.dml_tables["wc_p"].path) if d.startswith("p=")]
            assert sorted(parts) == ["p=x", "p=y"]
            assert engine.sql("SELECT * FROM wc_p ORDER BY a").columns == ["a", "p"]
        finally:
            engine.sql("DROP TABLE IF EXISTS wc_p")
        with pytest.raises(ValueError, match="parquet only"):
            engine.sql("CREATE TABLE wc_o (a integer, p varchar) WITH (partitioned_by = ARRAY['p'], format = 'ORC')")
        assert "wc_o" not in engine.dml_tables

    def test_insert_column_list_arity(self, engine, wt):
        with pytest.raises(ValueError, match="arity mismatch"):
            engine.sql("INSERT INTO wc_t (k) VALUES (9, 'z')")
        with pytest.raises(ValueError, match="column not found"):
            engine.sql("INSERT INTO wc_t (k, nope) VALUES (9, 'z')")
