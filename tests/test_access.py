"""Access control + comments (dialect/access.py): roles, grants,
enforcement, COMMENT ON, system.metadata.table_comments."""

import pytest

from trino_spark.dialect import TrinoEngine
from trino_spark.dialect.access import AccessDenied


@pytest.fixture()
def engine(spark, sf_dir):
    return TrinoEngine(spark, sf_dir=sf_dir)


def test_role_lifecycle_and_show(engine):
    engine.sql("CREATE ROLE analyst")
    assert [r.role for r in engine.sql("SHOW ROLES").collect()] == ["analyst"]
    engine.sql("DROP ROLE analyst")
    assert engine.sql("SHOW ROLES").collect() == []


def test_grant_enforcement(engine):
    engine.sql("CREATE ROLE reader")
    engine.sql("GRANT SELECT ON nation TO ROLE reader")
    engine.sql("SET ROLE reader")
    assert engine.sql("SELECT count(*) AS c FROM nation").collect()[0].c == 25
    with pytest.raises(AccessDenied, match="lacks SELECT on region"):
        engine.sql("SELECT count(*) AS c FROM region").collect()
    with pytest.raises(AccessDenied, match="lacks SELECT"):
        engine.sql("SELECT count(*) AS c FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey").collect()
    # comma-listed and parenthesised relations are read too
    for sql in (
        "SELECT count(*) AS c FROM nation, region",
        "SELECT count(*) AS c FROM nation n, region r WHERE r.r_regionkey = n.n_regionkey",
        "SELECT count(*) AS c FROM (region)",
        "SELECT count(*) AS c FROM nation n LEFT JOIN (region) r ON r.r_regionkey = n.n_regionkey",
        # FROM-first subqueries and TABLE read the table as well
        "SELECT count(*) AS c FROM nation WHERE n_regionkey IN (FROM region SELECT r_regionkey)",
        "SELECT count(*) AS c FROM nation WHERE EXISTS (FROM region SELECT 1)",
        "TABLE region",
    ):
        with pytest.raises(AccessDenied, match="lacks SELECT on region"):
            engine.sql(sql).collect()
    # a leading comment or lower case does not take a write past the check
    engine.sql("SET ROLE NONE")
    engine.sql("DROP TABLE IF EXISTS acl_q")
    engine.sql("CREATE TABLE acl_q AS SELECT 1 AS x")
    engine.sql("GRANT SELECT ON acl_q TO ROLE reader")
    engine.sql("SET ROLE reader")
    for spell in (str, "/* c */ {}".format, "-- c\n{}".format, str.lower):
        for stmt in ("INSERT INTO acl_q VALUES (2)", "DROP TABLE acl_q"):
            with pytest.raises(AccessDenied, match="lacks INSERT on acl_q"):
                engine.sql(spell(stmt))
    assert engine.sql("SELECT count(*) AS c FROM acl_q").collect()[0].c == 1
    engine.sql("SET ROLE NONE")
    assert engine.sql("SELECT count(*) AS c FROM region").collect()[0].c == 5
    engine.sql("DROP TABLE acl_q")


def test_dml_privileges(engine):
    engine.sql("DROP TABLE IF EXISTS acl_t")
    engine.sql("CREATE TABLE acl_t AS SELECT 1 AS x")
    engine.sql("CREATE ROLE writer")
    engine.sql("GRANT SELECT, INSERT ON acl_t TO ROLE writer")
    engine.sql("SET ROLE writer")
    engine.sql("INSERT INTO acl_t SELECT 2")
    with pytest.raises(AccessDenied, match="lacks DELETE"):
        engine.sql("DELETE FROM acl_t WHERE x = 1")
    engine.sql("SET ROLE NONE")
    engine.sql("GRANT ALL ON acl_t TO ROLE writer")
    engine.sql("SET ROLE writer")
    engine.sql("DELETE FROM acl_t WHERE x = 1")
    engine.sql("SET ROLE NONE")
    engine.sql("DROP TABLE acl_t")


def test_revoke(engine):
    engine.sql("CREATE ROLE temp_r")
    engine.sql("GRANT SELECT ON nation TO ROLE temp_r")
    engine.sql("REVOKE SELECT ON nation FROM ROLE temp_r")
    engine.sql("SET ROLE temp_r")
    with pytest.raises(AccessDenied):
        engine.sql("SELECT 1 AS x FROM nation").collect()
    engine.sql("SET ROLE NONE")


def test_show_grants(engine):
    engine.sql("CREATE ROLE g1")
    engine.sql("GRANT SELECT, DELETE ON orders TO ROLE g1")
    rows = [(r.grantee, r.privilege) for r in engine.sql("SHOW GRANTS ON orders").collect()]
    assert ("g1", "SELECT") in rows and ("g1", "DELETE") in rows


def test_infoschema_readable_under_role(engine):
    engine.sql("CREATE ROLE limited")
    engine.sql("SET ROLE limited")
    assert len(engine.sql("SHOW TABLES").collect()) > 0
    engine.sql("SET ROLE NONE")


def test_drop_and_rename_take_a_managed_tables_comments(engine):
    def comments():
        rows = engine.sql("SELECT * FROM system.metadata.table_comments").collect()
        names = {r.table_name for r in engine.sql("SHOW TABLES").collect()} & {"pc1", "pc2"}
        return {(r.table_name, r.comment) for r in rows}, {
            (t, r.Column) for t in names for r in engine.sql(f"DESCRIBE {t}").collect() if r.Comment
        }

    engine.sql("CREATE TABLE pc1 AS SELECT 1 AS a")
    engine.sql("COMMENT ON TABLE pc1 IS 'old comment'")
    engine.sql("COMMENT ON COLUMN pc1.a IS 'old column'")
    engine.sql("ALTER TABLE pc1 RENAME TO pc2")
    assert comments() == ({("pc2", "old comment")}, {("pc2", "a")})
    # a rolled-back DROP leaves them where they were
    engine.sql("START TRANSACTION")
    engine.sql("DROP TABLE pc2")
    engine.sql("ROLLBACK")
    assert comments() == ({("pc2", "old comment")}, {("pc2", "a")})
    engine.sql("DROP TABLE pc2")
    engine.sql("CREATE TABLE pc2 AS SELECT 2 AS a")
    assert comments() == (set(), set())
    engine.sql("DROP TABLE pc2")


def test_comments(engine):
    engine.sql("COMMENT ON TABLE nation IS 'the 25 nations'")
    engine.sql("COMMENT ON COLUMN nation.n_name IS 'uppercase name'")
    rows = engine.sql(
        "SELECT table_name, comment FROM system.metadata.table_comments"
    ).collect()
    assert ("nation", "the 25 nations") in [(r.table_name, r.comment) for r in rows]
    engine.sql("COMMENT ON TABLE nation IS NULL")
    rows = engine.sql("SELECT table_name FROM system.metadata.table_comments").collect()
    assert "nation" not in [r.table_name for r in rows]


def test_comment_on_a_missing_target_is_refused(engine):
    # CommentTask: TABLE_NOT_FOUND / COLUMN_NOT_FOUND, nothing stored
    with pytest.raises(ValueError, match="table not found"):
        engine.sql("COMMENT ON COLUMN nosuchtable.a IS 'ghost'")
    with pytest.raises(ValueError, match="table not found"):
        engine.sql("COMMENT ON TABLE nosuchtable IS 'ghost'")
    with pytest.raises(ValueError, match="column not found"):
        engine.sql("COMMENT ON COLUMN nation.nosuch IS 'ghost'")
    rows = engine.sql("SELECT table_name FROM system.metadata.table_comments").collect()
    assert "nosuchtable" not in [r.table_name for r in rows]


class TestCallProcedures:
    """CALL statement + procedure registry (grammar SqlBase.g4 CALL;
    connector procedures SPI)."""

    def test_register_tpch(self, engine):
        engine.sql("CALL system.register_tpch(0.001)")
        n = engine.sql("SELECT count(*) AS c FROM tpchgen_orders").collect()[0].c
        assert n == 1500

    def test_register_faker(self, engine):
        engine.sql("CALL system.register_faker('fk_users', 'uid bigint, email string', 20, 7)")
        rows = engine.sql("SELECT * FROM fk_users").collect()
        assert len(rows) == 20 and all("@" in r.email for r in rows)

    def test_flush_query_log(self, engine):
        engine.sql("SELECT 1 AS x").collect()
        flushed = engine.sql("CALL system.flush_query_log()").collect()[0].flushed
        assert flushed >= 1
        again = engine.sql("CALL system.flush_query_log()").collect()[0].flushed
        assert again <= 1
        # a live record survives a flush, so it can still be killed
        live = engine.queries.open("SELECT 'still running'", "trino")
        engine.queries.start(live)
        try:
            engine.sql("CALL system.flush_query_log()").collect()
            states = engine.sql(
                "SELECT state FROM system.runtime.queries"
                f" WHERE query_id = '{live.query_id}'"
            ).collect()
            assert [r.state for r in states] == ["RUNNING"]
            killed = engine.sql(f"CALL system.runtime.kill_query('{live.query_id}')").collect()
            assert killed[0].query_id == live.query_id and live.killed
        finally:
            engine.queries.close(live, "killed")

    def test_unknown_procedure(self, engine):
        with pytest.raises(ValueError, match="procedure not found"):
            engine.sql("CALL system.no_such_proc()")


class TestEnforcementBreadth:
    """r2 ADVICE: MERGE/TRUNCATE/ALTER/DROP/CTAS targets must be checked
    too — a zero-grant role could previously mutate or drop any managed
    table."""

    @pytest.fixture()
    def eng(self, engine):
        engine.sql("DROP TABLE IF EXISTS acl_b")
        engine.sql("CREATE TABLE acl_b AS SELECT 1 AS x, 'a' AS s")
        engine.sql("CREATE ROLE nobody")
        yield engine
        engine.sql("SET ROLE NONE")
        engine.sql("DROP TABLE IF EXISTS acl_b")

    def test_merge_requires_write_privs(self, eng):
        eng.sql("SET ROLE nobody")
        with pytest.raises(AccessDenied, match="lacks (UPDATE|INSERT|DELETE)"):
            eng.sql(
                "MERGE INTO acl_b t USING (SELECT 1 AS x) s ON t.x = s.x "
                "WHEN MATCHED THEN UPDATE SET s = 'z'"
            )
        eng.sql("SET ROLE NONE")
        eng.sql("GRANT ALL ON acl_b TO ROLE nobody")
        eng.sql("SET ROLE nobody")
        eng.sql(
            "MERGE INTO acl_b t USING (SELECT 1 AS x) s ON t.x = s.x "
            "WHEN MATCHED THEN UPDATE SET s = 'z'"
        )

    def test_merge_using_table_requires_select(self, eng):
        eng.sql("SET ROLE NONE")
        eng.sql("GRANT ALL ON acl_b TO ROLE nobody")
        eng.sql("SET ROLE nobody")
        with pytest.raises(AccessDenied, match="lacks SELECT on nation"):
            eng.sql(
                "MERGE INTO acl_b t USING nation s ON t.x = s.n_nationkey "
                "WHEN MATCHED THEN UPDATE SET s = 'z'"
            )

    def test_truncate_requires_delete(self, eng):
        eng.sql("SET ROLE nobody")
        with pytest.raises(AccessDenied, match="lacks DELETE"):
            eng.sql("TRUNCATE TABLE acl_b")

    def test_drop_and_alter_require_ownership_proxy(self, eng):
        eng.sql("SET ROLE nobody")
        with pytest.raises(AccessDenied):
            eng.sql("DROP TABLE acl_b")
        with pytest.raises(AccessDenied):
            eng.sql("ALTER TABLE acl_b ADD COLUMN y bigint")
        eng.sql("SET ROLE NONE")
        eng.sql("GRANT ALL ON acl_b TO ROLE nobody")
        eng.sql("SET ROLE nobody")
        eng.sql("ALTER TABLE acl_b ADD COLUMN y bigint")

    def test_ctas_requires_ownership_proxy(self, eng):
        eng.sql("SET ROLE nobody")
        with pytest.raises(AccessDenied):
            eng.sql("CREATE TABLE acl_new AS SELECT 1 AS x")


class TestQualifiedWriteTargets:
    """A write's privilege is checked on the table its sink writes: the
    target `default.t` is the managed table t, and MERGE's USING table
    still needs SELECT."""

    @pytest.fixture()
    def eng(self, engine):
        engine.sql("DROP TABLE IF EXISTS acl_q")
        engine.sql("CREATE TABLE acl_q AS SELECT 1 AS x, 'a' AS s")
        engine.sql("CREATE ROLE writer")
        yield engine
        engine.sql("SET ROLE NONE")
        engine.sql("DROP TABLE IF EXISTS acl_q")

    @pytest.mark.parametrize(
        "priv, stmt, after",
        [
            ("INSERT", "INSERT INTO default.acl_q VALUES (2, 'b')", 2),
            ("UPDATE", "UPDATE default.acl_q SET s = 'u' WHERE x = 1", 1),
            ("DELETE", "DELETE FROM default.acl_q WHERE x = 1", 0),
        ],
    )
    def test_privilege_on_the_written_table(self, eng, priv, stmt, after):
        eng.sql("SET ROLE writer")
        with pytest.raises(AccessDenied, match=f"lacks {priv} on acl_q"):
            eng.sql(stmt)
        eng.sql("SET ROLE NONE")
        eng.sql(f"GRANT {priv} ON acl_q TO ROLE writer")
        eng.sql("SET ROLE writer")
        assert eng.sql(stmt).collect()[0].rows == 1
        eng.sql("SET ROLE NONE")
        assert eng.sql("SELECT count(*) AS c FROM acl_q").collect()[0].c == after

    def test_qualified_merge_checks_target_and_source(self, eng):
        eng.sql("DROP TABLE IF EXISTS acl_src")
        eng.sql("CREATE TABLE acl_src AS SELECT 1 AS x, 'merged' AS name")
        merge = (
            "MERGE INTO default.acl_q t USING default.acl_src s ON t.x = s.x "
            "WHEN MATCHED THEN UPDATE SET s = s.name"
        )
        eng.sql("GRANT UPDATE, INSERT, DELETE ON acl_q TO ROLE writer")
        eng.sql("SET ROLE writer")
        with pytest.raises(AccessDenied, match="lacks SELECT on acl_src"):
            eng.sql(merge)
        eng.sql("SET ROLE NONE")
        eng.sql("GRANT SELECT ON acl_src TO ROLE writer")
        eng.sql("SET ROLE writer")
        assert eng.sql(merge).collect()[0].rows == 1
        eng.sql("SET ROLE NONE")
        assert eng.sql("SELECT s FROM acl_q").collect()[0].s == "merged"
        eng.sql("DROP TABLE acl_src")


class TestRowFiltersAndMasks:
    """ConnectorAccessControl.getRowFilters / getColumnMasks: per-role
    predicates and masking expressions applied to reads."""

    @pytest.fixture()
    def eng(self, engine):
        engine.sql("CREATE ROLE filtered")
        engine.sql("GRANT SELECT ON nation TO ROLE filtered")
        yield engine
        engine.sql("SET ROLE NONE")

    def test_row_filter_applies_to_reads(self, eng):
        eng.sql("CALL system.add_row_filter('filtered', 'nation', 'n_regionkey = 0')")
        eng.sql("SET ROLE filtered")
        assert eng.sql("SELECT count(*) AS c FROM nation").collect()[0].c == 5
        eng.sql("SET ROLE NONE")
        assert eng.sql("SELECT count(*) AS c FROM nation").collect()[0].c == 25

    def test_column_mask_applies_to_reads(self, eng):
        eng.sql(
            "CALL system.add_column_mask('filtered', 'nation', 'n_name', "
            "'substr(n_name, 1, 2) || ''***''')"
        )
        eng.sql("SET ROLE filtered")
        names = {r.n_name for r in eng.sql("SELECT n_name FROM nation").collect()}
        assert all(n.endswith("***") and len(n) == 5 for n in names)
        eng.sql("SET ROLE NONE")
        names = {r.n_name for r in eng.sql("SELECT n_name FROM nation").collect()}
        assert not any(n.endswith("***") for n in names)

    def test_filter_and_mask_compose_in_joins(self, eng):
        eng.sql("GRANT SELECT ON region TO ROLE filtered")
        eng.sql("CALL system.add_row_filter('filtered', 'nation', 'n_regionkey = 1')")
        eng.sql("CALL system.add_column_mask('filtered', 'nation', 'n_name', '''REDACTED''')")
        eng.sql("SET ROLE filtered")
        rows = eng.sql(
            "SELECT n.n_name, r.r_name FROM nation n "
            "JOIN region r ON r.r_regionkey = n.n_regionkey"
        ).collect()
        assert len(rows) == 5 and {r.n_name for r in rows} == {"REDACTED"}

    def test_filter_applies_to_from_first_subquery_and_table(self, eng):
        eng.sql("GRANT SELECT ON region TO ROLE filtered")
        eng.sql("CALL system.add_row_filter('filtered', 'region', 'r_regionkey = 0')")
        eng.sql("SET ROLE filtered")
        sql = "SELECT count(*) AS c FROM nation WHERE n_regionkey IN (FROM region SELECT r_regionkey)"
        assert eng.sql(sql).collect()[0].c == 5
        assert len(eng.sql("TABLE region").collect()) == 1
        eng.sql("SET ROLE NONE")
        assert eng.sql(sql).collect()[0].c == 25

    def test_role_cannot_define_rules(self, eng):
        eng.sql("SET ROLE filtered")
        with pytest.raises(AccessDenied, match="owner session"):
            eng.sql("CALL system.add_row_filter('filtered', 'nation', '1=1')")

    def test_drop_row_filter_restores_full_view(self, eng):
        eng.sql("CALL system.add_row_filter('filtered', 'nation', 'n_regionkey = 0')")
        eng.sql("CALL system.drop_row_filter('filtered', 'nation')")
        eng.sql("SET ROLE filtered")
        assert eng.sql("SELECT count(*) AS c FROM nation").collect()[0].c == 25

    def test_literal_mentions_are_not_rewritten(self, eng):
        eng.sql("CALL system.add_row_filter('filtered', 'nation', 'n_regionkey = 0')")
        eng.sql("SET ROLE filtered")
        row = eng.sql("SELECT 'nation' AS word").collect()[0]
        assert row.word == "nation"


class TestSecurityHardening:
    """Round-3 review findings: statement-shape bypasses and evaluation
    order of row filters vs column masks."""

    @pytest.fixture()
    def eng(self, engine):
        engine.sql("CREATE ROLE hard")
        engine.sql("GRANT SELECT ON nation TO ROLE hard")
        yield engine
        engine.sql("SET ROLE NONE")

    def test_parenthesized_select_cannot_bypass_row_filter(self, eng):
        eng.sql("CALL system.add_row_filter('hard', 'nation', 'n_regionkey = 0')")
        eng.sql("SET ROLE hard")
        assert eng.sql("(SELECT count(*) AS c FROM nation)").collect()[0].c == 5
        assert eng.sql("/* hi */ SELECT count(*) AS c FROM nation").collect()[0].c == 5

    def test_row_filter_sees_unmasked_values(self, eng):
        # the reference evaluates getRowFilters on the underlying row and
        # masks only the survivors — filtering on masked values would
        # silently return the wrong set
        eng.sql("CALL system.add_column_mask('hard', 'nation', 'n_name', '''XX''')")
        eng.sql("CALL system.add_row_filter('hard', 'nation', 'n_name = ''NATION_3''')")
        eng.sql("SET ROLE hard")
        rows = eng.sql("SELECT n_name FROM nation").collect()
        assert len(rows) == 1 and rows[0].n_name == "XX"


class TestDmlTargetSecurity:
    """Round-4: row filters / column masks bind to DML TARGETS too
    (ConnectorAccessControl getRowFilters applies to the target scan of
    UPDATE/DELETE/MERGE in the reference; masked targets reject mutation)."""

    @pytest.fixture()
    def eng(self, engine):
        engine.sql("DROP TABLE IF EXISTS sec_t")
        engine.sql(
            "CREATE TABLE sec_t AS SELECT n_nationkey AS id, n_regionkey AS rk, "
            "n_name AS name FROM nation"
        )
        engine.sql("CREATE ROLE dmlr")
        engine.sql("GRANT ALL ON sec_t TO ROLE dmlr")
        yield engine
        engine.sql("SET ROLE NONE")
        engine.sql("DROP TABLE IF EXISTS sec_t")

    def test_filtered_delete_touches_only_visible_rows(self, eng):
        eng.sql("CALL system.add_row_filter('dmlr', 'sec_t', 'rk = 0')")
        eng.sql("SET ROLE dmlr")
        # unconditional DELETE under a row filter: only the 5 visible rows go
        n = eng.sql("DELETE FROM sec_t").collect()[0][0]
        assert n == 5
        eng.sql("SET ROLE NONE")
        assert eng.sql("SELECT count(*) AS c FROM sec_t").collect()[0].c == 20
        assert eng.sql("SELECT count(*) AS c FROM sec_t WHERE rk = 0").collect()[0].c == 0

    def test_filtered_conditional_delete(self, eng):
        eng.sql("CALL system.add_row_filter('dmlr', 'sec_t', 'rk = 1')")
        eng.sql("SET ROLE dmlr")
        # predicate matches all 25 rows, but only rk=1 rows are visible
        n = eng.sql("DELETE FROM sec_t WHERE id >= 0").collect()[0][0]
        assert n == 5
        eng.sql("SET ROLE NONE")
        assert eng.sql("SELECT count(*) AS c FROM sec_t").collect()[0].c == 20

    def test_filtered_update_leaves_invisible_rows(self, eng):
        eng.sql("CALL system.add_row_filter('dmlr', 'sec_t', 'rk = 2')")
        eng.sql("SET ROLE dmlr")
        n = eng.sql("UPDATE sec_t SET name = 'TOUCHED' WHERE id >= 0").collect()[0][0]
        assert n == 5
        eng.sql("SET ROLE NONE")
        rows = eng.sql(
            "SELECT rk, count(*) AS c FROM sec_t WHERE name = 'TOUCHED' GROUP BY rk"
        ).collect()
        assert [(r.rk, r.c) for r in rows] == [(2, 5)]

    def test_update_on_masked_table_denied(self, eng):
        # Reference parity: "Updating a table with column masks is not
        # supported" — `SET other = masked_col` must not exfiltrate.
        eng.sql("CALL system.add_column_mask('dmlr', 'sec_t', 'name', '''MASKED''')")
        eng.sql("SET ROLE dmlr")
        with pytest.raises(AccessDenied, match="column-masked"):
            eng.sql("UPDATE sec_t SET rk = length(name) WHERE id = 1")
        eng.sql("SET ROLE NONE")
        # unmasked owner session still updates freely
        eng.sql("UPDATE sec_t SET rk = rk WHERE id = 1")

    def test_merge_on_masked_table_denied(self, eng):
        eng.sql("CALL system.add_column_mask('dmlr', 'sec_t', 'name', '''MASKED''')")
        eng.sql("SET ROLE dmlr")
        with pytest.raises(AccessDenied, match="column-masked"):
            eng.sql(
                "MERGE INTO sec_t t USING (SELECT 1 AS id, 9 AS rk, 'x' AS name) s "
                "ON t.id = s.id WHEN MATCHED THEN UPDATE SET rk = s.rk"
            )

    def test_merge_on_filtered_target(self, eng):
        eng.sql("CALL system.add_row_filter('dmlr', 'sec_t', 'rk = 0')")
        eng.sql("SET ROLE dmlr")
        # id=1 has rk=1 (invisible): MERGE must treat it as NOT MATCHED and
        # leave the hidden row untouched; the insert lands alongside it.
        n = eng.sql(
            "MERGE INTO sec_t t USING (SELECT 1 AS id, 0 AS rk, 'NEW' AS name) s "
            "ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET name = s.name "
            "WHEN NOT MATCHED THEN INSERT (id, rk, name) VALUES (s.id, s.rk, s.name)"
        ).collect()[0][0]
        assert n == 1
        eng.sql("SET ROLE NONE")
        rows = eng.sql("SELECT rk, name FROM sec_t WHERE id = 1 ORDER BY rk").collect()
        assert [(r.rk, r.name) for r in rows] == [(0, "NEW"), (1, "NATION_1")]

    def test_delete_where_on_masked_column_sees_masked_values(self, eng):
        eng.sql("CALL system.add_column_mask('dmlr', 'sec_t', 'name', '''MASKED''')")
        eng.sql("SET ROLE dmlr")
        # The role reads name as 'MASKED'; a predicate on the raw value
        # must not match (probing raw data via DELETE would leak it).
        n = eng.sql("DELETE FROM sec_t WHERE name = 'NATION_1'").collect()[0][0]
        assert n == 0
        n = eng.sql("DELETE FROM sec_t WHERE name = 'MASKED' AND id = 1").collect()[0][0]
        assert n == 1

    def test_delete_where_with_qualified_masked_reference(self, eng):
        # Round-5 (ADVICE): a table-qualified reference to a masked column
        # must substitute `sec_t.name` as one unit — not produce the
        # invalid `sec_t.(CASE ...)` — so legal Trino DELETEs keep working.
        eng.sql("CALL system.add_column_mask('dmlr', 'sec_t', 'name', '''MASKED''')")
        eng.sql("SET ROLE dmlr")
        n = eng.sql(
            "DELETE FROM sec_t WHERE sec_t.name = 'NATION_2'"
        ).collect()[0][0]
        assert n == 0  # raw value invisible through the mask
        n = eng.sql(
            "DELETE FROM sec_t WHERE sec_t.name = 'MASKED' AND id = 2"
        ).collect()[0][0]
        assert n == 1

    def test_subquery_alias_cannot_probe_masked_values(self, eng):
        # Round-6 (ADVICE): an alias the predicate binds to the protected
        # table (`FROM sec_t s`) must read the MASKED value — otherwise
        # `WHERE id IN (SELECT s.id FROM sec_t s WHERE s.name = ...)`
        # probes raw data the role cannot SELECT.
        eng.sql("CALL system.add_column_mask('dmlr', 'sec_t', 'name', '''MASKED''')")
        eng.sql("SET ROLE dmlr")
        n = eng.sql(
            "DELETE FROM sec_t WHERE id IN "
            "(SELECT s.id FROM sec_t s WHERE s.name = 'NATION_3')"
        ).collect()[0][0]
        assert n == 0  # raw value invisible through the alias
        n = eng.sql(
            "DELETE FROM sec_t WHERE id IN "
            "(SELECT s.id FROM sec_t s WHERE s.name = 'MASKED' AND s.id = 3)"
        ).collect()[0][0]
        assert n == 1

    def test_unknown_qualifier_over_masked_column_fails_closed(self, eng):
        # A qualifier we cannot prove safe (e.g. a derived-table alias
        # whose SELECT * re-exposes the raw column) must be rejected, not
        # passed through unmasked.
        eng.sql("CALL system.add_column_mask('dmlr', 'sec_t', 'name', '''MASKED''')")
        eng.sql("SET ROLE dmlr")
        with pytest.raises(AccessDenied, match="qualifier"):
            eng.sql(
                "DELETE FROM sec_t WHERE id IN (SELECT z.id FROM "
                "(SELECT * FROM sec_t) z WHERE z.name = 'NATION_3')"
            )

    def test_qualified_and_quoted_target_alias_spellings(self):
        # r7 ADVICE: alias binding must see qualified (`FROM sch.t s`)
        # and quoted (`FROM "t" s`) spellings of the protected table.
        from trino_spark.dialect.access import mask_fragment

        masks = {"secret": "NULL"}
        out = mask_fragment(masks, "k IN (SELECT s.secret FROM sch.t s)", target="t")
        assert "(NULL)" in out and "s.secret" not in out
        out = mask_fragment(masks, 'k IN (SELECT s.secret FROM "t" s)', target="t")
        assert "(NULL)" in out and "s.secret" not in out
        out = mask_fragment(masks, "k IN (SELECT o.secret FROM other o)", target="t")
        assert "o.secret" in out  # different relation: untouched, not denied
        # an alias bound later in a comma-listed FROM
        out = mask_fragment(masks, "k IN (SELECT s.secret FROM other o, t s)", target="t")
        assert "(NULL)" in out and "s.secret" not in out
        out = mask_fragment(masks, "k IN (SELECT o.secret FROM other o, t s)", target="t")
        assert "o.secret" in out
        with pytest.raises(AccessDenied, match="qualifier"):
            mask_fragment(masks, "k IN (SELECT z.secret FROM (SELECT * FROM t) z)", target="t")


class TestTableRefRewriteScope:
    """Round-4 (review finding): the security rewrite must substitute only
    relation positions — columns, aliases, and CTE names sharing a secured
    table's name keep their own bindings."""

    @pytest.fixture()
    def eng(self, engine):
        engine.sql("CREATE ROLE scoped")
        engine.sql("GRANT SELECT ON nation TO ROLE scoped")
        engine.sql("CALL system.add_row_filter('scoped', 'nation', 'n_regionkey = 0')")
        yield engine
        engine.sql("SET ROLE NONE")

    def test_alias_sharing_table_name_not_rewritten(self, eng):
        eng.sql("SET ROLE scoped")
        rows = eng.sql(
            "SELECT n_name AS nation FROM nation ORDER BY nation LIMIT 2"
        ).collect()
        assert len(rows) == 2 and all(r.nation for r in rows)

    def test_cte_sharing_table_name_shadows_secured_table(self, eng):
        eng.sql("SET ROLE scoped")
        # CTE `nation` shadows the real table, exactly as the analyzer
        # scopes names — the filter applies where the real table is read
        # (inside the CTE body), not to the CTE reference.
        row = eng.sql(
            "WITH nation AS (SELECT count(*) AS c FROM nation) SELECT c FROM nation"
        ).collect()[0]
        assert row.c == 5

    def test_column_named_like_table_in_predicate(self, eng):
        eng.sql("SET ROLE scoped")
        rows = eng.sql(
            "SELECT n_name FROM nation WHERE n_name <> 'nation' ORDER BY n_name"
        ).collect()
        assert len(rows) == 5


class TestTimeTravelUnderRole:
    """Round-4 (review finding): FOR VERSION AS OF under an active role —
    a SELECT grant on the base table must satisfy snapshot reads, and row
    filters must follow the table into its snapshots."""

    @pytest.fixture()
    def eng(self, engine):
        engine.sql("DROP TABLE IF EXISTS tt_sec")
        engine.sql("CREATE TABLE tt_sec AS SELECT n_nationkey AS id, n_regionkey AS rk FROM nation")
        engine.sql("INSERT INTO tt_sec SELECT 99, 0")
        engine.sql("CREATE ROLE traveler")
        engine.sql("GRANT SELECT ON tt_sec TO ROLE traveler")
        yield engine
        engine.sql("SET ROLE NONE")
        engine.sql("DROP TABLE IF EXISTS tt_sec")

    def test_grant_on_base_table_covers_snapshots(self, eng):
        eng.sql("SET ROLE traveler")
        assert eng.sql("SELECT count(*) AS c FROM tt_sec").collect()[0].c == 26
        assert (
            eng.sql("SELECT count(*) AS c FROM tt_sec FOR VERSION AS OF 1").collect()[0].c
            == 25
        )

    def test_row_filter_applies_to_snapshots(self, eng):
        eng.sql("CALL system.add_row_filter('traveler', 'tt_sec', 'rk = 0')")
        eng.sql("SET ROLE traveler")
        assert eng.sql("SELECT count(*) AS c FROM tt_sec").collect()[0].c == 6
        assert (
            eng.sql("SELECT count(*) AS c FROM tt_sec FOR VERSION AS OF 1").collect()[0].c
            == 5
        )


class TestDenyAndSessionAuth:
    def test_deny_overrides_grant(self, engine):
        engine.sql("CREATE ROLE denyrole")
        engine.sql("GRANT SELECT ON nation TO ROLE denyrole")
        engine.sql("DENY SELECT ON nation TO ROLE denyrole")
        engine.sql("SET ROLE denyrole")
        with pytest.raises(Exception, match="denied SELECT"):
            engine.sql("SELECT count(*) FROM nation").collect()
        engine.sql("SET ROLE NONE")
        # owner unaffected
        assert engine.sql("SELECT count(*) AS c FROM nation").collect()[0].c == 25

    def test_deny_insert_only(self, engine):
        engine.sql("CREATE ROLE denyw")
        engine.sql("GRANT ALL PRIVILEGES ON dt_deny TO ROLE denyw")
        engine.sql("DROP TABLE IF EXISTS dt_deny")
        engine.sql("CREATE TABLE dt_deny AS SELECT n_nationkey AS k FROM nation")
        engine.sql("DENY INSERT ON dt_deny TO ROLE denyw")
        engine.sql("SET ROLE denyw")
        assert engine.sql("SELECT count(*) AS c FROM dt_deny").collect()[0].c == 25
        with pytest.raises(Exception, match="denied INSERT"):
            engine.sql("INSERT INTO dt_deny SELECT k + 100 FROM dt_deny")
        engine.sql("SET ROLE NONE")
        engine.sql("DROP TABLE dt_deny")

    def test_session_authorization_and_current_user(self, engine):
        assert engine.sql("SELECT CURRENT_USER AS u").collect()[0].u == "trino"
        engine.sql("SET SESSION AUTHORIZATION alice")
        assert engine.sql("SELECT CURRENT_USER AS u").collect()[0].u == "alice"
        engine.sql("RESET SESSION AUTHORIZATION")
        assert engine.sql("SELECT CURRENT_USER AS u").collect()[0].u == "trino"

    def test_session_authorization_denied_under_restricted_role(self, engine):
        # Round-5 (ADVICE): impersonation requires a privilege in the
        # reference (SetSessionAuthorizationTask.checkCanSetUser) — a
        # restricted role must not sidestep CURRENT_USER-based row
        # filters/masks by switching identity.
        engine.sql("CREATE ROLE imp_probe")
        engine.sql("SET ROLE imp_probe")
        try:
            with pytest.raises(AccessDenied, match="SESSION AUTHORIZATION"):
                engine.sql("SET SESSION AUTHORIZATION mallory")
            assert engine.sql("SELECT CURRENT_USER AS u").collect()[0].u == "trino"
        finally:
            engine.sql("SET ROLE NONE")
            engine.sql("DROP ROLE imp_probe")

    def test_current_user_in_literal_untouched(self, engine):
        out = engine.sql("SELECT 'CURRENT_USER' AS s").collect()
        assert out[0].s == "CURRENT_USER"

    def test_show_stats_for_query(self, engine):
        rows = engine.sql(
            "SHOW STATS FOR (SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 0)"
        ).collect()
        summary = [r for r in rows if r.column_name is None][0]
        assert summary.row_count == 5

    def test_grant_on_table_covers_branch_reads(self, engine):
        import os

        tbl = f"brsec_{os.getpid()}"
        engine.sql(f"DROP TABLE IF EXISTS {tbl}")
        engine.sql(f"CREATE TABLE {tbl} AS SELECT n_nationkey AS k FROM nation")
        engine.sql(f"CREATE BRANCH b IN TABLE {tbl}")
        engine.sql("CREATE ROLE brreader")
        engine.sql(f"GRANT SELECT ON {tbl} TO ROLE brreader")
        engine.sql("SET ROLE brreader")
        assert engine.sql(f"SELECT count(*) AS c FROM {tbl}@b").collect()[0].c == 25
        engine.sql("SET ROLE NONE")
        engine.sql(f"DROP BRANCH b IN TABLE {tbl}")
        engine.sql(f"DROP TABLE {tbl}")


class TestRoleHierarchy:
    """Round-6: role-to-role grants (docs sql/grant-roles.md /
    revoke-roles.md / show-role-grants.md; GrantRolesTask) with
    transitive privilege inheritance and inherited DENY."""

    @pytest.fixture()
    def eng(self, engine):
        engine.sql("DROP TABLE IF EXISTS rh_t")
        engine.sql("CREATE TABLE rh_t AS SELECT n_nationkey AS k FROM nation")
        for r in ("rh_reader", "rh_analyst", "rh_lead"):
            engine.sql(f"CREATE ROLE {r}")
        engine.sql("GRANT SELECT ON rh_t TO ROLE rh_reader")
        yield engine
        engine.sql("SET ROLE NONE")
        for r in ("rh_lead", "rh_analyst", "rh_reader"):
            engine.sql(f"DROP ROLE {r}")
        engine.sql("DROP TABLE IF EXISTS rh_t")

    def test_transitive_inheritance(self, eng):
        eng.sql("GRANT rh_reader TO ROLE rh_analyst")
        eng.sql("GRANT rh_analyst TO ROLE rh_lead")
        eng.sql("SET ROLE rh_analyst")
        assert eng.sql("SELECT count(*) AS c FROM rh_t").collect()[0].c == 25
        eng.sql("SET ROLE rh_lead")  # two levels deep
        assert eng.sql("SELECT count(*) AS c FROM rh_t").collect()[0].c == 25
        cur = {r.role for r in eng.sql("SHOW CURRENT ROLES").collect()}
        assert cur == {"rh_lead", "rh_analyst", "rh_reader"}
        eng.sql("SET ROLE NONE")
        eng.sql("REVOKE rh_reader FROM ROLE rh_analyst")
        eng.sql("SET ROLE rh_lead")
        with pytest.raises(AccessDenied):
            eng.sql("SELECT count(*) FROM rh_t").collect()

    def test_show_role_grants_non_recursive(self, eng):
        eng.sql("GRANT rh_reader TO ROLE rh_analyst")
        eng.sql("GRANT rh_analyst TO ROLE rh_lead")
        eng.sql("SET ROLE rh_lead")
        rows = {r.role for r in eng.sql("SHOW ROLE GRANTS").collect()}
        assert rows == {"rh_analyst"}  # non-recursive per the docs

    def test_circular_grant_rejected(self, eng):
        eng.sql("GRANT rh_reader TO ROLE rh_analyst")
        with pytest.raises(Exception, match="circular"):
            eng.sql("GRANT rh_analyst TO ROLE rh_reader")

    def test_inherited_deny_wins(self, eng):
        eng.sql("GRANT rh_reader TO ROLE rh_analyst")
        eng.sql("DENY SELECT ON rh_t TO rh_reader")
        eng.sql("SET ROLE rh_analyst")
        with pytest.raises(AccessDenied, match="denied"):
            eng.sql("SELECT count(*) FROM rh_t").collect()


class TestDerivedNames:
    """A branch, a version or a metadata table of t is checked and secured
    as t: relation resolution records the table each derived name reads."""

    @pytest.fixture()
    def eng(self, engine):
        import os

        tbl = f"drv_{os.getpid()}"
        engine.sql(f"DROP TABLE IF EXISTS {tbl}")
        engine.sql(f"CREATE TABLE {tbl} AS SELECT n_nationkey AS k FROM nation")
        engine.sql(f"CREATE BRANCH dev IN TABLE {tbl}")
        engine.sql("CREATE ROLE drv_reader")
        engine.sql("CREATE ROLE drv_none")
        engine.sql(f"GRANT SELECT ON {tbl} TO ROLE drv_reader")
        yield engine, tbl
        engine.sql("SET ROLE NONE")
        engine.sql(f"DROP TABLE {tbl}")

    def test_row_filter_applies_to_a_branch(self, eng):
        engine, tbl = eng
        engine.sql(f"CALL system.add_row_filter('drv_reader', '{tbl}', 'k = 0')")
        engine.sql("SET ROLE drv_reader")
        assert engine.sql(f"SELECT count(*) AS c FROM {tbl}@dev").collect()[0].c == 1

    def test_row_filter_applies_to_a_branch_write(self, eng):
        # rows of the branch the role cannot see are untouchable, as on t
        engine, tbl = eng
        engine.sql(f"GRANT DELETE ON {tbl} TO ROLE drv_reader")
        engine.sql(f"CALL system.add_row_filter('drv_reader', '{tbl}', 'k = 0')")
        engine.sql("SET ROLE drv_reader")
        engine.sql(f"DELETE FROM {tbl}@dev")
        engine.sql("SET ROLE NONE")
        assert engine.sql(f"SELECT count(*) AS c FROM {tbl}@dev").collect()[0].c == 24

    def test_grant_on_table_covers_its_metadata_tables(self, eng):
        engine, tbl = eng
        engine.sql("SET ROLE drv_reader")
        assert engine.sql(f'SELECT count(*) AS c FROM "{tbl}$files"').collect()[0].c >= 1

    @pytest.mark.parametrize("ref", ['"{t}$files"', "{t}@dev", "{t} FOR VERSION AS OF 1"])
    def test_denial_names_the_table(self, eng, ref):
        engine, tbl = eng
        engine.sql("SET ROLE drv_none")
        with pytest.raises(AccessDenied, match=rf"lacks SELECT on {tbl}$"):
            engine.sql(f"SELECT count(*) FROM {ref.format(t=tbl)}")


class TestSessionNiladics:
    """CURRENT_USER, version(), current_schema and current_groups() are
    values of the session, read from the statement's words: a quoted
    identifier or a comment that spells one keeps its text."""

    def test_quoted_identifiers_keep_their_names(self, engine):
        df = engine.sql('SELECT 1 AS "current_user", 2 AS "version()"')
        assert df.columns == ["current_user", "version()"]

    def test_values_follow_the_session(self, engine):
        from trino_spark import __version__

        engine.sql("USE other")
        row = engine.sql(
            "SELECT current_user AS u, VERSION ( ) AS v, current_schema AS s,"
            " current_groups() AS g -- current_user"
        ).collect()[0]
        assert (row.u, row.v, row.s, row.g) == ("trino", __version__, "other", [])
