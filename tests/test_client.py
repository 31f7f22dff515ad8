"""DBAPI client + CLI tests against a live TrinoHttpServer
(client/trino-client StatementClientV1 + client/trino-cli Console parity)."""

import datetime
import decimal
import io

import pytest

from trino_spark import cli
from trino_spark import client as dbapi
from trino_spark.dialect.engine import TrinoEngine
from trino_spark.server import PAGE_ROWS, TrinoHttpServer


@pytest.fixture(scope="module")
def server(spark, sf_dir):
    eng = TrinoEngine(spark, sf_dir)
    srv = TrinoHttpServer(eng).start()
    yield srv
    srv.stop()


@pytest.fixture(scope="module")
def conn(server):
    with dbapi.connect(server.url()) as c:
        yield c


def test_module_globals():
    assert dbapi.apilevel == "2.0"
    assert dbapi.paramstyle == "qmark"
    assert issubclass(dbapi.DatabaseError, dbapi.Error)


def test_cursor_roundtrip(conn):
    cur = conn.execute("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")
    assert [d[0] for d in cur.description] == ["r_regionkey", "r_name"]
    assert cur.description[1][1] == "varchar"
    rows = cur.fetchall()
    assert len(rows) == 5 and rows[0][0] == 0
    assert cur.rowcount == 5


def test_fetch_granularities(conn):
    cur = conn.execute("SELECT n_nationkey FROM nation ORDER BY n_nationkey")
    assert cur.fetchone() == [0]
    assert [r[0] for r in cur.fetchmany(3)] == [1, 2, 3]
    rest = cur.fetchall()
    assert rest[0][0] == 4 and len(rest) == 21


def test_iteration_and_lazy_paging(conn):
    n = PAGE_ROWS + 13
    cur = conn.execute(f"SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT {n}")
    keys = [r[0] for r in cur]
    assert len(keys) == n and keys == sorted(keys)


def test_qmark_params(conn):
    cur = conn.execute(
        "SELECT n_name FROM nation WHERE n_nationkey = ? AND n_name <> ? ORDER BY n_name",
        [3, "it''s"],
    )
    rows = cur.fetchall()
    assert len(rows) == 1


def test_param_escaping_types():
    assert dbapi._escape_param(None) == "NULL"
    assert dbapi._escape_param(True) == "TRUE"
    assert dbapi._escape_param("o'brien") == "'o''brien'"
    assert dbapi._escape_param(datetime.date(2024, 1, 2)) == "DATE '2024-01-02'"
    assert dbapi._escape_param(b"\x01\xff") == "X'01ff'"
    assert dbapi._escape_param([1, 2]) == "ARRAY[1, 2]"
    assert dbapi._escape_param(decimal.Decimal("1.50")) == "DECIMAL '1.50'"


def test_bind_skips_literals_and_comments():
    sql = "SELECT '?' , x -- ? in comment\n FROM t WHERE y = ?"
    bound = dbapi._bind(sql, [7])
    assert bound.endswith("y = 7") and "'?'" in bound and "-- ? in comment" in bound
    with pytest.raises(dbapi.ProgrammingError):
        dbapi._bind("SELECT ?", [])
    with pytest.raises(dbapi.ProgrammingError):
        dbapi._bind("SELECT 1", [1])


def test_typed_materialization(conn):
    cur = conn.execute(
        "SELECT o_orderdate, CAST(o_orderdate AS TIMESTAMP) AS ts FROM orders LIMIT 1"
    )
    row = cur.fetchone()
    assert isinstance(row[0], datetime.date)
    assert isinstance(row[1], datetime.datetime)


def test_error_raises_database_error(conn):
    with pytest.raises(dbapi.DatabaseError):
        conn.execute("SELECT * FROM no_such_table_abc")


def test_cancel_midstream(conn):
    cur = conn.execute(f"SELECT o_orderkey FROM orders LIMIT {PAGE_ROWS + 500}")
    assert cur.fetchone() is not None
    cur.cancel()
    # buffered page drains; the server-side remainder is discarded
    assert len(cur.fetchmany(PAGE_ROWS * 2)) <= PAGE_ROWS


def test_spooled_connection_matches_inline(server, conn):
    inline = conn.execute("SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey").fetchall()
    with dbapi.connect(server.url(), spooled=True, encoding="json+zlib") as sc:
        spooled = sc.execute(
            "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey"
        ).fetchall()
    assert inline == spooled


def test_closed_cursor_rejects(conn):
    cur = conn.cursor()
    cur.close()
    with pytest.raises(dbapi.InterfaceError):
        cur.execute("SELECT 1")


# ---------------------------------------------------------------- CLI


def test_cli_split_statements():
    stmts, rest = cli.split_statements("SELECT 1; SELECT ';'; SELECT -- ;\n 2; SELECT 3")
    assert stmts == ["SELECT 1", "SELECT ';'", "SELECT -- ;\n 2"]
    assert rest.strip() == "SELECT 3"


def test_cli_aligned_render():
    out = io.StringIO()
    cli.render("ALIGNED", ["k", "name"], [[1, "aa"], [22, "b"]], out)
    text = out.getvalue()
    lines = text.splitlines()
    assert "k" in lines[0] and "name" in lines[0]
    assert set(lines[1]) <= {"-", "+"}
    assert "(2 rows)" in text
    # numeric column right-aligned: '22' flush right under width-2 column
    assert lines[3].startswith(" 22 |")


def test_cli_execute_against_server(server):
    out = io.StringIO()
    rc = cli.main(
        ["--server", server.url(), "-e",
         "SELECT count(*) AS n FROM region; SELECT 1 AS one", "--output-format", "CSV_HEADER"],
        stdout=out,
    )
    assert rc == 0
    assert "n\r\n5" in out.getvalue().replace("\n\n", "\n") or "n\r\n5" in out.getvalue()
    assert "one" in out.getvalue()


def test_cli_repl_reads_stdin(server):
    out = io.StringIO()
    stdin = io.StringIO("SELECT r_name FROM region WHERE r_regionkey = 0;\nquit\n")
    rc = cli.main(["--server", server.url()], stdin=stdin, stdout=out)
    assert rc == 0 and "AFRICA" in out.getvalue()


def test_cli_error_exit_code(server):
    out = io.StringIO()
    rc = cli.main(["--server", server.url(), "-e", "SELECT * FROM missing_tbl"], stdout=out)
    assert rc == 1 and "Query failed" in out.getvalue()


# ------------------------------------------------- session-property headers


def test_session_header_applies_per_request(server):
    with dbapi.connect(server.url(),
                       session_properties={"query_max_run_time": "1h"}) as c:
        rows = dict(c.execute("SHOW SESSION").fetchall())
        assert rows.get("query_max_run_time") == "1h"
    # without the header the property is gone (restored after the request)
    with dbapi.connect(server.url()) as c2:
        rows = dict(c2.execute("SHOW SESSION").fetchall())
        assert "query_max_run_time" not in rows


# a statement's spellings: BI tools prepend a comment to each
_SPELLINGS = (str, "/* c */ {}".format, "-- c\n{}".format, str.lower)


def test_set_session_response_header_updates_client(server):
    for spell in _SPELLINGS:
        with dbapi.connect(server.url()) as c:
            c.execute(spell("SET SESSION join_distribution_type = 'BROADCAST'")).fetchall()
            want = "broadcast" if spell is str.lower else "BROADCAST"
            assert c.session_properties.get("join_distribution_type") == want
            # the carried property now reaches later statements
            rows = dict(c.execute("SHOW SESSION").fetchall())
            assert rows.get("join_distribution_type") == want
            c.execute(spell("RESET SESSION join_distribution_type")).fetchall()
            assert "join_distribution_type" not in c.session_properties
        assert "join_distribution_type" not in server.engine.session_properties


# ----------------------------------------------------- event listener SPI


class _Recorder:
    def __init__(self):
        self.created = []
        self.completed = []

    def query_created(self, ev):
        self.created.append(ev)

    def query_completed(self, ev):
        self.completed.append(ev)


def test_event_listener_lifecycle(server):
    eng = server.engine
    rec = _Recorder()
    eng.add_event_listener(rec)
    try:
        eng.sql("SELECT 1 AS one").collect()
        assert rec.created and rec.completed
        ev = rec.completed[-1]
        assert ev["state"] == "FINISHED" and ev["error"] is None
        assert ev["query_id"] == rec.created[-1]["query_id"]
        assert ev["wall_ms"] >= 0
        with pytest.raises(Exception):
            eng.sql("SELECT * FROM nope_nope")
        assert rec.completed[-1]["state"] == "FAILED"
        assert rec.completed[-1]["error"]
    finally:
        eng.remove_event_listener(rec)


def test_event_listener_isolated_and_callable_form(server):
    eng = server.engine
    seen = []

    def fn(kind, ev):
        seen.append(kind)

    class Bomb:
        def query_created(self, ev):
            raise RuntimeError("boom")

    bomb = Bomb()
    eng.add_event_listener(bomb)
    eng.add_event_listener(fn)
    try:
        eng.sql("SELECT 2").collect()  # bomb must not break the query
        assert "query_created" in seen and "query_completed" in seen
    finally:
        eng.remove_event_listener(bomb)
        eng.remove_event_listener(fn)


def test_http_statements_emit_events(server, conn):
    rec = _Recorder()
    server.engine.add_event_listener(rec)
    try:
        conn.execute("SELECT count(*) AS n FROM region").fetchall()
        assert any("region" in e["query"] for e in rec.completed)
    finally:
        server.engine.remove_event_listener(rec)


def test_client_user_reaches_runtime_queries_and_events(server):
    """X-Trino-User names the query's user everywhere, not only its
    resource group."""
    rec = _Recorder()
    server.engine.add_event_listener(rec)
    try:
        with dbapi.connect(server.url(), user="alice") as c:
            c.execute("SELECT 1 AS alice_probe").fetchall()
            rows = c.execute(
                "SELECT user FROM system.runtime.queries"
                " WHERE query = 'SELECT 1 AS alice_probe'"
            ).fetchall()
    finally:
        server.engine.remove_event_listener(rec)
    assert rows == [["alice"]]
    for events in (rec.created, rec.completed):
        assert {e["user"] for e in events if "alice_probe" in e["query"]} == {"alice"}


def test_use_statement_updates_client_catalog_schema(server):
    for spell in _SPELLINGS:
        with dbapi.connect(server.url()) as c:
            c.execute(spell("USE default")).fetchall()
            assert c.schema == "default" and c.catalog is None
            c.execute(spell("USE tpch.s1")).fetchall()
            assert (c.catalog, c.schema) == ("tpch", "s1")
            c.execute("USE default").fetchall()


def test_prepared_statement_header_flow(server):
    """PREPARE flows to the client via X-Trino-Added-Prepare; the client
    re-sends it so EXECUTE works on the stateless server; DEALLOCATE
    clears it (reference protocol prepared-statement flow)."""
    with dbapi.connect(server.url()) as c:
        c.execute("PREPARE q_client FROM SELECT n_name FROM nation WHERE n_nationkey = ?").fetchall()
        assert "q_client" in c.prepared_statements
        rows = c.execute("EXECUTE q_client USING 3").fetchall()
        assert len(rows) == 1
        c.execute("DEALLOCATE PREPARE q_client").fetchall()
        assert "q_client" not in c.prepared_statements
    # the header path alone suffices: a FRESH connection whose client-held
    # map is seeded with a definition the server never saw can EXECUTE it
    with dbapi.connect(server.url()) as fresh:
        fresh.prepared_statements["q_headeronly"] = (
            "SELECT r_name FROM region WHERE r_regionkey = ?"
        )
        rows = fresh.execute("EXECUTE q_headeronly USING 1").fetchall()
        assert rows == [["AMERICA"]]
        # and it was per-request only: engine-side state was restored
        assert "Q_HEADERONLY" not in server.engine.prepared


def test_cli_session_and_user_flags(server):
    out = io.StringIO()
    rc = cli.main(
        ["--server", server.url(), "--user", "alice",
         "--session", "query_priority=5",
         "-e", "SHOW SESSION", "--output-format", "TSV"],
        stdout=out,
    )
    assert rc == 0 and "query_priority\t5" in out.getvalue()


def test_pandas_read_sql_over_dbapi(server):
    """pandas consumes the DBAPI connection directly — the practical
    payoff of PEP 249 compliance."""
    import warnings

    import pandas as pd

    with dbapi.connect(server.url()) as c:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")  # pandas warns on non-SQLAlchemy DBAPI
            df = pd.read_sql("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey", c)
    assert list(df.columns) == ["r_regionkey", "r_name"]
    assert len(df) == 5 and df.r_regionkey.tolist() == [0, 1, 2, 3, 4]


# --------------------------------------------- review-fix regression tests


def test_fetchmany_zero_returns_empty(conn):
    cur = conn.execute("SELECT n_nationkey FROM nation")
    assert cur.fetchmany(0) == []
    assert len(cur.fetchall()) == 25


def test_bind_skips_quoted_idents_and_block_comments():
    bound = dbapi._bind('SELECT c AS "total?" /* was ? */ FROM t WHERE a = ?', [7])
    assert '"total?"' in bound and "/* was ? */" in bound and bound.endswith("a = 7")
    with pytest.raises(dbapi.ProgrammingError):
        dbapi._bind("SELECT ? /* ? */", [1, 2])
    with pytest.raises(dbapi.ProgrammingError):
        dbapi._bind("SELECT ?", [float("nan")])


def test_session_value_with_comma_roundtrips(server):
    with dbapi.connect(server.url(),
                       session_properties={"path_list": "a,b=c"}) as c:
        rows = dict(c.execute("SHOW SESSION").fetchall())
        assert rows.get("path_list") == "a,b=c"


def test_set_session_does_not_leak_across_connections(server):
    for spell in _SPELLINGS:
        with dbapi.connect(server.url()) as a:
            a.execute(spell("SET SESSION leaky_prop = 'zzz'")).fetchall()
            # A's next request still sees it (carried by A's header)
            assert dict(a.execute("SHOW SESSION").fetchall()).get("leaky_prop") == "zzz"
        with dbapi.connect(server.url()) as b:  # stateless server: B must not
            assert "leaky_prop" not in dict(b.execute("SHOW SESSION").fetchall())
        assert "leaky_prop" not in server.engine.session_properties


def test_failed_session_overlay_releases_admission_slot(server):
    # a Spark-static conf cannot be set at runtime: the overlay apply fails
    with dbapi.connect(server.url(),
                       session_properties={"spark.executor.cores": "4"}) as c:
        with pytest.raises(dbapi.DatabaseError):
            c.execute("SELECT 1").fetchall()
    g = server.resource_groups["global"]
    assert g.running == 0 and g.queued == 0  # slot released despite failure
    # and the server still serves plain requests
    with dbapi.connect(server.url()) as c2:
        assert c2.execute("SELECT 2 AS x").fetchall() == [[2]]


def test_unmatched_resource_group_rejects(spark, sf_dir):
    from trino_spark.server import ResourceGroup, TrinoHttpServer

    eng = TrinoEngine(spark, sf_dir)
    srv = TrinoHttpServer(
        eng,
        resource_groups={"adhoc": ResourceGroup("adhoc", 2, 4)},
        group_selector=lambda user: "etl",
    ).start()
    try:
        resp = srv._submit("SELECT 1", user="bob")
        assert resp["error"]["errorName"] == "QUERY_REJECTED"
    finally:
        srv.stop()


def test_cli_eof_runs_trailing_statement(server):
    out = io.StringIO()
    stdin = io.StringIO("SELECT r_name FROM region WHERE r_regionkey = 1\n")  # no ';'
    rc = cli.main(["--server", server.url()], stdin=stdin, stdout=out)
    assert rc == 0 and "AMERICA" in out.getvalue()


def test_cli_inprocess_mode(spark, sf_dir):
    """No --server: the CLI spins an in-process engine over --sf-dir."""
    out = io.StringIO()
    rc = cli.main(
        ["--sf-dir", sf_dir, "-e", "SELECT count(*) AS n FROM region",
         "--output-format", "CSV_HEADER"],
        stdout=out,
    )
    assert rc == 0 and "5" in out.getvalue()
