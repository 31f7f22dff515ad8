"""HTTP /v1/statement protocol tests (QueuedStatementResource /
ExecutingStatementResource shape: submit -> follow nextUri -> pages)."""

import pytest

from trino_spark.dialect.engine import TrinoEngine
from trino_spark.server import PAGE_ROWS, TrinoHttpServer, fetch_all


@pytest.fixture(scope="module")
def server(spark, sf_dir):
    eng = TrinoEngine(spark, sf_dir)
    srv = TrinoHttpServer(eng).start()
    yield srv
    srv.stop()


def test_submit_and_fetch(server):
    cols, rows = fetch_all(server.url(), "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")
    assert [c["name"] for c in cols] == ["r_regionkey", "r_name"]
    assert cols[0]["type"] in ("bigint", "integer") and cols[1]["type"] == "varchar"
    assert len(rows) == 5 and rows[0][0] == 0


def test_column_types_in_trino_spelling(server):
    cols, _rows = fetch_all(
        server.url(),
        "SELECT ARRAY['a'] AS a, CAST(ROW(1, 'a') AS row(x integer, y varchar)) AS r",
    )
    assert [c["type"] for c in cols] == ["array(varchar)", "row(x integer, y varchar)"]


def test_trino_dialect_through_http(server):
    cols, rows = fetch_all(
        server.url(),
        "SELECT strpos(n_name, '_') AS p FROM nation ORDER BY n_nationkey FETCH FIRST 3 ROWS ONLY",
    )
    assert [c["name"] for c in cols] == ["p"]
    assert len(rows) == 3


def test_pagination(server):
    cols, rows = fetch_all(
        server.url(), f"SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT {PAGE_ROWS + 7}"
    )
    assert len(rows) == PAGE_ROWS + 7
    # ordered across the page boundary
    keys = [r[0] for r in rows]
    assert keys == sorted(keys)


def test_error_payload(server):
    with pytest.raises(RuntimeError):
        fetch_all(server.url(), "SELECT * FROM does_not_exist_xyz")


def test_cancel_discards_pages(server):
    import json
    import urllib.request

    req = urllib.request.Request(
        f"{server.url()}/v1/statement",
        data=b"SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 1500",
        method="POST",
    )
    resp = json.loads(urllib.request.urlopen(req).read())
    nxt = resp["nextUri"]
    # first page consumes some rows; DELETE abandons the rest
    first = json.loads(urllib.request.urlopen(nxt).read())
    assert first.get("nextUri")
    cancel = urllib.request.Request(first["nextUri"], method="DELETE")
    assert urllib.request.urlopen(cancel).status == 204
    with pytest.raises(urllib.error.HTTPError) as exc:
        urllib.request.urlopen(first["nextUri"])
    assert exc.value.code == 404


def test_dml_lifecycle_through_http(server):
    """The write path works over the wire: CTAS -> INSERT -> SELECT ->
    DROP, all as /v1/statement requests (entry point C over entry point A)."""
    fetch_all(server.url(), "DROP TABLE IF EXISTS http_t")
    cols, rows = fetch_all(server.url(), "CREATE TABLE http_t AS SELECT 1 AS x")
    assert [c["name"] for c in cols] == ["rows"] and rows[0][0] == 1
    _, ins = fetch_all(server.url(), "INSERT INTO http_t SELECT 2")
    assert ins[0][0] == 1
    _, out = fetch_all(server.url(), "SELECT sum(x) AS s FROM http_t")
    assert out[0][0] == 3
    fetch_all(server.url(), "DROP TABLE http_t")


def test_call_and_roles_through_http(server):
    fetch_all(server.url(), "CALL system.register_faker('http_fk', 'id bigint', 5)")
    _, rows = fetch_all(server.url(), "SELECT count(*) AS c FROM http_fk")
    assert rows[0][0] == 5
    fetch_all(server.url(), "CREATE ROLE http_r")
    _, roles = fetch_all(server.url(), "SHOW ROLES")
    assert ["http_r"] in roles or any("http_r" in r for r in roles)


def test_row_filter_through_http(server):
    """Row filters / column masks apply to HTTP reads too — the server
    dispatches through the same engine (ConnectorAccessControl
    getRowFilters over the wire)."""
    fetch_all(server.url(), "CREATE ROLE http_sec")
    fetch_all(server.url(), "GRANT SELECT ON region TO ROLE http_sec")
    fetch_all(server.url(), "CALL system.add_row_filter('http_sec', 'region', 'r_regionkey < 2')")
    fetch_all(server.url(), "SET ROLE http_sec")
    try:
        _, rows = fetch_all(server.url(), "SELECT count(*) AS c FROM region")
        assert rows == [[2]]
    finally:
        fetch_all(server.url(), "SET ROLE NONE")
    _, rows = fetch_all(server.url(), "SELECT count(*) AS c FROM region")
    assert rows == [[5]]


def test_kill_query_cancels_running_statement(server):
    """system.runtime.kill_query (KillQueryProcedure.java:62): a second
    session finds the first's running statement in system.runtime.queries
    and cancels it by that query id, which is also the id of the victim's
    HTTP response and its Spark job group."""
    import json
    import threading
    import time
    import urllib.request

    victim_sql = (
        "SELECT count(*) AS c FROM lineitem a, lineitem b, lineitem c "
        "WHERE a.l_orderkey + b.l_orderkey + c.l_orderkey < 0"
    )
    result = {}

    def victim():
        req = urllib.request.Request(
            f"{server.url()}/v1/statement", data=victim_sql.encode(), method="POST"
        )
        resp = json.loads(urllib.request.urlopen(req).read())
        result["id"] = resp["id"]
        if "error" in resp:
            result["state"] = f"failed: {resp['error']['message']}"
        else:
            result["state"] = "finished"

    th = threading.Thread(target=victim, daemon=True)
    th.start()
    sc = server.engine.spark.sparkContext
    try:
        # The probe's own text does not start with the victim's, and a
        # reading statement never lists itself, so only the victim
        # matches. Allow a generous window: a full-suite JVM under load
        # can take >20 s to dispatch the POST.
        probe = (
            "SELECT query_id FROM system.runtime.queries WHERE state = 'RUNNING'"
            " AND query LIKE 'SELECT count(*) AS c FROM lineitem a,%'"
        )
        qid = None
        for _ in range(600):
            _, rows = fetch_all(server.url(), probe)
            qid = rows[0][0] if rows else None
            if qid or result.get("state"):
                break
            time.sleep(0.1)
        assert qid, f"victim query never started running (victim state: {result})"
        # the query id is the victim's Spark job group
        for _ in range(600):
            if sc.statusTracker().getJobIdsForGroup(qid) or result.get("state"):
                break
            time.sleep(0.1)
        assert sc.statusTracker().getJobIdsForGroup(qid), result
        _, rows = fetch_all(
            server.url(), f"CALL system.runtime.kill_query('{qid}', 'test kill')"
        )
        assert rows[0][0] == qid
        th.join(timeout=120)
        assert not th.is_alive()
        assert result["state"].startswith("failed"), result
        assert result["id"] == qid
    finally:
        sc.cancelAllJobs()  # never leave the cartesian burning the session


def test_kill_query_reaches_a_shuffle_stage_submitted_after_the_kill(server):
    """Adaptive execution submits a shuffle stage as a map-stage job, which
    a future-jobs cancel does not check. A kill that lands before that
    submission must still cancel the stage, not let it run to completion."""
    import time

    from pyspark.sql import functions as F

    eng = server.engine
    sc = eng.spark.sparkContext
    slow = F.udf(lambda x: time.sleep(10) or x, "long")
    df = eng.spark.range(0, 4, 1, 2).select(slow("id").alias("k")).groupBy("k").count()
    rec = eng.queries.open("killed before its shuffle stage is submitted", "trino")
    eng.queries.start(rec)
    qid = rec.query_id
    try:
        eng.sql(f"CALL system.runtime.kill_query('{qid}', 'test kill')").collect()
        sc.setJobGroup(qid, "killed before its shuffle stage", interruptOnCancel=True)
        with pytest.raises(Exception, match="cancel"):
            df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        eng.queries.close(rec, "killed")
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    statuses = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobGroup().isDefined() and job.jobGroup().get() == qid:
            statuses.append(str(job.status()))
    assert statuses and "SUCCEEDED" not in statuses, statuses


def test_kill_query_unknown_id_errors(server):
    with pytest.raises(RuntimeError, match="not found or not running"):
        fetch_all(server.url(), "CALL system.runtime.kill_query('nope123')")


def test_spooled_protocol_roundtrip(server):
    """Protocol v1 spooled segments (client/trino-client/.../spooling/):
    results arrive as segment descriptors, bodies fetched separately and
    deleted once fully drained."""
    import os

    cols, rows = fetch_all(
        server.url(),
        f"SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT {PAGE_ROWS + 7}",
        spooled=True,
    )
    assert [c["name"] for c in cols] == ["o_orderkey"]
    assert len(rows) == PAGE_ROWS + 7
    assert rows == sorted(rows)
    # fully drained -> spool dir removed
    spool_root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "spark-warehouse", "spool")
    assert not os.path.isdir(spool_root) or os.listdir(spool_root) == []


def test_spooled_matches_inline(server):
    q = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
    _, inline_rows = fetch_all(server.url(), q)
    _, spooled_rows = fetch_all(server.url(), q, spooled=True)
    assert spooled_rows == inline_rows


def test_spool_path_traversal_rejected(server):
    """'..' as a query id must never reach rmtree/open (review finding:
    DELETE /v1/statement/executing/.. would have deleted spark-warehouse)."""
    import os
    import urllib.error
    import urllib.request

    warehouse = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "spark-warehouse"
    )
    before = os.path.isdir(warehouse)
    req = urllib.request.Request(
        f"{server.url()}/v1/statement/executing/../x/0", method="DELETE"
    )
    try:
        urllib.request.urlopen(req)
    except urllib.error.HTTPError:
        pass
    assert os.path.isdir(warehouse) == before
    for bad in ("/v1/spooled/..", "/v1/spooled/../0", "/v1/spooled/abc/xyz"):
        try:
            urllib.request.urlopen(f"{server.url()}{bad}")
            raise AssertionError(f"{bad} should not succeed")
        except urllib.error.HTTPError as e:
            assert e.code == 404


def test_spooled_compressed_roundtrip(server):
    """Round-4: spooled segment encoding negotiation + compressed bodies.
    The reference negotiates json / json+zstd the same way; json+zlib is
    the engine's stdlib-only extension so the compressed path is testable
    in containers without the zstandard module."""
    q = f"SELECT o_orderkey, o_orderpriority FROM orders ORDER BY o_orderkey LIMIT {PAGE_ROWS + 5}"
    _, inline_rows = fetch_all(server.url(), q)
    cols, rows = fetch_all(server.url(), q, spooled=True, encoding="json+zlib")
    assert rows == inline_rows and len(rows) == PAGE_ROWS + 5


def test_spooled_segment_size_metadata(server):
    """Segment descriptors carry segmentSize/uncompressedSize (the spooled
    DataAttributes the client sizes its decode buffer from); a compressed
    text-bearing segment is genuinely smaller than its JSON."""
    import json as _json
    import urllib.request
    import zlib

    req = urllib.request.Request(
        f"{server.url()}/v1/statement",
        data=b"SELECT o_orderpriority FROM orders LIMIT 500",
        method="POST",
        headers={"X-Trino-Query-Data-Encoding": "json+zlib,json+spooled"},
    )
    resp = _json.loads(urllib.request.urlopen(req).read())
    while "nextUri" in resp:
        resp = _json.loads(urllib.request.urlopen(resp["nextUri"]).read())
    data = resp["data"]
    assert data["encoding"] == "json+zlib"
    seg = data["segments"][0]
    assert seg["segmentSize"] < seg["uncompressedSize"]
    body = urllib.request.urlopen(seg["uri"]).read()
    assert len(body) == seg["segmentSize"]
    decoded = _json.loads(zlib.decompress(body))
    assert len(decoded) == seg["rowCount"] == 500


def test_encoding_negotiation_falls_back_to_json(server):
    """An unsupported preferred encoding (json+zstd without the zstandard
    module, or garbage) falls back to plain json; data is unaffected."""
    q = "SELECT r_regionkey FROM region ORDER BY r_regionkey"
    _, rows = fetch_all(server.url(), q, spooled=True, encoding="json+zstd")
    assert [r[0] for r in rows] == [0, 1, 2, 3, 4]
    srv_codecs = server.segment_codecs()
    assert server._negotiate_encoding("json+unknown,json+spooled") == "json"
    if "json+zstd" not in srv_codecs:
        assert server._negotiate_encoding("json+zstd,json") == "json"


# --------------------------------------------------- resource groups


def test_resource_group_queue_and_reject(spark, sf_dir):
    """hardConcurrencyLimit blocks, maxQueued rejects (QUERY_QUEUE_FULL)."""
    import threading
    import time

    from trino_spark.dialect.engine import TrinoEngine
    from trino_spark.server import ResourceGroup, TrinoHttpServer, fetch_all

    eng = TrinoEngine(spark, sf_dir)
    groups = {
        "global": ResourceGroup("global", max_concurrent=1, max_queued=1),
        "vip": ResourceGroup("vip", max_concurrent=4, max_queued=16),
    }
    srv = TrinoHttpServer(
        eng,
        resource_groups=groups,
        group_selector=lambda user: "vip" if user == "alice" else "global",
    ).start()
    try:
        # hold the single global slot with a manual acquire, then submit:
        groups["global"].acquire()
        results = {}

        def worker(name):
            try:
                results[name] = srv._submit("SELECT 1 AS x", user="bob")
            except Exception as exc:  # pragma: no cover
                results[name] = {"error": {"message": str(exc)}}

        t1 = threading.Thread(target=worker, args=("q1",))
        t1.start()
        deadline = time.time() + 5
        while groups["global"].queued < 1 and time.time() < deadline:
            time.sleep(0.01)
        assert groups["global"].queued == 1  # q1 is waiting, not failed
        # queue is now full: next submit is rejected immediately
        rej = srv._submit("SELECT 2 AS x", user="bob")
        assert rej["stats"]["state"] == "FAILED"
        assert rej["error"]["errorName"] == "QUERY_QUEUE_FULL"
        # vip group is unaffected
        ok = srv._submit("SELECT 3 AS x", user="alice")
        assert "error" not in ok
        # release the held slot: q1 drains and succeeds
        groups["global"].release()
        t1.join(timeout=10)
        assert "error" not in results["q1"]
        stats = {g["name"]: g for g in srv.resource_group_stats()}
        assert stats["global"]["totalAdmitted"] >= 2  # manual + q1
        assert stats["vip"]["totalAdmitted"] == 1
        assert stats["global"]["running"] == 0 and stats["global"]["queued"] == 0
    finally:
        srv.stop()


def test_resource_group_stats_endpoint(server):
    import json
    import urllib.request

    with urllib.request.urlopen(f"{server.url()}/v1/resourceGroups") as r:
        payload = json.loads(r.read())
    names = {g["name"] for g in payload["groups"]}
    assert "global" in names


def test_info_endpoint(server):
    import json
    import urllib.request

    with urllib.request.urlopen(f"{server.url()}/v1/info") as r:
        payload = json.loads(r.read())
    assert payload["coordinator"] is True
    assert payload["nodeVersion"]["version"]
    assert payload["starting"] is False


def test_stats_carry_elapsed_and_rows(server):
    import json
    import urllib.request

    req = urllib.request.Request(
        f"{server.url()}/v1/statement",
        data=b"SELECT n_nationkey FROM nation",
        method="POST",
    )
    resp = json.loads(urllib.request.urlopen(req).read())
    page = json.loads(urllib.request.urlopen(resp["nextUri"]).read())
    assert page["stats"]["state"] == "FINISHED"
    assert page["stats"]["processedRows"] == 25
    assert page["stats"]["elapsedTimeMillis"] > 0


def test_one_elapsed_covers_execution(server):
    """The protocol stats, system.runtime.queries and the completion event
    report one elapsed, and it spans execution, not only engine.sql."""
    import json
    import time
    import urllib.request

    eng = server.engine
    eng.spark.udf.register("sleep_then_echo", lambda x: time.sleep(1.1) or x, "long")
    completed = []

    def listener(kind, ev):
        if kind == "query_completed":
            completed.append(ev)

    eng.add_event_listener(listener)
    try:
        req = urllib.request.Request(
            f"{server.url()}/v1/statement", data=b"SELECT sleep_then_echo(7) AS x", method="POST"
        )
        resp = json.loads(urllib.request.urlopen(req).read())
        page = json.loads(urllib.request.urlopen(resp["nextUri"]).read())
    finally:
        eng.remove_event_listener(listener)
    assert page["data"] == [[7]]
    elapsed = page["stats"]["elapsedTimeMillis"]
    _, rows = fetch_all(
        server.url(),
        f"SELECT elapsed_ms FROM system.runtime.queries WHERE query_id = '{resp['id']}'",
    )
    wall = [ev["wall_ms"] for ev in completed if ev["query_id"] == resp["id"]]
    assert rows == [[elapsed]] and wall == [elapsed]
    assert elapsed >= 1000


def test_version_scalar(server):
    from trino_spark import __version__
    from trino_spark.server import fetch_all

    cols, rows = fetch_all(server.url(), "SELECT version() AS v")
    assert rows == [[__version__]]
    # inside a string literal it is untouched
    cols, rows = fetch_all(server.url(), "SELECT 'version()' AS v")
    assert rows == [["version()"]]


def test_query_registry_concurrent_open_close():
    """Records opened and closed from more threads than cores: every event
    is emitted once, no record is lost, and the history stays capped."""
    import sys
    import threading

    from trino_spark.dialect.engine import QueryRegistry

    events = []
    reg = QueryRegistry(lambda kind, ev: events.append((kind, ev["query_id"])))
    lost = []

    def work():
        for i in range(50):
            rec = reg.open(f"SELECT {i}", "u")
            reg.start(rec)
            if reg.get(rec.query_id) is not rec:
                lost.append(rec.query_id)
            reg.close(rec, None)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads) and not lost
    created = {q for k, q in events if k == "query_created"}
    completed = {q for k, q in events if k == "query_completed"}
    assert len(events) == 2 * 16 * 50 and created == completed
    assert reg.table().num_rows == QueryRegistry.HISTORY
    assert reg.flush() == QueryRegistry.HISTORY and reg.table().num_rows == 0
