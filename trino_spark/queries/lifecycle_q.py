"""Lifecycle queries: oracle-checkable end-to-end exercises of the engine
surfaces that previously had only unit tests — materialized views,
transactions, DDL schema evolution, security (row filters + masks),
PREPARE/EXECUTE, information_schema, the HTTP protocol, and
memory-connector DML.

Each builder drives the statement flow through ``TrinoEngine.sql`` (or
the live HTTP server) and returns the final relation; the oracle states
the same end state as a pure SELECT over the immutable testdata — so the
DuckDB differential checks the SEMANTICS of the whole statement sequence,
not just a single query. All mutable names are per-process (concurrent
bench/verify runners must not race), and every builder is re-run-safe
(bench executes each entry 2-3x in one process).

Reference anchors: RefreshMaterializedViewOperator.java (MV staleness),
StartTransactionTask.java (txn rollback), AddColumnTask/RenameColumn
(evolution), ConnectorAccessControl.getRowFilters/getColumnMasks
(security), PrepareTask.java (prepared statements),
InformationSchemaPageSource.java, the /v1/statement HTTP protocol
(client/trino-client), and plugin/trino-memory MemoryPagesStore.java.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from trino_spark.queries.base import QueryRegistry, engine_for

REG = QueryRegistry()


from trino_spark.queries.base import materialized as _materialized  # noqa: E402


@REG.add(
    "dialect_mv_lifecycle",
    """
    WITH base AS (SELECT n_nationkey AS k, n_regionkey AS r FROM nation),
    grown AS (SELECT * FROM base UNION ALL
              SELECT k + 100 AS k, r FROM base WHERE r = 0)
    SELECT phase, CAST(r AS INTEGER) AS r, CAST(n AS BIGINT) AS n, CAST(ksum AS BIGINT) AS ksum
    FROM (
      SELECT 'stale' AS phase, r, count(*) AS n, sum(k) AS ksum FROM base GROUP BY r
      UNION ALL
      SELECT 'fresh' AS phase, r, count(*) AS n, sum(k) AS ksum FROM grown GROUP BY r
    )
    ORDER BY phase, r
    """,
)
def dialect_mv_lifecycle(spark: SparkSession, sf: str) -> DataFrame:
    """Materialized-view staleness semantics (RefreshMaterializedView
    Operator.java; docs sql/create-materialized-view.md): an MV serves
    STORED data after its base table mutates (the 'stale' phase reads the
    pre-INSERT aggregate), and REFRESH re-materializes ('fresh'). The
    oracle derives both phases from the immutable nation table."""
    import pyspark.sql.functions as F

    eng = engine_for(spark, sf)
    pid = os.getpid()
    tbl, mv = f"mvbase_{pid}", f"mvagg_{pid}"
    eng.sql(f"DROP TABLE IF EXISTS {tbl}")
    eng.sql(f"CREATE TABLE {tbl} AS SELECT n_nationkey AS k, n_regionkey AS r FROM nation")
    eng.sql(
        f"CREATE OR REPLACE MATERIALIZED VIEW {mv} AS "
        f"SELECT r, count(*) AS n, sum(k) AS ksum FROM {tbl} GROUP BY r"
    )
    eng.sql(f"INSERT INTO {tbl} SELECT k + 100, r FROM {tbl} WHERE r = 0")
    stale = _materialized(spark, eng.sql(f"SELECT r, n, ksum FROM {mv}"))
    eng.sql(f"REFRESH MATERIALIZED VIEW {mv}")
    fresh = _materialized(spark, eng.sql(f"SELECT r, n, ksum FROM {mv}"))
    eng.sql(f"DROP MATERIALIZED VIEW {mv}")
    eng.sql(f"DROP TABLE {tbl}")
    out = stale.withColumn("phase", F.lit("stale")).unionByName(
        fresh.withColumn("phase", F.lit("fresh"))
    )
    return out.select(
        "phase",
        F.col("r").cast("int").alias("r"),
        F.col("n").cast("long").alias("n"),
        F.col("ksum").cast("long").alias("ksum"),
    ).orderBy("phase", "r")


@REG.add(
    "dialect_transactions",
    """
    SELECT 'a_in_txn' AS phase,
           CAST((SELECT count(*) FROM nation) + (SELECT count(*) FROM nation WHERE n_regionkey = 0) AS BIGINT) AS n
    UNION ALL
    SELECT 'b_rolled_back', CAST((SELECT count(*) FROM nation) AS BIGINT)
    UNION ALL
    SELECT 'c_committed', CAST((SELECT count(*) FROM nation WHERE n_regionkey <> 4) AS BIGINT)
    ORDER BY phase
    """,
)
def dialect_transactions(spark: SparkSession, sf: str) -> DataFrame:
    """Transaction semantics (StartTransactionTask.java; dml.py txn_*):
    an in-transaction INSERT is visible inside the transaction, ROLLBACK
    restores the pre-transaction snapshot AND rewinds the version log,
    and a committed DELETE persists. Phases are letter-prefixed so the
    sort order is the execution order."""
    eng = engine_for(spark, sf)
    tbl = f"txn_life_{os.getpid()}"
    eng.sql(f"DROP TABLE IF EXISTS {tbl}")
    eng.sql(f"CREATE TABLE {tbl} AS SELECT n_nationkey AS k, n_regionkey AS r FROM nation")
    eng.sql("START TRANSACTION")
    eng.sql(f"INSERT INTO {tbl} SELECT k + 100, r FROM {tbl} WHERE r = 0")
    in_txn = eng.sql(f"SELECT count(*) AS c FROM {tbl}").collect()[0].c
    eng.sql("ROLLBACK")
    rolled = eng.sql(f"SELECT count(*) AS c FROM {tbl}").collect()[0].c
    eng.sql("START TRANSACTION")
    eng.sql(f"DELETE FROM {tbl} WHERE r = 4")
    eng.sql("COMMIT")
    committed = eng.sql(f"SELECT count(*) AS c FROM {tbl}").collect()[0].c
    eng.sql(f"DROP TABLE {tbl}")
    return spark.createDataFrame(
        [("a_in_txn", in_txn), ("b_rolled_back", rolled), ("c_committed", committed)],
        "phase: string, n: bigint",
    ).orderBy("phase")


@REG.add(
    "dialect_ddl_evolution",
    """
    SELECT k, label, flag
    FROM (VALUES (CAST(1 AS BIGINT), 'alpha', CAST(NULL AS INTEGER)),
                 (CAST(3 AS BIGINT), 'gamma', CAST(7 AS INTEGER))) AS t(k, label, flag)
    ORDER BY k
    """,
)
def dialect_ddl_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """DDL schema evolution (AddColumnTask/RenameColumn family; dml.py
    projection-rewrite evolution): typed CREATE TABLE, INSERT, ADD COLUMN
    (pre-existing rows read NULL), INSERT with the new column, RENAME
    COLUMN, DELETE — final state against a VALUES oracle."""
    eng = engine_for(spark, sf)
    tbl = f"ddl_evo_{os.getpid()}"
    eng.sql(f"DROP TABLE IF EXISTS {tbl}")
    eng.sql(f"CREATE TABLE {tbl} (k BIGINT, name VARCHAR)")
    eng.sql(f"INSERT INTO {tbl} VALUES (CAST(1 AS BIGINT), 'alpha'), (CAST(2 AS BIGINT), 'beta')")
    eng.sql(f"ALTER TABLE {tbl} ADD COLUMN flag INTEGER")
    eng.sql(f"INSERT INTO {tbl} VALUES (CAST(3 AS BIGINT), 'gamma', CAST(7 AS INTEGER))")
    eng.sql(f"ALTER TABLE {tbl} RENAME COLUMN name TO label")
    eng.sql(f"DELETE FROM {tbl} WHERE k = 2")
    out = _materialized(spark, eng.sql(f"SELECT k, label, flag FROM {tbl} ORDER BY k"))
    eng.sql(f"DROP TABLE {tbl}")
    return out


@REG.add(
    "dialect_secured_read",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS k,
           substr(n_name, 1, 2) || '***' AS name_masked,
           CAST(n_regionkey AS INTEGER) AS r
    FROM nation WHERE n_regionkey <= 1
    ORDER BY k
    """,
)
def dialect_secured_read(spark: SparkSession, sf: str) -> DataFrame:
    """Row filter + column mask under an active role (ConnectorAccess
    Control.getRowFilters/getColumnMasks ViewExpressions; dialect/
    access.py): the role sees only n_regionkey <= 1 rows and a masked
    n_name. The oracle applies the same predicate and mask expression
    directly — the differential proves the security rewrite computes
    exactly the declared view."""
    eng = engine_for(spark, sf)
    role = f"sec_{os.getpid()}"
    try:
        eng.sql(f"CREATE ROLE {role}")
        eng.sql(f"GRANT SELECT ON nation TO ROLE {role}")
    except Exception:
        pass  # re-run in the same process: role already exists
    eng.sql(f"CALL system.add_row_filter('{role}', 'nation', 'n_regionkey <= 1')")
    eng.sql(
        f"CALL system.add_column_mask('{role}', 'nation', 'n_name', "
        "'substr(n_name, 1, 2) || ''***''')"
    )
    try:
        eng.sql(f"SET ROLE {role}")
        out = _materialized(
            spark,
            eng.sql(
                "SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name_masked, "
                "CAST(n_regionkey AS INT) AS r FROM nation ORDER BY k"
            ),
        )
    finally:
        eng.sql("SET ROLE NONE")
    return out


@REG.add(
    "dialect_prepared_exec",
    """
    SELECT n_name, CAST(n_nationkey AS BIGINT) AS k
    FROM nation WHERE n_regionkey = 2
    ORDER BY k
    """,
)
def dialect_prepared_exec(spark: SparkSession, sf: str) -> DataFrame:
    """PREPARE / EXECUTE ... USING parameter binding (PrepareTask.java,
    grammar SqlBase.g4 #prepare/#execute): the bound statement is the
    oracle with the literal inlined."""
    eng = engine_for(spark, sf)
    st = f"st_{os.getpid()}"
    eng.sql(
        f"PREPARE {st} FROM SELECT n_name, CAST(n_nationkey AS BIGINT) AS k "
        "FROM nation WHERE n_regionkey = ? ORDER BY k"
    )
    return eng.sql(f"EXECUTE {st} USING 2")


@REG.add(
    "infoschema_core_tables",
    """
    SELECT table_name FROM (VALUES ('customer'), ('lineitem'), ('nation'),
      ('orders'), ('part'), ('region'), ('supplier')) AS t(table_name)
    ORDER BY table_name
    """,
)
def infoschema_core_tables(spark: SparkSession, sf: str) -> DataFrame:
    """information_schema.tables (InformationSchemaPageSource.java TABLES):
    the registry reflects the mounted testdata; restricted to the 7 core
    TPC-H names so concurrently-created temp tables cannot perturb the
    oracle."""
    eng = engine_for(spark, sf)
    return eng.sql(
        "SELECT table_name FROM information_schema.tables "
        "WHERE table_name IN ('customer','lineitem','nation','orders','part','region','supplier') "
        "ORDER BY table_name"
    )


@REG.add(
    "http_protocol_roundtrip",
    """
    SELECT r.r_name, CAST(count(*) AS BIGINT) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
)
def http_protocol_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """The full /v1/statement HTTP protocol (client/trino-client loop:
    POST -> nextUri pages -> rows as JSON): a live in-process server on
    an ephemeral port executes the SQL and the tiny reference client
    reassembles the pages; the oracle runs the same text directly. This
    makes the protocol row-path itself oracle-checked, not just
    unit-tested."""
    from trino_spark.server import TrinoHttpServer, fetch_all

    eng = engine_for(spark, sf)
    srv = TrinoHttpServer(eng).start()
    try:
        _cols, rows = fetch_all(
            srv.url(),
            "SELECT r.r_name, CAST(count(*) AS BIGINT) AS n_nations "
            "FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey "
            "GROUP BY r.r_name ORDER BY r.r_name",
        )
    finally:
        srv.stop()
    return spark.createDataFrame(
        [(r[0], int(r[1])) for r in rows], "r_name: string, n_nations: bigint"
    )


@REG.add(
    "catalog_memory_dml",
    """
    WITH t AS (
      SELECT n_nationkey AS k, n_name AS name FROM nation WHERE n_regionkey = 0
      UNION ALL
      SELECT n_nationkey + 100 AS k, lower(n_name) AS name FROM nation WHERE n_regionkey = 1
    )
    SELECT CAST(k AS BIGINT) AS k, name FROM t ORDER BY k
    """,
)
def catalog_memory_dml(spark: SparkSession, sf: str) -> DataFrame:
    """Memory-connector DML through a dynamic catalog (plugin/trino-memory
    MemoryPagesStore.java page sink; dialect/catalogs.py): CTAS + INSERT
    into a catalog-qualified table, read back fully qualified. The oracle
    is the equivalent UNION over the source data."""
    eng = engine_for(spark, sf)
    cat = f"memq{os.getpid()}"
    eng.sql(f"CREATE CATALOG IF NOT EXISTS {cat} USING memory")
    eng.sql(f"DROP TABLE IF EXISTS {cat}.default.t")
    eng.sql(
        f"CREATE TABLE {cat}.default.t AS "
        "SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name FROM nation WHERE n_regionkey = 0"
    )
    eng.sql(
        f"INSERT INTO {cat}.default.t "
        "SELECT CAST(n_nationkey + 100 AS BIGINT), lower(n_name) FROM nation WHERE n_regionkey = 1"
    )
    return eng.sql(f"SELECT k, name FROM {cat}.default.t ORDER BY k")


@REG.add(
    "dialect_branch_wap",
    """
    WITH base AS (SELECT n_nationkey AS k, n_regionkey AS r FROM nation),
    published AS (
      SELECT k, r FROM base WHERE r <> 3
      UNION ALL
      SELECT k + 100 AS k, r FROM base WHERE r = 0
    )
    SELECT phase, CAST(n AS BIGINT) AS n, CAST(ksum AS BIGINT) AS ksum
    FROM (
      SELECT 'a_main_during_stage' AS phase, count(*) AS n, sum(k) AS ksum FROM base
      UNION ALL
      SELECT 'b_branch_staged', count(*) AS n, sum(k) AS ksum FROM published
      UNION ALL
      SELECT 'c_main_published', count(*) AS n, sum(k) AS ksum FROM published
    )
    ORDER BY phase
    """,
)
def dialect_branch_wap(spark: SparkSession, sf: str) -> DataFrame:
    """Write-audit-publish over table branches (grammar #createBranch /
    #fastForwardBranch + t@branch DML; Iceberg branch semantics): stage
    mutations on a branch fork (main is provably untouched while the
    branch diverges), audit, then FAST FORWARD main to publish. The fork
    is a hardlink copy (metadata cost only — pinned by inode tests in
    tests/test_branches.py), so at 100 TB the staging isolation is free;
    the oracle derives all three phases from the immutable source."""
    eng = engine_for(spark, sf)
    tbl = f"wap_{os.getpid()}"
    eng.sql(f"DROP TABLE IF EXISTS {tbl}")
    eng.sql(f"CREATE TABLE {tbl} AS SELECT n_nationkey AS k, n_regionkey AS r FROM nation")
    eng.sql(f"CREATE OR REPLACE BRANCH audit IN TABLE {tbl}")
    eng.sql(f"INSERT INTO {tbl}@audit SELECT k + 100, r FROM {tbl}@audit WHERE r = 0")
    eng.sql(f"DELETE FROM {tbl}@audit WHERE r = 3")
    phases = []
    for phase, rel in (
        ("a_main_during_stage", tbl),
        ("b_branch_staged", f"{tbl}@audit"),
    ):
        row = eng.sql(f"SELECT count(*) AS n, sum(k) AS ksum FROM {rel}").collect()[0]
        phases.append((phase, int(row.n), int(row.ksum)))
    eng.sql(f"ALTER BRANCH main IN TABLE {tbl} FAST FORWARD TO audit")
    row = eng.sql(f"SELECT count(*) AS n, sum(k) AS ksum FROM {tbl}").collect()[0]
    phases.append(("c_main_published", int(row.n), int(row.ksum)))
    eng.sql(f"DROP BRANCH audit IN TABLE {tbl}")
    eng.sql(f"DROP TABLE {tbl}")
    return spark.createDataFrame(phases, "phase: string, n: bigint, ksum: bigint").orderBy("phase")


@REG.add(
    "dialect_table_optimize",
    """
    SELECT CAST(n_regionkey AS INTEGER) AS r,
           CAST(4 * count(*) AS BIGINT) AS n,
           CAST(sum(n_nationkey) + 3 * sum(n_nationkey + 100) AS BIGINT) AS ksum,
           CAST(1 AS INTEGER) AS files_in_r0
    FROM nation
    GROUP BY n_regionkey
    ORDER BY r
    """,
)
def dialect_table_optimize(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction via ALTER TABLE EXECUTE optimize (grammar
    #tableExecute; Iceberg OptimizeTableProcedure.java): three appends
    fragment every partition into 4 files, optimize rewrites each
    partition to ONE file as a new snapshot, and content is bit-identical
    (the oracle recomputes the aggregate from the source). files_in_r0
    pins the physical outcome the oracle can state: exactly one file in
    the optimized r=0 partition."""
    import pyspark.sql.functions as F

    eng = engine_for(spark, sf)
    tbl = f"opt_{os.getpid()}"
    eng.sql(f"DROP TABLE IF EXISTS {tbl}")
    eng.sql(
        f"CREATE TABLE {tbl} WITH (partitioned_by = ARRAY['r']) AS "
        "SELECT n_nationkey AS k, n_regionkey AS r FROM nation"
    )
    for _ in range(3):
        eng.sql(f"INSERT INTO {tbl} SELECT n_nationkey + 100, n_regionkey FROM nation")
    eng.sql(f"ALTER TABLE {tbl} EXECUTE optimize")
    path = eng.dml_tables[tbl].path
    r0 = sum(
        1 for f in os.listdir(os.path.join(path, "r=0")) if f.endswith(".parquet")
    )
    out = _materialized(
        spark,
        eng.sql(
            f"SELECT CAST(r AS INT) AS r, CAST(count(*) AS BIGINT) AS n, "
            f"CAST(sum(k) AS BIGINT) AS ksum FROM {tbl} GROUP BY r ORDER BY r"
        ).withColumn("files_in_r0", F.lit(r0).cast("int")),
    )
    eng.sql(f"DROP TABLE {tbl}")
    return out


@REG.add(
    "engine_event_listener",
    """
    SELECT * FROM (VALUES
      (1, 'query_created',   'FINISHED', 0, 'trino'),
      (1, 'query_completed', 'FINISHED', 0, 'trino'),
      (2, 'query_created',   'FINISHED', 0, 'trino'),
      (2, 'query_completed', 'FINISHED', 0, 'trino'),
      (3, 'query_created',   'FAILED',   1, 'trino'),
      (3, 'query_completed', 'FAILED',   1, 'trino')
    ) AS t(seq, kind, state, has_error, usr)
    ORDER BY seq, kind
    """,
)
def engine_event_listener(spark: SparkSession, sf: str) -> DataFrame:
    """EventListener SPI completion records (io.trino.spi.eventlistener.
    EventListener queryCreated/queryCompleted; QueryMonitor.java emits
    them): run a fixed statement sequence — two that finish, one that
    fails — and present the captured deterministic event fields. The
    oracle states the exact expected records, making the listener
    dispatch path itself gate-checked rather than tests-only. Listener
    isolation (a throwing listener never fails the query) stays covered
    by unit tests."""
    eng = engine_for(spark, sf)
    captured: list[tuple] = []
    seq = {"n": 0}

    class Recorder:
        def query_created(self, ev):
            seq["n"] += 1
            captured.append((seq["n"], "query_created", ev.get("user")))

        def query_completed(self, ev):
            captured.append(
                (
                    seq["n"],
                    "query_completed",
                    ev.get("state"),
                    1 if ev.get("error") else 0,
                    ev.get("user"),
                )
            )

    rec = Recorder()
    eng.add_event_listener(rec)
    try:
        eng.sql("SELECT count(*) AS c FROM nation").collect()
        eng.sql("SELECT max(r_regionkey) AS m FROM region").collect()
        try:
            eng.sql("SELECT no_such_column_xyz FROM nation").collect()
        except Exception:
            pass  # the FAILED completion event is the point
    finally:
        eng.remove_event_listener(rec)
    # join created/completed pairs on seq; created rows take the
    # completion's state so the output is one uniform relation
    completed = {c[0]: c for c in captured if c[1] == "query_completed"}
    rows = []
    for c in captured:
        if c[1] == "query_created":
            comp = completed[c[0]]
            rows.append((c[0], "query_created", comp[2], comp[3], c[2]))
        else:
            rows.append((c[0], c[1], c[2], c[3], c[4]))
    return spark.createDataFrame(
        sorted(rows), "seq: int, kind: string, state: string, has_error: int, usr: string"
    )


@REG.add(
    "server_resource_groups",
    """
    SELECT * FROM (VALUES
      ('admitted_total', 4),
      ('peak_running',   1),
      ('peak_queued',    3),
      ('drained_running', 0),
      ('drained_queued',  0),
      ('queue_full_rejected', 1)
    ) AS t(metric, value)
    ORDER BY metric
    """,
)
def server_resource_groups(spark: SparkSession, sf: str) -> DataFrame:
    """Resource-group admission accounting (reference: resource-groups
    plugin, InternalResourceGroup hardConcurrencyLimit/maxQueued): a
    group with one slot admits a holder, queues three waiters (peak
    queued observed while the slot is held), rejects the arrival that
    finds the wait queue full, and drains to zero. Every number is
    deterministic — waiters are counted in, then released; the oracle
    states the expected accounting."""
    import threading
    import time as _time

    from trino_spark.server import ResourceGroup

    g = ResourceGroup("gate", max_concurrent=1, max_queued=3)
    g.acquire()  # hold the only slot
    done: list[str] = []

    def waiter() -> None:
        g.acquire()
        done.append("x")
        g.release()

    threads = [threading.Thread(target=waiter) for _ in range(3)]
    for t in threads:
        t.start()
    deadline = _time.monotonic() + 10
    while g.queued < 3 and _time.monotonic() < deadline:
        _time.sleep(0.01)
    peak_running, peak_queued = g.running, g.queued
    # the fourth arrival finds maxQueued=3 occupied -> QUERY_QUEUE_FULL
    rejected = 0
    try:
        g.acquire()
    except RuntimeError:
        rejected = 1
    g.release()  # free the held slot; waiters drain FIFO
    for t in threads:
        t.join(timeout=10)
    rows = [
        ("admitted_total", int(g.total_admitted)),
        ("peak_running", int(peak_running)),
        ("peak_queued", int(peak_queued)),
        ("drained_running", int(g.running)),
        ("drained_queued", int(g.queued)),
        ("queue_full_rejected", rejected),
    ]
    return spark.createDataFrame(sorted(rows), "metric: string, value: int")


@REG.add(
    "dialect_catalog_write_lifecycle",
    """
    WITH base AS (SELECT n_nationkey AS k, n_regionkey AS r FROM nation),
    final AS (SELECT * FROM base UNION ALL
              SELECT k + 100 AS k, r FROM base WHERE r = 0)
    SELECT phase, CAST(n AS BIGINT) AS n, CAST(ksum AS BIGINT) AS ksum
    FROM (
      SELECT 'a_ctas' AS phase, count(*) AS n, sum(k) AS ksum FROM base
      UNION ALL
      SELECT 'b_inserted', count(*) AS n, sum(k) AS ksum FROM final
      UNION ALL
      SELECT 'c_truncated', 0 AS n, 0 AS ksum
    )
    ORDER BY phase
    """,
)
def dialect_catalog_write_lifecycle(spark: SparkSession, sf: str) -> DataFrame:
    """File-catalog write path (round 6; the hive connector's
    HivePageSinkProvider analog): CREATE CATALOG over a scratch
    directory, CTAS into <catalog>.<schema>.<table>, positional INSERT
    append, TRUNCATE, DROP. Distributed writes; each phase's count and
    key sum are re-derived by the oracle from the immutable nation
    table."""
    import shutil
    import tempfile

    eng = engine_for(spark, sf)
    pid = os.getpid()
    cat = f"whlc{pid}"
    scratch = tempfile.mkdtemp(prefix="cat_lifecycle_")
    try:
        eng.sql(f"DROP CATALOG IF EXISTS {cat}")
        eng.sql(f"CREATE CATALOG {cat} USING parquet WITH (location = '{scratch}')")
        eng.sql(
            f"CREATE TABLE {cat}.main.t AS"
            " SELECT n_nationkey AS k, n_regionkey AS r FROM nation"
        )
        a = eng.sql(
            f"SELECT count(*) AS n, sum(k) AS ksum FROM {cat}.main.t"
        ).collect()[0]
        eng.sql(
            f"INSERT INTO {cat}.main.t SELECT k + 100, r FROM {cat}.main.t WHERE r = 0"
        )
        b = eng.sql(
            f"SELECT count(*) AS n, sum(k) AS ksum FROM {cat}.main.t"
        ).collect()[0]
        eng.sql(f"TRUNCATE TABLE {cat}.main.t")
        c = eng.sql(
            f"SELECT count(*) AS n, coalesce(sum(k), 0) AS ksum FROM {cat}.main.t"
        ).collect()[0]
        eng.sql(f"DROP TABLE {cat}.main.t")
        eng.sql(f"DROP CATALOG {cat}")
        rows = [
            ("a_ctas", int(a.n), int(a.ksum)),
            ("b_inserted", int(b.n), int(b.ksum)),
            ("c_truncated", int(c.n), int(c.ksum)),
        ]
        return spark.createDataFrame(rows, "phase string, n bigint, ksum bigint")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
