"""TrinoEngine: the `engine.sql(trino_sql)` entry point.

Role-equivalent to the reference's dispatch path (SQL text in →
DispatchManager.createQueryInternal → parse → analyze → plan → execute,
core/trino-main/.../dispatcher/DispatchManager.java:208) collapsed onto
Spark: dialect-translate, then let Catalyst do analysis/optimization and
Tungsten execute. See SURVEY.md §3.1.
"""

from __future__ import annotations

import dataclasses
import datetime
import json
import os
import re
import threading
import uuid
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from trino_spark import infoschema
from trino_spark.catalog import ALL_TABLES, Catalog, read_parquet
from trino_spark.dialect import access as _access
from trino_spark.dialect import branches as _branches
from trino_spark.dialect import catalogs as _cats
from trino_spark.dialect import cte as _cte
from trino_spark.dialect import dml as _dml
from trino_spark.dialect import prepared as _prep
from trino_spark.dialect import relations as _relations
from trino_spark.dialect import routines as _routines_mod
from trino_spark.dialect import writes as _writes
from trino_spark.dialect.dml import rows_result
from trino_spark.dialect.rewrites import translate
from trino_spark.dialect.tokenizer import (
    Reader, Tok, head, lead, next_code, prev_code, render, structure, tokenize,
)
from trino_spark.dialect.types import trino_type
from trino_spark.functions import registry as _registry

__all__ = ["QueryRecord", "QueryRegistry", "TrinoEngine", "translate"]

# materialized view data: spark-warehouse/mv/<name>
_MV_DIR = os.path.join(os.path.dirname(_dml._warehouse_dir()), "mv")

_QUERIES = pa.schema(
    [(n, pa.string()) for n in ("query_id", "state", "user", "query")]
    + [("elapsed_ms", pa.float64())]
    + [(n, pa.timestamp("us", tz="UTC")) for n in ("created", "started", "end")]
)


def _now() -> datetime.datetime:
    return datetime.datetime.now(datetime.timezone.utc)


@dataclasses.dataclass(eq=False)
class QueryRecord:
    """One top-level statement (the reference's QueryInfo, kept by
    QueryStateMachine). system.runtime.queries, the query events, the
    protocol stats block and kill_query all read this one object; `end`
    is None while it is live."""

    query: str
    user: str
    query_id: str = dataclasses.field(default_factory=lambda: uuid.uuid4().hex[:16])
    state: str = "QUEUED"
    created: datetime.datetime = dataclasses.field(default_factory=_now)
    started: datetime.datetime | None = None
    end: datetime.datetime | None = None
    error: str | None = None
    killed: bool = False  # set by kill_query, checked by the server

    @property
    def elapsed_ms(self) -> float:
        return round(((self.end or _now()) - self.created).total_seconds() * 1000, 3)


class QueryRegistry:
    """Every live query record plus the last HISTORY finished ones, under
    one lock (the reference's QueryTracker). open/start/close move a record
    QUEUED -> RUNNING -> FINISHED | FAILED and emit the query events; a
    record bound to a thread is that thread's top-level statement."""

    HISTORY = 200

    def __init__(self, emit):
        self._emit = emit
        self._lock = threading.Lock()
        self._records: dict[str, QueryRecord] = {}
        self._bound = threading.local()

    def open(self, sql: str, user: str) -> QueryRecord:
        rec = QueryRecord(sql.strip()[:1000], user)
        with self._lock:
            self._records[rec.query_id] = rec
        event = {"query_id": rec.query_id, "query": rec.query, "user": user}
        self._emit("query_created", {**event, "create_time": rec.created.timestamp()})
        return rec

    def start(self, rec: QueryRecord) -> None:
        with self._lock:
            rec.started, rec.state = _now(), "RUNNING"

    def close(self, rec: QueryRecord, error: str | None) -> None:
        with self._lock:
            rec.end, rec.error = _now(), error
            rec.state = "FINISHED" if error is None else "FAILED"
            self._drop(keep=self.HISTORY)
        event = {k: getattr(rec, k) for k in ("query_id", "query", "user", "state", "error")}
        self._emit("query_completed", {**event, "wall_ms": rec.elapsed_ms})

    def _drop(self, keep: int) -> int:
        """Drop all but the `keep` latest-opened finished records (lock held)."""
        done = [q for q, r in self._records.items() if r.end is not None]
        n = max(len(done) - keep, 0)
        for q in done[:n]:
            del self._records[q]
        return n

    def flush(self) -> int:
        """Drop the finished records; live ones stay, so they can be killed."""
        with self._lock:
            return self._drop(keep=0)

    def get(self, query_id: str) -> QueryRecord | None:
        with self._lock:
            return self._records.get(query_id)

    def bind(self, rec: QueryRecord | None) -> None:
        self._bound.rec = rec

    def bound(self) -> QueryRecord | None:
        return getattr(self._bound, "rec", None)

    def table(self) -> pa.Table:
        """The system.runtime.queries rows, except the reading statement's
        own record, which is still being built."""
        me = self.bound()
        with self._lock:  # start() and close() update records under it
            recs = [r for r in self._records.values() if r is not me]
            rows = [{**vars(r), "elapsed_ms": r.elapsed_ms} for r in recs]
        return pa.Table.from_pylist(rows, _QUERIES)


class TrinoEngine:
    """Trino-dialect SQL in, DataFrame out."""

    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.spark = spark
        self.catalog = Catalog(spark)
        # Per-thread statement depth: the HTTP server dispatches concurrent
        # statements onto one shared engine, so a process-wide counter
        # would corrupt the "is this a top-level statement?" decisions
        # (query events, CTE-cache retirement) across threads.
        self._tls = threading.local()
        # EventListener SPI listeners (emit_event), and the query records
        # behind system.runtime.queries, the query events, the protocol
        # stats and kill_query.
        self._event_listeners: list = []
        self.queries = QueryRegistry(self.emit_event)
        # Guards the reused-CTE cache (dialect/cte.py): retire() must not
        # drop another in-flight statement's views between its SQL rewrite
        # and Catalyst analysis. RLock + in-flight top-level count.
        self._cte_lock = threading.RLock()
        self._cte_active = 0
        self._cte_cached: list = []
        # SQL routines (CREATE FUNCTION ... RETURN expr), inlined as macros
        # per dialect/routines.py (reference: SqlRoutinePlanner inlining).
        self.routines: dict[str, _routines_mod.Routine] = {}
        # Control-flow / LANGUAGE PYTHON routines, registered as Spark UDFs
        # (reference: SqlRoutineCompiler.java bytecode path + PythonEngine).
        self.python_routines: dict[str, _routines_mod.PythonRoutine] = {}
        # Prepared statements (PREPARE/EXECUTE/DEALLOCATE; PrepareTask.java).
        self.prepared: dict[str, str] = {}
        # The SET PATH value (SetPathTask.java): recorded, not searched.
        self.sql_path = ""
        # SET SESSION properties (SystemSessionProperties.java surface).
        self.session_properties: dict[str, str] = {}
        # Materialized views: name -> defining Trino SQL. Data lives as
        # parquet under spark-warehouse/mv/<name>; queries read the STORED
        # data (stale until REFRESH), matching the reference's semantics
        # (core/.../RefreshMaterializedViewOperator.java, docs
        # sql/create-materialized-view.md).
        self.materialized_views: dict[str, str] = {}
        # Freshness metadata per MV (reference: the freshness /
        # last_fresh_time columns of system.metadata.materialized_views,
        # core/.../connector/system/MaterializedViewSystemTable.java):
        # source-table fingerprints captured at refresh time.
        self._mv_meta: dict[str, dict] = {}
        # Engine-managed tables, one record each (dialect/dml.py), and the
        # open transaction's pins (None outside START TRANSACTION).
        self.dml_tables: dict[str, _dml.ManagedTable] = {}
        self._txn: dict | None = None
        # The names relation resolution substitutes for a managed table's
        # branch, version or metadata table, with the table they read
        # (dialect/relations.py): access control checks and secures it.
        self.derived: dict[str, _relations.Derived] = {}
        # Logical views: name -> defining Trino SQL (CreateViewTask).
        self.views: dict[str, str] = {}
        # CREATE SCHEMA names -> properties; the table namespace is flat.
        self.schemas: dict[str, dict] = {"default": {}}
        # CREATE CATALOG mounts (dialect/catalogs.py).
        self.catalogs: dict[str, dict] = {}
        # CREATE FUNCTION text by upper-case name (SHOW CREATE FUNCTION).
        self._function_sources: dict[str, str] = {}
        # ANALYZE-collected statistics by table (infoschema.show_stats).
        self._stats_cache: dict[str, tuple] = {}
        # The session identity (SET SESSION AUTHORIZATION) and USE schema.
        self.session_user = "trino"
        self._current_schema = "default"
        # Roles, grants, row filters and column masks (dialect/access.py);
        # no current role = the owner session.
        self._acl: dict = {
            "roles": {},  # role -> {(priv, table)}
            "current": None,
            "row_filters": {},  # (role, table) -> predicate SQL
            "column_masks": {},  # (role, table) -> {col: mask expr SQL}
        }
        if sf_dir:
            self.catalog.register_parquet_dir(sf_dir, ALL_TABLES)
        # Functions and PTFs are not registered here: translate() registers
        # each bundle function on the session the first time a statement
        # calls it (functions/registry.py, the SystemFunctionBundle analog).

    def sql(self, trino_sql: str) -> DataFrame:
        """Dispatch a Trino-dialect statement. A top-level call runs under
        the query record bound to its thread (the HTTP server binds one per
        request), else under one it opens and closes itself. Such a record
        ends when this returns, before the lazy DataFrame executes, so its
        elapsed covers dispatch, planning and any eager (DML) work only."""
        depth = getattr(self._tls, "depth", 0)
        self._tls.depth = depth + 1
        bound = _registry.bind_session(self.spark)
        rec = error = None
        if depth == 0:
            with self._cte_lock:
                self._cte_active += 1
            if self.queries.bound() is None:
                rec = self.queries.open(trino_sql, self.session_user)
                self.queries.start(rec)
                self.queries.bind(rec)
        try:
            return self._sql_inner(trino_sql)
        except Exception as exc:
            error = str(exc).split("\n")[0][:500]
            raise
        finally:
            self._tls.depth = depth
            _registry.bind_session(bound)
            if rec is not None:
                self.queries.bind(None)
                self.queries.close(rec, error)
            if depth == 0:
                with self._cte_lock:
                    self._cte_active -= 1

    # ---- EventListener SPI (io.trino.spi.eventlistener.EventListener:
    # queryCreated/queryCompleted; listeners are isolated — a throwing
    # listener never fails the query, as in the reference's dedicated
    # listener executor). A listener is an object with `query_created` /
    # `query_completed` methods (either optional) or a plain callable
    # receiving (kind, event).
    def add_event_listener(self, listener) -> None:
        self._event_listeners.append(listener)

    def remove_event_listener(self, listener) -> None:
        if listener in self._event_listeners:
            self._event_listeners.remove(listener)

    def emit_event(self, kind: str, event: dict) -> None:
        for ls in list(self._event_listeners):
            try:
                fn = getattr(ls, kind, None)
                if fn is not None:
                    fn(dict(event))
                elif callable(ls):
                    ls(kind, dict(event))
            except Exception:
                pass  # never let a listener break the query path

    def _sql_inner(self, trino_sql: str) -> DataFrame:
        # The statement's tokens, read once: the session niladics become
        # literals, and the leading words pick its handler (the role of
        # SqlParser.createStatement): a head in _STATEMENTS, else a query.
        toks = _niladics(self, tokenize(trino_sql))
        words = head(toks)
        run, checked = _statement(words)
        if run is not None and not checked:
            return run(self, _text(toks))
        # A MATCH_RECOGNIZE, JSON_TABLE or pattern WINDOW clause runs on its
        # operator, and the query re-dispatches with the result in its place.
        if run is None and (out := _relations.clause(self, toks)) is not None:
            return out
        # Every relation name (branch, version, metadata table, catalog
        # mount, information_schema or system table) resolves here, once.
        _relations.resolve(self, toks)
        # Access control (AccessControl SPI): every statement from here on
        # is checked against the active role's grants before it runs.
        trino_sql = render(toks)
        _access.enforce(self, trino_sql)
        if run is not None:
            return run(self, _text(toks))
        stripped = trino_sql.strip().rstrip(";")
        if words[:1] in (["SELECT"], ["WITH"], ["VALUES"], ["TABLE"]):
            # Row filters / column masks (ConnectorAccessControl
            # getRowFilters/getColumnMasks): reads under an active role see
            # secured views. DML reads recurse through this dispatch, so
            # their SELECT halves are covered too.
            trino_sql = stripped = _access.apply_security(self, stripped)
        spark_sql = translate(_routines_mod.expand(trino_sql, self.routines))
        # Reused-CTE materialization (Trino CTE materialization / FTE
        # exchange-spool analog): a WITH subplan referenced >= 2 times is
        # computed once and cached instead of inlined N times.
        df = self.spark.sql(_cte.materialize_reused(self, spark_sql))
        # FETCH ... WITH TIES leaves a helper rank column; drop it here.
        if "__rk" in df.columns:
            df = df.drop("__rk")
        return df

    # ---- statements: each runs one _STATEMENTS entry; `text` is the
    # statement from its first keyword, without the trailing ';'

    def _with_function(self, text: str) -> DataFrame:
        # Inline SQL routines (grammar SqlBase.g4 queryWith ->
        # functionSpecification; docs udf/sql): expression-bodied
        # functions scoped to this one query — parsed with the CREATE
        # FUNCTION machinery, macro-inlined, then discarded.
        toks = tokenize(text)
        r = Reader(toks)
        first = r.find("FUNCTION", 0)
        query = min(r.find(kw, first) for kw in ("SELECT", "VALUES", "WITH", "TABLE"))
        if query >= r.n:
            raise ValueError(f"cannot parse WITH FUNCTION: {text[:80]}")
        inline: dict = {}
        for a, b in r.split(",", first, query):
            if not r.is_(r.next(a), "FUNCTION"):
                raise ValueError(f"cannot parse WITH FUNCTION: {text[:80]}")
            routine = _routines_mod.parse_create_function("CREATE " + render(toks[a:b]).strip())
            if routine is None or isinstance(routine, _routines_mod.PythonRoutine):
                raise ValueError("WITH FUNCTION supports expression-bodied SQL routines only")
            inline[routine.name] = routine
        return self.sql(_routines_mod.expand(render(toks[query:]), {**self.routines, **inline}))

    def _prepare(self, text: str) -> DataFrame:
        name, body = _prep.parse_prepare(text)
        self.prepared[name] = body
        return rows_result(self.spark, [(name.lower(),)], "prepared: string")

    def _deallocate(self, text: str) -> DataFrame:
        name = _prep.parse_deallocate(text)
        self.prepared.pop(name, None)
        return rows_result(self.spark, [(name.lower(),)], "prepared: string")

    def _execute_immediate(self, text: str) -> DataFrame:
        stmt, args = _prep.parse_execute_immediate(text)
        return self.sql(_prep.bind(stmt, args))

    def _execute(self, text: str) -> DataFrame:
        name, args = _prep.parse_execute(text)
        if name not in self.prepared:
            raise ValueError(f"prepared statement not found: {name}")
        return self.sql(_prep.bind(self.prepared[name], args))

    def _show_create_function(self, text: str) -> DataFrame:
        # #showCreateFunction: render the stored definition text.
        fname = text.split()[3].strip('"').lower()
        src = self._function_sources.get(fname.upper())
        if src is None:
            raise ValueError(f"function not found: {fname}")
        return rows_result(self.spark, [(src,)], "create_function: string")

    def _set_path(self, text: str) -> DataFrame:
        # #setPath (SetPathTask.java): recorded; the engine's single
        # function namespace makes it a session attribute only.
        self.sql_path = text.split(None, 2)[2].strip()
        return rows_result(self.spark, [(self.sql_path,)], "path: string")

    def _create_function(self, text: str) -> DataFrame:
        routine = _routines_mod.parse_create_function(text)
        self._function_sources[routine.name.upper()] = text
        if isinstance(routine, _routines_mod.PythonRoutine):
            # Row-interpreted path (loops / LANGUAGE PYTHON): a real UDF.
            # Spark resolves the registered name during analysis, so no
            # macro expansion is needed (or possible) for these.
            self.python_routines[routine.name] = routine
            self.spark.udf.register(routine.name.lower(), routine.fn, routine.returns)
            # a routine keeps its name against the function bundle
            _registry.settled(self.spark).add(routine.name.lower())
        else:
            self.routines[routine.name] = routine
        return rows_result(self.spark, [(routine.name.lower(),)], "function: string")

    def _drop_function(self, text: str) -> DataFrame:
        dropped = _routines_mod.parse_drop_function(text)
        self.routines.pop(dropped, None)
        self.python_routines.pop(dropped, None)
        self._function_sources.pop(dropped.upper(), None)
        return rows_result(self.spark, [(dropped.lower(),)], "function: string")

    def _create_mv(self, text: str) -> DataFrame:
        name, query = _writes.definition(text)
        self.materialized_views[name] = query
        self._mv_refresh(name)
        return rows_result(self.spark, [(name,)], "materialized_view: string")

    def _refresh_mv(self, text: str) -> DataFrame:
        name = _writes.named(text, "VIEW")[0]
        if name not in self.materialized_views:
            raise ValueError(f"materialized view not found: {name}")
        n = self._mv_refresh(name)
        return rows_result(self.spark, [(name, n)], "materialized_view: string, rows: bigint")

    def _drop_mv(self, text: str) -> DataFrame:
        name = _writes.named(text, "VIEW")[0]
        self.materialized_views.pop(name, None)
        self._mv_meta.pop(name, None)
        self.spark.catalog.dropTempView(name)
        return rows_result(self.spark, [(name,)], "materialized_view: string")

    def _show_session(self, text: str) -> DataFrame:
        # SET SESSION properties recorded on this engine
        # (SystemSessionProperties.java surface).
        rows = sorted(self.session_properties.items())
        return rows_result(self.spark, rows, "name: string, value: string")

    def _show_functions(self, text: str) -> DataFrame:
        # SHOW FUNCTIONS (ShowQueriesRewrite.java): the engine's function
        # inventory — dialect-mapped Trino names, the whole function bundle
        # (registered on this session yet or not), other session UDFs, and
        # every user-registered routine. Spark-native passthrough names
        # (shared spellings like abs/concat/sum) are not enumerated.
        from trino_spark.dialect import rewrites as _rw

        session_udfs = {
            f.name
            for f in self.spark.catalog.listFunctions()
            # Spark marks builtins isTemporary too; they resolve to
            # catalyst expression classes, while session-registered UDFs
            # carry an UDFRegistration/UserDefined class or none.
            if f.isTemporary
            and "." not in f.name
            and not (f.className or "").startswith(
                ("org.apache.spark.sql.catalyst.", "org.apache.spark.sql.execution.")
            )
        }
        # dialect-internal registrations (e.g. the bounded
        # __spatial_partitioning_sampled twins) are not part of the
        # user-facing inventory
        udfs = sorted(n for n in session_udfs | set(_registry.bundle()) if not n.startswith("__"))
        rows = (
            [(n, "scalar", "dialect-rename") for n in sorted(_rw._RENAME)]
            + [(n, "scalar", "dialect-template") for n in sorted(_rw._TEMPLATE)]
            + [(n, "scalar", "registered-udf") for n in udfs]
            + [(n.lower(), "routine", "sql") for n in sorted(self.routines)]
            + [(n.lower(), "routine", "python") for n in sorted(self.python_routines)]
        )
        return rows_result(self.spark, rows, "function_name: string, kind: string, source: string")

    def _show_mvs(self, text: str) -> DataFrame:
        # Freshness surface of system.metadata.materialized_views
        # (MaterializedViewSystemTable.java): FRESH iff every source
        # table's on-disk fingerprint still matches the one captured at
        # refresh; UNKNOWN for non-filesystem sources (e.g. jdbc).
        rows = [
            (n, self._mv_freshness(n), self._mv_meta[n]["last_fresh_time"])
            for n in sorted(self.materialized_views)
        ]
        return rows_result(
            self.spark, rows, "name: string, freshness: string, last_fresh_time: string"
        )

    def _explain_statement(self, text: str) -> DataFrame:
        # EXPLAIN [ANALYZE] [(TYPE ...)] <stmt> (ExplainRewrite.java):
        # returns the rendered plan as a one-column relation. TYPE maps
        # onto Spark's explain modes: LOGICAL -> extended (analyzed +
        # optimized logical), DISTRIBUTED -> formatted physical (stage/
        # exchange structure), VALIDATE -> analysis only, IO -> scanned
        # relations summary.
        rest = text.split(None, 1)[1]
        analyze = re.match(r"ANALYZE\b", rest, re.IGNORECASE) is not None
        mode, fmt = "formatted", "TEXT"
        tm = re.match(
            r"\(\s*((?:(?:TYPE|FORMAT)\s+\w+\s*,?\s*)+)\)\s*(.*)$", rest, re.IGNORECASE | re.DOTALL
        )
        if tm:
            opts = {
                k.upper(): v.upper()
                for k, v in re.findall(r"(TYPE|FORMAT)\s+(\w+)", tm.group(1), re.IGNORECASE)
            }
            rest = tm.group(2)
            fmt = opts.get("FORMAT", "TEXT")
            if fmt not in ("TEXT", "JSON"):
                raise ValueError(f"EXPLAIN (FORMAT {fmt}) not supported")
            ttype = opts.get("TYPE", "DISTRIBUTED")
            mode = {
                "LOGICAL": "extended",
                "DISTRIBUTED": "formatted",
                "VALIDATE": "validate",
                "IO": "io",
            }.get(ttype)
            if mode is None:
                raise ValueError(f"EXPLAIN (TYPE {ttype}) not supported")
            if fmt == "JSON" and mode == "validate":
                raise ValueError("EXPLAIN (FORMAT JSON) supports TYPE LOGICAL/DISTRIBUTED/IO")
        if analyze:
            plan = self.explain_analyze(rest.split(None, 1)[1])
        elif mode == "validate":
            self.sql(rest).schema  # analysis only; no execution
            plan = "VALID"
        elif mode == "io":
            logical = self.sql(rest)._jdf.queryExecution().optimizedPlan().toString()
            rels = sorted(set(re.findall(r"FileScan \S+|Relation \[[^\]]*\] \w+", logical)))
            if fmt == "JSON":
                plan = json.dumps({"inputTableColumnInfos": rels})
            else:
                rels = rels or [ln.strip() for ln in logical.splitlines() if "Relation" in ln]
                plan = "\n".join(rels) if rels else logical
        elif fmt == "JSON":
            # ExplainRewrite's JSON rendering: Spark's own plan JSON
            # (TreeNode.toJSON) for the requested plan level
            qe = self.sql(rest)._jdf.queryExecution()
            plan = (qe.optimizedPlan() if mode == "extended" else qe.executedPlan()).toJSON()
        else:
            plan = self.explain(rest, mode=mode)
        return rows_result(self.spark, [(plan,)], "query_plan: string")

    def _set_time_zone(self, text: str) -> DataFrame:
        # SET TIME ZONE (grammar SqlBase.g4; SetTimeZoneTask.java): maps
        # onto Spark's session timezone, which drives timestamp rendering
        # and AT TIME ZONE defaults. LOCAL restores UTC (this engine's
        # canonical zone, session.py).
        arg = text.split(None, 3)[3].strip()
        zone = "UTC" if arg.upper() == "LOCAL" else arg.strip("'")
        self.spark.conf.set("spark.sql.session.timeZone", zone)
        return rows_result(self.spark, [(zone,)], "time_zone: string")

    def _use(self, text: str) -> DataFrame:
        # USE catalog.schema (UseTask.java): single-catalog engine —
        # record the default schema; unqualified names already resolve
        # against the session catalog.
        m = re.fullmatch(r"USE\s+(\S+)\s*", text, re.IGNORECASE)
        if not m:
            raise ValueError(f"cannot parse USE: {text[:80]}")
        self._current_schema = m.group(1).strip('"')
        return rows_result(self.spark, [(self._current_schema,)], "schema: string")

    def _set_authorization(self, text: str) -> DataFrame:
        # #setSessionAuthorization (SetSessionAuthorizationTask.java):
        # switch the session identity; CURRENT_USER reflects it.
        # Impersonation requires a privilege in the reference
        # (checkCanSetUser) — a restricted role must not sidestep
        # CURRENT_USER-based row filters/masks by switching identity, so
        # deny under any active restricted role (the same owner gate as
        # CREATE/DROP CATALOG).
        if self._acl["current"] is not None:
            raise _access.AccessDenied(
                "Access Denied: SET SESSION AUTHORIZATION requires an owner session"
            )
        self.session_user = text.split(None, 3)[3].strip().strip("'\"")
        return rows_result(self.spark, [(self.session_user,)], "user: string")

    def _reset_authorization(self, text: str) -> DataFrame:
        self.session_user = "trino"
        return rows_result(self.spark, [("trino",)], "user: string")

    def _set_session(self, text: str) -> DataFrame:
        # SET SESSION k = v (SystemSessionProperties.java surface):
        # recorded per-engine; spark.* keys pass through to the conf.
        key, val = session_assignment(text)
        self.session_properties[key] = val
        if key.startswith("spark."):
            self.spark.conf.set(key, val)
        return rows_result(self.spark, [(key, val)], "name: string, value: string")

    def _reset_session(self, text: str) -> DataFrame:
        key = text.split()[2]
        self.session_properties.pop(key, None)
        if key.startswith("spark."):
            self.spark.conf.unset(key)
        return rows_result(self.spark, [(key,)], "name: string")

    def _start_transaction(self, text: str) -> DataFrame:
        # Transaction statements (StartTransactionTask.java): DML is
        # copy-on-write, so the transaction pins per-table snapshots
        # (dialect/dml.py txn_*). Access modes are accepted and ignored
        # (single-session engine).
        _dml.txn_begin(self)
        return rows_result(self.spark, [("STARTED",)], "transaction: string")

    def _commit(self, text: str) -> DataFrame:
        _dml.txn_commit(self)
        return rows_result(self.spark, [("COMMIT",)], "transaction: string")

    def _rollback(self, text: str) -> DataFrame:
        _dml.txn_rollback(self)
        return rows_result(self.spark, [("ROLLBACK",)], "transaction: string")

    def _show_create_table(self, text: str) -> DataFrame:
        # SHOW CREATE TABLE (ShowQueriesRewrite.java): rendered DDL.
        name = text.split()[3].strip('"').split(".")[-1].lower()
        cols = ",\n   ".join(c.ddl for c in infoschema.columns(self, name))
        src = self.catalog._sources.get(name)
        rec = self.dml_tables.get(name)
        if rec is not None:
            extra = "".join(f",\n   {k} = '{v}'" for k, v in sorted(rec.properties.items()))
            with_props = f"\nWITH (\n   format = 'PARQUET',\n   location = '{rec.path}'{extra}\n)"
        elif src is not None:
            with_props = f"\nWITH (\n   format = '{src.format.upper()}',\n   location = '{src.path}'\n)"
        else:
            with_props = ""
        about, comment = rec or src, ""
        if about is not None and about.comment is not None:
            comment = f"\nCOMMENT {infoschema.quote(about.comment)}"
        ddl = f"CREATE TABLE {name} (\n   {cols}\n){comment}{with_props}"
        return rows_result(self.spark, [(ddl,)], "create_table: string")

    def _show_create_mv(self, text: str) -> DataFrame:
        name = text.split()[4].strip('"').split(".")[-1].lower()
        if name not in self.materialized_views:
            raise ValueError(f"materialized view not found: {name}")
        ddl = f"CREATE MATERIALIZED VIEW {name} AS\n{self.materialized_views[name]}"
        return rows_result(self.spark, [(ddl,)], "create_materialized_view: string")

    def _show_stats(self, text: str) -> DataFrame:
        target = text.split(None, 3)[3].strip()
        if target.startswith("("):
            # #showStatsForQuery (ShowStatsRewrite.java handles both
            # forms): compute the stats shape over the query result.
            inner = target[1:-1] if target.endswith(")") else target[1:]
            view = f"_show_stats_q_{os.getpid()}"
            self.sql(inner).createOrReplaceTempView(view)
            return infoschema.show_stats(self.spark, view)
        return infoschema.show_stats(self.spark, target.strip('"'), cache=self._stats_cache)

    def _analyze(self, text: str) -> DataFrame:
        # ANALYZE <table> (grammar SqlBase.g4; AnalyzeTask.java + connector
        # collectStatistics): run the one-pass stats aggregation now and
        # persist it on the engine — subsequent SHOW STATS serve the
        # collected statistics without a scan.
        tbl = text.split()[1].strip('"').split(".")[-1].lower()
        self._stats_cache.pop(tbl, None)
        n = infoschema.show_stats(self.spark, tbl, cache=self._stats_cache, populate=True).where(
            "column_name IS NULL"
        ).collect()[0].row_count
        return rows_result(self.spark, [(tbl, int(n or 0))], "table_name: string, rows: bigint")

    def _prepared_params(self, text: str) -> tuple[str, int]:
        """DESCRIBE INPUT|OUTPUT name: the prepared statement and its
        number of `?` parameters."""
        name = text.split()[2].upper()
        if name not in self.prepared:
            raise ValueError(f"prepared statement not found: {name}")
        stmt = self.prepared[name]
        return stmt, sum(1 for t in tokenize(stmt) if t.is_sym("?"))

    def _describe_output(self, text: str) -> DataFrame:
        stmt, n = self._prepared_params(text)
        schema = self.spark.sql(translate(_prep.bind(stmt, ["NULL"] * n))).schema
        return rows_result(
            self.spark,
            [(f.name, trino_type(f.dataType)) for f in schema],
            "column_name string, type string",
        )

    def _describe_input(self, text: str) -> DataFrame:
        n = self._prepared_params(text)[1]
        return rows_result(self.spark, [(i, "unknown") for i in range(n)], "position int, type string")

    def register_table_function(self, name: str, handler: type, return_type: str) -> None:
        """Register a custom PTF (Python UDTF) callable as TABLE(name(...))
        — the user-facing analog of Trino's ConnectorTableFunction SPI."""
        from trino_spark.dialect import ptf as _ptf

        _ptf.register_table_function(self.spark, name, handler, return_type)

    def _mv_refresh(self, name: str) -> int:
        """(Re)materialize a view: run its definition, store parquet, point
        the name at the STORED data (RefreshMaterializedViewOperator).
        Captures a fingerprint of every referenced source table so
        freshness can be decided later without re-running the view."""
        path = os.path.join(_MV_DIR, name)
        df = self.sql(self.materialized_views[name])
        df.write.mode("overwrite").parquet(path)
        stored = read_parquet(self.spark, path)
        stored.createOrReplaceTempView(name)
        self._stats_cache.pop(name, None)  # new data, stale stats
        self._mv_meta[name] = {
            "sources": self._mv_source_fingerprints(self.materialized_views[name]),
            "last_fresh_time": _now().isoformat(),
        }
        return stored.count()

    def _mv_source_fingerprints(self, defn: str) -> dict[str, str | None]:
        """table -> fingerprint for every relation the defining SQL
        reads (tokenizer.structure). None = a source whose snapshot we
        cannot observe (jdbc, temp views) -> freshness UNKNOWN rather
        than a false FRESH."""
        out: dict[str, str | None] = {}
        for ref in structure(tokenize(defn)).relations:
            if not ref.read or ref.shadowed:
                continue
            name = ref.name
            src = self.catalog._sources.get(name)
            if src is not None and src.format != "jdbc" and src.path:
                out[name] = self._fs_fingerprint(src.path)
            elif name in self.materialized_views:
                out[name] = self._fs_fingerprint(os.path.join(_MV_DIR, name))
            else:
                out[name] = None
        return out

    @staticmethod
    def _fs_fingerprint(path: str) -> str | None:
        """Stable digest of (relative path, size, mtime_ns) for every file
        under `path` — the parquet-dir analog of a lakehouse snapshot id."""
        import hashlib

        if not path or not os.path.exists(path):
            return None
        entries = []
        if os.path.isfile(path):
            st = os.stat(path)
            entries.append(("", st.st_size, st.st_mtime_ns))
        else:
            for root, _dirs, files in os.walk(path):
                for f in sorted(files):
                    fp = os.path.join(root, f)
                    st = os.stat(fp)
                    entries.append((os.path.relpath(fp, path), st.st_size, st.st_mtime_ns))
        h = hashlib.md5(repr(sorted(entries)).encode()).hexdigest()
        return h

    def _mv_freshness(self, name: str) -> str:
        meta = self._mv_meta.get(name)
        if meta is None:
            return "UNKNOWN"
        for tbl, fp in meta["sources"].items():
            src = self.catalog._sources.get(tbl)
            if fp is None or src is None:
                return "UNKNOWN"
            if self._fs_fingerprint(src.path) != fp:
                return "STALE"
        return "FRESH"

    def explain(self, trino_sql: str, mode: str = "formatted") -> str:
        """EXPLAIN wrapper (reference: ExplainRewrite.java /
        main/operator/ExplainAnalyzeOperator.java:35)."""
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.sql(trino_sql).explain(mode=mode)
        return buf.getvalue()

    def explain_analyze(self, trino_sql: str) -> str:
        """EXPLAIN ANALYZE: execute, then render the final (AQE-resolved)
        physical plan with PER-OPERATOR runtime statistics — the role of
        Trino's ExplainAnalyzeOperator
        (main/operator/ExplainAnalyzeOperator.java:35). The query runs
        through its own QueryExecution (rows discarded executor-side), so
        each node's SQLMetrics are populated; AQE query stages are
        flattened into one tree."""
        df = self.sql(trino_sql)
        qe = df._jdf.queryExecution()
        qe.toRdd().count()  # execute THIS plan; output stays on executors
        plan = qe.executedPlan()
        try:
            final = plan.executedPlan()  # AdaptiveSparkPlanExec final plan
        except Exception:
            final = plan
        # metric keys worth a line in the report, highest-signal first
        preferred = (
            "numOutputRows", "numFiles", "filesSize", "scanTime", "aggTime",
            "sortTime", "buildTime", "collectTime", "shuffleRecordsWritten",
            "dataSize", "numPartitions", "peakMemory", "spillSize",
        )
        lines: list[str] = []

        def walk(node, depth: int) -> None:
            name = node.nodeName()
            if "QueryStage" in name:
                walk(node.plan(), depth)
                return
            if name.startswith("WholeStageCodegen") or name == "InputAdapter":
                for i in range(node.children().size()):
                    walk(node.children().apply(i), depth)
                return
            mets: dict[str, int] = {}
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                mets[kv._1()] = kv._2().value()
            shown = [k for k in preferred if k in mets]
            shown += [k for k in sorted(mets) if k not in preferred and mets[k]][:3]
            stats = ", ".join(f"{k}={mets[k]}" for k in shown[:6])
            lines.append("  " * depth + name + (f" [{stats}]" if stats else ""))
            for i in range(node.children().size()):
                walk(node.children().apply(i), depth + 1)

        try:
            walk(final, 0)
            return "\n".join(lines)
        except Exception:
            # py4j tree-walk is best-effort; the executed plan string still
            # reflects the AQE-final shape
            return plan.toString()


def _text(toks: list[Tok]) -> str:
    """A statement's text from its first keyword, without the trailing ';'."""
    return render(toks[lead(toks) :]).strip().rstrip(";")


def _niladics(engine: TrinoEngine, toks: list[Tok]) -> list[Tok]:
    """Replace, in place, the session niladics among the WORD tokens (never
    text in a literal, a comment or a quoted identifier) with their values:
    CURRENT_USER (#currentUser) reflects SET SESSION AUTHORIZATION;
    version() (#version) is the engine release; current_schema, neither
    qualified nor qualifying, is the USE-tracked schema (translate() maps
    it to current_database() for raw spark.sql callers); current_groups()
    (#currentGroups) is the active role, our identity model being roles
    (empty for the owner session)."""
    for i in range(len(toks) - 1, -1, -1):  # right to left: earlier indices stay put
        u = toks[i].text.upper() if toks[i].kind == "WORD" else ""
        if u not in _NILADICS:
            continue
        k = next_code(toks, i + 1)
        p = prev_code(toks, i - 1)
        qualified = p >= 0 and toks[p].is_sym(".")
        after = toks[k].text if k < len(toks) and toks[k].kind == "SYM" else ""
        end = next_code(toks, k + 1) if after == "(" else len(toks)
        call = end < len(toks) and toks[end].is_sym(")")
        if u == "CURRENT_USER":
            value, end = infoschema.quote(engine.session_user), i
        elif u == "CURRENT_SCHEMA" and after not in (".", "(") and not qualified:
            value, end = infoschema.quote(engine._current_schema), i
        elif u == "VERSION" and call:
            from trino_spark import __version__

            value = infoschema.quote(__version__)
        elif u == "CURRENT_GROUPS" and call:
            role = engine._acl["current"]
            value = f"array({infoschema.quote(role)})" if role else "CAST(array() AS ARRAY<STRING>)"
        else:
            continue
        toks[i : end + 1] = tokenize(value)
    return toks


_NILADICS = frozenset({"CURRENT_USER", "CURRENT_SCHEMA", "VERSION", "CURRENT_GROUPS"})


def session_assignment(text: str) -> tuple[str, str]:
    """`SET SESSION k = v` -> (k, v): the value the engine records, which
    the HTTP server also hands back to the client."""
    key, _, val = text.split(None, 2)[2].partition("=")
    return key.strip(), val.strip().strip("'")


# Every statement kind that is not a query, by its head (tokenizer.head):
# the function that runs it, and whether access.enforce checks it first.
# The longest head a statement starts with wins. An unchecked statement
# runs before relation resolution and access.enforce, on its text as
# written: the prepared-statement, routine and CREATE VIEW statements,
# whose inner statements are dispatched (and checked) on their own, and
# the role, grant, comment and CALL statements.
_STATEMENTS: dict[str, tuple[Callable[[TrinoEngine, str], DataFrame], bool]] = {
    "WITH FUNCTION": (TrinoEngine._with_function, False),
    "PREPARE": (TrinoEngine._prepare, False),
    "DEALLOCATE": (TrinoEngine._deallocate, False),
    "EXECUTE": (TrinoEngine._execute, False),
    "EXECUTE IMMEDIATE": (TrinoEngine._execute_immediate, False),
    "CREATE FUNCTION": (TrinoEngine._create_function, False),
    "CREATE OR REPLACE FUNCTION": (TrinoEngine._create_function, False),
    "DROP FUNCTION": (TrinoEngine._drop_function, False),
    "SHOW CREATE FUNCTION": (TrinoEngine._show_create_function, False),
    "SET PATH": (TrinoEngine._set_path, False),
    "CREATE ROLE": (_access.create_role, False),
    "DROP ROLE": (_access.drop_role, False),
    "SET ROLE": (_access.set_role, False),
    "SHOW ROLES": (_access.show_roles, False),
    "SHOW CURRENT ROLES": (_access.show_current_roles, False),
    "SHOW ROLE GRANTS": (_access.show_role_grants, False),
    "SHOW GRANTS": (_access.show_grants, False),
    "GRANT": (_access.grant, False),
    "REVOKE": (_access.revoke, False),
    "DENY": (_access.deny, False),
    "COMMENT ON TABLE": (_access.comment_on_table, False),
    "COMMENT ON COLUMN": (_access.comment_on_column, False),
    "CALL": (_access.call, False),
    "CREATE BRANCH": (_branches.create_branch, True),
    "CREATE OR REPLACE BRANCH": (_branches.create_branch, True),
    "DROP BRANCH": (_branches.drop_branch, True),
    "ALTER BRANCH": (_branches.fast_forward, True),
    "SHOW BRANCHES": (_branches.show_branches, True),
    # every table write (SURVEY §3.3): read once, then written by the
    # managed table or a mounted catalog (dml.try_execute, looked up at
    # call time)
    **dict.fromkeys(
        ("CREATE TABLE", "INSERT INTO", "DELETE FROM", "UPDATE", "MERGE INTO", "TRUNCATE TABLE",
         "DROP TABLE"),
        (lambda engine, text: _dml.try_execute(engine, text), True),
    ),
    "ALTER TABLE": (_dml.alter_table, True),
    "SHOW CREATE TABLE": (TrinoEngine._show_create_table, True),
    "CREATE VIEW": (_dml.create_view, False),
    "CREATE OR REPLACE VIEW": (_dml.create_view, False),
    "DROP VIEW": (_dml.drop_view, True),
    "ALTER VIEW": (_dml.alter_view, True),
    "SHOW CREATE VIEW": (_dml.show_create_view, True),
    "CREATE MATERIALIZED VIEW": (TrinoEngine._create_mv, True),
    "CREATE OR REPLACE MATERIALIZED VIEW": (TrinoEngine._create_mv, True),
    "REFRESH MATERIALIZED VIEW": (TrinoEngine._refresh_mv, True),
    "DROP MATERIALIZED VIEW": (TrinoEngine._drop_mv, True),
    "ALTER MATERIALIZED VIEW": (_dml.alter_materialized_view, True),
    "SHOW MATERIALIZED VIEWS": (TrinoEngine._show_mvs, True),
    "SHOW CREATE MATERIALIZED VIEW": (TrinoEngine._show_create_mv, True),
    "CREATE SCHEMA": (_dml.create_schema, True),
    "DROP SCHEMA": (_dml.drop_schema, True),
    "ALTER SCHEMA": (_dml.alter_schema, True),
    "SHOW CREATE SCHEMA": (_dml.show_create_schema, True),
    "CREATE CATALOG": (_cats.create_catalog, True),
    "DROP CATALOG": (_cats.drop_catalog, True),
    "SHOW SESSION": (TrinoEngine._show_session, True),
    "SET SESSION": (TrinoEngine._set_session, True),
    "RESET SESSION": (TrinoEngine._reset_session, True),
    "SET SESSION AUTHORIZATION": (TrinoEngine._set_authorization, True),
    "RESET SESSION AUTHORIZATION": (TrinoEngine._reset_authorization, True),
    "SET TIME ZONE": (TrinoEngine._set_time_zone, True),
    "USE": (TrinoEngine._use, True),
    "START TRANSACTION": (TrinoEngine._start_transaction, True),
    "COMMIT": (TrinoEngine._commit, True),
    "ROLLBACK": (TrinoEngine._rollback, True),
    "SHOW FUNCTIONS": (TrinoEngine._show_functions, True),
    "SHOW STATS FOR": (TrinoEngine._show_stats, True),
    "ANALYZE": (TrinoEngine._analyze, True),
    "EXPLAIN": (TrinoEngine._explain_statement, True),
    "DESCRIBE OUTPUT": (TrinoEngine._describe_output, True),
    "DESCRIBE INPUT": (TrinoEngine._describe_input, True),
    "DESCRIBE": (infoschema.describe, True),
    "SHOW COLUMNS": (infoschema.describe, True),
    # SHOW TABLES/SCHEMAS/CATALOGS: a SELECT over information_schema,
    # dispatched like any other statement (ShowQueriesRewrite.java)
    **{h: (lambda e, s, f=f: e.sql(f(s)), True) for h, f in infoschema.SHOWS.items()},
}


def _statement(words: list[str]) -> tuple[Callable[[TrinoEngine, str], DataFrame] | None, bool]:
    """The _STATEMENTS entry of the longest head `words` start with;
    (None, True) for a query."""
    for k in range(len(words), 0, -1):
        entry = _STATEMENTS.get(" ".join(words[:k]))
        if entry is not None:
            return entry
    return None, True
