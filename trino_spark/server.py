"""HTTP SQL entry point — the wire-level analog of Trino's client protocol.

Reference (SURVEY.md §3.1): client POST /v1/statement
(main/dispatcher/QueuedStatementResource.java:110) → dispatch → execute →
client polls nextUri (main/server/protocol/ExecutingStatementResource.java:67);
each response carries {id, columns, data, stats, nextUri?} pages.

This module serves that protocol shape over TrinoEngine: POST /v1/statement
runs `engine.sql(text)` and the client pulls fixed-size pages via nextUri
until exhausted — same three-state lifecycle (QUEUED page with nextUri →
executing pages with data → final page without nextUri) the reference
emits, minus auth/resource groups. Columns carry Trino-style type names
(bigint/varchar/double/...) mapped from the Spark schema.

Threaded stdlib server (no deps). Executing a statement collects the
result into the server's page store; this endpoint is a CONTROL-plane
surface for interactive clients — bulk data still belongs in
DataFrame/parquet land, exactly like the reference's protocol, which also
streams result pages through the coordinator.

Spooled protocol (client/trino-client/.../spooling/, protocol v1 spooled
segments): a client that submits with the X-Trino-Query-Data-Encoding:
json+spooled header gets result pages spooled to segment files instead of
inline rows — each poll returns segment descriptors {uri, rowCount} and
the client fetches segment bodies separately (GET /v1/spooled/...). This
is how the reference moves large results off the coordinator's hot path;
here segments live under spark-warehouse/spool/<qid>/ and are deleted
when the query is drained or cancelled.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from trino_spark.dialect.types import trino_type

PAGE_ROWS = 1000


def _json_cell(v):
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (list, tuple)):
        return [_json_cell(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _json_cell(x) for k, x in v.items()}
    if hasattr(v, "asDict"):
        return {k: _json_cell(x) for k, x in v.asDict().items()}
    return str(v)


class _QueryState:
    def __init__(
        self,
        record,
        columns: list[dict],
        rows: list[list],
        spooled: bool = False,
        encoding: str = "json",
    ):
        self.record = record  # the engine's QueryRecord for this statement
        self.qid = record.query_id
        self.columns = columns
        self.rows = rows
        self.offset = 0
        self.error: dict | None = None
        self.spooled = spooled
        self.encoding = encoding  # negotiated spooled-segment encoding
        self.segments: list[dict] = []  # spooled-mode segment descriptors
        self.total_rows: int = len(rows)

    def stats(self, state: str) -> dict:
        """Trino-shaped stats block (QueryResults.stats: state, elapsed,
        processed rows — the fields interactive clients render)."""
        return {
            "state": state,
            "elapsedTimeMillis": self.record.elapsed_ms,
            "processedRows": self.total_rows,
        }


class _Refused(RuntimeError):
    """An admission refusal; `error_name` is its protocol errorName."""

    def __init__(self, message: str, error_name: str):
        super().__init__(message)
        self.error_name = error_name


def _error(exc: Exception) -> dict:
    return {
        "message": str(exc).split("\n")[0][:500],
        "errorName": getattr(exc, "error_name", type(exc).__name__),
    }


class ResourceGroup:
    """Admission-control group (reference: resource-groups plugin,
    io.trino.execution.resourcegroups.InternalResourceGroup): a hard
    concurrency limit plus a bounded FIFO wait queue. `hardConcurrencyLimit`
    / `maxQueued` are the two knobs every reference deployment sets."""

    def __init__(self, name: str, max_concurrent: int = 16, max_queued: int = 64):
        self.name = name
        self.max_concurrent = max_concurrent
        self.max_queued = max_queued
        self.running = 0
        self.queued = 0
        self.total_admitted = 0
        self._cv = threading.Condition()

    def acquire(self) -> None:
        """Block until a slot frees; raise when the wait queue is full
        (QUERY_QUEUE_FULL — QueuedStatementResource rejects, not waits)."""
        with self._cv:
            if self.running >= self.max_concurrent:
                if self.queued >= self.max_queued:
                    raise RuntimeError(
                        f"Too many queued queries for resource group {self.name!r} "
                        f"(maxQueued {self.max_queued}) [QUERY_QUEUE_FULL]"
                    )
                self.queued += 1
                try:
                    self._cv.wait_for(lambda: self.running < self.max_concurrent)
                finally:
                    self.queued -= 1
            self.running += 1
            self.total_admitted += 1

    def release(self) -> None:
        with self._cv:
            self.running = max(0, self.running - 1)
            self._cv.notify()


class TrinoHttpServer:
    """Minimal /v1/statement server over a TrinoEngine."""

    def __init__(
        self,
        engine,
        host: str = "127.0.0.1",
        port: int = 0,
        resource_groups: dict[str, ResourceGroup] | None = None,
        group_selector=None,
    ):
        self.engine = engine
        self._queries: dict[str, _QueryState] = {}
        self._lock = threading.Lock()
        # Admission control: selector maps the request user to a group
        # name (reference: resource-group selector rules on user/source);
        # default routes everyone to 'global'.
        self.resource_groups = resource_groups or {"global": ResourceGroup("global")}
        self._group_selector = group_selector or (lambda user: "global")
        # Serializes requests whose per-request state overlay (session
        # properties / prepared statements / SET SESSION statements)
        # mutates shared engine state — see _submit.
        self._state_mutex = threading.RLock()
        # Spooled segments served so far and segment counts, per query.
        self._spool_served: dict[str, set] = {}
        self._spool_counts: dict[str, int] = {}
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence request logging
                pass

            def _send(self, code: int, payload: dict, headers: dict | None = None):
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                for k, v in (headers or {}).items():
                    self.send_header(k, v)
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):
                if self.path != "/v1/statement":
                    self._send(404, {"error": "not found"})
                    return
                n = int(self.headers.get("Content-Length", 0))
                sql = self.rfile.read(n).decode()
                enc = self.headers.get("X-Trino-Query-Data-Encoding", "")
                resp = outer._submit(
                    sql,
                    spooled="spooled" in enc,
                    encoding=outer._negotiate_encoding(enc),
                    session=outer._parse_header(self.headers.get("X-Trino-Session", "")),
                    user=self.headers.get("X-Trino-User", "trino"),
                    prepared={
                        k.upper(): v
                        for k, v in outer._parse_header(
                            self.headers.get("X-Trino-Prepared-Statement", "")
                        ).items()
                    },
                )
                self._send(200, resp, resp.pop("_http_headers", None))

            def do_GET(self):
                parts = self.path.strip("/").split("/")
                # /v1/info: server identity + liveness (reference:
                # ServerInfoResource — the endpoint every client pings)
                if parts == ["v1", "info"]:
                    import time as _time

                    self._send(
                        200,
                        {
                            "nodeVersion": {"version": outer.engine_version()},
                            "environment": "spark",
                            "coordinator": True,
                            "starting": False,
                            "uptime": f"{_time.time() - outer._started_at:.2f}s",
                        },
                    )
                    return
                # /v1/resourceGroups: admission stats (reference: the
                # resource-group JMX/system surface)
                if parts == ["v1", "resourceGroups"]:
                    self._send(200, {"groups": outer.resource_group_stats()})
                    return
                # /v1/statement/executing/<qid>/<token>
                if len(parts) >= 4 and parts[:3] == ["v1", "statement", "executing"]:
                    page = outer._page(parts[3])
                    if page is None:
                        self._send(404, {"error": "unknown query"})
                    else:
                        self._send(200, page)
                    return
                # /v1/spooled/<qid>/<segment>: spooled segment body
                if len(parts) >= 4 and parts[:2] == ["v1", "spooled"]:
                    body = outer._segment(parts[2], parts[3])
                    if body is None:
                        self._send(404, {"error": "unknown segment"})
                    else:
                        self.send_response(200)
                        self.send_header("Content-Type", "application/json")
                        self.send_header("Content-Length", str(len(body)))
                        self.end_headers()
                        self.wfile.write(body)
                    return
                self._send(404, {"error": "not found"})

            def do_DELETE(self):
                # Cancellation: clients DELETE the nextUri to abandon a
                # query (Query.java cancel path); remaining pages are
                # discarded, spool segments deleted, further polls 404.
                parts = self.path.strip("/").split("/")
                if len(parts) >= 4 and parts[:3] == ["v1", "statement", "executing"]:
                    with outer._lock:
                        existed = outer._queries.pop(parts[3], None) is not None
                    outer._drop_spool(parts[3])
                    self._send(204 if existed else 404, {})
                    return
                self._send(404, {"error": "not found"})

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        import time as _time

        self._started_at = _time.time()

    @staticmethod
    def engine_version() -> str:
        from trino_spark import __version__

        return __version__

    # -- lifecycle ---------------------------------------------------------
    def start(self) -> "TrinoHttpServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()

    def url(self) -> str:
        return f"http://127.0.0.1:{self.port}"

    # -- spooling ----------------------------------------------------------
    _QID_RX = re.compile(r"^[0-9a-f]{16}$")

    @staticmethod
    def segment_codecs() -> dict:
        """Supported spooled-segment encodings → (compress, decompress).

        Reference parity (client/trino-client/.../spooling/encoding/):
        `json` and `json+zstd`. zstd needs the `zstandard` module — absent
        in this container, so it is an honest import gate (negotiation
        falls back to plain json). `json+zlib` is an ENGINE EXTENSION
        (stdlib-only) so compressed round-trips stay testable anywhere.
        """
        import zlib

        codecs: dict = {"json": (lambda b: b, lambda b: b)}
        try:  # pragma: no cover - zstandard not installed here
            import zstandard

            codecs["json+zstd"] = (
                lambda b: zstandard.ZstdCompressor().compress(b),
                lambda b: zstandard.ZstdDecompressor().decompress(b),
            )
        except ImportError:
            pass
        codecs["json+zlib"] = (zlib.compress, zlib.decompress)
        return codecs

    def _negotiate_encoding(self, header: str) -> str:
        """First client-preferred encoding the server supports (the
        reference negotiates the spooling encoding the same way: client
        sends an ordered list, server picks). Plain `json` on no match."""
        codecs = self.segment_codecs()
        for token in header.split(","):
            token = token.strip().lower().replace("+spooled", "")
            if token in codecs:
                return token
        return "json"

    def _spool_dir(self, qid: str) -> str:
        import os

        # query ids are uuid hex; anything else (e.g. '..') is a path
        # traversal attempt — rmtree/open must never leave the spool root
        if not self._QID_RX.match(qid):
            raise ValueError(f"invalid query id: {qid!r}")
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        return os.path.join(repo, "spark-warehouse", "spool", qid)

    def _spool(self, st: _QueryState) -> None:
        """Write result rows to PAGE_ROWS-sized JSON segment files; the
        query state keeps only descriptors (protocol v1 spooled segments:
        the coordinator hands out segment locations, not data)."""
        import os

        d = self._spool_dir(st.qid)
        os.makedirs(d, exist_ok=True)
        compress = self.segment_codecs()[st.encoding][0]
        for i in range(0, max(len(st.rows), 1), PAGE_ROWS):
            chunk = st.rows[i : i + PAGE_ROWS]
            seg = i // PAGE_ROWS
            raw = json.dumps(chunk).encode()
            body = compress(raw)
            with open(os.path.join(d, f"seg{seg}.json"), "wb") as fh:
                fh.write(body)
            st.segments.append(
                {
                    "uri": f"{self.url()}/v1/spooled/{st.qid}/{seg}",
                    "rowCount": len(chunk),
                    # DataAttributes of the reference's spooled metadata:
                    # the client needs both to size its decode buffer
                    "segmentSize": len(body),
                    "uncompressedSize": len(raw),
                }
            )
        st.rows = []
        self._spool_served[st.qid] = set()
        self._spool_counts[st.qid] = len(st.segments)

    def _segment(self, qid: str, seg: str) -> bytes | None:
        import os

        try:
            path = os.path.join(self._spool_dir(qid), f"seg{int(seg)}.json")
            with open(path, "rb") as fh:
                body = fh.read()
        except (OSError, ValueError):
            return None
        served = self._spool_served.get(qid)
        if served is not None:
            served.add(int(seg))
            if len(served) >= self._spool_counts.get(qid, 0):
                # fully drained: segments are single-use, like the
                # reference's spooled segment ack/expiry
                self._drop_spool(qid)
                self._spool_served.pop(qid, None)
                self._spool_counts.pop(qid, None)
        return body

    def _drop_spool(self, qid: str) -> None:
        import shutil

        try:
            d = self._spool_dir(qid)
        except ValueError:
            return
        shutil.rmtree(d, ignore_errors=True)

    def resource_group_stats(self) -> list[dict]:
        return [
            {
                "name": g.name,
                "maxConcurrent": g.max_concurrent,
                "maxQueued": g.max_queued,
                "running": g.running,
                "queued": g.queued,
                "totalAdmitted": g.total_admitted,
            }
            for g in self.resource_groups.values()
        ]

    # -- session properties over headers ------------------------------------
    @staticmethod
    def _parse_header(header: str) -> dict[str, str]:
        """k=urlencoded_v,k2=... — the client-held state carried on every
        request (ProtocolHeaders requestSession / requestPreparedStatement;
        the reference server is stateless). Values are URL-encoded (as in
        the reference client) so a value containing ',' or '=' survives the
        comma-joined header."""
        import urllib.parse

        out: dict[str, str] = {}
        for part in header.split(","):
            k, eq, v = part.strip().partition("=")
            if eq:
                out[k.strip()] = urllib.parse.unquote_plus(v.strip())
        return out

    def _session_response_headers(self, sql: str) -> dict:
        """SET/RESET SESSION statements answer with X-Trino-Set-Session /
        X-Trino-Clear-Session so the CLIENT carries the state forward
        (QueryResource / ProtocolHeaders.responseSetSession semantics);
        PREPARE, DEALLOCATE PREPARE and USE likewise. The statement's kind
        is read from its head, as the engine reads it."""
        import urllib.parse

        from trino_spark.dialect import prepared as _prep
        from trino_spark.dialect.engine import session_assignment
        from trino_spark.dialect.tokenizer import head, lead, render, tokenize

        toks = tokenize(sql)
        words = head(toks)
        text = render(toks[lead(toks) :]).strip().rstrip(";")
        kind = " ".join(words[:2])
        if kind == "SET SESSION" and words[2:3] != ["AUTHORIZATION"] and "=" in text:
            # the engine's own key and value (engine.session_assignment),
            # so the client re-sends EXACTLY the stored value; URL-encoded
            # so ',' / '=' in the value survive the header.
            key, val = session_assignment(text)
            return {"X-Trino-Set-Session": f"{key}={urllib.parse.quote_plus(val)}"}
        if kind == "RESET SESSION" and words[2:3] != ["AUTHORIZATION"] and len(text.split()) > 2:
            return {"X-Trino-Clear-Session": text.split()[2]}
        if words[:1] == ["PREPARE"]:
            # PREPARE name FROM stmt → X-Trino-Added-Prepare so the CLIENT
            # holds the definition (responseAddedPrepare).
            try:
                name, body = _prep.parse_prepare(text)
            except (ValueError, IndexError):
                return {}
            return {"X-Trino-Added-Prepare": f"{name.lower()}={urllib.parse.quote_plus(body)}"}
        if kind == "DEALLOCATE PREPARE" and len(text.split()) == 3:
            return {"X-Trino-Deallocated-Prepare": text.split()[2].lower()}
        if words[:1] == ["USE"] and len(text.split()) == 2:
            # USE [catalog.]schema answers X-Trino-Set-Catalog/Schema
            # (UseTask.java + ProtocolHeaders.responseSetCatalog/Schema).
            target = text.split()[1].strip('"')
            if "." in target:
                cat, _, sch = target.partition(".")
                return {"X-Trino-Set-Catalog": cat, "X-Trino-Set-Schema": sch}
            return {"X-Trino-Set-Schema": target}
        return {}

    # -- protocol ----------------------------------------------------------
    def _submit(
        self,
        sql: str,
        spooled: bool = False,
        encoding: str = "json",
        session: dict[str, str] | None = None,
        user: str = "trino",
        prepared: dict[str, str] | None = None,
    ) -> dict:
        # One query record per statement (engine.QueryRegistry): its id is
        # the response id, the Spark job group and the kill_query target;
        # it is bound to this thread so engine.sql reuses it, and it closes
        # in the finally below on every exit path.
        queries = self.engine.queries
        rec = queries.open(sql, user)
        qid = rec.query_id
        st = _QueryState(rec, [], [])
        # Statement-level session effects (SET/RESET SESSION) answer via
        # response headers and must NOT leak into the shared engine — the
        # protocol is stateless-server: the CLIENT carries the property
        # forward. Pre-compute the affected key so the restore loop also
        # reverts the engine-global mutation the statement performs.
        stmt_hdrs = self._session_response_headers(sql)
        sc = self.engine.spark.sparkContext
        saved: dict[str, str | None] = {}
        saved_prep: dict[str, str | None] = {}
        group = None
        # Requests carrying per-request state (session properties, prepared
        # statements, or a SET/RESET SESSION statement) serialize among
        # themselves: the overlay save/apply/restore mutates shared engine
        # and Spark-conf state, and two concurrent overlays would restore
        # each other's values (header-less requests stay fully concurrent).
        needs_mutex = False
        try:
            # Admission control: route to the user's resource group and
            # take a slot (blocks while the group is at
            # hardConcurrencyLimit; rejects when its wait queue is full —
            # QUERY_QUEUE_FULL). A selector that resolves to no configured
            # group (and no 'global' default) REJECTS the query — the
            # reference likewise fails a query matching no resource-group
            # selector rather than silently skipping admission.
            gname = self._group_selector(user)
            group = self.resource_groups.get(gname) or self.resource_groups.get("global")
            if group is None and self.resource_groups:
                raise _Refused(
                    f"Query did not match any resource group (selector -> {gname!r})",
                    "QUERY_REJECTED",
                )
            if group is not None:
                try:
                    group.acquire()
                except RuntimeError as exc:
                    group = None  # no slot taken, none to release
                    raise _Refused(str(exc), "QUERY_QUEUE_FULL") from None
            queries.start(rec)
            needs_mutex = bool(session or prepared or stmt_hdrs)
            if needs_mutex:
                self._state_mutex.acquire()
            sc.setJobGroup(qid, sql.strip()[:80], interruptOnCancel=True)
            queries.bind(rec)

            def _check_killed() -> None:
                # kill_query marks the record, so a kill that landed while
                # the query was still planning (no active Spark job to
                # cancel) still terminates it at the next checkpoint.
                if rec.killed:
                    raise RuntimeError("Query killed by operator via kill_query")

            # Per-request session properties from X-Trino-Session: applied
            # for this statement, restored after (the reference's
            # per-request session construction from protocol headers).
            for k, v in (session or {}).items():
                saved[k] = self.engine.session_properties.get(k)
                self.engine.session_properties[k] = v
                if k.startswith("spark."):
                    self.engine.spark.conf.set(k, v)
            skey = None
            if "X-Trino-Set-Session" in stmt_hdrs:
                skey = stmt_hdrs["X-Trino-Set-Session"].partition("=")[0]
            elif "X-Trino-Clear-Session" in stmt_hdrs:
                skey = stmt_hdrs["X-Trino-Clear-Session"]
            if skey is not None and skey not in saved:
                saved[skey] = self.engine.session_properties.get(skey)
            # Client-held prepared statements (X-Trino-Prepared-Statement):
            # installed for this request so EXECUTE name resolves, restored
            # after — the stateless-server flow of the reference protocol.
            for k, v in (prepared or {}).items():
                saved_prep[k] = self.engine.prepared.get(k)
                self.engine.prepared[k] = v
            _check_killed()
            df = self.engine.sql(sql)
            _check_killed()
            columns = [{"name": f.name, "type": trino_type(f.dataType)} for f in df.schema]
            rows = [[_json_cell(v) for v in row] for row in df.collect()]
            _check_killed()
            st = _QueryState(rec, columns, rows, spooled=spooled, encoding=encoding)
            if spooled:
                self._spool(st)
        except Exception as exc:
            # Admission refusals, query errors and OVERLAY errors (e.g. a
            # session property Spark refuses to set) all become a
            # Trino-style error payload; the handler never crashes and the
            # finally below still restores state and releases the slot.
            st = _QueryState(rec, [], [])
            st.error = _error(exc)
        finally:
            queries.bind(None)
            queries.close(rec, None if st.error is None else st.error["message"])
            try:
                sc.setLocalProperty("spark.jobGroup.id", None)
            except Exception:
                pass
            # Restore order: prepared, then session (covers partially-
            # applied overlays — `saved*` only holds what was applied).
            for k, old in saved_prep.items():
                if old is None:
                    self.engine.prepared.pop(k, None)
                else:
                    self.engine.prepared[k] = old
            for k, old in saved.items():
                if old is None:
                    self.engine.session_properties.pop(k, None)
                else:
                    self.engine.session_properties[k] = old
                if k.startswith("spark."):
                    try:
                        if old is None:
                            self.engine.spark.conf.unset(k)
                        else:
                            self.engine.spark.conf.set(k, old)
                    except Exception:
                        # a static conf that refused the SET also refuses
                        # the restore — nothing was applied, nothing to undo
                        pass
            if needs_mutex:
                self._state_mutex.release()
            if group is not None:
                group.release()
        with self._lock:
            self._queries[qid] = st
        # QUEUED-style first response: no data yet, client follows nextUri
        # (QueuedStatementResource.java:172 shape)
        resp = {"id": qid, "stats": {"state": "QUEUED"}}
        if st.error is not None:
            resp["stats"] = {"state": "FAILED"}
            resp["error"] = st.error
        else:
            resp["nextUri"] = f"{self.url()}/v1/statement/executing/{qid}/0"
            if stmt_hdrs:
                resp["_http_headers"] = stmt_hdrs
        return resp

    def _page(self, qid: str) -> dict | None:
        with self._lock:
            st = self._queries.get(qid)
        if st is None:
            return None
        if st.error is not None:
            return {"id": qid, "stats": {"state": "FAILED"}, "error": st.error}
        if st.spooled:
            # one response carrying every segment descriptor; the client
            # fetches bodies via the spooled URIs (EncodedQueryData shape)
            with self._lock:
                self._queries.pop(qid, None)
            return {
                "id": qid,
                "columns": st.columns,
                "data": {"encoding": st.encoding, "segments": st.segments},
                "stats": st.stats("FINISHED"),
            }
        page = st.rows[st.offset : st.offset + PAGE_ROWS]
        st.offset += len(page)
        resp = {
            "id": qid,
            "columns": st.columns,
            "data": page,
            "stats": st.stats("FINISHED" if st.offset >= len(st.rows) else "RUNNING"),
        }
        if st.offset < len(st.rows):
            resp["nextUri"] = f"{self.url()}/v1/statement/executing/{qid}/{st.offset}"
        else:
            with self._lock:
                self._queries.pop(qid, None)
        return resp


def fetch_all(
    base_url: str, sql: str, spooled: bool = False, encoding: str | None = None
) -> tuple[list[dict], list[list]]:
    """Tiny reference client: POST then follow nextUri pages (the loop every
    Trino client implements). With spooled=True it requests the spooled
    encoding and fetches segment bodies from their URIs — the
    client/trino-client spooling flow. `encoding` prepends a preferred
    segment encoding (e.g. 'json+zstd') to the negotiation header; the
    client decodes whatever the server's response says it picked."""
    import urllib.request

    headers = {}
    if spooled or encoding:
        prefs = ([encoding] if encoding else []) + ["json+spooled" if spooled else "json"]
        headers["X-Trino-Query-Data-Encoding"] = ",".join(prefs)
    req = urllib.request.Request(
        f"{base_url}/v1/statement", data=sql.encode(), method="POST", headers=headers
    )
    resp = json.loads(urllib.request.urlopen(req).read())
    columns: list[dict] = []
    rows: list[list] = []
    while True:
        if "error" in resp:
            raise RuntimeError(resp["error"]["message"])
        columns = resp.get("columns") or columns
        data = resp.get("data")
        if isinstance(data, dict) and "segments" in data:
            decode = TrinoHttpServer.segment_codecs()[data.get("encoding", "json")][1]
            for seg in data["segments"]:
                body = decode(urllib.request.urlopen(seg["uri"]).read())
                rows.extend(json.loads(body))
        else:
            rows.extend(data or [])
        nxt = resp.get("nextUri")
        if not nxt:
            return columns, rows
        resp = json.loads(urllib.request.urlopen(nxt).read())
