"""Table branches over the snapshot log — the write-audit-publish
workflow.

Reference surface: grammar ``SqlBase.g4`` #createBranch / #dropBranch /
#fastForwardBranch / #showBranches plus the ``t@branch`` suffix on
INSERT/DELETE/UPDATE targets and table references (SqlBase.g4:80,82,217,
221; analyzer BRANCH_NOT_FOUND in StatementAnalyzer.java:609). In the
reference this maps onto Iceberg branch refs; here a branch is an
engine-managed FORK of the table:

- ``CREATE BRANCH b IN TABLE t`` hardlink-copies the current table
  version into a branch directory (metadata cost only — the data files
  are shared inodes, exactly like the snapshot carry) and gives the
  branch its OWN snapshot log.
- Reads and DML on ``t@b`` resolve to the branch fork and flow through
  the SAME partition-scoped copy-on-write machinery as the main table —
  branch commits never touch main's log, so a 100 TB staging write is
  isolated by construction.
- ``ALTER BRANCH main IN TABLE t FAST FORWARD TO b`` publishes the
  branch content as a new main-table snapshot (the audit-then-publish
  step). Unlike Iceberg we adopt CONTENT rather than splice ref
  ancestry — simpler, and time travel on main still sees the publish as
  one commit.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame

from trino_spark.catalog import read_parquet
from trino_spark.dialect.dml import (
    _commit,
    _link_tree,
    _managed,
    _read_log,
    _snap_root,
    _warehouse_dir,
    refresh_infoschema,
    rows_result,
)

_CREATE_RX = re.compile(
    r"CREATE\s+(?:OR\s+REPLACE\s+)?BRANCH\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<branch>\w+)\s+"
    r"(?:WITH\s*\([^)]*\)\s+)?IN\s+TABLE\s+(?P<table>[\w.\"]+)"
    r"(?:\s+FROM\s+(?P<from>\w+))?\s*$",
    re.IGNORECASE,
)
_DROP_RX = re.compile(
    r"DROP\s+BRANCH\s+(?P<ie>IF\s+EXISTS\s+)?(?P<branch>\w+)\s+IN\s+TABLE\s+(?P<table>[\w.\"]+)\s*$",
    re.IGNORECASE,
)
_FF_RX = re.compile(
    r"ALTER\s+BRANCH\s+(?P<src>\w+)\s+IN\s+TABLE\s+(?P<table>[\w.\"]+)\s+"
    r"FAST\s+FORWARD\s+TO\s+(?P<tgt>\w+)\s*$",
    re.IGNORECASE,
)
_SHOW_RX = re.compile(
    r"SHOW\s+BRANCHES\s+(?:FROM|IN)\s+TABLE\s+(?P<table>[\w.\"]+)\s*$", re.IGNORECASE
)
_AT_RX = re.compile(r"\b([A-Za-z_]\w*)\s*@\s*([A-Za-z_]\w*)\b")


def _norm(name: str) -> str:
    return name.strip('"').split(".")[-1].lower()


def _internal(table: str, branch: str) -> str:
    """The branch fork's engine-internal table name."""
    return f"{table}__branch_{branch}"


def _registry_path(table: str) -> str:
    return os.path.join(_snap_root(table), "branches.json")


def _registry(table: str) -> dict:
    try:
        return json.loads(open(_registry_path(table)).read())
    except (OSError, ValueError):
        return {}


def _write_registry(table: str, reg: dict) -> None:
    os.makedirs(_snap_root(table), exist_ok=True)
    with open(_registry_path(table), "w") as fh:
        json.dump(reg, fh, indent=0)


def _resolve_source(engine, table: str, src: str) -> str:
    """Path of a branch name ('main' = the table itself)."""
    if src == "main":
        return _managed(engine)[table]
    internal = _internal(table, src)
    if src not in _registry(table) or internal not in _managed(engine):
        raise ValueError(f"Branch '{src}' does not exist")
    return _managed(engine)[internal]


def try_execute(engine, stripped: str) -> DataFrame | None:
    """Dispatch the four branch statements; None when not one of them."""
    spark = engine.spark
    up = stripped.upper().split()
    if up[:1] == ["CREATE"] and "BRANCH" in up[:4]:
        m = _CREATE_RX.match(stripped)
        if not m:
            raise ValueError(f"cannot parse CREATE BRANCH: {stripped}")
        table, branch = _norm(m.group("table")), m.group("branch").lower()
        if table not in _managed(engine):
            raise ValueError(f"branching requires a managed table, got: {table}")
        reg = _registry(table)
        replace = re.match(r"CREATE\s+OR\s+REPLACE", stripped, re.IGNORECASE)
        if branch in reg:
            if m.group("ine"):
                return rows_result(spark, [(branch,)], "branch: string")
            if not replace:
                raise ValueError(f"branch already exists: {branch}")
            _drop_fork(engine, table, branch)
        src_path = _resolve_source(engine, table, (m.group("from") or "main").lower())
        internal = _internal(table, branch)
        dst = os.path.join(_warehouse_dir(), internal)
        shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(dst, exist_ok=True)
        _link_tree(src_path, dst)  # shared inodes: fork cost = metadata
        _managed(engine)[internal] = dst
        layouts = getattr(engine, "_dml_layouts", None) or {}
        if table in layouts:
            layouts[internal] = list(layouts[table])
        # The fork inherits the base table's DECLARED column order too —
        # otherwise positional INSERT INTO t@branch and SELECT * would map
        # against the partition-last physical layout (same class of bug
        # the DML fuzzer caught on main tables).
        logical = getattr(engine, "_dml_logical_cols", None) or {}
        fork = read_parquet(spark, dst)
        lcols = logical.get(table)
        if lcols:
            logical[internal] = list(lcols)
            if lcols != fork.columns and set(lcols) == set(fork.columns):
                fork = fork.select(*lcols)
        fork.createOrReplaceTempView(internal)
        refresh_infoschema(engine, changed=internal)
        base_version = max((e["version"] for e in _read_log(table)), default=0)
        reg[branch] = {"created_from_version": base_version}
        _write_registry(table, reg)
        return rows_result(spark, [(branch,)], "branch: string")
    if up[:2] == ["DROP", "BRANCH"]:
        m = _DROP_RX.match(stripped)
        if not m:
            raise ValueError(f"cannot parse DROP BRANCH: {stripped}")
        table, branch = _norm(m.group("table")), m.group("branch").lower()
        reg = _registry(table)
        if branch not in reg:
            if m.group("ie"):
                return rows_result(spark, [(branch,)], "branch: string")
            raise ValueError(f"Branch '{branch}' does not exist")
        _drop_fork(engine, table, branch)
        reg.pop(branch)
        _write_registry(table, reg)
        return rows_result(spark, [(branch,)], "branch: string")
    if up[:2] == ["ALTER", "BRANCH"]:
        m = _FF_RX.match(stripped)
        if not m:
            raise ValueError(f"cannot parse ALTER BRANCH: {stripped}")
        table = _norm(m.group("table"))
        src, tgt = m.group("src").lower(), m.group("tgt").lower()
        tgt_path = _resolve_source(engine, table, tgt)
        content = read_parquet(spark, tgt_path)
        dest = table if src == "main" else _internal(table, src)
        if src != "main" and src not in _registry(table):
            raise ValueError(f"Branch '{src}' does not exist")
        # Restore the destination's DECLARED column order before the
        # commit — a raw read of a partitioned branch dir is partition-last
        # and would otherwise corrupt the logical map + snapshot log.
        lcols = getattr(engine, "_dml_logical_cols", {}).get(dest) or getattr(
            engine, "_dml_logical_cols", {}
        ).get(table)
        if lcols and lcols != content.columns and set(lcols) == set(content.columns):
            content = content.select(*lcols)
        n = _commit(engine, dest, content, operation=f"fast_forward_from_{tgt}")
        return rows_result(
            spark, [(src, tgt, n)], "branch: string, from_branch: string, rows: bigint"
        )
    if up[:2] == ["SHOW", "BRANCHES"]:
        m = _SHOW_RX.match(stripped)
        if not m:
            raise ValueError(f"cannot parse SHOW BRANCHES: {stripped}")
        table = _norm(m.group("table"))
        if table not in _managed(engine):
            raise ValueError(f"branching requires a managed table, got: {table}")
        rows = [("main", max((e["version"] for e in _read_log(table)), default=0), None)]
        for b, meta in sorted(_registry(table).items()):
            head = max((e["version"] for e in _read_log(_internal(table, b))), default=0)
            rows.append((b, head, meta.get("created_from_version")))
        return rows_result(
            spark, rows, "branch: string, current_version: bigint, created_from_version: bigint"
        )
    return None


def _drop_fork(engine, table: str, branch: str) -> None:
    internal = _internal(table, branch)
    shutil.rmtree(os.path.join(_warehouse_dir(), internal), ignore_errors=True)
    shutil.rmtree(_snap_root(internal), ignore_errors=True)
    _managed(engine).pop(internal, None)
    (getattr(engine, "_dml_layouts", None) or {}).pop(internal, None)
    try:
        engine.spark.catalog.dropTempView(internal)
    except Exception:
        pass
    refresh_infoschema(engine, dropped=internal)


def resolve(engine, sql: str) -> str:
    """Rewrite ``t@b`` references (reads AND DML targets) to the branch
    fork's internal name. Unknown branches of managed tables raise the
    reference's BRANCH_NOT_FOUND error; ``@`` inside string literals is
    never touched; ``t@main`` is the table itself."""
    if "@" not in sql:
        return sql
    from trino_spark.dialect.access import map_outside_literals

    managed = _managed(engine)

    def _sub(m: re.Match) -> str:
        table, branch = m.group(1).lower(), m.group(2).lower()
        if table not in managed:
            return m.group(0)
        if branch == "main":
            return table
        if branch not in _registry(table):
            raise ValueError(f"Branch '{branch}' does not exist")
        return _internal(table, branch)

    return map_outside_literals(sql, lambda chunk: _AT_RX.sub(_sub, chunk))
