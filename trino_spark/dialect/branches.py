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
  branch its OWN snapshot log: the fork is a ``ManagedTable`` record
  (dml.py) named ``<t>__branch_<b>`` whose ``base`` is t, and t's record
  maps each branch to the version it was created from. A fork is not a
  table: it is not listed, and DROP TABLE t drops it.
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

import os
import re

from pyspark.sql import DataFrame

from trino_spark.dialect.dml import (
    ManagedTable,
    _clear,
    _commit,
    _discard,
    _link_tree,
    _norm_name,
    _stored,
    fork_name,
    refresh_infoschema,
    rows_result,
    txn_snapshot_if_needed,
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


def _table(engine, name: str) -> ManagedTable:
    rec = engine.dml_tables.get(_norm_name(name))
    if rec is None:
        raise ValueError(f"branching requires a managed table, got: {_norm_name(name)}")
    return rec


def _branch(engine, table: ManagedTable, branch: str) -> ManagedTable:
    """The record of a branch ('main' = the table itself)."""
    if branch == "main":
        return table
    if branch not in table.branches:
        raise ValueError(f"Branch '{branch}' does not exist")
    return engine.dml_tables[fork_name(table.name, branch)]


# The four branch statements (entries of the engine's statement table).


def create_branch(engine, stripped: str) -> DataFrame:
    m = _CREATE_RX.match(stripped)
    if not m:
        raise ValueError(f"cannot parse CREATE BRANCH: {stripped}")
    table, branch = _table(engine, m.group("table")), m.group("branch").lower()
    if branch in table.branches:
        if m.group("ine"):
            return rows_result(engine.spark, [(branch,)], "branch: string")
        if not re.match(r"CREATE\s+OR\s+REPLACE", stripped, re.IGNORECASE):
            raise ValueError(f"branch already exists: {branch}")
        _drop_fork(engine, table, branch)
    src = _branch(engine, table, (m.group("from") or "main").lower())
    # a fork starts with its source's declared columns, layout and column
    # defaults and comments, and its data as shared inodes: fork cost = metadata
    fork = _clear(
        engine,
        ManagedTable(
            fork_name(table.name, branch), src.columns, src.partition_by, base=table.name,
            defaults=dict(src.defaults), comments=dict(src.comments),
        ),
    )
    os.makedirs(fork.path)
    _link_tree(src.path, fork.path)
    engine.dml_tables[fork.name] = fork
    _stored(engine, fork).createOrReplaceTempView(fork.name)
    refresh_infoschema(engine, changed=fork.name)
    txn_snapshot_if_needed(engine, table.name)
    table.branches[branch] = table.version
    return rows_result(engine.spark, [(branch,)], "branch: string")


def drop_branch(engine, stripped: str) -> DataFrame:
    m = _DROP_RX.match(stripped)
    if not m:
        raise ValueError(f"cannot parse DROP BRANCH: {stripped}")
    table, branch = _table(engine, m.group("table")), m.group("branch").lower()
    if branch not in table.branches:
        if m.group("ie"):
            return rows_result(engine.spark, [(branch,)], "branch: string")
        raise ValueError(f"Branch '{branch}' does not exist")
    _drop_fork(engine, table, branch)
    return rows_result(engine.spark, [(branch,)], "branch: string")


def fast_forward(engine, stripped: str) -> DataFrame:
    m = _FF_RX.match(stripped)
    if not m:
        raise ValueError(f"cannot parse ALTER BRANCH: {stripped}")
    table = _table(engine, m.group("table"))
    src, tgt = m.group("src").lower(), m.group("tgt").lower()
    content = _stored(engine, _branch(engine, table, tgt))
    n = _commit(engine, _branch(engine, table, src), content, operation=f"fast_forward_from_{tgt}")
    return rows_result(
        engine.spark, [(src, tgt, n)], "branch: string, from_branch: string, rows: bigint"
    )


def show_branches(engine, stripped: str) -> DataFrame:
    m = _SHOW_RX.match(stripped)
    if not m:
        raise ValueError(f"cannot parse SHOW BRANCHES: {stripped}")
    table = _table(engine, m.group("table"))
    rows = [("main", table.version, None)] + [
        (b, _branch(engine, table, b).version, created_from)
        for b, created_from in sorted(table.branches.items())
    ]
    return rows_result(
        engine.spark, rows, "branch: string, current_version: bigint, created_from_version: bigint"
    )


def _drop_fork(engine, table: ManagedTable, branch: str) -> None:
    name = fork_name(table.name, branch)
    txn_snapshot_if_needed(engine, table.name)
    txn_snapshot_if_needed(engine, name)
    del table.branches[branch]
    _discard(engine, name)

