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

from pyspark.sql import DataFrame

from trino_spark.dialect.dml import (
    ManagedTable,
    _clear,
    _commit,
    _discard,
    _link_tree,
    _stored,
    fork_name,
    refresh_infoschema,
    rows_result,
    txn_snapshot_if_needed,
)
from trino_spark.dialect.writes import named

def _tail(rest: list) -> list[str]:
    """The words after a branch statement's table name, in lower case."""
    return [t.text.lower() for t in rest if t.kind != "WS"]


def _table(engine, name: str) -> ManagedTable:
    rec = engine.dml_tables.get(name)
    if rec is None:
        raise ValueError(f"branching requires a managed table, got: {name}")
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
    # CREATE [OR REPLACE] BRANCH [IF NOT EXISTS] b [WITH (...)] IN TABLE t [FROM src]
    branch, if_exists, _ = named(stripped, "BRANCH")
    name, _, rest = named(stripped, "TABLE")
    table, tail = _table(engine, name), _tail(rest)
    if tail and (len(tail) != 2 or tail[0] != "from"):
        raise ValueError(f"cannot parse CREATE BRANCH: {stripped}")
    if branch in table.branches:
        if if_exists:
            return rows_result(engine.spark, [(branch,)], "branch: string")
        if stripped.split()[1].upper() != "OR":
            raise ValueError(f"branch already exists: {branch}")
        _drop_fork(engine, table, branch)
    src = _branch(engine, table, tail[1] if tail else "main")
    # a fork starts with its source's declared columns, layout and column
    # defaults and comments, its data as shared inodes (fork cost =
    # metadata), and its log at the version it forks: Iceberg's branch ref
    # points at the snapshot it was created from
    fork = _clear(
        engine,
        ManagedTable(
            fork_name(table.name, branch), src.columns, src.partition_by, base=table.name,
            defaults=dict(src.defaults), comments=dict(src.comments), log=[dict(src.log[-1])],
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
    branch, if_exists, _ = named(stripped, "BRANCH")
    table = _table(engine, named(stripped, "TABLE")[0])
    if branch not in table.branches:
        if if_exists:
            return rows_result(engine.spark, [(branch,)], "branch: string")
        raise ValueError(f"Branch '{branch}' does not exist")
    _drop_fork(engine, table, branch)
    return rows_result(engine.spark, [(branch,)], "branch: string")


def fast_forward(engine, stripped: str) -> DataFrame:
    # ALTER BRANCH src IN TABLE t FAST FORWARD TO tgt
    name, _, rest = named(stripped, "TABLE")
    table, tail, src = _table(engine, name), _tail(rest), named(stripped, "BRANCH")[0]
    if tail[:3] != ["fast", "forward", "to"] or len(tail) != 4:
        raise ValueError(f"cannot parse ALTER BRANCH: {stripped}")
    tgt = tail[3].strip('"')
    content = _stored(engine, _branch(engine, table, tgt))
    n = _commit(engine, _branch(engine, table, src), content, operation=f"fast_forward_from_{tgt}")
    return rows_result(
        engine.spark, [(src, tgt, n)], "branch: string, from_branch: string, rows: bigint"
    )


def show_branches(engine, stripped: str) -> DataFrame:
    table = _table(engine, named(stripped, "TABLE")[0])
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

