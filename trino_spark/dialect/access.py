"""Access control + catalog comments: CREATE/DROP/SET ROLE, GRANT/REVOKE,
SHOW ROLES/GRANTS, COMMENT ON TABLE/COLUMN, row filters + column masks.

Reference: the role/grant statement family (grammar SqlBase.g4 GRANT/
REVOKE/CREATE ROLE/SET ROLE; engine side io.trino.metadata.MetadataManager
+ security AccessControl SPI) and CommentTask.java for COMMENT ON. Row
filters and column masks mirror the other half of the SPI —
ConnectorAccessControl.getRowFilters / getColumnMasks (ViewExpression):
per-(role, table) predicates and per-(role, table, column) masking
expressions applied to every read. Trino configures these through access
control plugins (e.g. file-based rules), not DDL, so the engine exposes
them as CALL procedures (add_row_filter / add_column_mask / drop_*).

Single-session semantics, honestly scoped: roles and grants live on the
engine instance (no external identity provider); with no role set the
session is the table owner (everything allowed — Trino's legacy/allow-all
access control default); after SET ROLE r, SELECT requires a SELECT grant
on every referenced table and DML requires the matching privilege on its
target: INSERT/DELETE/UPDATE their own privilege, MERGE all three on the
target (the reference checks checkCanInsert/Delete/Update per clause),
TRUNCATE requires DELETE, and ALTER/DROP/CREATE TABLE require ownership —
proxied here as holding ALL four privileges on the name. Enforcement is
at dispatch (the reference checks in analysis — same observable behavior:
AccessDeniedException before execution).
"""

from __future__ import annotations

import copy
import re
import threading
import time

from pyspark.sql import DataFrame

from trino_spark import infoschema
from trino_spark.dialect.dml import _norm_name, _unquote, rows_result, txn_snapshot_if_needed
from trino_spark.dialect.tokenizer import Tok, head, render, split_args, structure, tokenize

_PRIVS = ("SELECT", "INSERT", "UPDATE", "DELETE")
# the privileges a statement needs on its target, by its head; ALTER, DROP
# and CREATE TABLE need ownership, proxied as every privilege on the name
_TARGET_PRIVS = {
    "INSERT INTO": ("INSERT",), "DELETE FROM": ("DELETE",), "UPDATE": ("UPDATE",),
    "MERGE INTO": ("UPDATE", "INSERT", "DELETE"), "TRUNCATE TABLE": ("DELETE",),
    **dict.fromkeys(("ALTER TABLE", "DROP TABLE", "CREATE TABLE"), _PRIVS),
}

# How often a killed query's job group is cancelled again while its
# query record is still live.
KILL_RECANCEL_S = 0.1


def _cancel_until_closed(sc, rec) -> None:
    """Keep cancelling a killed query's job group until its record closes.

    A future-jobs cancel is checked only when a job is submitted through
    runJob; adaptive execution submits each shuffle stage as a map-stage
    job, which that check skips. A kill that lands after a query's
    broadcasts finish but before its shuffle stage is submitted would leave
    that stage running to completion. Cancelling the group again until the
    server closes the query's record reaches such a job within one interval.
    """

    def loop() -> None:
        while rec.end is None:
            try:
                sc.cancelJobGroup(rec.query_id)
            except Exception:
                return  # the context is stopping
            time.sleep(KILL_RECANCEL_S)

    threading.Thread(target=loop, name=f"kill-{rec.query_id}", daemon=True).start()


class AccessDenied(PermissionError):
    pass


def _effective_roles(st, role: str) -> set:
    """`role` plus every role transitively granted TO it (GRANT r1 TO
    ROLE r2 makes r2 inherit r1's privileges — the reference's role
    hierarchy, io.trino.metadata.MetadataManager#listApplicableRoles)."""
    out: set = set()
    stack = [role]
    rg = st.get("role_grants", set())
    while stack:
        r = stack.pop()
        if r in out:
            continue
        out.add(r)
        stack.extend(g for g, grantee in rg if grantee == r)
    return out


# The role, grant, comment and CALL statements: each runs one entry of
# the engine's statement table, on the statement text from its first
# keyword.


def _role_name(s: str) -> str:
    return s.split()[2].strip('"').lower()


def create_role(engine, s: str) -> DataFrame:
    name = _role_name(s)
    if name in engine._acl["roles"]:
        raise ValueError(f"role already exists: {name}")
    engine._acl["roles"][name] = set()
    return rows_result(engine.spark, [(name,)], "role: string")


def drop_role(engine, s: str) -> DataFrame:
    st, name = engine._acl, _role_name(s)
    if name not in st["roles"]:
        raise ValueError(f"role not found: {name}")
    del st["roles"][name]
    if st["current"] == name:
        st["current"] = None
    return rows_result(engine.spark, [(name,)], "role: string")


def set_role(engine, s: str) -> DataFrame:
    st, name = engine._acl, _role_name(s)
    if name != "none" and name not in st["roles"]:
        raise ValueError(f"role not found: {name}")
    st["current"] = None if name == "none" else name
    return rows_result(engine.spark, [(name,)], "role: string")


def show_current_roles(engine, s: str) -> DataFrame:
    # ShowRolesTask with CURRENT: the enabled roles of this session — the
    # SET ROLE plus everything transitively granted to it
    cur = engine._acl["current"]
    rows = sorted((r,) for r in _effective_roles(engine._acl, cur)) if cur else []
    return rows_result(engine.spark, rows, "role: string")


def show_role_grants(engine, s: str) -> DataFrame:
    # ShowRoleGrants: roles granted NON-recursively to the session
    # identity (docs sql/show-role-grants.md)
    st = engine._acl
    cur = st["current"]
    rows = sorted((g,) for g, grantee in st.get("role_grants", set()) if grantee == cur) if cur else []
    return rows_result(engine.spark, rows, "role: string")


def show_roles(engine, s: str) -> DataFrame:
    return rows_result(engine.spark, [(r,) for r in sorted(engine._acl["roles"])], "role: string")


def show_grants(engine, s: str) -> DataFrame:
    m = re.match(r"SHOW\s+GRANTS\s+ON\s+(?:TABLE\s+)?([\w.\"]+)", s, re.IGNORECASE)
    table = m.group(1).strip('"').split(".")[-1].lower() if m else None
    rows = [
        (role, priv, tbl)
        for role, grants in sorted(engine._acl["roles"].items())
        for priv, tbl in sorted(grants)
        if table is None or tbl == table
    ]
    return rows_result(engine.spark, rows, "grantee: string, privilege: string, table_name: string")


def grant(engine, s: str) -> DataFrame:
    st = engine._acl
    # role-to-role grant (docs sql/grant-roles.md; GrantRolesTask):
    # GRANT r1 [, r2 ...] TO ROLE r [WITH ADMIN OPTION]
    rg = re.match(
        r"GRANT\s+([\w\"]+(?:\s*,\s*[\w\"]+)*)\s+TO\s+ROLE\s+([\w\"]+)"
        r"(?:\s+WITH\s+ADMIN\s+OPTION)?\s*$",
        s,
        re.IGNORECASE,
    )
    if not rg or " ON " in s.upper():
        return _grant_revoke(engine, s, revoke=False)
    if st["current"] is not None:
        raise AccessDenied("Access Denied: only the owner session grants roles")
    grantee = rg.group(2).strip('"').lower()
    if grantee not in st["roles"]:
        raise ValueError(f"role not found: {grantee}")
    granted = []
    for r in rg.group(1).split(","):
        r = r.strip().strip('"').lower()
        if r not in st["roles"]:
            raise ValueError(f"role not found: {r}")
        if r == grantee or grantee in _effective_roles(st, r):
            raise ValueError(f"circular role grant: {r} -> {grantee}")
        st.setdefault("role_grants", set()).add((r, grantee))
        granted.append(r)
    return rows_result(engine.spark, [(g, grantee) for g in granted], "role: string, grantee: string")


def revoke(engine, s: str) -> DataFrame:
    st = engine._acl
    rr = re.match(
        r"REVOKE\s+(?:ADMIN\s+OPTION\s+FOR\s+)?([\w\"]+(?:\s*,\s*[\w\"]+)*)"
        r"\s+FROM\s+ROLE\s+([\w\"]+)\s*$",
        s,
        re.IGNORECASE,
    )
    if not rr or " ON " in s.upper():
        return _grant_revoke(engine, s, revoke=True)
    if st["current"] is not None:
        raise AccessDenied("Access Denied: only the owner session revokes roles")
    grantee = rr.group(2).strip('"').lower()
    for r in rr.group(1).split(","):
        r = r.strip().strip('"').lower()
        st.setdefault("role_grants", set()).discard((r, grantee))
    return rows_result(engine.spark, [(grantee,)], "grantee: string")


def deny(engine, s: str) -> DataFrame:
    # DENY privilege ON t TO role (grammar #deny; DenyTask.java): an
    # explicit deny wins over any grant at enforcement time.
    privs, table, role = _privileges(engine, s, "DENY", "TO")
    engine._acl.setdefault("denies", {}).setdefault(role, set()).update((p, table) for p in privs)
    return rows_result(engine.spark, [(role, table)], "role: string, table_name: string")


def _described(engine, table: str):
    """The record that holds `table`'s comments (CommentTask.java: the
    target must exist), pinned first inside a transaction so that
    ROLLBACK puts it back."""
    if table in engine.dml_tables:
        txn_snapshot_if_needed(engine, table)
        return engine.dml_tables[table]
    src = engine.catalog._sources.get(table)
    if src is None:
        raise ValueError(f"table not found: {table}")
    if engine._txn is not None:
        engine._txn["sources"].setdefault(table, copy.deepcopy(src))
    return src


def comment_on_table(engine, s: str) -> DataFrame:
    m = re.match(r"COMMENT\s+ON\s+TABLE\s+([\w.\"]+)\s+IS\s+(?:'((?:[^']|'')*)'|(NULL))", s, re.IGNORECASE)
    if not m:
        raise ValueError(f"cannot parse COMMENT ON TABLE: {s[:80]}")
    tbl = _norm_name(m.group(1))
    _described(engine, tbl).comment = _unquote(m.group(2))
    return rows_result(engine.spark, [(tbl,)], "table: string")


def comment_on_column(engine, s: str) -> DataFrame:
    m = re.match(
        r"COMMENT\s+ON\s+COLUMN\s+([\w.\"]+)\.(\w+)\s+IS\s+(?:'((?:[^']|'')*)'|(NULL))", s, re.IGNORECASE
    )
    if not m:
        raise ValueError(f"cannot parse COMMENT ON COLUMN: {s[:80]}")
    tbl, col = _norm_name(m.group(1)), m.group(2).lower()
    rec = _described(engine, tbl)
    if col not in engine.spark.table(tbl).columns:
        raise ValueError(f"column not found: {tbl}.{col}")
    if m.group(4):
        rec.comments.pop(col, None)
    else:
        rec.comments[col] = _unquote(m.group(3))
    return rows_result(engine.spark, [(f"{tbl}.{col}",)], "column: string")


def _privileges(engine, s: str, kw: str, to_kw: str) -> tuple[list[str], str, str]:
    """`<kw> privileges ON [TABLE] t <to_kw> [ROLE] r` -> (privileges, t, r)."""
    m = re.match(
        rf"{kw}\s+(ALL(?:\s+PRIVILEGES)?|[\w,\s]+?)\s+ON\s+(?:TABLE\s+)?([\w.\"]+)\s+{to_kw}\s+(?:ROLE\s+)?([\w\"]+)",
        s,
        re.IGNORECASE,
    )
    if not m:
        raise ValueError(f"cannot parse {kw}: {s[:80]}")
    privs_txt, table, role = m.group(1).upper(), m.group(2), m.group(3).strip('"').lower()
    table = table.strip('"').split(".")[-1].lower()
    privs = list(_PRIVS) if privs_txt.startswith("ALL") else [p.strip() for p in privs_txt.split(",")]
    for p in privs:
        if p not in _PRIVS:
            raise ValueError(f"unknown privilege: {p}")
    if role not in engine._acl["roles"]:
        raise ValueError(f"role not found: {role}")
    return privs, table, role


def _grant_revoke(engine, s: str, revoke: bool) -> DataFrame:
    privs, table, role = _privileges(engine, s, *(("REVOKE", "FROM") if revoke else ("GRANT", "TO")))
    grants = engine._acl["roles"][role]
    for p in privs:
        (grants.discard if revoke else grants.add)((p, table))
    return rows_result(engine.spark, [(role, table)], "role: string, table_name: string")


def enforce(engine, sql: str) -> None:
    """Raise AccessDenied when the active role lacks a needed privilege.
    Owner sessions (no SET ROLE) bypass — the allow-all default.

    Privilege derivation per statement (reference: the checkCan* methods
    of io.trino.spi.connector.ConnectorAccessControl):
    INSERT/DELETE/UPDATE → their own privilege on the target; MERGE →
    UPDATE+INSERT+DELETE on the target and SELECT on a named USING table;
    TRUNCATE → DELETE; ALTER/DROP/CREATE TABLE [AS] → ownership, proxied
    as ALL four privileges on the name; every relation the statement
    reads (FROM lists at any depth, joins, parenthesised relations,
    `TABLE t`) → SELECT. A DML/DDL statement's target is its first
    relation reference (tokenizer.structure)."""
    st = engine._acl
    role = st["current"]
    if role is None:
        return
    eff = _effective_roles(st, role)
    grants = set().union(*(st["roles"].get(r, set()) for r in eff))
    toks = tokenize(sql)
    words = head(toks)
    kind = "UPDATE" if words[:1] == ["UPDATE"] else " ".join(words[:2])
    refs = structure(toks).relations
    # a derived name (t@b, a version, "t$files") is checked as the table it
    # reads: a privilege on t covers its branches, snapshots and metadata
    # tables (reference: they share the table's ConnectorAccessControl checks)
    derived = engine.derived
    tgt = refs[0].name if refs else ""
    tgt = derived[tgt].base if tgt in derived else tgt
    # A CTAS target does not exist yet, so the not-a-relation skip below
    # must not exempt it.
    needed = [(p, f"!{tgt}" if kind == "CREATE TABLE" else tgt) for p in _TARGET_PRIVS.get(kind, ())]
    skip_select = {tgt} if kind in ("DELETE FROM", "MERGE INTO") else set()
    for ref in refs:
        name = derived[ref.name].base if ref.name in derived else ref.name
        if not ref.read or ref.shadowed or name.startswith("__"):
            continue
        if name in infoschema.VIEWS:
            # information_schema / system tables stay readable under any
            # role (the reference's access control does the same).
            continue
        if name in skip_select:
            continue
        needed.append(("SELECT", name))
    for priv, tbl in needed:
        must_check = tbl.startswith("!")
        tbl = tbl.lstrip("!")
        if not tbl:
            continue
        if (
            not must_check
            and not engine.spark.catalog.tableExists(tbl)
            and tbl not in engine.dml_tables
        ):
            continue  # not a relation (alias, subquery result, etc.)
        denies = set().union(
            *(st.get("denies", {}).get(r, set()) for r in eff)
        ) if st.get("denies") else set()
        if (priv, tbl) in denies:
            # DENY overrides any grant (grammar #deny; DenyTask.java),
            # including one inherited through a granted role.
            raise AccessDenied(f"Access Denied: role '{role}' is denied {priv} on {tbl}")
        if (priv, tbl) not in grants:
            raise AccessDenied(f"Access Denied: role '{role}' lacks {priv} on {tbl}")


# ------------------------------------------------- row filters / column masks


def add_row_filter(engine, role: str, table: str, predicate_sql: str) -> None:
    """Attach a row-filter predicate for (role, table) —
    ConnectorAccessControl.getRowFilters ViewExpression analog."""
    st = engine._acl
    if st["current"] is not None:
        raise AccessDenied("Access Denied: only the owner session defines security rules")
    if role.lower() not in st["roles"]:
        raise ValueError(f"role not found: {role}")
    st["row_filters"][(role.lower(), table.lower())] = predicate_sql


def add_column_mask(engine, role: str, table: str, column: str, mask_sql: str) -> None:
    """Attach a masking expression for (role, table, column) —
    ConnectorAccessControl.getColumnMasks analog. The expression may
    reference the column itself (e.g. partial redaction)."""
    st = engine._acl
    if st["current"] is not None:
        raise AccessDenied("Access Denied: only the owner session defines security rules")
    if role.lower() not in st["roles"]:
        raise ValueError(f"role not found: {role}")
    st["column_masks"].setdefault((role.lower(), table.lower()), {})[column.lower()] = mask_sql


def apply_security(engine, sql: str) -> str:
    """Rewrite table references to secured views when the active role has
    a row filter or column mask on them: reads see filtered/masked data,
    exactly like the reference applies ViewExpressions during analysis.
    Applies to every statement whose reads go through this dispatch —
    including the SELECT side of INSERT ... SELECT (the reference also
    filters the read half, not the written rows) — and to a table's
    branches and snapshots (engine.derived): an old snapshot of a filtered
    table is still the filtered table.

    Only names in relation positions (tokenizer.structure) are rewritten,
    so columns, AS-aliases, and CTE names that happen to share a secured
    table's name keep their own bindings. A WITH name shadows a same-named
    table where it is in scope, as in the reference's analyzer; inside its
    own body a non-recursive CTE's name still binds the real table, which
    therefore stays secured."""
    st = engine._acl
    role = st["current"]
    if role is None:
        return sql
    tables = {t for (r, t) in st["row_filters"] if r == role} | {
        t for (r, t) in st["column_masks"] if r == role
    }
    toks = tokenize(sql)
    refs = [ref for ref in structure(toks).relations if not ref.shadowed]
    secured: dict[str, str] = {}
    for ref in refs:
        derived = engine.derived.get(ref.name)
        tbl = derived.base if derived is not None and derived.rows else ref.name
        if tbl not in tables or ref.name in secured:
            continue
        from pyspark.sql import functions as F

        from trino_spark.dialect.rewrites import translate

        df = engine.spark.table(ref.name)
        # Row filter FIRST, against the underlying data — the reference
        # evaluates getRowFilters on real rows and only then masks the
        # surviving rows' columns (a filter referencing a masked column
        # must not see masked values).
        pred = st["row_filters"].get((role, tbl))
        if pred:
            df = df.filter(F.expr(translate(pred)))
        masks = st["column_masks"].get((role, tbl), {})
        if masks:
            df = df.select(
                *[
                    F.expr(translate(masks[c.lower()])).alias(c) if c.lower() in masks else F.col(c)
                    for c in df.columns
                ]
            )
        view = f"__sec_{role}_{ref.name}"
        df.createOrReplaceTempView(view)
        secured[ref.name] = view
    for ref in reversed(refs):
        if ref.name in secured:
            toks[ref.start : ref.end] = [Tok("WORD", secured[ref.name])]
    return render(toks)


def dml_target_security(engine, table: str) -> tuple[str | None, dict[str, str]]:
    """(row_filter_sql, column_masks) the active role carries on a DML
    TARGET table. The reference applies ConnectorAccessControl row filters
    to the target scan of UPDATE/DELETE/MERGE too (ViewExpressions bind
    during analysis regardless of statement kind), so a filtered role's DML
    must leave invisible rows untouched — dml.py ANDs this predicate into
    the statement predicate and routes fragments through `mask_fragment`."""
    st = engine._acl
    role = st["current"]
    if role is None:
        return None, {}
    t = table.lower().split(".")[-1]
    t = engine.derived[t].base if t in engine.derived else t  # t@b: t's rules
    return st["row_filters"].get((role, t)), dict(st["column_masks"].get((role, t), {}))


def mask_fragment(masks: dict[str, str], fragment: str, target: str | None = None) -> str:
    """Substitute masked column references in a user-supplied DML fragment
    (WHERE predicate / SET expression) with their mask expression, so
    `UPDATE t SET other = secret_col` writes the MASKED value — the same
    data the role would see through a read. Row filters, by contrast,
    evaluate on real rows (the reference filters real rows, then masks the
    survivors). Single-pass substitution outside string literals; the mask
    expression's own self-reference is left intact on purpose.

    Qualified references: `target.col` is replaced as one unit (legal
    Trino `DELETE FROM t WHERE t.secret = 5` must not become the invalid
    `t.(CASE ...)`). An alias the fragment itself binds to the protected
    table (`... FROM target s ...`) is treated as the target — otherwise
    `DELETE FROM t WHERE k IN (SELECT s.secret FROM t s)` would probe
    REAL values of a masked column through the subquery. Any REMAINING
    unknown qualifier over a masked column name fails CLOSED
    (AccessDenied): we cannot prove what relation it binds to, and the
    reference's analyzer-level masking never exposes the raw column to a
    masked role under any alias. A bare `col` acting as a qualifier
    itself (`col.x`) stays untouched."""
    if not masks:
        return fragment
    tnames = {target.split(".")[-1].lower()} if target else set()
    # aliases the fragment binds to ANY relation. Aliases of the
    # protected table join `tnames` (their columns are masked); aliases
    # provably bound to a DIFFERENT relation are recorded so `o.secret`
    # over `FROM other o` is NOT denied — only an alias we cannot bind at
    # all fails closed.
    other_aliases: set[str] = set()
    for ref in structure(tokenize(fragment)).relations:
        if ref.alias is not None:
            (tnames if ref.name in tnames else other_aliases).add(ref.alias)
    # an alias bound to BOTH (self-join spelling ambiguity) masks
    other_aliases -= tnames

    def _sub(chunk: str) -> str:
        for col, mexpr in masks.items():
            cq = re.escape(col)
            # alt 1: the whole `<target-or-alias>.col` unit; alt 2: bare
            # `col` not preceded by `qualifier.` and not itself
            # qualifying (`col.x`).
            alts = [rf"(?<![\w.]){cq}\b(?!\s*\.)"]
            if tnames:
                tq = "|".join(re.escape(t) for t in sorted(tnames))
                alts.insert(0, rf"\b(?:{tq})\s*\.\s*{cq}\b(?!\s*\.)")
            chunk = re.sub(
                "|".join(alts), f"({mexpr})", chunk, flags=re.IGNORECASE
            )
            # fail closed: a leftover `unknown.col` over a masked column
            # means a qualifier we could not bind — reject rather than
            # let a subquery alias read the raw column. Qualifiers bound
            # to a provably different relation are legitimate and pass.
            for leftover in re.finditer(
                rf"\b(\w+)\s*\.\s*{cq}\b(?!\s*\.)", chunk, re.IGNORECASE
            ):
                if leftover.group(1).lower() in other_aliases:
                    continue
                raise AccessDenied(
                    f"Access Denied: cannot verify that qualifier "
                    f"'{leftover.group(1)}' does not expose masked column "
                    f"'{col}'"
                )
        return chunk

    parts = re.split(r"('(?:[^']|'')*')", fragment)  # string literals stay as written
    return "".join(p if p.startswith("'") else _sub(p) for p in parts)


# ---------------------------------------------------------------- CALL
#
# CALL procedures (grammar SqlBase.g4 CALL; reference: connector
# procedures, e.g. system.flush_metadata_cache in trino-hive,
# io.trino.spi.procedure.Procedure). Engine-side registry with the
# built-ins our connectors need: generator-source registration and
# query-log maintenance.


def call(engine, sql: str) -> DataFrame:
    m = re.match(r"CALL\s+([\w.]+)\s*\((.*)\)\s*$", sql, re.IGNORECASE | re.DOTALL)
    if not m:
        raise ValueError(f"cannot parse CALL: {sql[:80]}")
    name = m.group(1).lower().split(".")[-1]
    inner = tokenize(f"({m.group(2)})")
    spark = engine.spark

    def _lit(a: str):
        if a.startswith("'") and a.endswith("'"):
            return a[1:-1].replace("''", "'")
        return float(a) if "." in a else int(a)

    lits = [_lit(render(inner[s:e]).strip()) for s, e in split_args(inner, 0, len(inner) - 1)]
    args = [str(v) for v in lits]

    if name == "register_tpch":
        from trino_spark.sources import tpchgen

        sf = float(lits[0]) if lits else 1.0
        prefix = args[1] if len(args) > 1 else "tpchgen_"
        tpchgen.register_tpch_catalog(spark, sf, prefix=prefix)
        return rows_result(spark, [(f"{prefix}*", sf)], "tables: string, sf: double")
    if name == "register_faker":
        from trino_spark.sources import faker

        view, schema, n = args[0], args[1], int(lits[2])
        seed = int(lits[3]) if len(lits) > 3 else 0
        faker.gen(spark, schema, n, seed=seed).createOrReplaceTempView(view)
        return rows_result(spark, [(view, n)], "table: string, rows: bigint")
    if name == "flush_query_log":
        return rows_result(spark, [(engine.queries.flush(),)], "flushed: bigint")
    if name == "add_row_filter":
        add_row_filter(engine, *args[:3])
        return rows_result(spark, [tuple(args[:2])], "role: string, table_name: string")
    if name == "add_column_mask":
        add_column_mask(engine, *args[:4])
        return rows_result(
            spark, [tuple(args[:3])], "role: string, table_name: string, column_name: string"
        )
    if name == "drop_row_filter":
        engine._acl["row_filters"].pop((args[0].lower(), args[1].lower()), None)
        return rows_result(spark, [(args[1],)], "table_name: string")
    if name == "kill_query":
        # system.runtime.kill_query(query_id, message) — reference:
        # main/connector/system/KillQueryProcedure.java:62. Cancels the
        # Spark job group the HTTP server tagged with the query id; the
        # victim's collect fails and the protocol surfaces FAILED.
        qid = args[0]
        msg = args[1] if len(args) > 1 else "killed by operator"
        rec = engine.queries.get(qid)
        if rec is None or rec.end is not None:
            raise ValueError(f"query not found or not running: {qid}")
        # cancelJobGroup only reaches jobs ACTIVE at this instant — a victim
        # still planning (or between jobs) would survive it. Mark the
        # record, which the server checks around its collect, and cancel
        # future jobs too where the Spark version supports it, so a kill
        # issued at any point after submission terminates the query.
        rec.killed = True
        sc = engine.spark.sparkContext
        cancel_future = getattr(sc, "cancelJobGroupAndFutureJobs", None)
        if callable(cancel_future):
            cancel_future(qid)
        else:
            try:
                # PySpark does not surface this method, but the JVM
                # SparkContext has it (Spark >= 3.5): it also cancels jobs
                # the group submits AFTER the call, closing the window
                # where a kill lands between the victim's planning and its
                # first job becoming active.
                sc._jsc.sc().cancelJobGroupAndFutureJobs(qid)
            except Exception:
                sc.cancelJobGroup(qid)
        _cancel_until_closed(sc, rec)
        return rows_result(spark, [(qid, msg)], "query_id: string, message: string")
    if name == "drop_column_mask":
        masks = engine._acl["column_masks"].get((args[0].lower(), args[1].lower()))
        if masks:
            masks.pop(args[2].lower(), None)
        return rows_result(spark, [(args[1],)], "table_name: string")
    raise ValueError(f"procedure not found: {name}")
