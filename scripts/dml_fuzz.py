"""DML differential fuzzer: random INSERT/UPDATE/DELETE sequences run
through the engine's partition-scoped copy-on-write DML layer AND DuckDB
on the same statement text, with full-table state compared after every
operation.

The DML lifecycle queries pin fixed scenarios; this fuzzer walks random
paths through the same machinery — interleaved inserts into existing and
new partitions, predicate updates that touch zero/some/all partitions,
range deletes, column updates feeding later predicates, a column default
that later column-list inserts fill, RENAME TO and back — where
copy-on-write or table-record bookkeeping bugs (stale carry, missed
partition, double apply, lost default) would surface as a state
divergence. A seeded share of the statements (transaction statements
included) starts with a block or line comment, as BI tools send them;
DuckDB runs the same text. Another seeded share takes the shapes a
write's clause reader must get right: a CASE WHEN in an UPDATE or MERGE
UPDATE SET, a string literal spelling WHERE/WHEN or an alias in a SET
value, and a `default.`-qualified target (the engine's text only: DuckDB
has no `default` schema). Both shares draw from generators of their own,
so a seed's operations stay what they were.

Usage: python scripts/dml_fuzz.py [n_ops] [seed]
"""

from __future__ import annotations

import os
import random
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

_CATS = ["'red'", "'green'", "'blue'", "'gold'"]
# SET values whose text spells a clause keyword or a MERGE alias
_WORDY = ["'see WHERE clause'", "'WHEN red THEN'", "'s.cat WHEN t.k'"]


def gen_op(
    rng: random.Random, table: str, next_k: list[int], added: list[str],
    shape: random.Random | None = None,
) -> tuple[list[str], list[str]]:
    """One random DML/DDL op → (engine_sqls, duckdb_sqls).

    Most ops are one statement with one text; MERGE is emulated on the
    DuckDB side with UPDATE..FROM + anti-join INSERT (DuckDB 1.0 has no
    MERGE). `shape`, when given, picks the clause shapes (CASE WHEN and
    keyword-spelling literals in SET values) without drawing from `rng`."""
    shape = shape or random.Random(0)
    choices = ["insert", "insert", "update_v", "update_cat", "delete", "merge",
               "alter_add", "insert_cols", "set_default", "rename"]
    if added:
        choices += ["alter_drop", "update_added"]
    kind = rng.choice(choices)
    if kind == "insert":
        rows = []
        for _ in range(rng.randint(1, 4)):
            k = next_k[0]
            next_k[0] += 1
            vals = [str(k), rng.choice(_CATS), str(rng.randint(0, 99))]
            vals += [str(rng.randint(0, 9)) for _ in added]
            rows.append("(" + ", ".join(vals) + ")")
        stmt = f"INSERT INTO {table} VALUES " + ", ".join(rows)
        return [stmt], [stmt]
    if kind == "insert_cols":
        # column-list INSERT: unmentioned columns get their default (v, once
        # set_default ran) or NULL
        k = next_k[0]
        next_k[0] += 1
        stmt = f"INSERT INTO {table} (k, cat) VALUES ({k}, {rng.choice(_CATS)})"
        return [stmt], [stmt]
    if kind == "update_v":
        m, r = rng.choice([(2, 0), (2, 1), (3, 0), (3, 2), (5, 1)])
        d = rng.randint(1, 9)
        value = f"v + {d}"
        if shape.random() < 0.35:
            value = f"CASE WHEN v > {shape.randint(10, 90)} THEN v - {d} ELSE v + {d} END"
        stmt = f"UPDATE {table} SET v = {value} WHERE k % {m} = {r}"
        return [stmt], [stmt]
    if kind == "update_cat":
        a, b = rng.sample(_CATS, 2)
        a = shape.choice(_WORDY) if shape.random() < 0.3 else a
        stmt = f"UPDATE {table} SET cat = {a} WHERE cat = {b} AND v < {rng.randint(20, 90)}"
        return [stmt], [stmt]
    if kind == "update_added":
        col = rng.choice(added)
        stmt = f"UPDATE {table} SET {col} = k % {rng.randint(2, 7)} WHERE v > {rng.randint(10, 60)}"
        return [stmt], [stmt]
    if kind == "set_default":
        stmt = f"ALTER TABLE {table} ALTER COLUMN v SET DEFAULT {rng.randint(0, 99)}"
        return [stmt], [stmt]
    if kind == "rename":
        # to a temporary name and back: everything of the table moves twice
        stmts = [
            f"ALTER TABLE {table} RENAME TO {table}_tmp",
            f"ALTER TABLE {table}_tmp RENAME TO {table}",
        ]
        return stmts, stmts
    if kind == "alter_add":
        col = f"x{len(added)}_{rng.randint(0, 999)}"
        added.append(col)
        stmt = f"ALTER TABLE {table} ADD COLUMN {col} BIGINT"
        return [stmt], [stmt]
    if kind == "alter_drop":
        col = added.pop(rng.randrange(len(added)))
        stmt = f"ALTER TABLE {table} DROP COLUMN {col}"
        return [stmt], [stmt]
    if kind == "merge":
        src_rows = []
        used: set[int] = set()
        for _ in range(rng.randint(1, 3)):
            if rng.random() < 0.5 and next_k[0] > 0:
                k = rng.randrange(next_k[0])  # may or may not still exist
                if k in used:  # duplicate source keys make MERGE ill-defined
                    k = next_k[0]
                    next_k[0] += 1
            else:
                k = next_k[0]
                next_k[0] += 1
            used.add(k)
            src_rows.append(f"({k}, {rng.choice(_CATS)}, {rng.randint(0, 99)})")
        vals = ", ".join(src_rows)
        src_rel = f"(SELECT * FROM (VALUES {vals}) AS z(k, cat, v)) s"
        ins_cols = "(k, cat, v)"
        # the target's columns as MERGE (t.) and DuckDB's UPDATE..FROM spell them
        sets = ["v = s.v + 1"] * 2
        if shape.random() < 0.5:
            x = shape.randint(10, 90)
            sets = [f"v = CASE WHEN s.v > {x} THEN s.v ELSE {q}.v + 1 END" for q in ("t", table)]
        if shape.random() < 0.3:
            wordy = shape.choice(_WORDY)
            sets = [f"{s}, cat = {wordy}" for s in sets]
        engine_stmt = (
            f"MERGE INTO {table} t USING {src_rel} ON t.k = s.k "
            f"WHEN MATCHED THEN UPDATE SET {sets[0]} "
            f"WHEN NOT MATCHED THEN INSERT {ins_cols} VALUES (s.k, s.cat, s.v)"
        )
        duck = [
            f"UPDATE {table} SET {sets[1]} FROM (VALUES {vals}) AS s(k, cat, v) "
            f"WHERE {table}.k = s.k",
            f"INSERT INTO {table} {ins_cols} SELECT k, cat, v "
            f"FROM (VALUES {vals}) AS s(k, cat, v) "
            f"WHERE k NOT IN (SELECT k FROM {table})",
        ]
        return [engine_stmt], duck
    lo = rng.randint(0, next_k[0])
    stmt = f"DELETE FROM {table} WHERE k BETWEEN {lo} AND {lo + rng.randint(0, 6)}"
    return [stmt], [stmt]


def qualify(stmt: str, table: str) -> str:
    """`stmt` with its target `table` spelled `default.<table>`."""
    for kw in ("INSERT INTO", "DELETE FROM", "UPDATE", "MERGE INTO", "ALTER TABLE"):
        stmt = stmt.replace(f"{kw} {table} ", f"{kw} default.{table} ", 1)
    return stmt


def fuzz_dml(
    n_ops: int = 25,
    seed: int = 42,
    sf_dir: str = "/root/testdata/sf0.001",
    partitioned: bool = True,
):
    """Returns list of divergence descriptions (empty = clean)."""
    import duckdb

    from trino_spark.dialect.engine import TrinoEngine
    from trino_spark.session import get_spark

    rng = random.Random(seed)
    table = f"fuzz_dml_{os.getpid()}_{seed}"
    spark = get_spark(app_name="dml_fuzz")
    eng = TrinoEngine(spark, sf_dir)
    con = duckdb.connect()

    seed_rows = ", ".join(
        f"({k}, {rng.choice(_CATS)}, {rng.randint(0, 99)})" for k in range(30)
    )
    seed_sel = f"SELECT * FROM (VALUES {seed_rows}) AS t(k, cat, v)"
    part = " WITH (partitioned_by = ARRAY['cat'])" if partitioned else ""
    eng.sql(f"DROP TABLE IF EXISTS {table}")
    eng.sql(f"CREATE TABLE {table}{part} AS {seed_sel}")
    con.execute(f"CREATE TABLE {table} AS {seed_sel}")
    next_k = [30]

    def states():
        a_df = eng.sql(f"SELECT * FROM {table}").toPandas()
        o_cols = [d[0] for d in con.execute(f"SELECT * FROM {table} LIMIT 0").description]
        o_rows = con.execute(f"SELECT * FROM {table}").fetchall()
        key = lambda r: tuple((x is None, str(x)) for x in r)  # noqa: E731
        a_raw = [
            tuple(None if (isinstance(x, float) and x != x) else x for x in r)
            for r in map(tuple, a_df.itertuples(index=False))
        ]  # NaN→None BEFORE sorting so both sides order nulls identically
        return list(a_df.columns), sorted(a_raw, key=key), o_cols, sorted(
            map(tuple, o_rows), key=key
        )

    def current_version() -> int:
        return eng.sql(
            f'SELECT max(version) AS v FROM "{table}$snapshots"'
        ).collect()[0].v

    bad: list[str] = []
    added: list[str] = []
    # version → (columns, duck state) recorded after each RESOLVED op;
    # keyed by the engine's own snapshot version (self-aligning across
    # transactions and rollbacks).
    history: dict[int, tuple[list, list]] = {}
    txn_until = -1  # op index at which the open transaction resolves
    txn_rollback = False
    txn_added_snapshot: list[str] = []
    use_txns = n_ops >= 10  # small runs stay plain-op (regression speed)
    # their own generators, so a seed's operations stay what they were
    lead_rng = random.Random(-seed)
    shape_rng = random.Random(f"shape-{seed}")

    def lead() -> str:
        return lead_rng.choice(("", "", "", "/* fuzz */ ", "-- fuzz\n"))
    for i in range(n_ops):
        # Randomly open a transaction spanning the next 1-3 ops, resolved
        # by COMMIT or ROLLBACK on both engines (engine: snapshot-pinned
        # log rewind; DuckDB: native). A rollback span replays the `added`
        # column bookkeeping so later ops match the reverted schema.
        if use_txns and txn_until < i and rng.random() < 0.25:
            span = rng.randint(1, 3)
            txn_until = i + span - 1
            txn_rollback = rng.random() < 0.5
            txn_added_snapshot = list(added)
            c = lead()
            eng.sql(c + "START TRANSACTION")
            con.execute(c + "BEGIN")
        eng_ops, duck_ops = gen_op(rng, table, next_k, added, shape_rng)
        if shape_rng.random() < 0.3:
            eng_ops = [qualify(s, table) for s in eng_ops]
        c = lead()
        eng_ops, duck_ops = [c + s for s in eng_ops], [c + s for s in duck_ops]
        op = "; ".join(eng_ops)
        try:
            for stmt in eng_ops:
                eng.sql(stmt)
        except Exception as exc:
            bad.append(f"op{i} ENGINE ERROR {op}: {str(exc).splitlines()[0][:160]}")
            break
        for d in duck_ops:
            con.execute(d)
        in_txn = txn_until > i
        if txn_until == i:
            end = lead() + ("ROLLBACK" if txn_rollback else "COMMIT")
            eng.sql(end)
            con.execute(end)
            if txn_rollback:
                added[:] = txn_added_snapshot  # full replay: drops too
        # State compare runs EVERY op — mid-transaction both sides see the
        # uncommitted state; after ROLLBACK both revert.
        a_cols, a, o_cols, o = states()
        if not in_txn:
            history[current_version()] = (o_cols, o)
        if a_cols != o_cols:
            bad.append(f"op{i} COLUMNS after {op!r}: engine={a_cols} duck={o_cols}")
            break
        if a != o:
            only_a = [r for r in a if r not in o][:3]
            only_o = [r for r in o if r not in a][:3]
            bad.append(
                f"op{i} DIVERGED after {op!r} (in_txn={in_txn}): "
                f"engine-only={only_a} duck-only={only_o} "
                f"(sizes {len(a)} vs {len(o)})"
            )
            break
    if not bad:
        # Time-travel audit: every RETAINED snapshot must reproduce the
        # recorded post-op state (snapshot-log pointer/carry correctness).
        key = lambda r: tuple((x is None, str(x)) for x in r)  # noqa: E731
        retained = [
            r.version
            for r in eng.sql(f'SELECT version FROM "{table}$snapshots"').collect()
            if r.version in history
        ]
        for v in retained:
            want_cols, want_rows = history[v]
            try:
                tt = eng.sql(f"SELECT * FROM {table} FOR VERSION AS OF {v}").toPandas()
            except ValueError:
                continue  # expired by snapshot retention (listed but pruned)
            if sorted(tt.columns) != sorted(want_cols):
                bad.append(
                    f"TIME TRAVEL v{v} COLUMNS: engine={sorted(tt.columns)} "
                    f"recorded={sorted(want_cols)}"
                )
                break
            if list(tt.columns) != want_cols:
                bad.append(
                    f"TIME TRAVEL v{v} COLUMN ORDER: engine={list(tt.columns)} "
                    f"declared={want_cols}"
                )
                break
            got = sorted(
                (
                    tuple(None if (isinstance(x, float) and x != x) else x for x in r)
                    for r in map(tuple, tt.itertuples(index=False))
                ),
                key=key,
            )
            if got != want_rows:
                bad.append(
                    f"TIME TRAVEL v{v} DIVERGED: engine rows {len(got)} vs "
                    f"recorded {len(want_rows)}"
                )
                break
    eng.sql(f"DROP TABLE IF EXISTS {table}")
    return bad


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 25
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 42
    all_bad = []
    for part in (True, False):
        b = fuzz_dml(n, seed, partitioned=part)
        all_bad += [f"[partitioned={part}] {x}" for x in b]
    for line in all_bad:
        print(line)
    print(f"\n2x{n} DML ops, {len(all_bad)} divergences (seed {seed})")
    sys.exit(1 if all_bad else 0)
