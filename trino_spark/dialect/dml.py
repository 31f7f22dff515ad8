"""Dialect DML: CREATE TABLE AS / INSERT / DELETE / UPDATE / MERGE / TRUNCATE
/ DROP executed through ``TrinoEngine.sql``.

Role-equivalent to the reference's DML entry point C (SURVEY.md §3.3):
TableWriterOperator -> TableFinishOperator for CTAS/INSERT
(core/trino-main/.../operator/TableWriterOperator.java:69), MergeWriter /
MergeProcessor for MERGE (MergeWriterOperator.java:48), and the
metadata-delete path (TableMutationOperator.java). Trino routes row changes
through a connector RowChangeParadigm; without a transactional table format
the Spark-first equivalent is **copy-on-write**: compute the post-change
relation declaratively (filter / CASE projection / full-outer merge join —
all Catalyst-optimized), write it to a staging directory, and atomically
swap directories (the same commit model Hive-style non-ACID connectors use
in the reference: delete+insert rewrite of affected data).

Managed tables live under ``spark-warehouse/dml/<name>``. Mutating a
registered read-only source (the driver's testdata parquet) raises, exactly
like Trino's "This connector does not support updates" (reference:
io.trino.spi.connector.ConnectorMetadata default methods).

Scale notes: each statement is one Spark job over the table — DELETE/UPDATE
are scan+filter/scan+project (whole-stage codegen, no shuffle), MERGE is the
single full-outer equi-join of operators/merge.py. The affected-row count
(Trino's TableFinish output) comes from parquet footer metadata or an
``Observation`` folded into the commit's own write job — never a second
scan of the data.

Partition-scoped copy-on-write: on a partitioned table, DELETE/UPDATE
derive the affected partitions dynamically (one pruned scan collecting the
matching files' partition dirs + values), rewrite ONLY those partitions,
and carry every untouched partition into the new table version by
HARDLINKING its files (metadata-only, no data movement) — the filesystem
analog of Delta/Iceberg file-scoped copy-on-write, where unaffected data
files are carried by pointer in the new snapshot. INSERT likewise appends:
it writes only the incoming rows and links the entire previous version.
At 100 TB a selective `DELETE WHERE day = ...` therefore rewrites one
partition, not the table.

Every commit is retained as a table VERSION (an entry of the table's
snapshot log on its ``ManagedTable`` record, the retired directory under
``.snapshots/<name>/``), read back via Trino's time-travel syntax
``FOR VERSION AS OF n`` / ``FOR TIMESTAMP AS OF t`` (grammar SqlBase.g4
queryPeriod; behavior: plugin/trino-iceberg time travel). Old versions are
pruned beyond a retention window, like snapshot expiration.
"""

from __future__ import annotations

import copy
import dataclasses
import datetime as _dt
import os
import re
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import StructType

from trino_spark.catalog import Described, read_parquet
from trino_spark.dialect import writes
from trino_spark.dialect.tokenizer import next_code, render, tokenize
from trino_spark.dialect.types import spark_type
from trino_spark.operators.merge import merge_into

#: retained historical versions per table (current version excluded);
#: older snapshot dirs are removed — lakehouse snapshot expiration.
SNAPSHOT_RETENTION = 8

# the result of ALTER TABLE ... EXECUTE optimize
_OPTIMIZED = "rows: bigint, files_before: int, files_after: int"


def _norm_name(name: str) -> str:
    return name.strip().strip('"').split(".")[-1].lower()


def _warehouse_dir() -> str:
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return os.path.join(repo, "spark-warehouse", "dml")


def try_execute(engine, sql: str) -> DataFrame | None:
    """Execute `sql` if it is a table write (CREATE TABLE, DROP TABLE,
    TRUNCATE, INSERT, DELETE, UPDATE, MERGE); return None otherwise.

    The write is read once (writes.read); a target `catalog.schema.table`
    of a mounted catalog goes to that catalog's sink (catalogs.write),
    any other to the managed table. Returns a one-row ``rows: bigint``
    DataFrame (the reference's TableFinishOperator rowcount result,
    TableFinishOperator.java:55).
    """
    w = writes.read(tokenize(sql))
    if w is None:
        return None
    if len(w.target) == 3 and w.target[0] in engine.catalogs:
        from trino_spark.dialect import catalogs as _cats

        return _cats.write(engine, w)
    return _SINKS[w.kind](engine, w)


# ---------------------------------------------------------------- storage


@dataclasses.dataclass
class ManagedTable(Described):
    """One engine-managed table: what the reference keeps in a connector's
    table metadata (for Iceberg, one metadata file with the schema,
    partition spec, properties, snapshot log and branch refs), plus the
    comments and column defaults every table record has. The data lives
    at `path`; each retired version under `snap_root`/vNNNNN. A
    branch fork is a record under its fork name whose `base` is the table
    it forks. Records live in ``engine.dml_tables``, in memory only."""

    name: str
    columns: list[str]  # the declared order; a hive layout reads partition columns last
    partition_by: list[str] | None = None
    properties: dict[str, str] = dataclasses.field(default_factory=dict)
    # one entry per commit, oldest first: version, committed_at(_iso),
    # operation, that version's declared columns, and `expired` once pruned
    log: list[dict] = dataclasses.field(default_factory=list)
    branches: dict[str, int] = dataclasses.field(default_factory=dict)  # -> created-from version
    base: str | None = None

    @property
    def path(self) -> str:
        return os.path.join(_warehouse_dir(), self.name)

    @property
    def snap_root(self) -> str:
        return os.path.join(_warehouse_dir(), ".snapshots", self.name)

    @property
    def version(self) -> int:
        return self.log[-1]["version"] if self.log else 0

    def version_dir(self, version: int) -> str:
        return os.path.join(self.snap_root, f"v{version:05d}")


def fork_name(table: str, branch: str) -> str:
    """The record name of `table`'s branch fork."""
    return f"{table}__branch_{branch}"


def _require_managed(engine, name: str) -> ManagedTable:
    rec = engine.dml_tables.get(name)
    if rec is None:
        # The reference raises MODIFYING_ROWS_NOT_SUPPORTED for connectors
        # without a RowChangeParadigm; our testdata parquet is read-only.
        raise ValueError(
            f"table '{name}' is not a managed (engine-created) table: "
            "this source does not support updates"
        )
    return rec


def _written_rows(path: str) -> int:
    """Row count from parquet footers — the commit's own metadata, no
    second scan (TableFinishOperator gets the count from writer stats)."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return total


def _stored(engine, rec: ManagedTable, version: int | None = None, schema=None) -> DataFrame:
    """Version `version` of `rec` (default: the current one) read back in
    its declared column order. `schema`, the version's schema when the
    caller has it, spares reading a footer."""
    path, columns = rec.path, rec.columns
    if version is not None:
        entry = next((e for e in rec.log if e["version"] == version), None)
        if entry is None:
            raise ValueError(f"table {rec.name}: version {version} does not exist")
        if version != rec.version:
            if entry.get("expired"):
                raise ValueError(
                    f"table {rec.name}: version {version} has been expired by snapshot retention"
                )
            path, columns = rec.version_dir(version), entry["columns"]
    if schema is None:
        df = read_parquet(engine.spark, path)
    else:
        part = rec.partition_by or []
        df = engine.spark.read.schema(
            StructType(
                [f for f in schema.fields if f.name not in part]
                + [f for f in schema.fields if f.name in part]
            )
        ).parquet(path)
    return df if df.columns == columns else df.select(*columns)


def _clear(engine, rec: ManagedTable) -> ManagedTable:
    """Put a table under a new name (CREATE TABLE, CTAS, CREATE BRANCH,
    RENAME TO) on clean paths: whatever an earlier process left under that
    name is not its data or history."""
    txn_snapshot_if_needed(engine, rec.name)
    shutil.rmtree(rec.path, ignore_errors=True)
    shutil.rmtree(rec.snap_root, ignore_errors=True)
    return rec


def _discard(engine, name: str) -> None:
    """DROP: the record, its data, its retired versions and its view."""
    rec = engine.dml_tables.pop(name)
    shutil.rmtree(rec.path, ignore_errors=True)
    shutil.rmtree(rec.snap_root, ignore_errors=True)
    engine.spark.catalog.dropTempView(name)
    refresh_infoschema(engine, dropped=name)


def _move(engine, old: str, new: str) -> ManagedTable:
    """RENAME TO: the record, its data and its retired versions move."""
    txn_snapshot_if_needed(engine, old)
    rec = engine.dml_tables.pop(old)
    src, src_snaps = rec.path, rec.snap_root
    rec.name = new
    _clear(engine, rec)
    os.rename(src, rec.path)
    if os.path.isdir(src_snaps):
        os.rename(src_snaps, rec.snap_root)
    engine.dml_tables[new] = rec
    engine.spark.catalog.dropTempView(old)
    _stored(engine, rec).createOrReplaceTempView(new)
    refresh_infoschema(engine, changed=new, dropped=old)
    return rec


def _link_tree(src_root: str, dst_root: str, rel_dirs: list[str] | None = None) -> None:
    """Hardlink every data file under `src_root` (or only the given leaf
    dirs) into `dst_root`, preserving relative paths. Links are metadata
    operations — carrying an untouched 1 TB partition into the new table
    version costs directory entries, not I/O. Falls back to copy when the
    filesystem refuses links."""

    def _link_dir(rel: str) -> None:
        sdir = os.path.join(src_root, rel) if rel else src_root
        for root, _dirs, files in os.walk(sdir):
            for f in files:
                if f.startswith(("_", ".")):
                    continue  # _SUCCESS / hidden metadata
                sp = os.path.join(root, f)
                rp = os.path.relpath(sp, src_root)
                dp = os.path.join(dst_root, rp)
                os.makedirs(os.path.dirname(dp), exist_ok=True)
                try:
                    os.link(sp, dp)
                except OSError:
                    shutil.copy2(sp, dp)

    if rel_dirs is None:
        _link_dir("")
    else:
        for rel in rel_dirs:
            _link_dir(rel)


def _leaf_partition_dirs(path: str) -> list[str]:
    """Relative paths of every directory under `path` that directly holds
    parquet files (the hive-layout leaf partitions). '' = flat root files."""
    out = []
    for root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            out.append(os.path.relpath(root, path))
    return ["" if d == "." else d for d in out]


def _commit(
    engine,
    rec: ManagedTable,
    df: DataFrame,
    preserve_rel_dirs: list[str] | None = None,
    append_base: bool = False,
    operation: str = "write",
) -> int:
    """Copy-on-write commit: stage-write the post-change relation, swap the
    table directory, re-register the view. Returns rows in the new state.

    The record's `partition_by` produces a hive-style layout (downstream
    scans get static partition pruning + DPP); mutations preserve it.
    `preserve_rel_dirs` carries the listed untouched partition dirs of the
    CURRENT version into the new one by hardlink (partition-scoped
    rewrite). `append_base` carries the ENTIRE current version and adds
    `df` on top (INSERT). The previous version's directory is retained as
    a snapshot for time travel rather than deleted. `df` is in declared
    column order (CTAS builds it, mutations derive from _stored), and the
    new version keeps that order."""
    txn_snapshot_if_needed(engine, rec.name)
    path = rec.path
    # Janitor: a crashed earlier run can leave .staging-*/.old-* dirs for
    # this table; concurrent runners use per-process table names, so any
    # leftover here is garbage.
    parent = os.path.dirname(path)
    if os.path.isdir(parent):
        base = os.path.basename(path)
        for d in os.listdir(parent):
            if d.startswith((f"{base}.staging-", f"{base}.old-")):
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    staging = f"{path}.staging-{uuid.uuid4().hex[:8]}"
    part_cols = rec.partition_by
    w = df.write.mode("overwrite")
    if part_cols:
        w = w.partitionBy(*part_cols)
    w.parquet(staging)
    if os.path.isdir(path):
        if append_base:
            # INSERT: new version = all previous files (linked) + new rows.
            # A flat 0-row placeholder in a partitioned layout (freshly
            # created / truncated table) is skipped — linking it next to
            # hive dirs would break partition discovery, and it holds no
            # rows.
            rels = _leaf_partition_dirs(path)
            if not (part_cols and rels == [""] and _written_rows(path) == 0):
                _link_tree(path, staging, rels)
        elif preserve_rel_dirs:
            _link_tree(path, staging, preserve_rel_dirs)
    if not any(
        f.endswith(".parquet") for _r, _d, fs in os.walk(staging) for f in fs
    ):
        # Zero rows + partitionBy writes no part files, and a dir with no
        # parquet cannot be re-read ("unable to infer schema"). Rewrite the
        # empty state flat — the file carries the full schema (partition
        # columns included) and the layout reapplies on the next insert.
        shutil.rmtree(staging, ignore_errors=True)
        df.limit(0).write.mode("overwrite").parquet(staging)
    # Version bookkeeping: retire the current directory into the snapshot
    # log (time travel reads it back); prune beyond retention.
    if os.path.exists(path):
        os.makedirs(rec.snap_root, exist_ok=True)
        os.rename(path, rec.version_dir(rec.version))
    now = _dt.datetime.now(_dt.timezone.utc)
    rec.columns = list(df.columns)
    rec.log.append(
        {
            "version": rec.version + 1,
            "committed_at": now.timestamp(),
            "committed_at_iso": now.isoformat(),
            "operation": operation,
            "columns": rec.columns,
        }
    )
    live = [e for e in rec.log if not e.get("expired")]
    for e in live[:-(SNAPSHOT_RETENTION + 1)]:
        shutil.rmtree(rec.version_dir(e["version"]), ignore_errors=True)
        e["expired"] = True
    os.rename(staging, path)
    engine.dml_tables[rec.name] = rec
    # The committed schema is known, so the view's read skips the footer.
    _stored(engine, rec, schema=df.schema).createOrReplaceTempView(rec.name)
    refresh_infoschema(engine, changed=rec.name)
    return _written_rows(path)


def rows_result(spark, rows, ddl: str = "rows: bigint") -> DataFrame:
    """A result the driver builds itself: `rows` (tuples, or an Arrow table
    with the same column names) under the Spark DDL schema `ddl`, or, given
    an int, the one-row `rows: bigint` count of a write
    (TableFinishOperator's row count). Built from an Arrow table it plans
    as a LocalRelation, so collecting it runs no Spark job; built from a
    Python list it would plan a Scan ExistingRDD, whose collect is a job
    through the Python workers."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(rows, int):
        rows = [(rows,)]
    schema = _parse_datatype_string(ddl)
    if not isinstance(rows, pa.Table):
        arrow = to_arrow_schema(schema)
        cols = list(zip(*rows)) if rows else [()] * len(arrow)
        rows = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
        )
    return spark.createDataFrame(rows, schema)


def _translate_fragment(engine, text: str) -> str:
    """Run a predicate/expression fragment through the dialect translator
    (function renames, || handling, AT TIME ZONE, ...)."""
    from trino_spark.dialect.rewrites import translate

    from trino_spark.dialect import routines as _routines_mod

    return translate(_routines_mod.expand(text, engine.routines))


# ---------------------------------------------------------------- statements
# The managed-table sink: one function per kind of write (writes.Write).


def _create(engine, w: writes.Write) -> DataFrame:
    """CREATE TABLE [IF NOT EXISTS] t (column definitions) | AS query
    [COMMENT '...'] [WITH (...)] (CreateTableTask / CreateTableAsSelect)."""
    name = w.target[-1]
    if name in engine.dml_tables:
        if w.if_exists:
            return rows_result(engine.spark, 0)
        raise ValueError(f"table already exists: {name}")
    rec = ManagedTable(name, [], _layout(w.props), comment=w.comment)
    if w.query is None:
        ddl = ", ".join(" ".join(_column_definition(rec, c)) for c in w.columns)
        _commit(engine, _clear(engine, rec), rows_result(engine.spark, [], ddl))
        return rows_result(engine.spark, 0)
    df = query_of(engine, w)
    return rows_result(engine.spark, _commit(engine, _clear(engine, rec), df, operation="ctas"))


def query_of(engine, w: writes.Write) -> DataFrame:
    """A CTAS's or INSERT's source query, run through the engine; a CTAS's
    column list names the query's columns (CreateTableAsSelect's column
    aliases), one name per column."""
    df = engine.sql(w.query)
    if w.kind != "CREATE" or not w.columns:
        return df
    if len(w.columns) != len(df.columns):
        raise ValueError(
            f"MISMATCHED_COLUMN_ALIASES: the column list names {len(w.columns)} columns,"
            f" the query returns {len(df.columns)}"
        )
    return df.toDF(*w.columns)


def _layout(props: dict) -> list[str] | None:
    """CREATE TABLE's WITH properties (reference: HiveTableProperties):
    `partitioned_by = ARRAY['c', ...]` gives a hive layout; `format =
    'PARQUET'` is accepted, any other format raises (parquet is the only
    storage here) rather than silently writing parquet."""
    for key, value in props.items():
        if key == "format" and str(value).upper() != "PARQUET":
            raise ValueError(f"CTAS WITH format = '{value}' not supported (parquet only)")
        if key not in ("format", "partitioned_by"):
            raise ValueError(f"unsupported CTAS table property: {key}")
    cols = props.get("partitioned_by") or None
    return [cols] if isinstance(cols, str) else cols


def _drop(engine, w: writes.Write) -> DataFrame:
    name = w.target[-1]
    rec = engine.dml_tables.get(name)
    if rec is not None:
        if rec.base is not None:
            raise ValueError(f"{name} is a branch of {rec.base}: DROP BRANCH drops it")
        # the table's branch forks go with it
        for n in [name, *(fork_name(name, b) for b in rec.branches)]:
            txn_snapshot_if_needed(engine, n)
            _discard(engine, n)
    elif name in engine.catalog._sources:
        # a registered source is read-only, as the tpch connector is
        # (ConnectorMetadata.dropTable's default): refused, IF EXISTS or not
        raise ValueError(f"{name}: This connector does not support dropping tables")
    elif engine.spark.catalog.tableExists(name):
        # A saveAsTable-managed (e.g. bucketed-CTAS) catalog table.
        engine.spark.sql(f"DROP TABLE {name}")
    elif not w.if_exists:
        raise ValueError(f"table not found: {name}")
    return rows_result(engine.spark, 0)


def _truncate(engine, w: writes.Write) -> DataFrame:
    rec = _require_managed(engine, w.target[-1])
    _commit(engine, rec, _stored(engine, rec).limit(0), operation="truncate")
    return rows_result(engine.spark, 0)


def align_insert(engine, incoming: DataFrame, schema: StructType, columns: list[str],
                 defaults: dict[str, str]) -> DataFrame:
    """The INSERT column rule (StatementAnalyzer's insert analysis) of every
    table an INSERT writes: the values fill the listed `columns`, else every
    column in table order; an unlisted column gets its declared DEFAULT
    (#setDefaultValue), else NULL; each value is cast to its column type."""
    names = columns or schema.names
    listed = {c.lower() for c in names}
    if len(incoming.columns) != len(names):
        raise ValueError(f"INSERT arity mismatch: {len(incoming.columns)} values for {len(names)} columns")
    unknown = listed - {c.lower() for c in schema.names}
    if unknown:
        raise ValueError(f"INSERT column not found: {min(unknown)}")
    return incoming.toDF(*names).select(
        *[
            (
                F.col(f.name) if f.name.lower() in listed
                else F.expr(_translate_fragment(engine, defaults[f.name])) if f.name in defaults
                else F.lit(None)
            ).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )


def _insert(engine, w: writes.Write) -> DataFrame:
    rec = _require_managed(engine, w.target[-1])
    current = _stored(engine, rec)
    aligned = align_insert(engine, engine.sql(w.query), current.schema, w.columns, rec.defaults)
    # Append-only commit: write ONLY the incoming rows; the previous
    # version's files are carried into the new version by hardlink (the
    # lakehouse "add files to snapshot" shape — an INSERT never rewrites
    # existing data). Inserted count from footer metadata (before/after).
    before = _written_rows(rec.path)
    total = _commit(engine, rec, aligned, append_base=True, operation="insert")
    return rows_result(engine.spark, total - before)


def _affected_partitions(rec: ManagedTable, df: DataFrame, pred):
    """Dynamically derive the partitions a predicate touches: one pruned
    scan collecting (file, partition values) of matching rows. Returns
    (affected_row_filter, untouched_rel_dirs) or None when the
    partition-scoped path does not apply (unpartitioned / flat layout /
    nothing matched → caller short-circuits on []).

    This is the engine-side analog of the reference's metadata-delete
    partition derivation (TableMutationOperator.java) and of Delta's
    find-touched-files phase. The collect is bounded by the number of
    AFFECTED data files (metadata scale, not data scale)."""
    from urllib.parse import unquote, urlparse

    part_cols, path = rec.partition_by, rec.path
    if not part_cols:
        return None
    leafs = _leaf_partition_dirs(path)
    if "" in leafs:
        return None  # flat/placeholder layout: full rewrite
    touched = (
        df.filter(pred)
        .select(F.input_file_name().alias("__f"), *part_cols)
        .distinct()
        .collect()
    )
    real = os.path.realpath(path)
    affected_dirs = set()
    affected_vals = set()
    for r in touched:
        fpath = os.path.realpath(unquote(urlparse(r["__f"]).path))
        affected_dirs.add(os.path.relpath(os.path.dirname(fpath), real))
        affected_vals.add(tuple(r[c] for c in part_cols))
    if not touched:
        return (None, [])
    untouched = [d for d in leafs if d not in affected_dirs]
    if not untouched:
        # every partition is affected: the scoped machinery would only add
        # an isin-filter over the full scan — plain full rewrite is the
        # same work with a simpler plan
        return None
    cond = None
    for vals in affected_vals:
        piece = None
        for c, v in zip(part_cols, vals):
            eq = F.col(c).eqNullSafe(F.lit(v))
            piece = eq if piece is None else piece & eq
        cond = piece if cond is None else cond | piece
    return (cond, untouched)


def _delete(engine, w: writes.Write) -> DataFrame:
    name = w.target[-1]
    from trino_spark.dialect import access as _access

    rf_sql, masks = _access.dml_target_security(engine, name)
    rec = _require_managed(engine, name)
    df = _stored(engine, rec)
    # Row filter on the DML target (ConnectorAccessControl.getRowFilters
    # binds to the target scan too): rows the role cannot see are
    # untouchable. Evaluated on REAL rows; the user's WHERE sees MASKED
    # values (mask_fragment), matching read-side semantics.
    visible = (
        F.coalesce(F.expr(_translate_fragment(engine, rf_sql)), F.lit(False))
        if rf_sql
        else None
    )
    if w.where is None and visible is None and not masks:
        # Unconditional DELETE == TRUNCATE shape; count from footers.
        before = _written_rows(rec.path)
        _commit(engine, rec, df.limit(0), operation="delete")
        return rows_result(engine.spark, before)
    # DELETE removes rows where pred is TRUE; NULL predicate keeps.
    where = render(w.where) if w.where is not None else "true"
    pred = F.coalesce(
        F.expr(
            _translate_fragment(engine, _access.mask_fragment(masks, where, target=name))
        ),
        F.lit(False),
    )
    if visible is not None:
        pred = pred & visible
    # Deleted-row count = footer-metadata delta (before/after) — rows only
    # ever leave, so no counting scan or observation is needed.
    before = _written_rows(rec.path)
    after = _rewrite(engine, rec, df, pred, lambda rows: rows.filter(~pred), "delete")
    return rows_result(engine.spark, 0 if after is None else before - after)


def _rewrite(engine, rec: ManagedTable, df: DataFrame, pred, build, operation: str,
             scoped: bool = True) -> int | None:
    """Commit `build(rows)` as the table's next version, `df` its current
    rows. On a partitioned table (and `scoped`) only the partitions
    `pred` touches are rewritten (a partition-pruned scan); the untouched
    ones are hardlinked into the new version. Returns the new version's
    row count; None, committing nothing, when `pred` matched no row."""
    touched = _affected_partitions(rec, df, pred) if scoped else None
    if touched is None:
        return _commit(engine, rec, build(df), operation=operation)
    cond, untouched = touched
    if cond is None:
        return None
    return _commit(engine, rec, build(df.filter(cond)), preserve_rel_dirs=untouched, operation=operation)


def _update(engine, w: writes.Write) -> DataFrame:
    name = w.target[-1]
    from trino_spark.dialect import access as _access

    rf_sql, masks = _access.dml_target_security(engine, name)
    if masks:
        # Reference parity (StatementAnalyzer): "Updating a table with
        # column masks is not supported" — a SET expression could read a
        # masked column's raw value (exfiltration) or, masked, silently
        # destroy data via `SET c = c`. Fail closed.
        raise _access.AccessDenied(
            f"Access Denied: updating column-masked table {name} is not allowed"
        )
    rec = _require_managed(engine, name)
    df = _stored(engine, rec)
    pred = F.expr(_translate_fragment(engine, render(w.where))) if w.where else F.lit(True)
    pred = F.coalesce(pred, F.lit(False))
    if rf_sql:
        # Target row filter (getRowFilters binds to the UPDATE scan too):
        # rows the role cannot see are untouchable.
        pred = pred & F.coalesce(F.expr(_translate_fragment(engine, rf_sql)), F.lit(False))
    updated_cols = {c: F.expr(_translate_fragment(engine, render(e))) for c, e in w.sets}

    def _project(src: DataFrame) -> DataFrame:
        return src.select(
            *[
                (
                    F.when(pred, updated_cols[f_.name].cast(f_.dataType)).otherwise(F.col(f_.name))
                    if f_.name in updated_cols
                    else F.col(f_.name)
                ).alias(f_.name)
                for f_ in df.schema.fields
            ]
        )

    obs = Observation()
    n_expr = F.sum(pred.cast("long")).alias("n")
    # An UPDATE that reassigns a partition column can move rows into
    # partitions the predicate never touched — only the full rewrite is
    # correct there. (Moving INTO an untouched partition is fine in the
    # scoped path: the staged write and the hardlinked files merge into
    # the same partition dir.)
    done = _rewrite(
        engine, rec, df, pred, lambda rows: _project(rows.observe(obs, n_expr)), "update",
        scoped=not any(c in updated_cols for c in rec.partition_by or []),
    )
    return rows_result(engine.spark, 0 if done is None else int(obs.get["n"] or 0))


def _merge(engine, w: writes.Write) -> DataFrame:
    """MERGE INTO via the full-outer-join rewrite (operators/merge.py).

    Supported clause shapes (the reference applies clauses first-match-wins,
    MergeProcessorOperator row routing): any of
      WHEN MATCHED [AND c] THEN DELETE
      WHEN MATCHED [AND c] THEN UPDATE SET col = expr, ...
      WHEN NOT MATCHED THEN INSERT [(cols)] VALUES (exprs)
    with at most one clause of each kind; a conditional UPDATE listed before
    an unconditional DELETE is rejected (priority would differ from the
    join rewrite's delete-then-update routing).
    """
    tgt_name = w.target[-1]
    t_alias = w.alias or tgt_name
    s_alias = w.using_alias or (w.using[-1] if w.using else "src")
    from trino_spark.dialect import access as _access

    rf_sql, masks = _access.dml_target_security(engine, tgt_name)
    if masks:
        # Fail closed: MERGE clause expressions could route a masked
        # column's raw value through the join rewrite; the reference
        # likewise denies table mutation when masks bind to the target.
        raise _access.AccessDenied(
            f"Access Denied: MERGE into column-masked table {tgt_name} is not allowed"
        )
    rec = _require_managed(engine, tgt_name)
    target = _stored(engine, rec)
    hidden = None
    if rf_sql:
        # Row-filtered MERGE target: only visible rows participate in the
        # join (an invisible matched row is NOT MATCHED, exactly as if the
        # filtered scan fed the merge); invisible rows are carried through
        # untouched and unioned back into the committed version.
        vis = F.coalesce(F.expr(_translate_fragment(engine, rf_sql)), F.lit(False))
        hidden = target.filter(~vis)
        target = target.filter(vis)
    source = engine.sql(w.using_query) if w.using_query else engine.catalog.table(w.using[-1])

    def sub(expr: writes.Clause) -> F.Column:
        """t.col -> col, s.col -> s_col (merge_into's naming contract)."""
        return F.expr(_translate_fragment(engine, writes.rebind(expr, {t_alias: "", s_alias: "s_"})))

    # Equi-keys: each ON conjunct is `a.k = b.k`, a and b the two aliases.
    keys = []
    for piece in w.on:
        code = [t.text.strip('"').lower() for t in piece if t.kind != "WS"]
        if not (
            len(code) == 7 and code[1::4] == [".", "."] and code[3] == "="
            and {code[0], code[4]} <= {t_alias, s_alias} and code[2] == code[6]
        ):
            raise ValueError(
                f"MERGE ON must be a conjunction of t.k = s.k equalities, got: {render(piece)}"
            )
        keys.append(code[2])

    update_set: dict | None = None
    update_cond = delete_cond = None
    insert_values: dict | None = None
    for when in w.whens:
        if when.matched and when.action == "DELETE":
            if update_set is not None:
                # The reference routes rows first-match-wins
                # (MergeProcessorOperator); the join rewrite applies DELETE
                # before UPDATE, so only that clause order is equivalent.
                raise ValueError("MERGE: place WHEN MATCHED ... DELETE before UPDATE")
            delete_cond = sub(when.cond) if when.cond else F.lit(True)
        elif when.matched and when.action == "UPDATE":
            update_cond = sub(when.cond) if when.cond else None
            update_set = {c: sub(e) for c, e in when.sets}
        elif not when.matched and when.action == "INSERT":
            cols = when.columns or [f.name for f in target.schema.fields]
            if len(cols) != len(when.values):
                raise ValueError("MERGE INSERT column/value count mismatch")
            insert_values = {c: sub(v) for c, v in zip(cols, when.values)}
        else:
            matched = "MATCHED" if when.matched else "NOT MATCHED"
            raise ValueError(f"unsupported MERGE clause: WHEN {matched} ... THEN {when.action}")

    update_touch = update_cond if update_set is not None else None
    if update_set is not None and update_cond is not None:
        # merge_into applies update to every surviving matched row; narrow
        # each assignment with the clause condition.
        update_set = {
            c: F.when(F.coalesce(update_cond, F.lit(False)), e).otherwise(F.col(c))
            for c, e in update_set.items()
        }
    if insert_values is not None:
        insert_values = {
            c: e.cast(target.schema[c].dataType) for c, e in insert_values.items() if c in target.columns
        }

    # Affected rows (TableFinish count) ride the merge join itself as an
    # Observation: rows a clause actually touched (deleted / updated under
    # the clause condition / inserted) — an insert-only MERGE reports only
    # inserts, matching MergeWriterOperator's written-row accounting. No
    # separate counting joins.
    obs = Observation()
    out = merge_into(
        target, source, keys=keys, update_set=update_set, delete_condition=delete_cond,
        insert_values=insert_values, count_into=obs, update_touch_condition=update_touch,
    )
    if hidden is not None:
        out = out.unionByName(hidden)
    _commit(engine, rec, out, operation="merge")
    m_ = obs.get
    return rows_result(engine.spark, int((m_["touched"] or 0) + (m_["inserted"] or 0)))


# the managed-table sink of each kind of write (try_execute)
_SINKS: dict[str, Callable[..., DataFrame]] = {
    "CREATE": _create, "DROP": _drop, "TRUNCATE": _truncate, "INSERT": _insert,
    "DELETE": _delete, "UPDATE": _update, "MERGE": _merge,
}


# ---------------------------------------------------------------- time travel
#
# Trino's queryPeriod grammar (SqlBase.g4: tableName FOR VERSION|TIMESTAMP
# AS OF expr; behavior: plugin/trino-iceberg + plugin/trino-delta-lake time
# travel). Every _commit retains the previous table directory as an
# immutable snapshot; a reference pinned to a version reads it back
# (dialect/relations.py substitutes a view over it).


def list_versions(engine, name: str) -> list[dict]:
    """The snapshot log for a managed table (system.metadata-style history
    surface; Iceberg's $snapshots metadata table analog)."""
    return _require_managed(engine, name).log


def version_as_of(rec: ManagedTable, period: str, literal: str) -> int:
    """The version `FOR VERSION|TIMESTAMP AS OF literal` pins: that version,
    or the last one committed at or before the timestamp."""
    if period == "VERSION":
        return int(literal)
    ts = _dt.datetime.fromisoformat(literal)
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    older = [e["version"] for e in rec.log if e["committed_at"] <= ts.timestamp()]
    if not older:
        raise ValueError(f"table {rec.name}: no version committed at or before {literal}")
    return max(older)


def _file_rows(engine, rec: ManagedTable) -> list[tuple]:
    """(file_path, file_format, partition, record_count, file_size_in_bytes)
    per data file of a table's current directory — counts from parquet
    FOOTERS, no data scan (exactly how FilesTable reads manifest entries,
    not files). file_path is relative to the table root; partition is the
    relative directory of a Hive-partitioned file (NULL for unpartitioned)."""
    import pyarrow.parquet as pq

    rows = []
    for root, _dirs, files in os.walk(rec.path):
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            full = os.path.join(root, f)
            rel_dir = os.path.relpath(root, rec.path)
            rows.append(
                (
                    os.path.relpath(full, rec.path),
                    "PARQUET",
                    None if rel_dir == "." else rel_dir,
                    pq.ParquetFile(full).metadata.num_rows,
                    os.path.getsize(full),
                )
            )
    return rows


def _partition_rows(engine, rec: ManagedTable) -> list[tuple]:
    agg: dict = {}
    for _fp, _fmt, part, nrec, nbytes in _file_rows(engine, rec):
        c = agg.setdefault(part, [0, 0, 0])
        c[0] += nrec
        c[1] += 1
        c[2] += nbytes
    return [(p, *c) for p, c in sorted(agg.items(), key=lambda kv: str(kv[0]))]


def _snapshot_rows(engine, rec: ManagedTable) -> list[tuple]:
    return [
        (e["version"], e["committed_at_iso"], e["operation"], e["version"] == rec.version,
         bool(e.get("expired")))
        for e in rec.log
    ]


_SNAPSHOTS = (
    "version: bigint, committed_at: string, operation: string, is_current: boolean,"
    " expired: boolean"
)

# Iceberg-style metadata tables "t$kind" over the snapshot log and the
# current table directory (SnapshotsTable, HistoryTable, FilesTable,
# PartitionsTable, RefsTable, PropertiesTable): kind -> (Spark DDL schema,
# rows of a table's record). At scale these are metadata-only reads — the
# file listing and footers, never the data pages.
METADATA: dict[str, tuple[str, Callable]] = {
    "snapshots": (_SNAPSHOTS, _snapshot_rows),
    "history": (_SNAPSHOTS, _snapshot_rows),
    "files": (
        "file_path: string, file_format: string, partition: string, record_count: bigint,"
        " file_size_in_bytes: bigint",
        _file_rows,
    ),
    "partitions": (
        "partition: string, record_count: bigint, file_count: bigint, total_size: bigint",
        _partition_rows,
    ),
    # 'main' plus every branch, each with the tip of its own snapshot log
    "refs": (
        "name: string, type: string, version: bigint",
        lambda engine, rec: [("main", "BRANCH", rec.version)] + [
            (b, "BRANCH", engine.dml_tables[fork_name(rec.name, b)].version)
            for b in sorted(rec.branches)
        ],
    ),
    # the SET PROPERTIES key/values
    "properties": (
        "key: string, value: string", lambda engine, rec: sorted(rec.properties.items())
    ),
}


# ---------------------------------------------------------------- transactions
#
# Trino's transaction statements (grammar SqlBase.g4 START TRANSACTION /
# COMMIT / ROLLBACK; io.trino.execution.StartTransactionTask). Engine DML is
# copy-on-write, so a transaction PINS each managed table it touches: before
# the first change, a copy of the table's record and a hardlinked copy of
# its current directory (metadata-only: the current directory must stay
# readable because the mutating statement itself reads it lazily). ROLLBACK
# puts both back, so data, snapshot log, layout, columns, defaults,
# comments and properties rewind together; COMMIT discards the pins. A
# lakehouse format would pin the old snapshot id instead.


def txn_begin(engine) -> None:
    if engine._txn is not None:
        raise ValueError("transaction already in progress (no nested transactions)")
    # sources: each catalog source record a COMMENT changed, as it was before
    engine._txn = {"pins": {}, "created": set(), "sources": {}}


def txn_snapshot_if_needed(engine, name: str) -> None:
    """Before the first in-transaction change of `name`, pin its record and
    directory (a table born inside the transaction is only noted: rollback
    drops it)."""
    txn = engine._txn
    if txn is None or name in txn["pins"] or name in txn["created"]:
        return
    rec = engine.dml_tables.get(name)
    if rec is None:
        txn["created"].add(name)
        return
    snap = f"{rec.path}.txn-{uuid.uuid4().hex[:8]}"
    shutil.copytree(rec.path, snap, copy_function=os.link)  # hardlinks: metadata-only pin
    txn["pins"][name] = (snap, rec, copy.deepcopy(rec))


def _txn_end(engine) -> dict:
    txn = engine._txn
    if txn is None:
        raise ValueError("no transaction in progress")
    engine._txn = None
    return txn


def txn_commit(engine) -> None:
    for snap, _live, _pinned in _txn_end(engine)["pins"].values():
        shutil.rmtree(snap, ignore_errors=True)


def txn_rollback(engine) -> None:
    txn = _txn_end(engine)
    engine.catalog._sources.update(txn["sources"])
    tables = engine.dml_tables
    for name, (snap, live, pinned) in txn["pins"].items():
        cur = tables.get(name)
        if cur is not None and cur is not live:  # dropped or renamed away, then re-created
            _discard(engine, name)
        if tables.get(live.name) is live:
            # The versions committed inside never happened; >= because the
            # pinned version's retired directory must go too, or the next
            # commit's retire onto it would collide. A table renamed inside
            # takes its retired versions home.
            for e in live.log:
                if e["version"] >= pinned.version:
                    shutil.rmtree(live.version_dir(e["version"]), ignore_errors=True)
            if live.name != name and os.path.isdir(live.snap_root):
                os.rename(live.snap_root, pinned.snap_root)
        shutil.rmtree(pinned.path, ignore_errors=True)
        os.rename(snap, pinned.path)
        # versions whose directories went inside (retention, DROP) stay
        # listed, as expired
        for e in pinned.log[:-1]:
            if not os.path.isdir(pinned.version_dir(e["version"])):
                e["expired"] = True
        tables[name] = pinned
        _stored(engine, pinned).createOrReplaceTempView(name)
        refresh_infoschema(engine, changed=name)
    for name in txn["created"]:
        if name in tables:
            _discard(engine, name)


# ---------------------------------------------------------------- DDL
#
# CREATE VIEW (logical, lazily re-resolved), plain CREATE TABLE (empty
# managed table from a column list), and ALTER TABLE column evolution —
# the remaining statement surface of the reference's metadata entry point
# (CreateViewTask.java, CreateTableTask.java, AddColumnTask.java /
# DropColumnTask.java / RenameColumnTask.java). ALTER on a managed table
# is a projection rewrite + copy-on-write commit: schema evolution without
# a metastore.


def drop_view(engine, stripped: str) -> DataFrame:
    name, if_exists, _ = writes.named(stripped, "VIEW")
    if engine.views.pop(name, None) is not None:
        engine.spark.catalog.dropTempView(name)
    elif not if_exists:
        raise ValueError(f"view not found: {name}")
    return rows_result(engine.spark, [(name,)], "view: string")


def show_create_view(engine, stripped: str) -> DataFrame:
    name = _norm_name(stripped.split()[3])
    if name not in engine.views:
        raise ValueError(f"view not found: {name}")
    return rows_result(
        engine.spark, [(f"CREATE VIEW {name} AS\n{engine.views[name]}",)], "create_view: string"
    )


def alter_view(engine, stripped: str) -> DataFrame:
    # #renameView / #refreshView (grammar SqlBase.g4:130-131).
    views = engine.views
    name, _, rest = writes.named(stripped, "VIEW")
    new, refresh = writes.renamed(rest), render(rest).strip().upper() == "REFRESH"
    if new is None and not refresh:
        raise ValueError(f"cannot parse ALTER VIEW: {stripped[:80]}")
    if name not in views:
        raise ValueError(f"view not found: {name}")
    if refresh:  # re-resolve the definition against sources
        engine.sql(views[name]).createOrReplaceTempView(name)
        return rows_result(engine.spark, [(name,)], "view: string")
    views[new] = views.pop(name)
    engine.spark.catalog.dropTempView(name)
    engine.sql(views[new]).createOrReplaceTempView(new)
    refresh_infoschema(engine, changed=new, dropped=name)
    return rows_result(engine.spark, [(new,)], "view: string")


def alter_materialized_view(engine, stripped: str) -> DataFrame:
    # #renameMaterializedView: the stored data moves with the name.
    name, if_exists, rest = writes.named(stripped, "VIEW")
    new = writes.renamed(rest)
    if new is None:
        raise ValueError(f"cannot parse ALTER MATERIALIZED VIEW: {stripped[:80]}")
    if name not in engine.materialized_views:
        if if_exists:
            return rows_result(engine.spark, [(name,)], "materialized_view: string")
        raise ValueError(f"materialized view not found: {name}")
    engine.materialized_views[new] = engine.materialized_views.pop(name)
    engine._mv_meta[new] = engine._mv_meta.pop(name, {})
    # MVs materialize under spark-warehouse/mv (engine._mv_refresh), NOT
    # the DML table dir.
    mv_dir = os.path.join(os.path.dirname(_warehouse_dir()), "mv")
    if os.path.isdir(os.path.join(mv_dir, name)):
        shutil.rmtree(os.path.join(mv_dir, new), ignore_errors=True)
        os.rename(os.path.join(mv_dir, name), os.path.join(mv_dir, new))
        read_parquet(engine.spark, os.path.join(mv_dir, new)).createOrReplaceTempView(new)
    engine.spark.catalog.dropTempView(name)
    return rows_result(engine.spark, [(new,)], "materialized_view: string")


# Schema registry (#createSchema/#dropSchema/#renameSchema;
# CreateSchemaTask.java). The engine's table namespace is flat (every
# qualified name resolves by last component, like a single-schema
# catalog), so schemas are a metadata surface: SHOW SCHEMAS lists them,
# properties are retained for SHOW CREATE SCHEMA.


def show_create_schema(engine, stripped: str) -> DataFrame:
    reg = engine.schemas
    name = _norm_name(stripped.split()[3])
    if name not in reg:
        raise ValueError(f"schema not found: {name}")
    props = ""
    if reg[name]:
        kv = ",\n   ".join(f"{k} = '{v}'" for k, v in sorted(reg[name].items()))
        props = f"\nWITH (\n   {kv}\n)"
    return rows_result(engine.spark, [(f"CREATE SCHEMA {name}{props}",)], "create_schema: string")


def create_schema(engine, stripped: str) -> DataFrame:
    name, if_exists, rest = writes.named(stripped, "SCHEMA")
    if name in engine.schemas:
        if if_exists:
            return rows_result(engine.spark, [(name,)], "schema: string")
        raise ValueError(f"schema already exists: {name}")
    k = next((i for i, t in enumerate(rest) if t.is_word("WITH")), None)  # past AUTHORIZATION
    engine.schemas[name] = {} if k is None else writes.properties(rest, next_code(rest, k + 1))
    return rows_result(engine.spark, [(name,)], "schema: string")


def drop_schema(engine, stripped: str) -> DataFrame:
    name, if_exists, _ = writes.named(stripped, "SCHEMA")  # CASCADE | RESTRICT alike
    if name == "default":
        raise ValueError("cannot drop the default schema")
    if engine.schemas.pop(name, None) is None and not if_exists:
        raise ValueError(f"schema not found: {name}")
    return rows_result(engine.spark, [(name,)], "schema: string")


def alter_schema(engine, stripped: str) -> DataFrame:
    name, _, rest = writes.named(stripped, "SCHEMA")
    new = writes.renamed(rest)
    if new is None:
        raise ValueError(f"cannot parse ALTER SCHEMA: {stripped[:80]}")
    if name not in engine.schemas:
        raise ValueError(f"schema not found: {name}")
    engine.schemas[new] = engine.schemas.pop(name)
    return rows_result(engine.spark, [(new,)], "schema: string")


def create_view(engine, sql: str) -> DataFrame:
    name, defn = writes.definition(sql)
    if name in engine.views and sql.split()[1].upper() != "OR":
        raise ValueError(f"view already exists: {name}")
    # Lazy logical view: the DataFrame plan re-reads sources at query time
    # (CreateViewTask semantics — definition resolved, data not stored).
    engine.sql(defn).createOrReplaceTempView(name)
    engine.views[name] = defn
    refresh_infoschema(engine, changed=name)
    return rows_result(engine.spark, [(name,)], "view: string")


# name type [DEFAULT expr] [NOT NULL] [COMMENT 'text'] [WITH (...)]
# (grammar SqlBase.g4 columnDefinition); NOT NULL is accepted, not enforced
_COLUMN_DEF = re.compile(
    r"(\S+)\s+(.+?)(?:\s+DEFAULT\s+('(?:[^']|'')*'|[^\s']+))?(?:\s+NOT\s+NULL)?"
    r"(?:\s+COMMENT\s+'((?:[^']|'')*)')?(?:\s+WITH\s*\(.*\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _unquote(text: str | None) -> str | None:
    """A SQL string literal's body ('' is one quote)."""
    return None if text is None else text.replace("''", "'")


def _column_definition(rec: ManagedTable, piece: str) -> tuple[str, str]:
    """One column definition of CREATE TABLE or ADD COLUMN: its name and
    Spark type. Its default (what a column-list INSERT fills in) and its
    comment go on the table's record."""
    m = _COLUMN_DEF.match(piece.strip())
    if m is None:
        raise ValueError(f"cannot parse column definition: {piece}")
    col = _norm_name(m.group(1))
    if m.group(3) is not None:
        rec.defaults[col] = m.group(3)
    if m.group(4) is not None:
        rec.comments[col] = _unquote(m.group(4))
    return col, spark_type(m.group(2))


def alter_table(engine, sql: str) -> DataFrame:
    name, _, rest = writes.named(sql, "TABLE")
    action = render(rest).strip()
    au = action.upper()
    rec = _require_managed(engine, name)
    txn_snapshot_if_needed(engine, name)
    if au.startswith("EXECUTE"):
        return _table_execute(engine, rec, action)
    if au.startswith("SET PROPERTIES"):
        # #setTableProperties: recorded metadata (SHOW CREATE TABLE surfaces
        # format/location; arbitrary properties are retained here).
        props = writes.properties(tokenize(f"({action.split(None, 2)[2]})"), 0)
        rec.properties.update((k, v if isinstance(v, str) else ", ".join(v)) for k, v in props.items())
        return rows_result(engine.spark, 0)
    dm = re.match(
        r"ALTER\s+COLUMN\s+(\w+)\s+(SET\s+DEFAULT\s+(.+)|DROP\s+DEFAULT|DROP\s+NOT\s+NULL)\s*$",
        action,
        re.IGNORECASE | re.DOTALL,
    )
    if dm:
        # #setDefaultValue / #dropDefaultValue / #dropNotNullConstraint:
        # defaults fill unmentioned columns on INSERT (the reference's
        # column-default rule); NOT NULL is not enforced by this engine, so
        # dropping it is an accepted no-op.
        col, verb = _norm_name(dm.group(1)), dm.group(2).upper()
        if verb.startswith("SET DEFAULT"):
            rec.defaults[col] = dm.group(3).strip()
        elif verb.startswith("DROP DEFAULT"):
            rec.defaults.pop(col, None)
        return rows_result(engine.spark, 0)
    df = _stored(engine, rec)
    if au.startswith("ALTER COLUMN") and "SET DATA TYPE" in au:
        # #setColumnType (SetColumnTypeTask.java; Iceberg type evolution):
        # a projection-level cast commit — widened reads, one rewrite.
        am = re.match(
            r"ALTER\s+COLUMN\s+(\w+)\s+SET\s+DATA\s+TYPE\s+(.+)$", action, re.IGNORECASE
        )
        col, typ = _norm_name(am.group(1)), spark_type(am.group(2))
        if col not in df.columns:
            raise ValueError(f"column not found: {col}")
        out = df.select(
            *[F.col(c).cast(typ).alias(c) if c == col else F.col(c) for c in df.columns]
        )
        _commit(engine, rec, out)
        return rows_result(engine.spark, 0)
    if au.startswith("ADD COLUMN"):
        am = re.match(r"ADD\s+COLUMN\s+(IF\s+NOT\s+EXISTS\s+)?(.+)$", action, re.IGNORECASE | re.DOTALL)
        col = _norm_name(am.group(2).split()[0])
        if col in df.columns:
            if am.group(1):
                return rows_result(engine.spark, 0)
            raise ValueError(f"column already exists: {col}")
        col, typ = _column_definition(rec, am.group(2))
        out = df.withColumn(col, F.lit(None).cast(typ))
    elif au.startswith("DROP COLUMN"):
        col = _norm_name(action.split()[2])
        if col not in df.columns:
            raise ValueError(f"column not found: {col}")
        if len(df.columns) == 1:
            raise ValueError("cannot drop the only column")
        if col in (rec.partition_by or []):
            # Trino table formats reject this too (the layout references it)
            raise ValueError(f"cannot drop partition column: {col}")
        for facts in (rec.defaults, rec.comments):
            facts.pop(col, None)
        out = df.drop(col)
    elif au.startswith("RENAME COLUMN"):
        am = re.match(r"RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)", action, re.IGNORECASE)
        old, new = _norm_name(am.group(1)), _norm_name(am.group(2))
        if old not in df.columns:
            raise ValueError(f"column not found: {old}")
        if old in (rec.partition_by or []):
            # keep the hive layout pointing at the renamed column
            rec.partition_by = [new if c == old else c for c in rec.partition_by]
        for facts in (rec.defaults, rec.comments):
            if old in facts:
                facts[new] = facts.pop(old)
        out = df.withColumnRenamed(old, new)
    elif au.startswith("RENAME TO"):
        new = _norm_name(action.split()[2])
        if new in engine.dml_tables:
            raise ValueError(f"table already exists: {new}")
        for b in rec.branches:
            _move(engine, fork_name(name, b), fork_name(new, b)).base = new
        _move(engine, name, new)
        return rows_result(engine.spark, 0)
    else:
        raise ValueError(f"unsupported ALTER TABLE action: {action[:60]}")
    _commit(engine, rec, out)
    return rows_result(engine.spark, 0)


def _file_count(path: str) -> int:
    return sum(
        1 for _r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def _parse_size(txt: str) -> int:
    m = re.match(r"\s*(\d+(?:\.\d+)?)\s*(B|KB|MB|GB|TB)?\s*$", txt.strip(), re.IGNORECASE)
    if not m:
        raise ValueError(f"cannot parse size: {txt}")
    mult = {"B": 1, "KB": 2**10, "MB": 2**20, "GB": 2**30, "TB": 2**40}[
        (m.group(2) or "B").upper()
    ]
    return int(float(m.group(1)) * mult)


def _parse_duration_s(txt: str) -> float:
    m = re.match(r"\s*(\d+(?:\.\d+)?)\s*(s|m|h|d)\s*$", txt.strip(), re.IGNORECASE)
    if not m:
        raise ValueError(f"cannot parse duration: {txt}")
    return float(m.group(1)) * {"s": 1, "m": 60, "h": 3600, "d": 86400}[m.group(2).lower()]


def _table_execute(engine, rec: ManagedTable, action: str) -> DataFrame:
    """ALTER TABLE t EXECUTE <proc>(args) [WHERE pred] — the connector
    table-procedure surface (grammar #tableExecute; Iceberg's
    OptimizeTableProcedure.java / ExpireSnapshotsTableProcedure.java /
    DropExtendedStatsTableProcedure.java / RemoveOrphanFilesTableProcedure).

    ``optimize``: small-file compaction as a NEW snapshot — partitioned
    tables compact to one file per partition (repartition on the layout
    keys riding the commit's partitionBy write), unpartitioned tables to
    ceil(bytes / file_size_threshold) files. A WHERE predicate scopes the
    rewrite to affected partitions; untouched partitions are carried by
    hardlink — at 100 TB an optimize pass costs only the partitions it
    compacts, exactly like partition-scoped DELETE."""
    m = re.match(
        r"EXECUTE\s+(\w+)\s*(?:\(([^)]*)\))?\s*(?:WHERE\s+(.*))?$",
        action,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"cannot parse ALTER TABLE EXECUTE: {action[:80]}")
    proc, argtxt, where = m.group(1).lower(), m.group(2) or "", m.group(3)
    args = {
        a.group(1).lower(): a.group(2)
        for a in re.finditer(r"(\w+)\s*=>\s*'([^']*)'", argtxt)
    }
    spark, path = engine.spark, rec.path
    if proc == "optimize":
        threshold = _parse_size(args.get("file_size_threshold", "128MB"))
        part_cols = rec.partition_by
        df = _stored(engine, rec)
        before = _file_count(path)
        if part_cols:
            layout = [F.col(c) for c in part_cols]
        else:
            size = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _d, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet")
            )
            layout = [int(max(1, -(-size // threshold)))]  # ceil
        # a WHERE scopes the rewrite to the partitions it touches; an
        # unpartitioned (or flat) table is rewritten whole
        pred = F.expr(_translate_fragment(engine, where)) if where else None
        n = _rewrite(engine, rec, df, pred, lambda rows: rows.repartition(*layout), "optimize",
                     scoped=where is not None)
        if n is None:  # predicate matched nothing: no new version
            return rows_result(spark, [(0, before, before)], _OPTIMIZED)
        return rows_result(spark, [(n, before, _file_count(path))], _OPTIMIZED)
    if proc == "expire_snapshots":
        horizon = _parse_duration_s(args.get("retention_threshold", "7d"))
        cutoff = _dt.datetime.now(_dt.timezone.utc).timestamp() - horizon
        expired = 0
        for e in rec.log:
            if e.get("expired") or e["version"] == rec.version:
                continue
            if e["committed_at"] <= cutoff:
                shutil.rmtree(rec.version_dir(e["version"]), ignore_errors=True)
                e["expired"] = True
                expired += 1
        return rows_result(spark, [(expired,)], "expired_snapshots: bigint")
    if proc == "drop_extended_stats":
        engine._stats_cache.pop(rec.name, None)
        return rows_result(spark, [(rec.name,)], "table: string")
    if proc == "remove_orphan_files":
        parent, base = os.path.dirname(path), os.path.basename(path)
        removed = 0
        if os.path.isdir(parent):
            for d in os.listdir(parent):
                if d.startswith((f"{base}.staging-", f"{base}.old-")):
                    shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
                    removed += 1
        return rows_result(spark, [(removed,)], "removed_dirs: bigint")
    raise ValueError(f"unknown table procedure: {proc}")


def refresh_infoschema(engine, changed: str | None = None, dropped: str | None = None) -> None:
    """The metadata side of a commit. information_schema needs nothing: it
    is built from the live catalog when a statement reads it
    (dialect/relations.py). A mutation invalidates the ANALYZE-collected
    statistics of the table it touched."""
    for name in (changed, dropped):
        engine._stats_cache.pop(name, None)
