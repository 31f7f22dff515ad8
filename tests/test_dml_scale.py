"""Partition-scoped DML + snapshot time travel.

The 100 TB-critical contract: a selective DELETE/UPDATE on a partitioned
managed table rewrites ONLY the affected partitions — every untouched
partition's files are carried into the new table version by hardlink
(asserted on inode identity), the filesystem analog of Delta/Iceberg
file-scoped copy-on-write. INSERT appends (links the whole previous
version). Every commit is a retained snapshot readable via Trino's
``FOR VERSION AS OF`` / ``FOR TIMESTAMP AS OF`` (grammar SqlBase.g4
queryPeriod; plugin/trino-iceberg time travel semantics).
"""

import os

import pytest

from trino_spark.dialect import TrinoEngine
from trino_spark.dialect import dml as dml_mod


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return TrinoEngine(spark, sf_dir=sf_dir)


def _inodes(path):
    """{relative file path: inode} for every parquet file under path."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                fp = os.path.join(root, f)
                out[os.path.relpath(fp, path)] = os.stat(fp).st_ino
    return out


def _fresh(engine, name, partitioned=True):
    engine.sql(f"DROP TABLE IF EXISTS {name}")
    with_clause = "WITH (partitioned_by = ARRAY['r']) " if partitioned else ""
    engine.sql(
        f"CREATE TABLE {name} {with_clause}AS "
        "SELECT n_nationkey AS k, n_name AS name, n_regionkey AS r FROM nation"
    )
    return engine.dml_tables[name].path


class TestPartitionScopedRewrite:
    def test_delete_rewrites_only_affected_partitions(self, engine):
        path = _fresh(engine, "ps_del")
        before = _inodes(path)
        n = engine.sql("DELETE FROM ps_del WHERE r = 2 AND k % 2 = 0").collect()[0][0]
        assert n > 0
        after = _inodes(path)
        untouched_before = {p: i for p, i in before.items() if "r=2" not in p}
        untouched_after = {p: i for p, i in after.items() if "r=2" not in p}
        # identical inodes: the files were hardlinked, not rewritten
        assert untouched_after == untouched_before
        # the affected partition WAS rewritten (no shared files)
        assert all("r=2" not in p or after[p] != before.get(p) for p in after)
        assert engine.sql(
            "SELECT count(*) AS c FROM ps_del WHERE r = 2"
        ).collect()[0].c + n == 5
        engine.sql("DROP TABLE ps_del")

    def test_delete_whole_partition_drops_its_dir(self, engine):
        path = _fresh(engine, "ps_del2")
        n = engine.sql("DELETE FROM ps_del2 WHERE r = 3").collect()[0][0]
        assert n == 5
        assert not os.path.exists(os.path.join(path, "r=3"))
        assert engine.sql("SELECT count(*) AS c FROM ps_del2").collect()[0].c == 20
        engine.sql("DROP TABLE ps_del2")

    def test_delete_matching_nothing_is_a_noop_version(self, engine):
        _fresh(engine, "ps_del3")
        v0 = max(e["version"] for e in dml_mod.list_versions(engine, "ps_del3"))
        n = engine.sql("DELETE FROM ps_del3 WHERE k > 10000").collect()[0][0]
        assert n == 0
        assert max(e["version"] for e in dml_mod.list_versions(engine, "ps_del3")) == v0
        engine.sql("DROP TABLE ps_del3")

    def test_update_preserves_untouched_partition_files(self, engine):
        path = _fresh(engine, "ps_upd")
        before = _inodes(path)
        n = engine.sql("UPDATE ps_upd SET name = lower(name) WHERE r = 1").collect()[0][0]
        assert n == 5
        after = _inodes(path)
        assert {p: i for p, i in after.items() if "r=1" not in p} == {
            p: i for p, i in before.items() if "r=1" not in p
        }
        got = sorted(
            r.name for r in engine.sql("SELECT name FROM ps_upd WHERE r = 1").collect()
        )
        assert got == sorted(s.lower() for s in got)
        engine.sql("DROP TABLE ps_upd")

    def test_update_of_partition_column_falls_back_to_full_rewrite(self, engine):
        _fresh(engine, "ps_move")
        n = engine.sql("UPDATE ps_move SET r = 9 WHERE r = 4").collect()[0][0]
        assert n == 5
        assert engine.sql("SELECT count(*) AS c FROM ps_move WHERE r = 9").collect()[0].c == 5
        assert engine.sql("SELECT count(*) AS c FROM ps_move WHERE r = 4").collect()[0].c == 0
        engine.sql("DROP TABLE ps_move")

    def test_insert_links_previous_files(self, engine):
        path = _fresh(engine, "ps_ins")
        before = _inodes(path)
        n = engine.sql(
            "INSERT INTO ps_ins SELECT n_nationkey + 100, n_name, n_regionkey + 10 FROM nation"
        ).collect()[0][0]
        assert n == 25
        after = _inodes(path)
        # every pre-insert file survives with the same inode
        for p, ino in before.items():
            assert after.get(p) == ino
        assert engine.sql("SELECT count(*) AS c FROM ps_ins").collect()[0].c == 50
        engine.sql("DROP TABLE ps_ins")

    def test_truncate_partitioned_then_insert(self, engine):
        # r2 ADVICE bug: TRUNCATE of a partitioned table wrote zero part
        # files and the post-swap re-read failed with "unable to infer
        # schema". The empty state must stay readable and re-insertable.
        _fresh(engine, "ps_trunc")
        engine.sql("TRUNCATE TABLE ps_trunc")
        assert engine.sql("SELECT count(*) AS c FROM ps_trunc").collect()[0].c == 0
        n = engine.sql(
            "INSERT INTO ps_trunc SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey = 0"
        ).collect()[0][0]
        assert n == 5
        assert engine.sql("SELECT count(*) AS c FROM ps_trunc").collect()[0].c == 5
        engine.sql("DROP TABLE ps_trunc")


class TestTimeTravel:
    def test_version_as_of(self, engine):
        _fresh(engine, "tt_t")  # v1
        engine.sql("DELETE FROM tt_t WHERE r = 0")  # v2
        engine.sql("UPDATE tt_t SET name = 'X' WHERE r = 1")  # v3
        assert engine.sql(
            "SELECT count(*) AS c FROM tt_t FOR VERSION AS OF 1"
        ).collect()[0].c == 25
        assert engine.sql(
            "SELECT count(*) AS c FROM tt_t FOR VERSION AS OF 2"
        ).collect()[0].c == 20
        v2_names = {
            r.name
            for r in engine.sql(
                "SELECT name FROM tt_t FOR VERSION AS OF 2 WHERE r = 1"
            ).collect()
        }
        assert v2_names != {"X"}
        assert {
            r.name for r in engine.sql("SELECT name FROM tt_t WHERE r = 1").collect()
        } == {"X"}
        engine.sql("DROP TABLE tt_t")

    def test_joins_across_versions(self, engine):
        _fresh(engine, "tt_j")
        engine.sql("DELETE FROM tt_j WHERE r IN (0, 1)")
        gone = engine.sql(
            """
            SELECT count(*) AS c
            FROM tt_j FOR VERSION AS OF 1 a
            LEFT JOIN tt_j b ON a.k = b.k
            WHERE b.k IS NULL
            """
        ).collect()[0].c
        assert gone == 10
        engine.sql("DROP TABLE tt_j")

    def test_timestamp_as_of(self, engine):
        _fresh(engine, "tt_ts")
        log = dml_mod.list_versions(engine, "tt_ts")
        t1 = log[-1]["committed_at_iso"]
        engine.sql("DELETE FROM tt_ts WHERE r = 0")
        assert engine.sql(
            f"SELECT count(*) AS c FROM tt_ts FOR TIMESTAMP AS OF TIMESTAMP '{t1}'"
        ).collect()[0].c == 25
        assert engine.sql("SELECT count(*) AS c FROM tt_ts").collect()[0].c == 20
        engine.sql("DROP TABLE tt_ts")

    def test_missing_version_raises(self, engine):
        _fresh(engine, "tt_bad")
        with pytest.raises(ValueError, match="does not exist"):
            engine.sql("SELECT * FROM tt_bad FOR VERSION AS OF 99").collect()
        engine.sql("DROP TABLE tt_bad")

    def test_retention_expires_old_versions(self, engine):
        _fresh(engine, "tt_exp")
        for i in range(dml_mod.SNAPSHOT_RETENTION + 2):
            engine.sql(f"INSERT INTO tt_exp SELECT {1000 + i}, 'x', 0")
        log = dml_mod.list_versions(engine, "tt_exp")
        assert any(e.get("expired") for e in log)
        first_live = min(e["version"] for e in log if not e.get("expired"))
        with pytest.raises(ValueError, match="expired"):
            engine.sql("SELECT * FROM tt_exp FOR VERSION AS OF 1").collect()
        assert (
            engine.sql(
                f"SELECT count(*) AS c FROM tt_exp FOR VERSION AS OF {first_live}"
            ).collect()[0].c
            > 0
        )
        engine.sql("DROP TABLE tt_exp")

    def test_rollback_rewinds_versions(self, engine):
        _fresh(engine, "tt_rb")
        v0 = max(e["version"] for e in dml_mod.list_versions(engine, "tt_rb"))
        engine.sql("START TRANSACTION")
        engine.sql("DELETE FROM tt_rb WHERE r = 0")
        engine.sql("ROLLBACK")
        log = dml_mod.list_versions(engine, "tt_rb")
        assert max(e["version"] for e in log) == v0
        assert engine.sql("SELECT count(*) AS c FROM tt_rb").collect()[0].c == 25
        # the table keeps versioning normally after the rollback
        engine.sql("DELETE FROM tt_rb WHERE r = 1")
        assert max(e["version"] for e in dml_mod.list_versions(engine, "tt_rb")) == v0 + 1
        engine.sql("DROP TABLE tt_rb")


class TestLayoutHygiene:
    def test_drop_clears_partition_layout(self, engine):
        # r2 ADVICE bug: a later CREATE TABLE with the same name silently
        # inherited the dropped table's partitioned_by layout.
        _fresh(engine, "lay_t")
        engine.sql("DROP TABLE lay_t")
        engine.sql("CREATE TABLE lay_t AS SELECT 1 AS a, 2 AS b")
        path = engine.dml_tables["lay_t"].path
        assert not any(d.startswith("r=") for d in os.listdir(path))
        engine.sql("DROP TABLE lay_t")
        # nor its column defaults and properties, re-created from a column
        # list or by CTAS
        engine.sql("CREATE TABLE lay_t (a bigint, b varchar)")
        for create in (
            "CREATE TABLE lay_t (a bigint, b varchar)",
            "CREATE TABLE lay_t AS SELECT CAST(5 AS BIGINT) AS a, 'x' AS b",
        ):
            engine.sql("ALTER TABLE lay_t ALTER COLUMN b SET DEFAULT 'old-default'")
            engine.sql("ALTER TABLE lay_t SET PROPERTIES owner_note = 'old-prop'")
            engine.sql("DROP TABLE lay_t")
            engine.sql(create)
            engine.sql("INSERT INTO lay_t (a) VALUES (6)")
            assert engine.sql("SELECT b FROM lay_t WHERE a = 6").collect()[0].b is None
            assert engine.sql('SELECT * FROM "lay_t$properties"').collect() == []
        engine.sql("DROP TABLE lay_t")

    def test_rename_moves_layout_and_versions(self, engine):
        path = _fresh(engine, "lay_r")
        engine.sql("DELETE FROM lay_r WHERE r = 0")  # v2
        engine.sql("ALTER TABLE lay_r ALTER COLUMN name SET DEFAULT 'moved'")
        engine.sql("ALTER TABLE lay_r SET PROPERTIES owner_note = 'moved'")
        engine.sql("ALTER TABLE lay_r RENAME TO lay_r2")
        assert "lay_r" not in engine.dml_tables and engine.dml_tables["lay_r2"].partition_by == ["r"]
        assert engine.sql(
            "SELECT count(*) AS c FROM lay_r2 FOR VERSION AS OF 1"
        ).collect()[0].c == 25
        # defaults and properties move with the table too
        props = engine.sql('SELECT key, value FROM "lay_r2$properties"').collect()
        assert [tuple(r) for r in props] == [("owner_note", "moved")]
        engine.sql("INSERT INTO lay_r2 (k, r) VALUES (100, 0)")
        assert engine.sql("SELECT name FROM lay_r2 WHERE k = 100").collect()[0].name == "moved"
        # partition-scoped path still applies after the rename
        before = _inodes(engine.dml_tables["lay_r2"].path)
        engine.sql("DELETE FROM lay_r2 WHERE r = 2")
        after = _inodes(engine.dml_tables["lay_r2"].path)
        assert {p: i for p, i in after.items() if "r=" in p and "r=2" not in p} == {
            p: i for p, i in before.items() if "r=" in p and "r=2" not in p
        }
        engine.sql("DROP TABLE lay_r2")

    def test_ctas_over_table_another_engine_left(self, spark):
        # An earlier process (here: another engine over the same warehouse)
        # left lay_h undropped; a new table of that name starts its own log
        # and branches instead of inheriting the ones it left.
        earlier = TrinoEngine(spark)
        _fresh(earlier, "lay_h")
        earlier.sql("DELETE FROM lay_h WHERE r = 0")  # v2
        earlier.sql("CREATE BRANCH dev IN TABLE lay_h")
        fresh = TrinoEngine(spark)
        fresh.sql("CREATE TABLE lay_h AS SELECT 7 AS k")
        try:
            snaps = fresh.sql('SELECT version, is_current FROM "lay_h$snapshots"').collect()
            assert [tuple(r) for r in snaps] == [(1, True)]
            old = fresh.sql("SELECT k FROM lay_h FOR VERSION AS OF 1").collect()
            assert [r.k for r in old] == [7]
            fresh.sql("CREATE BRANCH dev IN TABLE lay_h")  # not "already exists"
        finally:
            fresh.sql("DROP TABLE lay_h")

    def test_ctas_over_existing_raises(self, engine):
        _fresh(engine, "lay_e", partitioned=False)
        with pytest.raises(ValueError, match="already exists"):
            engine.sql("CREATE TABLE lay_e AS SELECT 1 AS x")
        engine.sql("DROP TABLE lay_e")


class TestMergeRowcount:
    def test_insert_only_merge_counts_only_inserts(self, engine):
        # r2 ADVICE bug: matched rows no clause touched still counted.
        _fresh(engine, "mc_t", partitioned=False)
        n = engine.sql(
            """
            MERGE INTO mc_t t
            USING (SELECT n_nationkey AS k, n_name AS name FROM nation WHERE n_nationkey < 30) s
            ON t.k = s.k
            WHEN NOT MATCHED THEN INSERT (k, name, r) VALUES (s.k + 500, s.name, 0)
            """
        ).collect()[0][0]
        assert n == 0  # every source key matches; nothing inserted, nothing touched
        engine.sql("DROP TABLE mc_t")

    def test_conditional_update_counts_only_condition_hits(self, engine):
        _fresh(engine, "mc_u", partitioned=False)
        n = engine.sql(
            """
            MERGE INTO mc_u t
            USING (SELECT n_nationkey AS k FROM nation) s
            ON t.k = s.k
            WHEN MATCHED AND t.r = 1 THEN UPDATE SET name = 'HIT'
            """
        ).collect()[0][0]
        assert n == 5  # 25 matched, only r=1 rows are touched
        assert engine.sql("SELECT count(*) AS c FROM mc_u WHERE name = 'HIT'").collect()[0].c == 5
        engine.sql("DROP TABLE mc_u")


def test_partition_scoped_scan_is_partition_pruned(engine):
    """The affected-rows scan of a partition-scoped mutation must carry a
    static PartitionFilter — at 100 TB the rewrite reads only the touched
    partitions, not the table."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    _fresh(engine, "pp_plan")
    rec = engine.dml_tables["pp_plan"]
    df = dml_mod._stored(engine, rec)
    pred = F.coalesce(F.expr("r = 2"), F.lit(False))
    cond, untouched = dml_mod._affected_partitions(rec, df, pred)
    assert untouched and cond is not None
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.filter(cond).explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [(r" in plan, plan
    engine.sql("DROP TABLE pp_plan")


def test_snapshots_metadata_table(engine):
    """Iceberg-style "t$snapshots" metadata table (SnapshotsTable.java
    analog): one row per committed version, current flagged."""
    _fresh(engine, "meta_t")
    engine.sql("DELETE FROM meta_t WHERE r = 0")
    engine.sql("INSERT INTO meta_t SELECT 999, 'x', 0")
    rows = engine.sql(
        'SELECT version, operation, is_current FROM "meta_t$snapshots" ORDER BY version'
    ).collect()
    assert [(r.version, r.operation) for r in rows] == [
        (1, "ctas"), (2, "delete"), (3, "insert"),
    ]
    assert [r.is_current for r in rows] == [False, False, True]
    engine.sql("DROP TABLE meta_t")


def test_analyze_caches_show_stats(engine):
    """ANALYZE <t> (AnalyzeTask.java) collects statistics once; SHOW STATS
    serves them without a rescan, and a mutation invalidates the cache."""
    _fresh(engine, "an_t", partitioned=False)
    _, n = engine.sql("ANALYZE an_t").collect()[0]
    assert n == 25
    assert "an_t" in engine._stats_cache
    stats = {r.column_name: r for r in engine.sql("SHOW STATS FOR an_t").collect()}
    assert stats[None].row_count == 25.0
    engine.sql("DELETE FROM an_t WHERE r = 0")
    assert "an_t" not in engine._stats_cache  # invalidated by the mutation
    stats = {r.column_name: r for r in engine.sql("SHOW STATS FOR an_t").collect()}
    assert stats[None].row_count == 20.0
    engine.sql("DROP TABLE an_t")


def test_delete_data_column_predicate_across_partitions(engine):
    """A predicate on a DATA column (not the partition key) still works
    scoped: only partitions holding matching rows are rewritten; when all
    partitions match, the scoped path steps aside for the plain rewrite."""
    path = _fresh(engine, "ps_data")
    before = _inodes(path)
    # k % 25 == 3 -> exactly one nation (k=3, r=3): one affected partition
    n = engine.sql("DELETE FROM ps_data WHERE k % 25 = 3").collect()[0][0]
    assert n == 1
    after = _inodes(path)
    assert {p: i for p, i in after.items() if "r=3" not in p} == {
        p: i for p, i in before.items() if "r=3" not in p
    }
    # now a predicate matching rows in every partition: full-rewrite path
    n = engine.sql("DELETE FROM ps_data WHERE k % 2 = 0").collect()[0][0]
    assert n == 13  # evens 0,2,...,24 all survive the first delete (k=3 was odd)
    assert engine.sql("SELECT count(*) AS c FROM ps_data").collect()[0].c == 25 - 1 - 13
    engine.sql("DROP TABLE ps_data")


def test_partition_column_ddl_guards(engine):
    """Dropping a partition column is rejected (the layout references
    it); renaming one updates the layout so later commits still work."""
    _fresh(engine, "pc_ddl")
    with pytest.raises(ValueError, match="partition column"):
        engine.sql("ALTER TABLE pc_ddl DROP COLUMN r")
    engine.sql("ALTER TABLE pc_ddl RENAME COLUMN r TO region_k")
    assert engine.dml_tables["pc_ddl"].partition_by == ["region_k"]
    engine.sql("DELETE FROM pc_ddl WHERE region_k = 0")  # layout still valid
    assert engine.sql("SELECT count(*) AS c FROM pc_ddl").collect()[0].c == 20
    engine.sql("DROP TABLE pc_ddl")


class TestFilesPartitionsMetadata:
    """Round-4: ``$files`` / ``$partitions`` metadata tables (FilesTable /
    PartitionsTable analogs) — footer-derived counts reconcile with the
    data, partitions surface as relative Hive directories."""

    def test_files_reconcile_with_data(self, engine):
        _fresh(engine, "meta_t", partitioned=True)
        files = engine.sql('SELECT * FROM "meta_t$files"').collect()
        assert files and all(f.file_format == "PARQUET" for f in files)
        assert all(f.partition and f.partition.startswith("r=") for f in files)
        total = sum(f.record_count for f in files)
        assert total == engine.sql("SELECT count(*) AS c FROM meta_t").collect()[0].c
        assert all(f.file_size_in_bytes > 0 for f in files)
        engine.sql("DROP TABLE meta_t")

    def test_partitions_rollup(self, engine):
        _fresh(engine, "meta_p", partitioned=True)
        parts = {r.partition: r for r in engine.sql('SELECT * FROM "meta_p$partitions"').collect()}
        per = {
            f"r={row.r}": row.c
            for row in engine.sql("SELECT r, count(*) AS c FROM meta_p GROUP BY r").collect()
        }
        assert {p: parts[p].record_count for p in parts} == per
        assert all(p.file_count >= 1 and p.total_size > 0 for p in parts.values())
        engine.sql("DROP TABLE meta_p")

    def test_unpartitioned_files_have_null_partition(self, engine):
        _fresh(engine, "meta_u", partitioned=False)
        files = engine.sql('SELECT * FROM "meta_u$files"').collect()
        assert files and all(f.partition is None for f in files)
        engine.sql("DROP TABLE meta_u")

    def test_files_track_dml(self, engine):
        _fresh(engine, "meta_d", partitioned=True)
        engine.sql("DELETE FROM meta_d WHERE r = 0")
        parts = {r.partition for r in engine.sql('SELECT * FROM "meta_d$partitions"').collect()}
        assert "r=0" not in parts or not any(
            f.record_count for f in engine.sql('SELECT * FROM "meta_d$files"').collect()
            if f.partition == "r=0"
        )
        total = sum(r.record_count for r in engine.sql('SELECT * FROM "meta_d$partitions"').collect())
        assert total == engine.sql("SELECT count(*) AS c FROM meta_d").collect()[0].c
        engine.sql("DROP TABLE meta_d")
