"""Dynamic catalogs (dialect/catalogs.py): CREATE/DROP CATALOG, SHOW
CATALOGS, and 3-part name resolution across connector kinds.

Reference: grammar SqlBase.g4 #createCatalog/#dropCatalog;
CreateCatalogTask.java / CatalogFactory.java."""

import re

import pytest

from trino_spark.dialect.engine import TrinoEngine


@pytest.fixture()
def engine(spark, sf_dir):
    return TrinoEngine(spark, sf_dir)


def test_parquet_catalog_mount_and_query(engine, sf_dir, spark):
    engine.sql(f"CREATE CATALOG lake USING parquet WITH (location = '{sf_dir}')")
    out = engine.sql(
        "SELECT r.r_name, count(*) AS n FROM lake.default.nation n "
        "JOIN lake.default.region r ON n.n_regionkey = r.r_regionkey "
        "GROUP BY r.r_name ORDER BY r.r_name"
    ).collect()
    assert sum(r.n for r in out) == 25 and len(out) == 5


def test_mixed_catalog_and_session_tables(engine):
    engine.sql("CREATE CATALOG lake2 USING parquet WITH (location = '/root/testdata/sf0.001')")
    out = engine.sql(
        "SELECT count(*) AS n FROM lake2.default.nation x JOIN nation y ON x.n_nationkey = y.n_nationkey"
    ).collect()
    assert out[0].n == 25


def test_tpch_catalog_tiny_schema(engine):
    engine.sql("CREATE CATALOG gen USING tpch")
    n = engine.sql("SELECT count(*) AS n FROM gen.tiny.region").collect()[0].n
    assert n == 5


def test_tpch_catalog_bad_schema_errors(engine):
    engine.sql("CREATE CATALOG gen2 USING tpch")
    with pytest.raises(Exception, match="tiny or sfN"):
        engine.sql("SELECT 1 FROM gen2.bogus.region").collect()


def test_tpcds_catalog_resolves_generator_tables(engine):
    from trino_spark.sources import tpcdsgen

    engine.sql("CREATE CATALOG ds USING tpcds")
    n = engine.sql("SELECT count(*) AS n FROM ds.sf1.date_dim").collect()[0].n
    assert n == tpcdsgen.N_DATE


def test_show_catalogs_like_and_drop(engine):
    engine.sql("CREATE CATALOG dropme USING tpch")
    names = [r.catalog for r in engine.sql("SHOW CATALOGS").collect()]
    assert "dropme" in names and "spark" in names
    liked = [r.catalog for r in engine.sql("SHOW CATALOGS LIKE 'drop%'").collect()]
    assert liked == ["dropme"]
    engine.sql("DROP CATALOG dropme")
    names = [r.catalog for r in engine.sql("SHOW CATALOGS").collect()]
    assert "dropme" not in names
    engine.sql("DROP CATALOG IF EXISTS dropme")  # idempotent
    with pytest.raises(Exception, match="not found"):
        engine.sql("DROP CATALOG dropme")


def test_duplicate_and_unknown_connector_errors(engine, sf_dir):
    engine.sql(f"CREATE CATALOG dup USING parquet WITH (location = '{sf_dir}')")
    with pytest.raises(Exception, match="already exists"):
        engine.sql(f"CREATE CATALOG dup USING parquet WITH (location = '{sf_dir}')")
    engine.sql(f"CREATE CATALOG IF NOT EXISTS dup USING parquet WITH (location = '{sf_dir}')")
    with pytest.raises(Exception, match="unknown connector"):
        engine.sql("CREATE CATALOG nope USING mongodb")
    with pytest.raises(Exception, match="location"):
        engine.sql("CREATE CATALOG nodir USING parquet WITH (location = '/no/such/dir')")


def test_string_literals_never_resolve(engine, sf_dir):
    engine.sql(f"CREATE CATALOG litsafe USING parquet WITH (location = '{sf_dir}')")
    out = engine.sql("SELECT 'litsafe.default.nation' AS s").collect()
    assert out[0].s == "litsafe.default.nation"


def test_missing_table_errors(engine, sf_dir):
    engine.sql(f"CREATE CATALOG lk3 USING parquet WITH (location = '{sf_dir}')")
    with pytest.raises(Exception, match="table not found"):
        engine.sql("SELECT * FROM lk3.default.nonexistent").collect()


def test_create_catalog_denied_under_role(engine):
    engine.sql("CREATE ROLE analyst9")
    engine.sql("SET ROLE analyst9")
    with pytest.raises(Exception, match="[Aa]ccess [Dd]enied"):
        engine.sql("CREATE CATALOG x9 USING tpch")
    engine.sql("SET ROLE NONE")


def test_jdbc_catalog_mounts_dsv2(engine, spark, sf_dir):
    from trino_spark.queries.federation_q import derby_url, ensure_derby_nation

    ensure_derby_nation(spark, sf_dir)
    engine.sql(f"CREATE CATALOG fed USING jdbc WITH (url = '{derby_url()}')")
    assert spark.conf.get("spark.sql.catalog.fed.url") == derby_url()
    engine.sql("DROP CATALOG fed")
    with pytest.raises(Exception):
        spark.conf.get("spark.sql.catalog.fed.url")


def test_memory_catalog_ctas_insert_select(engine):
    engine.sql("CREATE CATALOG mem USING memory")
    n = engine.sql("CREATE TABLE mem.default.dim AS SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 0").collect()[0].rows
    assert n == 5
    n2 = engine.sql("INSERT INTO mem.default.dim SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 1").collect()[0].rows
    assert n2 == 5
    out = engine.sql("SELECT count(*) AS c FROM mem.default.dim").collect()
    assert out[0].c == 10
    joined = engine.sql(
        "SELECT count(*) AS c FROM mem.default.dim d JOIN nation n ON d.n_nationkey = n.n_nationkey"
    ).collect()
    assert joined[0].c == 10
    engine.sql("DELETE FROM mem.default.dim")
    assert engine.sql("SELECT count(*) AS c FROM mem.default.dim").collect()[0].c == 0
    engine.sql("DROP TABLE mem.default.dim")
    with pytest.raises(Exception):
        engine.sql("SELECT * FROM mem.default.dim").collect()


def test_blackhole_catalog_swallows_writes(engine):
    engine.sql("CREATE CATALOG bh USING blackhole")
    n = engine.sql("INSERT INTO bh.default.sink SELECT * FROM nation").collect()[0].rows
    assert n == 25
    out = engine.sql("SELECT count(*) AS c FROM bh.default.sink").collect()
    assert out[0].c == 0  # reads return zero rows of the swallowed schema


def test_faker_catalog_generates_deterministic_rows(engine):
    engine.sql(
        "CREATE CATALOG fk USING faker WITH (schema = 'id bigint, name string, price double', rows = '50', seed = '7')"
    )
    a = engine.sql("SELECT * FROM fk.default.products ORDER BY id").collect()
    b = engine.sql("SELECT * FROM fk.default.products ORDER BY id").collect()
    assert len(a) == 50 and a == b
    other = engine.sql("SELECT * FROM fk.default.users ORDER BY id").collect()
    assert other != a  # table name perturbs the seed


def test_insert_into_nonwritable_layout_errors(engine, sf_dir):
    # the driver's testdata uses the single-level <table>.parquet layout;
    # file-catalog writes require the canonical <location>/<schema>/<table>/
    # directory, so this INSERT targets a table that does not exist there
    engine.sql(f"CREATE CATALOG ro USING parquet WITH (location = '{sf_dir}')")
    with pytest.raises(Exception, match="not found"):
        engine.sql("INSERT INTO ro.default.nation SELECT * FROM nation")
    engine.sql("DROP CATALOG ro")


def test_text_catalog_rejects_writes(engine, sf_dir):
    # text is read-only (a single-string-column format has no general
    # page-sink mapping); the structured file formats are writable
    engine.sql(f"CREATE CATALOG rot USING text WITH (location = '{sf_dir}')")
    with pytest.raises(Exception, match="does not support writes"):
        engine.sql("INSERT INTO rot.default.nation SELECT * FROM nation")
    engine.sql("DROP CATALOG rot")


def test_csv_catalog_write_roundtrip(engine, tmp_path):
    base = str(tmp_path)
    engine.sql(f"CREATE CATALOG wcsv USING csv WITH (location = '{base}')")
    n = engine.sql(
        "CREATE TABLE wcsv.main.regions AS"
        " SELECT r_regionkey AS k, r_name AS name FROM region"
    ).collect()[0][0]
    assert n == 5
    engine.sql("INSERT INTO wcsv.main.regions SELECT k + 10, name FROM wcsv.main.regions")
    rows = engine.sql(
        "SELECT count(*) AS c, sum(k) AS s FROM wcsv.main.regions"
    ).collect()[0]
    assert (rows.c, rows.s) == (10, 2 * (0 + 1 + 2 + 3 + 4) + 50)
    engine.sql("DROP CATALOG wcsv")


def test_parquet_catalog_write_lifecycle(engine, spark, tmp_path):
    """Round-6: the hive-connector write path analog — CTAS creates
    <location>/<schema>/<table>/, INSERT appends (positional, cast to
    the table layout), TRUNCATE empties, DROP removes; all distributed
    writes with the written-row count observed on the write itself."""
    base = str(tmp_path)
    engine.sql(f"CREATE CATALOG wh USING parquet WITH (location = '{base}')")
    n = engine.sql(
        "CREATE TABLE wh.main.nations AS SELECT n_nationkey, n_name FROM nation"
    ).collect()[0][0]
    assert n == 25
    n = engine.sql(
        "INSERT INTO wh.main.nations SELECT n_nationkey + 100, n_name FROM nation WHERE n_regionkey = 0"
    ).collect()[0][0]
    assert n == 5
    rows = engine.sql("SELECT count(*) AS c FROM wh.main.nations").collect()
    assert rows[0].c == 30
    with pytest.raises(Exception, match="already exists"):
        engine.sql("CREATE TABLE wh.main.nations AS SELECT 1 AS x")
    engine.sql("TRUNCATE TABLE wh.main.nations")
    assert engine.sql("SELECT count(*) AS c FROM wh.main.nations").collect()[0].c == 0
    engine.sql("DROP TABLE wh.main.nations")
    with pytest.raises(Exception, match="not found"):
        engine.sql("SELECT * FROM wh.main.nations")
    engine.sql("DROP CATALOG wh")


def test_csv_json_truncate_then_read(engine, spark, tmp_path):
    """r7 ADVICE: TRUNCATE on a csv/json catalog table leaves zero data
    rows — schema inference would fail on re-read, so the truncate
    persists a `_ts_schema.json` sidecar (underscore-prefixed: invisible
    to Spark's file listing) that reads apply explicitly. INSERT after
    truncate keeps working, with the original column types."""
    for fmt in ("csv", "json"):
        (tmp_path / fmt).mkdir()
        base = str(tmp_path / fmt)
        engine.sql(f"CREATE CATALOG tr{fmt} USING {fmt} WITH (location = '{base}')")
        engine.sql(
            f"CREATE TABLE tr{fmt}.s.t AS "
            "SELECT n_nationkey AS k, n_name AS name FROM nation"
        )
        engine.sql(f"TRUNCATE TABLE tr{fmt}.s.t")
        assert engine.sql(f"SELECT count(*) AS c FROM tr{fmt}.s.t").collect()[0].c == 0
        n = engine.sql(
            f"INSERT INTO tr{fmt}.s.t SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 1"
        ).collect()[0][0]
        assert n == 5
        rows = engine.sql(
            f"SELECT k, name FROM tr{fmt}.s.t ORDER BY k"
        ).collect()
        assert len(rows) == 5 and isinstance(rows[0].k, int)
        engine.sql(f"DROP CATALOG tr{fmt}")


def test_file_format_catalogs_csv_json_orc(engine, spark, tmp_path):
    """Round-6: csv/json/orc/text file connectors (the hive connector's
    HiveStorageFormat CSV/JSON/ORC/TEXTFILE read side)."""
    import os

    base = str(tmp_path)
    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", 2.5), (3, "gamma", 3.5)],
        "id bigint, name string, price double",
    )
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(
        os.path.join(base, "items.csv")
    )
    df.coalesce(1).write.mode("overwrite").json(os.path.join(base, "items.json"))
    df.coalesce(1).write.mode("overwrite").orc(os.path.join(base, "items.orc"))
    engine.sql(f"CREATE CATALOG fcsv USING csv WITH (location = '{base}')")
    engine.sql(f"CREATE CATALOG fjson USING json WITH (location = '{base}')")
    engine.sql(f"CREATE CATALOG forc USING orc WITH (location = '{base}')")
    for cat in ("fcsv", "fjson", "forc"):
        rows = engine.sql(
            f"SELECT id, name FROM {cat}.default.items ORDER BY id"
        ).collect()
        assert [(r.id, r.name) for r in rows] == [
            (1, "alpha"), (2, "beta"), (3, "gamma"),
        ], cat
    n = engine.sql(
        "SELECT count(*) AS c FROM fcsv.default.items"
        " JOIN fjson.default.items USING (id)"
    ).collect()[0].c
    assert n == 3
    for cat in ("fcsv", "fjson", "forc"):
        engine.sql(f"DROP CATALOG {cat}")


def test_comments_never_resolve(engine):
    # a mount name in a comment is not a relation: nothing is looked up
    engine.sql("CREATE CATALOG cmt USING memory")
    assert engine.sql("SELECT 1 AS x -- cmt.s.t").collect()[0].x == 1
    assert engine.sql("SELECT 2 AS x /* cmt.s.t */").collect()[0].x == 2


def test_describe_and_stats_name_a_mount_table(engine):
    engine.sql("CREATE CATALOG dsc USING memory")
    engine.sql("CREATE TABLE dsc.s.d AS SELECT 1 AS a")
    assert [r.Column for r in engine.sql("DESCRIBE dsc.s.d").collect()] == ["a"]
    stats = engine.sql("SHOW STATS FOR dsc.s.d").collect()
    assert [r.row_count for r in stats if r.column_name is None] == [1.0]


def test_mount_writes_read_their_clauses(engine, tmp_path):
    # a column-list INSERT and a CTAS with WITH properties, on a memory
    # and on a parquet mount: the sink reads the write's clauses, it
    # does not hand the text after the name to the engine
    engine.sql("CREATE CATALOG wmem USING memory")
    engine.sql(f"CREATE CATALOG wpq USING parquet WITH (location = '{tmp_path}')")
    for cat in ("wmem", "wpq"):
        engine.sql(f"CREATE TABLE {cat}.s.m AS SELECT 1 AS a, 2 AS b")
        assert engine.sql(f"INSERT INTO {cat}.s.m (b, a) VALUES (4, 3)").collect()[0].rows == 1
        rows = engine.sql(f"SELECT a, b FROM {cat}.s.m ORDER BY a").collect()
        assert [(r.a, r.b) for r in rows] == [(1, 2), (3, 4)]
        n = engine.sql(f"CREATE TABLE {cat}.s.w WITH (format = 'PARQUET') AS SELECT 1 AS a")
        assert n.collect()[0].rows == 1
        assert engine.sql(f"SELECT a FROM {cat}.s.w").collect()[0].a == 1
    engine.sql("DROP CATALOG wmem")
    engine.sql("DROP CATALOG wpq")


@pytest.mark.parametrize(
    "stmt, form",
    [
        ("DELETE FROM {c}.s.m WHERE a = 1", "DELETE ... WHERE"),
        ("UPDATE {c}.s.m SET a = 2", "UPDATE"),
        ("MERGE INTO {c}.s.m t USING (SELECT 1 AS a) s ON t.a = s.a WHEN MATCHED THEN DELETE", "MERGE"),
        ("CREATE TABLE {c}.s.e (a integer)", "CREATE TABLE without AS"),
        ("CREATE TABLE {c}.s.p WITH (partitioned_by = ARRAY['a']) AS SELECT 1 AS a", "table property partitioned_by"),
    ],
)
def test_mount_write_refuses_a_form_by_name(engine, stmt, form):
    engine.sql("CREATE CATALOG rmem USING memory")
    engine.sql("CREATE TABLE rmem.s.m AS SELECT 1 AS a")
    with pytest.raises(ValueError, match=f"connector memory does not support {re.escape(form)}"):
        engine.sql(stmt.format(c="rmem"))
    assert engine.sql("SELECT count(*) AS c FROM rmem.s.m").collect()[0].c == 1
    engine.sql("DROP CATALOG rmem")
