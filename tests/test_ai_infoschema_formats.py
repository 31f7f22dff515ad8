"""ai_* functions (deterministic fake client), information_schema/SHOW, and
multi-format source round-trips through the catalog."""

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from trino_spark.catalog import Catalog, TableSource, load
from trino_spark.dialect import TrinoEngine
from trino_spark.functions import ai

_TMP = Path(__file__).resolve().parents[1] / ".tmp_test"


@pytest.fixture()
def tmp_dir():
    _TMP.mkdir(exist_ok=True)
    d = _TMP / "formats"
    if d.exists():
        shutil.rmtree(d)
    d.mkdir()
    yield d
    shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------------------------- ai_*


def test_ai_sentiment_and_mask(spark):
    df = spark.createDataFrame(
        [
            (1, "this is a great excellent day, I love it"),
            (2, "terrible awful bad experience"),
            (3, "contact me at someone@example.com or +1 555-123-4567"),
        ],
        ["id", "txt"],
    )
    out = df.select(
        "id",
        ai.ai_analyze_sentiment("txt").alias("s"),
        ai.ai_mask("txt", ["email", "phone"]).alias("m"),
    ).collect()
    by_id = {r.id: r for r in out}
    assert by_id[1].s == "POSITIVE"
    assert by_id[2].s == "NEGATIVE"
    assert "@" not in by_id[3].m and "555" not in by_id[3].m


def test_ai_extract_translate_classify(spark):
    df = spark.createDataFrame([(1, "order_id: ABC123 amount: 42")], ["id", "txt"])
    r = df.select(
        ai.ai_extract("txt", "order_id").alias("oid"),
        ai.ai_translate("txt", "de").alias("tr"),
        ai.ai_classify("txt", ["order", "complaint"]).alias("cls"),
    ).first()
    assert r.oid == "ABC123"
    assert r.tr.startswith("[DE] ")
    assert r.cls in ("order", "complaint")


def test_ai_sql_registration(spark):
    ai.register_ai_functions(spark)
    r = spark.sql("SELECT ai_analyze_sentiment('I love this, best thing') AS s").first()
    assert r.s == "POSITIVE"


# --------------------------------------------------------- information_schema


def test_show_tables_and_columns(spark, sf_dir):
    eng = TrinoEngine(spark, sf_dir)
    tables = [r.table_name for r in eng.sql("SHOW TABLES").collect()]
    assert "lineitem" in tables and "documents" in tables
    cols = eng.sql("SHOW COLUMNS FROM region").collect()
    assert [c.Column for c in cols] == ["r_regionkey", "r_name"]
    # information_schema is queryable directly too
    n = eng.sql(
        "SELECT count(*) AS c FROM information_schema_columns WHERE table_name = 'nation'"
    ).first().c
    assert n == 3


# ------------------------------------------------------------ source formats


@pytest.mark.parametrize("fmt", ["csv", "json", "orc"])
def test_catalog_format_roundtrip(spark, sf_dir, tmp_dir, fmt):
    src = load(spark, sf_dir, "nation")
    path = str(tmp_dir / f"nation_{fmt}")
    w = src.write.format(fmt).mode("overwrite")
    if fmt == "csv":
        w = w.option("header", "true")
    w.save(path)

    cat = Catalog(spark)
    opts = {"header": "true", "inferSchema": "true"} if fmt == "csv" else {}
    cat.register(TableSource(name=f"nation_{fmt}", path=path, format=fmt, options=opts))
    back = spark.table(f"nation_{fmt}")
    assert back.count() == src.count()
    got = {(r.n_nationkey, r.n_name) for r in back.collect()}
    want = {(r.n_nationkey, r.n_name) for r in src.collect()}
    assert got == want


def test_json_table_outer_and_defaults(spark):
    """JSON_TABLE subset: OUTER keeps empty-row-path rows; default column
    path is $.<name>; missing keys yield NULL (lax semantics)."""
    from pyspark.sql import Row

    from trino_spark.operators.json_table import ColumnSpec, json_table

    df = spark.createDataFrame(
        [
            Row(id=1, j='{"items": [{"a": 1}, {"a": 2, "b": "x"}]}'),
            Row(id=2, j='{"items": []}'),
            Row(id=3, j="not json"),
        ]
    )
    cols = [ColumnSpec("ord", ordinality=True), ColumnSpec("a", "int"), ColumnSpec("b")]
    inner = json_table(df, "j", "lax $.items[*]", cols).collect()
    assert [(r.id, r.ord, r.a, r.b) for r in inner] == [
        (1, 1, 1, None),
        (1, 2, 2, "x"),
    ]
    outer = json_table(df, "j", "lax $.items[*]", cols, outer=True).collect()
    assert {(r.id, r.ord) for r in outer} == {(1, 1), (1, 2), (2, None), (3, None)}


def test_show_stats(spark, sf_dir):
    """SHOW STATS FOR table (ShowStatsRewrite.java shape): per-column rows
    + summary row_count row, one aggregation pass."""
    from trino_spark.dialect import TrinoEngine

    eng = TrinoEngine(spark, sf_dir)
    rows = eng.sql("SHOW STATS FOR nation").collect()
    by_col = {r.column_name: r for r in rows}
    assert set(by_col) >= {"n_nationkey", "n_name", "n_regionkey", None}
    summary = by_col[None]
    assert summary.row_count == 25.0
    nk = by_col["n_nationkey"]
    assert nk.nulls_fraction == 0.0 and 20 <= nk.distinct_values_count <= 30
    assert nk.low_value == "0" and nk.high_value == "24"
    assert by_col["n_name"].data_size > 0


def test_describe_input_output(spark, sf_dir):
    """DESCRIBE INPUT/OUTPUT over prepared statements (reference:
    DescribeInputRewrite.java / DescribeOutputRewrite.java)."""
    from trino_spark.dialect import TrinoEngine

    eng = TrinoEngine(spark, sf_dir)
    eng.sql("PREPARE p1 FROM SELECT n_name, n_nationkey + ? AS k FROM nation WHERE n_regionkey = ?")
    out = eng.sql("DESCRIBE OUTPUT p1").collect()
    assert [(r.column_name) for r in out] == ["n_name", "k"]
    inp = eng.sql("DESCRIBE INPUT p1").collect()
    assert len(inp) == 2
