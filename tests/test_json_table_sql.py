"""JSON_TABLE SQL surface (dialect/json_table_sql.py): clause parsing,
ordinality, typed PATH columns, NESTED PATH, subquery sources, aggregation
over the flattened relation."""

import pytest

from trino_spark.dialect import TrinoEngine


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    eng = TrinoEngine(spark, sf_dir=sf_dir)
    spark.createDataFrame(
        [(1, '[{"sku": "a", "n": 2}, {"sku": "b", "n": 1}]'), (2, '[{"sku": "c", "n": 5}]')],
        "order_id: int, items_json: string",
    ).createOrReplaceTempView("jt_orders")
    return eng


def test_basic_flatten(engine):
    rows = engine.sql(
        """
        SELECT order_id, sku, n, seq
        FROM jt_orders o, JSON_TABLE(o.items_json, 'lax $[*]'
          COLUMNS (seq FOR ORDINALITY, sku VARCHAR PATH '$.sku', n INTEGER PATH '$.n')) AS t
        ORDER BY order_id, seq
        """
    ).collect()
    assert [tuple(r) for r in rows] == [(1, "a", 2, 1), (1, "b", 1, 2), (2, "c", 5, 1)]


def test_aggregate_over_flattened(engine):
    rows = engine.sql(
        """
        SELECT order_id, sum(n) AS total
        FROM jt_orders o, JSON_TABLE(o.items_json, 'lax $[*]' COLUMNS (n INTEGER PATH '$.n'))
        GROUP BY order_id ORDER BY order_id
        """
    ).collect()
    assert [tuple(r) for r in rows] == [(1, 3), (2, 5)]


def test_nested_path_sql(engine):
    rows = engine.sql(
        """
        SELECT who, sku
        FROM (SELECT '[{"who": "x", "items": [{"sku": "s1"}, {"sku": "s2"}]}]' AS doc) src,
             JSON_TABLE(src.doc, 'lax $[*]'
               COLUMNS (who VARCHAR PATH '$.who',
                        NESTED PATH '$.items[*]' COLUMNS (sku VARCHAR PATH '$.sku')))
        ORDER BY sku
        """
    ).collect()
    assert [tuple(r) for r in rows] == [("x", "s1"), ("x", "s2")]


def test_default_path_from_name(engine):
    rows = engine.sql(
        """
        SELECT sku FROM jt_orders o,
          JSON_TABLE(o.items_json, 'lax $[*]' COLUMNS (sku VARCHAR)) ORDER BY sku
        """
    ).collect()
    assert [r.sku for r in rows] == ["a", "b", "c"]


def test_parse_error_messages(engine):
    with pytest.raises(ValueError, match="COLUMNS"):
        engine.sql("SELECT * FROM jt_orders o, JSON_TABLE(o.items_json, 'lax $[*]')")


@pytest.mark.parametrize("col", ["path VARCHAR", "path VARCHAR PATH '$.path'"])
def test_column_named_path(engine, col):
    rows = engine.sql(
        f"""SELECT path FROM (SELECT '[{{"path": "p1"}}]' AS doc) src,
        JSON_TABLE(src.doc, 'lax $[*]' COLUMNS ({col}))"""
    ).collect()
    assert [r.path for r in rows] == ["p1"]


_SKUS = "JSON_TABLE(o.items_json, 'lax $[*]' COLUMNS (sku VARCHAR PATH '$.sku'))"


@pytest.mark.parametrize(
    "from_",
    [
        f"jt_orders o CROSS JOIN {_SKUS}",
        f"(SELECT * FROM region WHERE r_regionkey = 0) r, jt_orders o, {_SKUS}",
        f"jt_orders o, (SELECT * FROM region WHERE r_regionkey = 0) r, {_SKUS} AS j",
    ],
)
def test_json_table_after_any_from_item(engine, from_):
    rows = engine.sql(f"SELECT o.order_id, sku FROM {from_} ORDER BY sku").collect()
    assert [tuple(r) for r in rows] == [(1, "a"), (1, "b"), (2, "c")]


def test_row_filter_applies_to_the_source(spark, sf_dir, engine):
    """Under a role with a row filter, the flattened FROM item (read
    through a nested engine.sql) holds only the filtered rows."""
    from trino_spark.dialect import access

    eng = TrinoEngine(spark, sf_dir=sf_dir)
    eng.sql("CREATE ROLE jt_reader")
    eng.sql("GRANT SELECT ON jt_orders TO ROLE jt_reader")
    access.add_row_filter(eng, "jt_reader", "jt_orders", "order_id = 2")
    eng.sql("SET ROLE jt_reader")
    try:
        rows = eng.sql(f"SELECT order_id, sku FROM jt_orders o, {_SKUS}").collect()
        assert [tuple(r) for r in rows] == [(2, "c")]
    finally:
        eng.sql("SET ROLE NONE")
