"""JSON_TABLE SQL surface: parse the clause out of a Trino statement,
execute it on operators/json_table.py, substitute a temp view, re-dispatch.

Reference: grammar SqlBase.g4 JSON_TABLE clause + main/operator/table/json/
(JsonTable PTF planning). Same integration pattern as the MATCH_RECOGNIZE
surface (dialect/match_recognize_sql.py): the block executes on the
operator, the enclosing query sees a plain relation.

Supported subset:
  FROM <table | (subquery)> [AS] [alias] , JSON_TABLE(<col>, '<row path>'
      COLUMNS ( name FOR ORDINALITY
              | name <type> [PATH '<path>']
              | NESTED [PATH] '<path>' COLUMNS (...) , ... )) [AS] [alias]
One NESTED spec per level (operator restriction), lax paths.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame

from trino_spark.dialect.tokenizer import close_paren, split_commas
from trino_spark.dialect.types import spark_type
from trino_spark.operators.json_table import ColumnSpec, NestedSpec, json_table

_JT_RX = re.compile(
    r"FROM\s+("
    r"\((?:[^()]|\([^()]*\))*\)|[\w.\"]+"  # (subquery) or table name
    r")\s*(?:AS\s+)?(\w+)?\s*,\s*JSON_TABLE\s*\(",
    re.IGNORECASE | re.DOTALL,
)


def _parse_columns(block: str):
    """COLUMNS(...) body -> list[ColumnSpec | NestedSpec]."""
    cols = []
    for piece in split_commas(block):
        up = piece.upper()
        if up.startswith("NESTED"):
            m = re.match(
                r"NESTED\s+(?:PATH\s+)?'([^']*)'\s+COLUMNS\s*\(", piece, re.IGNORECASE
            )
            if not m:
                raise ValueError(f"cannot parse NESTED column: {piece[:60]}")
            open_i = piece.index("(", m.end() - 1)
            close_i = close_paren(piece, open_i)
            cols.append(
                NestedSpec(m.group(1), tuple(_parse_columns(piece[open_i + 1 : close_i])))
            )
            continue
        om = re.match(r"(\w+)\s+FOR\s+ORDINALITY\s*$", piece, re.IGNORECASE)
        if om:
            cols.append(ColumnSpec(om.group(1).lower(), ordinality=True))
            continue
        cm = re.match(
            r"(\w+)\s+([A-Za-z]+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s*(?:PATH\s+'([^']*)')?\s*$",
            piece,
            re.IGNORECASE | re.DOTALL,
        )
        if not cm:
            raise ValueError(f"cannot parse JSON_TABLE column: {piece[:60]}")
        cols.append(ColumnSpec(cm.group(1).lower(), spark_type(cm.group(2)), path=cm.group(3)))
    return cols


def try_rewrite(engine, sql: str) -> DataFrame | None:
    """Execute the JSON_TABLE block; substitute a temp view; re-dispatch."""
    m = _JT_RX.search(sql)
    if not m:
        return None
    src_rel, src_alias = m.group(1), m.group(2)
    open_i = sql.index("(", m.end() - 1)
    close_i = close_paren(sql, open_i)
    args = split_commas(sql[open_i + 1 : close_i])
    if len(args) != 2:
        raise ValueError("JSON_TABLE(col, 'path' COLUMNS(...)) expected")
    json_expr = args[0].strip()
    # second argument: '<row path>' COLUMNS ( ... )  (space-separated per
    # the grammar, SqlBase.g4 jsonTable)
    pm = re.match(r"\s*'([^']*)'\s*COLUMNS\s*\(", args[1], re.IGNORECASE | re.DOTALL)
    if not pm:
        raise ValueError("JSON_TABLE second argument must be '<path>' COLUMNS(...)")
    row_path = pm.group(1)
    cbody = args[1]
    c_open = cbody.index("(", pm.end() - 1)
    c_close = close_paren(cbody, c_open)
    columns = _parse_columns(cbody[c_open + 1 : c_close])

    if src_rel.startswith("("):
        df = engine.sql(src_rel[1:-1])
    else:
        df = engine.catalog.table(src_rel.strip('"').split(".")[-1])
    json_col = json_expr.split(".")[-1].strip('"')
    flat = json_table(df, json_col, row_path, columns, outer=False)

    view = f"__jt_{uuid.uuid4().hex[:8]}"
    flat.createOrReplaceTempView(view)
    # Consume an optional trailing alias after JSON_TABLE(...)
    rest = sql[close_i + 1 :]
    am = re.match(r"\s*(?:AS\s+)?(\w+)?", rest)
    consumed = am.end() if am and am.group(1) and am.group(1).upper() not in (
        "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "UNION", "JOIN", "ON",
    ) else 0
    # Keep the source alias on the substituted view so qualified outer
    # references (alias.col) still resolve — the view carries the base
    # relation's columns alongside the JSON_TABLE projections.
    alias_txt = f" AS {src_alias}" if src_alias else ""
    new_sql = sql[: m.start()] + f"FROM {view}{alias_txt}" + rest[consumed:]
    return engine.sql(new_sql)
