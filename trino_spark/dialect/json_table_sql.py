"""JSON_TABLE SQL surface: read the clause from a statement's tokens and
execute it on operators/json_table.py over the FROM item it flattens;
relations.substitute puts the result in place of both and re-dispatches.

Reference: grammar SqlBase.g4 JSON_TABLE clause + main/operator/table/json/
(JsonTable PTF planning). Same integration as the MATCH_RECOGNIZE surface
(dialect/match_recognize_sql.py): the block executes on the operator, the
enclosing query sees a plain relation.

Supported subset:
  FROM ... <item> ... {, | CROSS JOIN} JSON_TABLE(<[item.]col>, '<row path>'
      COLUMNS ( name FOR ORDINALITY
              | name <type> [PATH '<path>']
              | NESTED [PATH] '<path>' COLUMNS (...) , ... )) [[AS] alias]
where <item> is a table name or a parenthesised subquery, with or without
an alias, anywhere in the same FROM list: the column's qualifier names
it (an unqualified column reads the item just before the comma or CROSS
JOIN). The item keeps its name, so the outer query reads both its columns
and the JSON_TABLE columns through it. One NESTED spec per level
(operator restriction), lax paths.
"""

from __future__ import annotations

from trino_spark.dialect.tokenizer import (
    Tok, alias_at, item, match_paren, next_code, prev_code, render, split_args, structure,
)
from trino_spark.dialect.types import spark_type
from trino_spark.dialect.writes import unquote
from trino_spark.operators.json_table import ColumnSpec, NestedSpec, json_table


def _columns(toks: list[Tok], o: int) -> list:
    """The COLUMNS ( ... ) at token o -> list[ColumnSpec | NestedSpec]."""
    cols = []
    for a, b in split_args(toks, o, match_paren(toks, o)):
        k = [j for j in range(a, b) if toks[j].kind != "WS"]
        words = [toks[j].text.upper() for j in k]
        if words[0] == "NESTED":
            x = 2 if words[1:2] == ["PATH"] else 1
            if not (words[x + 1 : x + 3] == ["COLUMNS", "("] and toks[k[x]].kind == "STR"
                    and match_paren(toks, k[x + 2]) == k[-1]):
                raise ValueError(f"cannot parse NESTED column: {render(toks[a:b]).strip()[:60]}")
            cols.append(NestedSpec(unquote(toks[k[x]]), tuple(_columns(toks, k[x + 2]))))
            continue
        name = toks[k[0]].text.strip('"').lower()
        if words[1:] == ["FOR", "ORDINALITY"]:
            cols.append(ColumnSpec(name, ordinality=True))
            continue
        # `PATH '<path>'` closes the column; the column may be named path
        p = len(k) - 2 if len(k) > 3 and words[-2] == "PATH" else len(k)
        if p < 2 or words[-1] == "PATH" or (p < len(k) and toks[k[-1]].kind != "STR"):
            raise ValueError(f"cannot parse JSON_TABLE column: {render(toks[a:b]).strip()[:60]}")
        path = unquote(toks[k[p + 1]]) if p < len(k) else None
        cols.append(ColumnSpec(name, spark_type(render(toks[k[1] : k[p - 1] + 1])), path=path))
    return cols


def read(engine, toks: list[Tok], i: int):
    """JSON_TABLE at token i: the FROM item its JSON argument names, run
    through the operator; the result and the edits that put it in place of
    that item and remove the clause (relations.substitute). None for a word
    that opens no clause."""
    o = next_code(toks, i + 1)
    if o >= len(toks) or not toks[o].is_sym("("):
        return None
    close = match_paren(toks, o)
    args = [[j for j in range(a, b) if toks[j].kind != "WS"] for a, b in split_args(toks, o, close)]
    if len(args) != 2:
        raise ValueError("JSON_TABLE(col, 'path' COLUMNS(...)) expected")
    # the second argument: '<row path>' COLUMNS ( ... ), space-separated
    # per the grammar (SqlBase.g4 jsonTable)
    path = args[1][:3]
    if not (len(path) == 3 and toks[path[0]].kind == "STR" and toks[path[1]].is_word("COLUMNS")
            and toks[path[2]].is_sym("(") and match_paren(toks, path[2]) == args[1][-1]):
        raise ValueError("JSON_TABLE second argument must be '<path>' COLUMNS(...)")
    chain = [toks[j] for j in args[0]]
    if len(chain) % 2 == 0 or any(t.kind not in ("WORD", "QIDENT") for t in chain[::2]) or any(
        not t.is_sym(".") for t in chain[1::2]
    ):
        raise ValueError("JSON_TABLE's first argument must be a column")
    qualifier = chain[-3].text.strip('"').lower() if len(chain) > 1 else None

    # the FROM item: named by the column's qualifier, else just before the
    # comma or CROSS JOIN that joins JSON_TABLE to the list
    sep = prev_code(toks, i - 1)
    if sep > 0 and toks[sep].is_word("JOIN") and toks[prev_code(toks, sep - 1)].is_word("CROSS"):
        sep = prev_code(toks, sep - 1)
    elif sep < 0 or not toks[sep].is_sym(","):
        raise ValueError("JSON_TABLE must follow a FROM item after a comma or CROSS JOIN")
    st = structure(toks)
    block = st.block_of(i)
    ends = [prev_code(toks, sep - 1)] if qualifier is None else [
        p for p in range(sep - 1, block.from_ if block else -1, -1)
        if st.depth[p] == st.depth[i] and toks[p].kind in ("WORD", "QIDENT")
        and toks[p].text.strip('"').lower() == qualifier
    ]
    p, src = -1, None
    for p in ends:
        if src := item(toks, st, p):
            break
    if src is None:
        raise ValueError(f"JSON_TABLE: no FROM item {qualifier or ''} before it")
    df = engine.sql("SELECT * FROM " + render(toks[src[0] : src[1]]))
    flat = json_table(
        df, chain[-1].text.strip('"'), unquote(toks[path[0]]), _columns(toks, path[2]), outer=False
    )
    alias = "" if toks[p].is_sym(")") else f" AS {toks[p].text}"
    end = max(alias_at(toks, next_code(toks, close + 1)), close) + 1  # JSON_TABLE's own alias
    return flat, [(src[0], p + 1, "{view}" + alias), (sep, end, "")]
