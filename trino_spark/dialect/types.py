"""One spelling of types between Trino and Spark.

The reference names every type in one system (spi/type/StandardTypes.java,
parsed by TypeSignatureTranslator); Spark names its own (DataType DDL).
`spark_type` reads a Trino type as written in DDL, a routine signature or
a JSON_TABLE column and gives the Spark DDL type; `trino_type` gives a
Spark schema's type back in Trino's spelling, for every reader that shows
one (information_schema, system.jdbc, DESCRIBE, SHOW CREATE TABLE, the
HTTP `columns` header). The CAST pass in rewrites.py renames type words in
place by context, and hands ROW types here.
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

from trino_spark.dialect.tokenizer import render, split_args, tokenize

# Spark simpleString -> Trino, where they differ
_TRINO = {
    "int": "integer", "string": "varchar", "float": "real", "binary": "varbinary", "void": "unknown",
}
_SPARK = {v: k for k, v in _TRINO.items()}
# (Trino type, lower case with single spaces) -> Spark, first match wins
_SCALARS = [
    (re.compile(r"(?:var)?char(?:\(\d+\))?"), "string"),
    # TIME WITH TIME ZONE is carried as canonical varchar (functions/
    # registry.py); plain TIME as nanos-of-day bigints
    (re.compile(r"time(?:\(\d+\))? with time zone"), "string"),
    (re.compile(r"time(?:\(\d+\))?"), "bigint"),
    # Spark timestamps are fixed µs: a precision above 6 truncates
    (re.compile(r"timestamp(?:\(\d+\))?(?: with(?:out)? time zone)?"), "timestamp"),
    (re.compile(r"double precision"), "double"),
    # carried as varchar (json_parse/json_format, uuid(), the ip functions)
    (re.compile(r"json|uuid|ipaddress"), "string"),
]
_NESTED = re.compile(r"(array|map|row)\s*\((.*)\)$", re.IGNORECASE | re.DOTALL)


def spark_type(text: str) -> str:
    """A Trino type (`varchar(10)`, `row(x integer, y array(varchar))`,
    `timestamp(3) with time zone`, ...) as a Spark DDL type. Row field
    names keep their case; an unnamed field is `col<n>`, as Spark's
    struct() names it."""
    t = " ".join(text.strip().rstrip(",").split())
    m = _NESTED.match(t)
    if m is None:
        low = t.lower()
        return next((s for rx, s in _SCALARS if rx.fullmatch(low)), _SPARK.get(low, low))
    toks = tokenize(f"({m.group(2)})")
    pieces = (render(toks[a:b]).strip() for a, b in split_args(toks, 0, len(toks) - 1))
    kind, args = m.group(1).lower(), [p for p in pieces if p]
    if kind == "array":
        return f"array<{spark_type(args[0])}>"
    if kind == "map":
        return f"map<{spark_type(args[0])}, {spark_type(args[1])}>"
    fields = []
    for i, arg in enumerate(args):
        name, _, typ = arg.partition(" ")
        if not typ or "(" in name:
            name, typ = f"col{i + 1}", arg
        fields.append(f"{name.strip(chr(34))}: {spark_type(typ)}")
    return f"struct<{', '.join(fields)}>"


def trino_type(dt: T.DataType) -> str:
    """A Spark type in Trino's spelling, through arrays, maps and rows."""
    if isinstance(dt, T.ArrayType):
        return f"array({trino_type(dt.elementType)})"
    if isinstance(dt, T.MapType):
        return f"map({trino_type(dt.keyType)}, {trino_type(dt.valueType)})"
    if isinstance(dt, T.StructType):
        return f"row({', '.join(f'{f.name} {trino_type(f.dataType)}' for f in dt.fields)})"
    s = dt.simpleString()
    return "timestamp" if s.startswith("timestamp") else _TRINO.get(s, s)
