"""Token-stream rewrites: Trino surface forms → Spark SQL equivalents.

Function inventory sourced from the reference registry
(core/trino-main/.../metadata/SystemFunctionBundle.java:389 and
main/operator/scalar/ — see SURVEY.md §2.8 for the per-category mapping).
Only names that differ or need argument surgery appear here; everything
Spark accepts verbatim passes through untouched.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from trino_spark.dialect.tokenizer import (
    Tok,
    match_paren,
    next_code,
    prev_code,
    render,
    split_args,
    structure,
    tokenize,
)
from trino_spark.dialect.types import spark_type
from trino_spark.functions.datetimes import mysql_to_java
from trino_spark.functions.registry import register_functions


class TrinoSqlError(ValueError):
    """Raised for Trino constructs we explicitly do not translate."""


# ---------------------------------------------------------------- functions

_RENAME = {
    "json_extract_scalar": "get_json_object",
    "json_extract": "get_json_object",
    "approx_distinct": "approx_count_distinct",
    "approx_percentile": "percentile_approx",
    "arbitrary": "any_value",
    # "cardinality" handled as a template below (array/map -> size, with a
    # sketch-expression heuristic for the cardinality(merge(approx_set(x)))
    # HLL idiom).
    "codepoint": "ascii",
    "from_unixtime": "timestamp_seconds",
    "to_base64": "base64",
    "from_base64": "unbase64",
    "to_hex": "hex",
    "from_hex": "unhex",
    "random": "rand",
    "is_nan": "isnan",
    "ceiling": "ceil",
    "contains": "array_contains",
    "repeat": "array_repeat",  # Trino repeat(elem, n) builds an array
    "zip": "arrays_zip",
    "day_of_year": "dayofyear",
    "doy": "dayofyear",
    "week": "weekofyear",
    "week_of_year": "weekofyear",
    "day_of_month": "dayofmonth",
    "levenshtein_distance": "levenshtein",
    "starts_with": "startswith",
    "pow": "power",
    "last_day_of_month": "last_day",
    "bitwise_left_shift": "shiftleft",
    "bitwise_right_shift": "shiftrightunsigned",
    "bitwise_right_shift_arithmetic": "shiftright",
    "chr": "char",
    # HLL sketch scalars (HyperLogLogFunctions.java:24 / SetDigest docs):
    # approx_set builds a mergeable sketch column, merge unions them.
    # Spark's HLL layout differs from Trino's serialized HLL (documented
    # gap) but the SQL surface and merge algebra match.
    "approx_set": "hll_sketch_agg",
    "merge": "hll_union_agg",
}


def _quoted(s: str) -> str:
    s = s.strip()
    if not (s.startswith("'") and s.endswith("'")):
        raise TrinoSqlError(f"expected a string literal, got: {s}")
    return s[1:-1].replace("''", "'")


def _unit(arg: str) -> str:
    u = _quoted(arg).upper()
    allowed = {
        "MILLISECOND", "SECOND", "MINUTE", "HOUR", "DAY",
        "WEEK", "MONTH", "QUARTER", "YEAR",
    }
    if u not in allowed:
        raise TrinoSqlError(f"unsupported datetime unit: {u}")
    return u


def _t_strpos(args: list[str]) -> str:
    if len(args) != 2:
        raise TrinoSqlError("strpos(string, substring, instance) instance>1 unsupported")
    return f"locate({args[1]}, {args[0]})"


def _t_date_diff(args: list[str]) -> str:
    return f"timestampdiff({_unit(args[0])}, {args[1]}, {args[2]})"


def _t_date_add(args: list[str]) -> str:
    return f"timestampadd({_unit(args[0])}, {args[1]}, {args[2]})"


def _t_date_format(args: list[str]) -> str:
    return f"date_format({args[0]}, '{mysql_to_java(_quoted(args[1]))}')"


def _t_date_parse(args: list[str]) -> str:
    return f"to_timestamp({args[0]}, '{mysql_to_java(_quoted(args[1]))}')"


def _t_format_datetime(args: list[str]) -> str:
    # Joda-pattern subset == java.time for y/M/d/H/m/s/S; pass through.
    return f"date_format({args[0]}, {args[1]})"


def _t_parse_datetime(args: list[str]) -> str:
    return f"to_timestamp({args[0]}, {args[1]})"


_TERADATA_TOKENS = [  # longest-match-first; Teradata -> java.time
    ("HH24", "HH"), ("MI", "mm"), ("SS", "ss"), ("YYYY", "yyyy"),
    ("YY", "yy"), ("MM", "MM"), ("DD", "dd"), ("HH", "hh"),
]


def _teradata_to_java(quoted: str) -> str:
    """Translate a quoted Teradata datetime pattern literal to java.time."""
    s = quoted.strip("'")
    out, i = [], 0
    up = s.upper()
    while i < len(up):
        for tok, java in _TERADATA_TOKENS:
            if up.startswith(tok, i):
                out.append(java)
                i += len(tok)
                break
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def _t_wilson(sign: int):
    """wilson_interval_lower/upper(successes, trials, z) — the closed-form
    score interval (WilsonInterval.java), inlined as pure arithmetic so it
    stays in codegen. Matches functions/stats.py's Column formula."""

    def t(args: list[str]) -> str:
        s, n, z = (f"CAST({a} AS DOUBLE)" for a in args)
        p = f"({s} / {n})"
        z2 = f"({z} * {z})"
        center = f"({p} + {z2} / (2.0D * {n}))"
        spread = f"({z} * sqrt({p} * (1.0D - {p}) / {n} + {z2} / (4.0D * {n} * {n})))"
        op = "+" if sign > 0 else "-"
        return f"(({center} {op} {spread}) / (1.0D + {z2} / {n}))"

    return t


def _t_multimap_entries_body(entries: str) -> str:
    """array<struct(col1, col2)> text -> map<K, array<V>> grouping
    expression (MultimapFromEntriesFunction.java). Quadratic in per-row
    distinct keys — multimaps are row-local values, not relations."""
    keys = f"array_distinct(transform({entries}, __e -> __e.col1))"
    return (
        f"map_from_arrays({keys}, transform({keys}, "
        f"__k -> transform(filter({entries}, __e -> __e.col1 <=> __k), __e -> __e.col2)))"
    )


def _t_multimap_from_entries(args: list[str]) -> str:
    return _t_multimap_entries_body(args[0])


def _t_split_to_multimap(args: list[str]) -> str:
    # split_to_multimap(s, entryDelim, kvDelim) (SplitToMapFunction.java
    # sibling): split entries, then the same key-grouping shape.
    entries = (
        f"transform(split({args[0]}, {args[1]}), "
        f"__p -> struct(split_part(__p, {args[2]}, 1) AS col1, "
        f"split_part(__p, {args[2]}, 2) AS col2))"
    )
    return _t_multimap_entries_body(f"({entries})")


def _t_array_agg(args: list[str]) -> str:
    """array_agg(v [ORDER BY k [DESC]]) — Trino's ordered aggregation
    clause; Spark's collect_list has no ordering, so: collect (k, v)
    structs, array_sort (with a reversing comparator for DESC), project v.
    Unordered form passes straight through to collect_list."""
    m = re.match(r"(.+?)\s+ORDER\s+BY\s+(.+?)(?:\s+(DESC|ASC))?\s*$", args[0], re.IGNORECASE | re.DOTALL)
    if not m:
        return f"collect_list({args[0]})"
    v, k, direction = m.group(1).strip(), m.group(2).strip(), (m.group(3) or "ASC").upper()
    pairs = f"collect_list(struct(({k}) AS __k, ({v}) AS __v))"
    if direction == "DESC":
        sorted_pairs = (
            f"array_sort({pairs}, (l, r) -> CASE WHEN l.__k > r.__k THEN -1 "
            f"WHEN l.__k < r.__k THEN 1 ELSE 0 END)"
        )
    else:
        sorted_pairs = f"array_sort({pairs})"
    return f"transform({sorted_pairs}, __s -> __s.__v)"


def _t_to_unixtime(args: list[str]) -> str:
    return f"(unix_micros(CAST({args[0]} AS TIMESTAMP)) / 1000000.0)"


def _t_truncate(args: list[str]) -> str:
    a = args[0]
    return f"(sign({a}) * floor(abs({a})))"


def _t_map(args: list[str]) -> str:
    if len(args) == 2:
        return f"map_from_arrays({args[0]}, {args[1]})"
    if len(args) == 0:
        return "map()"
    raise TrinoSqlError("map() accepts zero args or two array args in Trino")


def _t_dow(args: list[str]) -> str:
    # Trino: ISO Monday=1..Sunday=7; Spark dayofweek: Sunday=1.
    return f"((dayofweek({args[0]}) + 5) % 7 + 1)"


def _t_url_part(part: str) -> Callable[[list[str]], str]:
    def tmpl(args: list[str]) -> str:
        return f"parse_url({args[0]}, '{part}')"

    return tmpl


def _t_url_param(args: list[str]) -> str:
    return f"parse_url({args[0]}, 'QUERY', {args[1]})"


def _t_bitwise(op: str) -> Callable[[list[str]], str]:
    def tmpl(args: list[str]) -> str:
        if op == "~":
            return f"(~ {args[0]})"
        return f"({args[0]} {op} {args[1]})"

    return tmpl


def _t_split_to_map(args: list[str]) -> str:
    return f"str_to_map({args[0]}, {args[1]}, {args[2]})"


def _sqljson_path(path: str) -> str:
    """SQL/JSON-2016 path literal -> get_json_object path: strip the
    lax/strict mode prefix (Spark paths are implicitly lax)."""
    p = _quoted(path).strip()
    for mode in ("lax ", "strict ", "LAX ", "STRICT "):
        if p.startswith(mode):
            p = p[len(mode):].strip()
            break
    return p


def _t_json_value(args: list[str]) -> str:
    # json_value(j, 'lax $.a.b') — scalar extraction (Trino scalar/json/
    # JsonValueFunction); RETURNING clauses are handled by an outer CAST.
    return f"get_json_object({args[0]}, '{_sqljson_path(args[1])}')"


def _t_json_query(args: list[str]) -> str:
    # json_query returns the matched JSON text itself — same engine call,
    # non-scalar matches come back as serialized JSON.
    return f"get_json_object({args[0]}, '{_sqljson_path(args[1])}')"


def _t_json_exists(args: list[str]) -> str:
    return f"(get_json_object({args[0]}, '{_sqljson_path(args[1])}') IS NOT NULL)"


def _t_json_parse(args: list[str]) -> str:
    # JSON stays a string on our side (SURVEY.md §1.2); parse==validate.
    return f"({args[0]})"


def _t_json_format(args: list[str]) -> str:
    return f"({args[0]})"


def _t_combinations(args: list[str]) -> str:
    """combinations(arr, n) for literal n in {1, 2, 3} (the sizes Trino's
    docs exercise; larger n raises). Index-ordered like the reference."""
    a, n = args[0], args[1].strip()
    if n == "1":
        return f"transform({a}, x -> array(x))"
    if n == "2":
        pairs = (
            f"flatten(transform(sequence(1, size({a}) - 1), i ->"
            f" transform(sequence(i + 1, size({a})), j ->"
            f" array(element_at({a}, i), element_at({a}, j)))))"
        )
        return f"IF(size({a}) < 2, slice(transform({a}, x -> array(x, x)), 1, 0), {pairs})"
    if n == "3":
        trips = (
            f"flatten(flatten(transform(sequence(1, size({a}) - 2), i ->"
            f" transform(sequence(i + 1, size({a}) - 1), j ->"
            f" transform(sequence(j + 1, size({a})), k ->"
            f" array(element_at({a}, i), element_at({a}, j), element_at({a}, k)))))))"
        )
        return f"IF(size({a}) < 3, slice(transform({a}, x -> array(x, x)), 1, 0), {trips})"
    raise TrinoSqlError(f"combinations: only literal n in 1..3 supported, got {n}")


_TEMPLATE: dict[str, Callable[[list[str]], str]] = {
    # TRY(expr) -> (expr): with spark.sql.ansi.enabled=false (session.py),
    # arithmetic errors, bad casts, and malformed parses already yield NULL
    # — exactly TRY's contract (TryFunction.java:40) — so the wrapper
    # erases to parentheses rather than an unknown function.
    "try": lambda a: f"({a[0]})",
    # greatest/least: Trino returns NULL when ANY argument is NULL
    # (GreatestFunction.java); Spark's builtins SKIP nulls — guard with an
    # any-null check. Arguments are bound ONCE into a single array and the
    # guard + result both read the lambda variable, so expensive
    # expressions don't evaluate twice and non-deterministic ones (rand())
    # can't see a different value in the guard than in the result.
    # array_max/array_min equal greatest/least over non-null elements.
    # (DuckDB also skips nulls, so the differential fuzzer keeps these
    # args non-null; this rewrite is the Trino-parity source of truth.)
    "greatest": lambda a: (
        f"(transform(array(array({', '.join(a)})), __gl_a -> "
        "CASE WHEN exists(__gl_a, __gl_x -> __gl_x IS NULL) THEN NULL "
        "ELSE array_max(__gl_a) END)[0])"
    ),
    "least": lambda a: (
        f"(transform(array(array({', '.join(a)})), __gl_a -> "
        "CASE WHEN exists(__gl_a, __gl_x -> __gl_x IS NULL) THEN NULL "
        "ELSE array_min(__gl_a) END)[0])"
    ),
    "strpos": _t_strpos,
    "date_diff": _t_date_diff,
    "date_add": _t_date_add,
    "date_format": _t_date_format,
    "date_parse": _t_date_parse,
    "format_datetime": _t_format_datetime,
    "parse_datetime": _t_parse_datetime,
    "to_unixtime": _t_to_unixtime,
    "truncate": _t_truncate,
    "map": _t_map,
    "day_of_week": _t_dow,
    "dow": _t_dow,
    "url_extract_host": _t_url_part("HOST"),
    "url_extract_path": _t_url_part("PATH"),
    "url_extract_protocol": _t_url_part("PROTOCOL"),
    "url_extract_query": _t_url_part("QUERY"),
    "url_extract_fragment": _t_url_part("REF"),
    "url_extract_parameter": _t_url_param,
    "bitwise_and": _t_bitwise("&"),
    "bitwise_or": _t_bitwise("|"),
    "bitwise_xor": _t_bitwise("^"),
    "bitwise_not": _t_bitwise("~"),
    "split_to_map": _t_split_to_map,
    "json_parse": _t_json_parse,
    "json_format": _t_json_format,
    "json_value": _t_json_value,
    "json_query": _t_json_query,
    "json_exists": _t_json_exists,
    "format": lambda args: f"format_string({', '.join(args)})",
    "sha256": lambda args: f"sha2({args[0]}, 256)",
    "sha512": lambda args: f"sha2({args[0]}, 512)",
    "e": lambda args: "exp(1)",
    "now": lambda args: "current_timestamp()",
    "nan": lambda args: "CAST('NaN' AS DOUBLE)",
    "infinity": lambda args: "CAST('Infinity' AS DOUBLE)",
    "is_finite": lambda args: (
        f"(NOT isnan({args[0]}) AND abs({args[0]}) <> CAST('Infinity' AS DOUBLE))"
    ),
    "is_infinite": lambda args: f"(abs({args[0]}) = CAST('Infinity' AS DOUBLE))",
    "trim_array": lambda args: (
        f"slice({args[0]}, 1, greatest(size({args[0]}) - ({args[1]}), 0))"
    ),
    "from_unixtime_nanos": lambda args: (
        f"timestamp_micros(CAST(({args[0]}) / 1000 AS BIGINT))"
    ),
    "cosine_similarity": lambda args: (
        f"(aggregate(zip_with({args[0]}, {args[1]}, (x, y) -> x * y), 0D, (s, v) -> s + v)"
        f" / (sqrt(aggregate({args[0]}, 0D, (s, v) -> s + v * v))"
        f" * sqrt(aggregate({args[1]}, 0D, (s, v) -> s + v * v))))"
    ),
    "dot_product": lambda args: (
        f"aggregate(zip_with({args[0]}, {args[1]}, (x, y) -> x * y), 0D, (s, v) -> s + v)"
    ),
    "index": lambda args: f"instr({args[0]}, {args[1]})",
    "multimap_from_entries": _t_multimap_from_entries,
    "split_to_multimap": _t_split_to_multimap,
    "array_agg": _t_array_agg,
    "hamming_distance": lambda args: (
        # Per-position diff count (StringFunctions.java hamming_distance);
        # unequal lengths count padded positions as differing.
        f"aggregate(zip_with(split({args[0]}, ''), split({args[1]}, ''),"
        f" (x, y) -> IF(x <=> y, 0L, 1L)), 0L, (s, v) -> s + v)"
    ),
    "bit_count": lambda args: (
        f"bit_count({args[0]})"
        if len(args) == 1
        else (
            # Trino bit_count(x, bits): popcount of x within a `bits`-wide
            # two's-complement window (MathFunctions.java). Mask to width.
            f"IF(({args[1]}) >= 64, bit_count({args[0]}),"
            f" bit_count(({args[0]}) & (shiftleft(CAST(1 AS BIGINT), {args[1]}) - 1)))"
        )
    ),
    "json_array_get": lambda args: (
        f"get_json_object({args[0]}, concat('$[', CAST({args[1]} AS STRING), ']'))"
    ),
    "json_array_contains": lambda args: (
        f"exists(from_json({args[0]}, 'array<string>'),"
        f" x -> x = CAST({args[1]} AS STRING))"
    ),
    "map_top_n": lambda args: (
        # n largest entries by value, key as deterministic tiebreak
        # (MapTopNFunction.java).
        f"map_from_entries(slice(array_sort(map_entries({args[0]}),"
        f" (l, r) -> CASE WHEN l['value'] > r['value'] THEN -1"
        f" WHEN l['value'] < r['value'] THEN 1"
        f" WHEN l['key'] < r['key'] THEN -1"
        f" WHEN l['key'] > r['key'] THEN 1 ELSE 0 END), 1, {args[1]}))"
    ),
    "wilson_interval_lower": _t_wilson(-1),
    "wilson_interval_upper": _t_wilson(1),
    "bar": lambda args: (
        # Plain-block rendering of the reference's ANSI bar chart scalar
        # (ColorFunctions.java bar): proportion -> width glyphs. The 4-arg
        # form carries low/high interpolation colors — that rendering
        # needs per-glyph ANSI escapes, served by the registered UDF.
        f"bar_interpolated({', '.join(args)})"
        if len(args) == 4
        else f"repeat('█', CAST(greatest(least(CAST({args[0]} AS DOUBLE), 1.0D), 0.0D)"
        f" * ({args[1]}) AS INT))"
    ),
    # URL-safe base64 (VarbinaryFunctions.java toBase64Url/fromBase64Url:
    # java.util.Base64 URL encoder = standard alphabet with +/ -> -_).
    "to_base64url": lambda args: f"translate(base64({args[0]}), '+/', '-_')",
    "from_base64url": lambda args: f"unbase64(translate({args[0]}, '-_', '+/'))",
    # Timestamps are normalized to the UTC session zone on ingest (the
    # engine has no TIME/TIMESTAMP WITH TIME ZONE carrier type), so the
    # zone accessors are constants (DateTimeFunctions.java timezone/
    # timeZoneHour/timeZoneMinute would read the value's zone).
    "timezone": lambda args: "'UTC'",
    "timezone_hour": lambda args: "CAST(0 AS BIGINT)",
    "timezone_minute": lambda args: "CAST(0 AS BIGINT)",
    # to_milliseconds(interval day-to-second): anchor the interval at the
    # epoch and read the shifted timestamp back as fractional seconds —
    # works for every day-time interval width, stays in codegen.
    "to_milliseconds": lambda args: (
        f"CAST(CAST(TIMESTAMP '1970-01-01 00:00:00' + ({args[0]}) AS DOUBLE)"
        " * 1000 AS BIGINT)"
    ),
    # ISO-8601 with nanosecond fraction: truncate to Spark's microsecond
    # precision (same truncation the parquet reader applies to ns data).
    "from_iso8601_timestamp_nanos": lambda args: (
        f"to_timestamp(regexp_replace(regexp_replace({args[0]},"
        " '(\\\\.[0-9]{6})[0-9]+', '$1'), 'Z$', '+00:00'))"
    ),
    # empty_approx_set(): the identity element of approx_set/merge —
    # an aggregate over zero non-null rows yields the empty HLL sketch.
    "empty_approx_set": lambda args: "(SELECT hll_sketch_agg(CAST(NULL AS BIGINT)))",
    # map_union aggregate: fold the group's maps with map_concat
    # (session conf mapKeyDedupPolicy=LAST_WIN gives Trino's
    # overlapping-key behavior). The typed empty-map zero is derived
    # from the group's first map so key/value types match generically.
    "map_union": lambda args: (
        f"aggregate(collect_list({args[0]}),"
        f" map_filter(collect_list({args[0]})[0], (k, v) -> false),"
        " (acc, e) -> map_concat(acc, e))"
    ),
    # reduce_agg(input, init, inner, combine): sequential fold over the
    # collected group — inner has exactly Spark aggregate()'s (state,
    # element) shape; the combine lambda is only needed by a partial-agg
    # execution strategy, which the fold subsumes.
    "reduce_agg": lambda args: f"aggregate(collect_list({args[0]}), {args[1]}, {args[2]})",
    # trino-ml FeaturesFunctions: feature-vector constructor (the model
    # functions in functions/sqlagg.py consume the array form).
    "features": lambda args: f"array({', '.join(f'CAST({a} AS DOUBLE)' for a in args)})",
    # cardinality overloads on arrays/maps AND sketches; Spark's size()
    # only takes the former. The sketch overload is detected by the
    # argument's TOP-LEVEL call being a sketch constructor/merger (the
    # documented idioms cardinality(approx_set(x)) / cardinality(merge(d)))
    # — a substring match would misroute e.g. cardinality(split(hll_col, ',')).
    "cardinality": lambda args: (
        f"CAST(hll_sketch_estimate({args[0]}) AS BIGINT)"
        if re.match(
            r"\s*(approx_set|merge|hll_union|hll_union_agg|hll_sketch_agg|empty_approx_set)\s*\(",
            args[0],
            re.IGNORECASE,
        )
        else f"size({args[0]})"
    ),
    # format_number: Trino's 1-arg K/M/B/T humanizer; Spark's own 2-arg
    # decimal formatter passes through untouched.
    "format_number": lambda args: (
        f"format_number_short({args[0]})" if len(args) == 1 else f"format_number({', '.join(args)})"
    ),
    # Teradata to_timestamp/to_date (TeradataDateFunctions): translate the
    # Teradata pattern tokens to java.time when the pattern is a literal.
    "to_timestamp": lambda args: (
        f"to_timestamp({args[0]}, '{_teradata_to_java(args[1])}')"
        if len(args) == 2 and args[1].startswith("'")
        else f"to_timestamp({', '.join(args)})"
    ),
    "to_date": lambda args: (
        f"to_date({args[0]}, '{_teradata_to_java(args[1])}')"
        if len(args) == 2 and args[1].startswith("'")
        else f"to_date({', '.join(args)})"
    ),
    "checksum": lambda args: (
        # Order-insensitive aggregate checksum (ChecksumAggregationFunction
        # .java): sum of per-row 64-bit hashes, overflow-wrapping. BIGINT
        # here vs the reference's varbinary rendering of the same value.
        f"sum(xxhash64(CAST({args[0]} AS STRING)))"
    ),
    "normalize": lambda args: (
        f"normalize({args[0]})"
        if len(args) == 1
        else f"normalize_{args[1].strip().lower()}({args[0]})"
    ),
    "cosine_distance": lambda args: (
        f"(1.0D - (aggregate(zip_with({args[0]}, {args[1]}, (x, y) -> x * y), 0D, (s, v) -> s + v)"
        f" / (sqrt(aggregate({args[0]}, 0D, (s, v) -> s + v * v))"
        f" * sqrt(aggregate({args[1]}, 0D, (s, v) -> s + v * v)))))"
    ),
    "euclidean_distance": lambda args: (
        f"sqrt(aggregate(zip_with({args[0]}, {args[1]}, (x, y) -> (x - y) * (x - y)),"
        f" 0D, (s, v) -> s + v))"
    ),
    # ArrayMatchFunctions.java all_match/any_match/none_match -> Spark HOFs
    "all_match": lambda args: f"forall({args[0]}, {args[1]})",
    "any_match": lambda args: f"exists({args[0]}, {args[1]})",
    "none_match": lambda args: f"(NOT exists({args[0]}, {args[1]}))",
    "array_first": lambda args: f"element_at({args[0]}, 1)",
    "array_last": lambda args: f"element_at({args[0]}, -1)",
    "array_histogram": lambda args: (
        f"map_from_entries(transform(array_distinct({args[0]}),"
        f" __v -> struct(__v, size(filter({args[0]}, __e -> __e = __v)))))"
    ),
    # MathFunctions.java from_base/to_base -> conv()
    "from_base": lambda args: f"CAST(conv({args[0]}, {args[1]}, 10) AS BIGINT)",
    "to_base": lambda args: f"lower(conv(CAST({args[0]} AS STRING), 10, {args[1]}))",
    "from_utf8": lambda args: f"decode({args[0]}, 'UTF-8')",
    "to_utf8": lambda args: f"encode({args[0]}, 'UTF-8')",
    "title_case": lambda args: f"initcap({args[0]})",
    "ends_with": lambda args: f"endswith({args[0]}, {args[1]})",
    "regexp_split": lambda args: f"split({args[0]}, {args[1]})",
    # JoniRegexpFunctions.java regexp_position: 1-based first-match index,
    # -1 when absent (Spark regexp_instr returns 0 there)
    "regexp_position": lambda args: (
        f"(CASE WHEN regexp_instr({args[0]}, {args[1]}) = 0 THEN -1"
        f" ELSE regexp_instr({args[0]}, {args[1]}) END)"
    ),
    "millisecond": lambda args: (
        f"CAST(floor(unix_micros(CAST({args[0]} AS TIMESTAMP)) / 1000) % 1000 AS INTEGER)"
    ),
    "year_of_week": lambda args: f"extract(YEAROFWEEK FROM {args[0]})",
    "yow": lambda args: f"extract(YEAROFWEEK FROM {args[0]})",
    "json_size": lambda args: (
        f"(CASE WHEN ltrim({args[0]}) LIKE '[%' THEN json_array_length({args[0]})"
        f" WHEN ltrim({args[0]}) LIKE '{{%' THEN size(json_object_keys({args[0]}))"
        f" ELSE 0 END)"
    ),
    "url_extract_port": lambda args: (
        f"CAST(nullif(regexp_extract(parse_url({args[0]}, 'HOST')"
        f" || ':' || coalesce(regexp_extract({args[0]}, '://[^/]*?:([0-9]+)', 1), ''),"
        f" ':([0-9]+)$', 1), '') AS BIGINT)"
    ),
    # ArrayContainsSequence.java: contiguous-subsequence containment
    "contains_sequence": lambda args: (
        f"(CASE WHEN size({args[1]}) = 0 THEN true"
        f" WHEN size({args[0]}) < size({args[1]}) THEN false"
        f" ELSE exists(sequence(1, size({args[0]}) - size({args[1]}) + 1),"
        f" i -> slice({args[0]}, i, size({args[1]})) = {args[1]}) END)"
    ),
    # aggregates with direct Spark analogs under other names
    "bitwise_and_agg": lambda args: f"bit_and({args[0]})",
    "bitwise_or_agg": lambda args: f"bit_or({args[0]})",
    "bitwise_xor_agg": lambda args: f"bit_xor({args[0]})",
    "geometric_mean": lambda args: f"exp(avg(ln({args[0]})))",
    "map_agg": lambda args: f"map_from_entries(collect_list(struct({args[0]}, {args[1]})))",
    "multimap_agg": lambda args: (
        f"map_from_entries(transform(array_distinct(collect_list({args[0]})),"
        f" __k -> struct(__k, transform(filter(collect_list(struct({args[0]} AS k,"
        f" {args[1]} AS v)), __e -> __e.k = __k), __e -> __e.v))))"
    ),
    "histogram": lambda args: (
        f"map_from_entries(transform(array_distinct(collect_list({args[0]})),"
        f" __v -> struct(__v, size(filter(collect_list({args[0]}), __e -> __e = __v)))))"
    ),
    "to_iso8601": lambda args: f"date_format({args[0]}, \"yyyy-MM-dd'T'HH:mm:ss.SSS\")",
    "from_iso8601_timestamp": lambda args: f"to_timestamp({args[0]})",
    "from_iso8601_date": lambda args: f"to_date({args[0]})",
    # Array combinatorics (ArrayNgramsFunction.java, ArrayCombinationsFunction.java)
    # as pure higher-order expressions; n must be a literal.
    "ngrams": lambda args: (
        f"transform(sequence(1, greatest(size({args[0]}) - ({args[1]}) + 1, 1)),"
        f" i -> slice({args[0]}, i, least({args[1]}, size({args[0]}))))"
    ),
    "combinations": _t_combinations,
    # Timezone scalars (DateTimeFunctions.java at_timezone/with_timezone).
    # Policy per SURVEY §1.2: timestamptz values are UTC-normalized
    # TimestampType, so at_timezone = shift the UTC instant's wall-clock
    # into the zone; with_timezone = interpret a wall-clock as zone-local.
    "at_timezone": lambda args: f"convert_timezone('UTC', {args[1]}, {args[0]})",
    "with_timezone": lambda args: f"to_utc_timestamp({args[0]}, {args[1]})",
}


def _rewrite_functions(toks: list[Tok]) -> list[Tok]:
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "WORD":
            j = next_code(toks, i + 1)
            name = t.text.lower()
            if j < len(toks) and toks[j].is_sym("(") and (name in _RENAME or name in _TEMPLATE):
                close = match_paren(toks, j)
                if name in _RENAME:
                    out.append(Tok("WORD", _RENAME[name]))
                    out.extend(_rewrite_functions(toks[i + 1 : close + 1]))
                else:
                    spans = split_args(toks, j, close)
                    args = [render(_rewrite_functions(toks[a:b])).strip() for a, b in spans]
                    out.extend(tokenize(_TEMPLATE[name](args)))
                i = close + 1
                continue
        out.append(t)
        i += 1
    return out


# ------------------------------------------------------------------ syntax

def _rewrite_at_time_zone(toks: list[Tok]) -> list[Tok]:
    """`<expr> AT TIME ZONE '<zone>'` → convert_timezone('UTC', '<zone>',
    <expr>) (grammar SqlBase.g4 AT TIME ZONE; same UTC-normalization policy
    as at_timezone above). The preceding expression is captured as the last
    primary: a call/parenthesized group, or a (possibly dotted) identifier /
    literal — which covers the practical call sites."""
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        j = next_code(toks, i + 1)
        k = next_code(toks, j + 1) if j < len(toks) else len(toks)
        if (
            t.is_word("AT")
            and j < len(toks)
            and toks[j].is_word("TIME")
            and k < len(toks)
            and toks[k].is_word("ZONE")
        ):
            z = next_code(toks, k + 1)
            if z < len(toks) and toks[z].kind == "STR":
                # pop the preceding primary expression off `out`
                e = len(out) - 1
                while e >= 0 and out[e].kind == "WS":
                    e -= 1
                start = e
                if e >= 0 and out[e].is_sym(")"):
                    depth = 0
                    while start >= 0:
                        if out[start].is_sym(")"):
                            depth += 1
                        elif out[start].is_sym("("):
                            depth -= 1
                            if depth == 0:
                                break
                        start -= 1
                    p = start - 1
                    while p >= 0 and out[p].kind == "WS":
                        p -= 1
                    if p >= 0 and out[p].kind == "WORD":
                        start = p
                elif e >= 0 and out[e].kind == "STR":
                    # typed literal: TIMESTAMP '...' / DATE '...' / TIME '...'
                    p = start - 1
                    while p >= 0 and out[p].kind == "WS":
                        p -= 1
                    if p >= 0 and out[p].is_word("TIMESTAMP", "DATE", "TIME"):
                        start = p
                elif e >= 0 and out[e].kind in ("WORD", "QIDENT", "NUM"):
                    while True:
                        p = start - 1
                        while p >= 0 and out[p].kind == "WS":
                            p -= 1
                        if p >= 1 and out[p].is_sym(".") :
                            q = p - 1
                            while q >= 0 and out[q].kind == "WS":
                                q -= 1
                            if q >= 0 and out[q].kind in ("WORD", "QIDENT"):
                                start = q
                                continue
                        break
                else:
                    out.append(t)
                    i += 1
                    continue
                expr = render(out[start:]).strip()
                del out[start:]
                is_timetz = expr.lower().startswith(("timetz(", "try_timetz(")) or (
                    expr.startswith("'")
                    and _TIMETZ_LIT.match(expr[1:-1]) is not None
                )
                if is_timetz:
                    # TIME WITH TIME ZONE AT TIME ZONE '±HH:MM': same
                    # instant, new fixed offset (scalar/timetz semantics)
                    out.extend(
                        tokenize(f"timetz_at_time_zone({toks[z].text}, {expr})")
                    )
                else:
                    out.extend(
                        tokenize(f"convert_timezone('UTC', {toks[z].text}, {expr})")
                    )
                i = z + 1
                continue
        out.append(t)
        i += 1
    return out


def _rewrite_fetch(toks: list[Tok]) -> tuple[list[Tok], bool]:
    """FETCH {FIRST|NEXT} [n] {ROW|ROWS} ONLY → LIMIT n.
    FETCH ... WITH TIES → handled at the query level (returns ties=True so
    the caller wraps with a rank() filter)."""
    out: list[Tok] = []
    i = 0
    ties = False
    while i < len(toks):
        t = toks[i]
        if t.is_word("FETCH"):
            j = next_code(toks, i + 1)
            if j < len(toks) and toks[j].is_word("FIRST", "NEXT"):
                k = next_code(toks, j + 1)
                n = "1"
                if k < len(toks) and toks[k].kind == "NUM":
                    n = toks[k].text
                    k = next_code(toks, k + 1)
                if k < len(toks) and toks[k].is_word("ROW", "ROWS"):
                    e = next_code(toks, k + 1)
                    if e < len(toks) and toks[e].is_word("ONLY"):
                        out.extend(tokenize(f"LIMIT {n}"))
                        i = e + 1
                        continue
                    w2 = next_code(toks, e + 1)
                    if (
                        e < len(toks)
                        and toks[e].is_word("WITH")
                        and w2 < len(toks)
                        and toks[w2].is_word("TIES")
                    ):
                        # leave a marker; caller rewrites the whole query
                        out.extend(tokenize(f"__FETCH_TIES__ {n}"))
                        ties = True
                        i = w2 + 1
                        continue
        out.append(t)
        i += 1
    return out, ties


def _rewrite_ties(sql: str) -> str:
    """Top-level `ORDER BY <keys> __FETCH_TIES__ n` → rank()-filter wrap.
    Trino rewrites WITH TIES the same way (main/sql/planner/iterative/rule/
    ImplementLimitWithTies.java). The helper column `__rk` is dropped by
    TrinoEngine.sql after execution.

    Boundedness: the unpartitioned rank() window here is equivalent to
    the global ORDER BY the statement already mandates — WITH TIES is
    only legal with a top-level ORDER BY, so the single-partition sort
    exists in the plan either way and the window adds no new scale
    hazard (`WindowExec: No Partition Defined` during bench is expected
    and bounded at this site)."""
    toks = tokenize(sql)
    # find depth-0 ORDER BY ... __FETCH_TIES__ n at the end
    depth = 0
    order_i = -1
    for idx, t in enumerate(toks):
        if t.is_sym("("):
            depth += 1
        elif t.is_sym(")"):
            depth -= 1
        elif depth == 0 and t.is_word("ORDER"):
            j = next_code(toks, idx + 1)
            if j < len(toks) and toks[j].is_word("BY"):
                order_i = idx
    marker = next((k for k, t in enumerate(toks) if t.is_word("__FETCH_TIES__")), -1)
    if order_i < 0 or marker < 0 or marker < order_i:
        raise TrinoSqlError("FETCH ... WITH TIES requires a top-level ORDER BY")
    n_i = next_code(toks, marker + 1)
    n = toks[n_i].text
    body = render(toks[:order_i]).strip()
    keys = render(toks[next_code(toks, next_code(toks, order_i + 1) + 1) : marker]).strip()
    return (
        f"SELECT * FROM (SELECT __t.*, rank() OVER (ORDER BY {keys}) AS __rk "
        f"FROM ({body}) __t) WHERE __rk <= {n} ORDER BY {keys}"
    )


def _rewrite_tablesample(toks: list[Tok]) -> list[Tok]:
    """TABLESAMPLE BERNOULLI(p) / SYSTEM(p) → TABLESAMPLE (p PERCENT)."""
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.is_word("TABLESAMPLE"):
            j = next_code(toks, i + 1)
            if j < len(toks) and toks[j].is_word("BERNOULLI", "SYSTEM"):
                o = next_code(toks, j + 1)
                if o < len(toks) and toks[o].is_sym("("):
                    c = match_paren(toks, o)
                    pct = render(toks[o + 1 : c]).strip()
                    out.extend(tokenize(f"TABLESAMPLE ({pct} PERCENT)"))
                    i = c + 1
                    continue
        out.append(t)
        i += 1
    return out


def _rewrite_unnest(toks: list[Tok]) -> list[Tok]:
    """[CROSS JOIN | ,] UNNEST(expr[, expr2]) [WITH ORDINALITY] AS t(c...)
    → LATERAL VIEW explode/inline(...) t AS c...

    Single array → explode; WITH ORDINALITY → inline(transform(x,(v,i)->
    struct(v, CAST(i+1 AS BIGINT)))); two arrays → inline(zip_with(...)).
    (Trino: plan/UnnestNode.java, operator/unnest/UnnestOperator.java:45.)
    """
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.is_word("FROM"):
            # Standalone `FROM UNNEST(...) [WITH ORDINALITY] AS t(cols)`
            # (UNNEST as the only relation): rewrite onto Spark's
            # generator table-valued functions (explode/posexplode/inline
            # in FROM), wrapped in a subquery that renames to the alias
            # columns so `SELECT *` sees exactly the declared shape.
            j = next_code(toks, i + 1)
            if j < len(toks) and toks[j].is_word("UNNEST"):
                o = next_code(toks, j + 1)
                c = match_paren(toks, o)
                exprs = [render(toks[a:b]).strip() for a, b in split_args(toks, o, c)]
                k = next_code(toks, c + 1)
                ordinality = False
                if k < len(toks) and toks[k].is_word("WITH"):
                    k2 = next_code(toks, k + 1)
                    if k2 < len(toks) and toks[k2].is_word("ORDINALITY"):
                        ordinality = True
                        k = next_code(toks, k2 + 1)
                if not (k < len(toks) and toks[k].is_word("AS")):
                    raise TrinoSqlError("UNNEST requires an AS alias(col, ...) clause")
                a_i = next_code(toks, k + 1)
                alias = toks[a_i].text
                p_i = next_code(toks, a_i + 1)
                pc = match_paren(toks, p_i)
                cols = [render(toks[a:b]).strip() for a, b in split_args(toks, p_i, pc)]
                out.extend(tokenize(" FROM " + _unnest_tvf(exprs, cols, ordinality, alias)))
                i = pc + 1
                continue
        is_cross = t.is_word("CROSS")
        is_comma = t.is_sym(",")
        if is_cross or is_comma:
            j = next_code(toks, i + 1)
            if is_cross:
                if not (j < len(toks) and toks[j].is_word("JOIN")):
                    out.append(t)
                    i += 1
                    continue
                j = next_code(toks, j + 1)
            if j < len(toks) and toks[j].is_word("UNNEST"):
                o = next_code(toks, j + 1)
                c = match_paren(toks, o)
                spans = split_args(toks, o, c)
                exprs = [render(toks[a:b]).strip() for a, b in spans]
                k = next_code(toks, c + 1)
                ordinality = False
                if k < len(toks) and toks[k].is_word("WITH"):
                    k2 = next_code(toks, k + 1)
                    if k2 < len(toks) and toks[k2].is_word("ORDINALITY"):
                        ordinality = True
                        k = next_code(toks, k2 + 1)
                if not (k < len(toks) and toks[k].is_word("AS")):
                    raise TrinoSqlError("UNNEST requires an AS alias(col, ...) clause")
                a_i = next_code(toks, k + 1)
                alias = toks[a_i].text
                p_i = next_code(toks, a_i + 1)
                pc = match_paren(toks, p_i)
                cols = [render(toks[a:b]).strip() for a, b in split_args(toks, p_i, pc)]
                out.extend(tokenize(" " + _unnest_lateral(exprs, cols, ordinality, alias)))
                i = pc + 1
                continue
        out.append(t)
        i += 1
    return out


def _unnest_tvf(exprs: list[str], cols: list[str], ordinality: bool, alias: str) -> str:
    """UNNEST as the sole FROM relation -> Spark generator TVF subquery."""
    if len(exprs) == 1 and not ordinality:
        if len(cols) == 2:  # map input -> (key, value)
            return f"(SELECT key AS {cols[0]}, value AS {cols[1]} FROM explode({exprs[0]})) AS {alias}"
        if len(cols) != 1:
            raise TrinoSqlError("UNNEST of one array produces one column")
        return f"(SELECT col AS {cols[0]} FROM explode({exprs[0]})) AS {alias}"
    if len(exprs) == 1 and ordinality:
        if len(cols) != 2:
            raise TrinoSqlError("UNNEST ... WITH ORDINALITY produces (value, ordinality)")
        return (
            f"(SELECT col AS {cols[0]}, CAST(pos + 1 AS BIGINT) AS {cols[1]}"
            f" FROM posexplode({exprs[0]})) AS {alias}"
        )
    if len(exprs) == 2 and not ordinality:
        if len(cols) != 2:
            raise TrinoSqlError("UNNEST of two arrays produces two columns")
        return (
            f"(SELECT __a AS {cols[0]}, __b AS {cols[1]} FROM inline(zip_with("
            f"{exprs[0]}, {exprs[1]}, (__a, __b) -> struct(__a, __b)))) AS {alias}"
        )
    raise TrinoSqlError("unsupported UNNEST form (maps / >2 arrays)")


def _unnest_lateral(exprs: list[str], cols: list[str], ordinality: bool, alias: str) -> str:
    if len(exprs) == 1 and not ordinality:
        if len(cols) == 2:
            # UNNEST(map) -> (key, value) rows (UnnestOperator.java
            # MapUnnester): Spark's explode on a map yields exactly two
            # columns, so the 1-expr/2-col shape disambiguates map input.
            return f"LATERAL VIEW explode({exprs[0]}) {alias} AS {cols[0]}, {cols[1]}"
        if len(cols) != 1:
            raise TrinoSqlError("UNNEST of one array produces one column")
        return f"LATERAL VIEW explode({exprs[0]}) {alias} AS {cols[0]}"
    if len(exprs) == 1 and ordinality:
        if len(cols) != 2:
            raise TrinoSqlError("UNNEST ... WITH ORDINALITY produces (value, ordinality)")
        return (
            f"LATERAL VIEW inline(transform({exprs[0]}, "
            f"(__v, __i) -> struct(__v, CAST(__i + 1 AS BIGINT)))) {alias} AS {cols[0]}, {cols[1]}"
        )
    if len(exprs) == 2 and not ordinality:
        if len(cols) != 2:
            raise TrinoSqlError("UNNEST of two arrays produces two columns")
        return (
            f"LATERAL VIEW inline(zip_with({exprs[0]}, {exprs[1]}, "
            f"(__a, __b) -> struct(__a, __b))) {alias} AS {cols[0]}, {cols[1]}"
        )
    raise TrinoSqlError("unsupported UNNEST form (maps / >2 arrays)")


def _rewrite_array_literal(toks: list[Tok]) -> list[Tok]:
    """ARRAY[a, b, ...] → array(a, b, ...) (Spark has no bracket form)."""
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "WORD" and t.text.upper() == "ARRAY":
            j = next_code(toks, i + 1)
            if j < len(toks) and toks[j].is_sym("["):
                depth = 0
                close = -1
                for k in range(j, len(toks)):
                    if toks[k].is_sym("["):
                        depth += 1
                    elif toks[k].is_sym("]"):
                        depth -= 1
                        if depth == 0:
                            close = k
                            break
                if close < 0:
                    raise TrinoSqlError("unbalanced ARRAY[ literal")
                out.append(Tok("WORD", "array"))
                out.append(Tok("SYM", "("))
                out.extend(_rewrite_array_literal(toks[j + 1 : close]))
                out.append(Tok("SYM", ")"))
                i = close + 1
                continue
        out.append(t)
        i += 1
    return out


# ------------------------------------------------------------------- types

# type words Spark spells otherwise in a CAST (dialect/types.py)
_TYPE_RENAME = frozenset({"VARBINARY", "REAL"})


def _rewrite_cast_char(toks: list[Tok]) -> list[Tok]:
    """CAST(expr AS CHAR(n)) -> rpad(substring(expr, 1, n), n, ' ').

    Trino CHAR(n) is a fixed-length, space-padded type
    (spi/type/CharType.java, CharacterStringCasts.java); Spark's CHAR(n)
    exists only in table schemas, not cast targets. Materializing the
    padding makes equality/ordering behave like the reference's padded
    semantics (previously a documented gap pinned in tests/test_types.py)."""
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.is_word("CAST"):
            op = next_code(toks, i + 1)
            if op < len(toks) and toks[op].is_sym("("):
                close = match_paren(toks, op)
                # find top-level AS inside
                depth = 0
                as_i = -1
                for k in range(op + 1, close):
                    tk = toks[k]
                    if tk.is_sym("("):
                        depth += 1
                    elif tk.is_sym(")"):
                        depth -= 1
                    elif depth == 0 and tk.is_word("AS"):
                        as_i = k
                if as_i > 0:
                    ty = next_code(toks, as_i + 1)
                    if ty < close and toks[ty].is_word("CHAR"):
                        po = next_code(toks, ty + 1)
                        if po < close and toks[po].is_sym("("):
                            pc = match_paren(toks, po)
                            n = render(toks[po + 1 : pc]).strip()
                            inner = render(_rewrite_cast_char(toks[op + 1 : as_i])).strip()
                            out.extend(
                                tokenize(
                                    f"rpad(substring(CAST({inner} AS STRING), 1, {n}), {n}, ' ')"
                                )
                            )
                            i = close + 1
                            continue
        out.append(t)
        i += 1
    return out


def _rewrite_types(toks: list[Tok]) -> list[Tok]:
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "WORD" and t.text.upper() == "DOUBLE":
            j = next_code(toks, i + 1)
            if j < len(toks) and toks[j].is_word("PRECISION"):
                out.append(Tok("WORD", "DOUBLE"))
                i = j + 1
                continue
        if t.kind == "WORD" and t.text.upper() == "VARCHAR":
            # bare VARCHAR (no length) is a valid Trino type but not a valid
            # Spark one -> STRING; VARCHAR(n) passes through untouched
            j = next_code(toks, i + 1)
            prev = prev_code(toks, len(out) - 1)
            in_type_pos = prev >= 0 and out[prev].is_word("AS")
            has_len = j < len(toks) and toks[j].is_sym("(")
            if in_type_pos and not has_len:
                out.append(Tok("WORD", "STRING"))
                i += 1
                continue
        if t.kind == "WORD" and t.text.upper() in _TYPE_RENAME:
            j = next_code(toks, i + 1)
            prev = prev_code(toks, len(out) - 1)
            # only in CAST/type position: preceded by AS or followed by )
            if prev >= 0 and out[prev].is_word("AS"):
                out.append(Tok("WORD", spark_type(t.text)))
                i += 1
                continue
        out.append(t)
        i += 1
    return out



_QUANT_AGG = {
    (">", "ALL"): "max", (">=", "ALL"): "max", ("<", "ALL"): "min", ("<=", "ALL"): "min",
    (">", "ANY"): "min", (">=", "ANY"): "min", ("<", "ANY"): "max", ("<=", "ANY"): "max",
}


def _rewrite_quantified(toks: list[Tok]) -> list[Tok]:
    """Quantified comparisons (grammar SqlBase.g4 comparisonQuantifier;
    planner QuantifiedComparisonExpression): rewrite onto Spark, which has
    no ANY/SOME/ALL subquery syntax.

      = ANY/SOME (q)      -> IN (q)
      <> ALL (q)          -> NOT IN (q)
      >|>=|<|<= ALL (q)   -> op (SELECT max/min(c) FROM (q))
      >|>=|<|<= ANY/SOME  -> op (SELECT min/max(c) FROM (q))

    The min/max rewrite matches Trino on non-NULL, non-empty subqueries
    (the overwhelmingly common case); NULL-bearing or empty subqueries
    yield NULL where strict ALL-semantics would yield TRUE — documented
    deviation. `= ALL` / `<> ANY` (equality against every/some row) have
    no single-aggregate form and raise.
    """
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "WORD" and t.text.upper() in ("ALL", "ANY", "SOME"):
            quant = "ANY" if t.text.upper() == "SOME" else t.text.upper()
            prev = prev_code(out, len(out) - 1)
            nxt = next_code(toks, i + 1)
            cmp_tok = out[prev].text if prev >= 0 else ""
            if (
                cmp_tok in ("=", "<>", "!=", ">", ">=", "<", "<=")
                and nxt < len(toks)
                and toks[nxt].is_sym("(")
            ):
                close = match_paren(toks, nxt)
                inner = render(toks[nxt + 1 : close]).strip()
                if cmp_tok == "=" and quant == "ANY":
                    del out[prev:]
                    out.extend(tokenize(f" IN ({inner})"))
                elif cmp_tok in ("<>", "!=") and quant == "ALL":
                    del out[prev:]
                    out.extend(tokenize(f" NOT IN ({inner})"))
                elif (cmp_tok, quant) in _QUANT_AGG:
                    agg = _QUANT_AGG[(cmp_tok, quant)]
                    out.extend(
                        tokenize(f" (SELECT {agg}(__qc) FROM ({inner}) AS __q(__qc))")
                    )
                else:
                    raise TrinoSqlError(
                        f"quantified comparison {cmp_tok} {quant} (subquery) has no "
                        "aggregate rewrite"
                    )
                i = close + 1
                continue
        out.append(t)
        i += 1
    return out


def _rewrite_decimal_literal(toks: list[Tok]) -> list[Tok]:
    """DECIMAL '12.34' typed literal -> CAST('12.34' AS DECIMAL(p, s)) with
    Trino's inference: p = digit count, s = fraction digits."""
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        j = next_code(toks, i + 1)
        if (
            t.kind == "WORD"
            and t.text.upper() == "DECIMAL"
            and j < len(toks)
            and toks[j].kind == "STR"
        ):
            lit = toks[j].text.strip("'").strip()
            digits = lit.lstrip("+-")
            whole, _, frac = digits.partition(".")
            p = min(38, max(1, len(whole.lstrip("0") or "0") + len(frac)))
            s = min(p, len(frac))
            out.extend(tokenize(f"CAST({toks[j].text} AS DECIMAL({p}, {s}))"))
            i = j + 1
            continue
        out.append(t)
        i += 1
    return out


# grammar SqlBase.g4 #typeConstructor: <type> 'literal', read as a CAST
_TYPED_LIT = frozenset(
    "REAL DOUBLE BIGINT INTEGER INT SMALLINT TINYINT VARCHAR CHAR BOOLEAN JSON UUID IPADDRESS".split()
)


_TIMETZ_LIT = re.compile(
    r"^\s*\d{1,2}:\d{2}(?::\d{2})?(?:\.\d{1,9})?\s*[+-]\d{1,2}(?::?\d{2})?\s*$"
)


def _rewrite_timetz(toks: list[Tok]) -> list[Tok]:
    """TIME WITH TIME ZONE surface (TimeWithTimeZoneType.java):

    * `TIME '10:30:00+05:30'` (offset-bearing literal — a plain TIME
      literal stays Spark-native time(6)) -> `timetz('...')`, the
      canonical-varchar carrier registered in functions/registry.py;
    * `CAST(e AS TIME WITH TIME ZONE)` -> `timetz(CAST(e AS STRING))`.
    """
    out: list[Tok] = []
    i = 0
    n = len(toks)
    while i < n:
        t = toks[i]
        if t.is_word("TIME"):
            j = next_code(toks, i + 1)
            if j < n and toks[j].kind == "STR" and _TIMETZ_LIT.match(toks[j].text[1:-1]):
                # constant-fold the literal at rewrite time: a canonical
                # string needs no UDF call, so it stays legal inside
                # inline tables (VALUES cannot evaluate Python UDFs)
                from trino_spark.functions.registry import _timetz

                canon = _timetz(toks[j].text[1:-1].replace("''", "'"))
                out.extend(tokenize(f"'{canon}'"))
                i = j + 1
                continue
        if t.is_word("AS"):
            j = next_code(toks, i + 1)
            k = next_code(toks, j + 1) if j < n else n
            # optional precision: TIME(p) WITH TIME ZONE — Trino's
            # canonical spelling carries a precision; the carrier keeps
            # canonical precision 3, so `(p)` is consumed and dropped
            if (
                j < n
                and toks[j].is_word("TIME")
                and k < n
                and toks[k].is_sym("(")
            ):
                d = next_code(toks, k + 1)
                c = next_code(toks, d + 1) if d < n else n
                if c < n and toks[d].kind == "NUM" and toks[c].is_sym(")"):
                    k = next_code(toks, c + 1)
            m = next_code(toks, k + 1) if k < n else n
            p = next_code(toks, m + 1) if m < n else n
            if (
                p < n
                and toks[j].is_word("TIME")
                and toks[k].is_word("WITH")
                and toks[m].is_word("TIME")
                and toks[p].is_word("ZONE")
            ):
                # inside CAST(e AS TIME WITH TIME ZONE): close the cast as
                # a string and wrap with timetz() — find the matching ')'
                # and the 'CAST(' opener on the already-emitted side.
                depth = 0
                start = len(out) - 1
                while start >= 0:
                    if out[start].is_sym(")"):
                        depth += 1
                    elif out[start].is_sym("("):
                        if depth == 0:
                            break
                        depth -= 1
                    start -= 1
                q = start - 1
                while q >= 0 and out[q].kind == "WS":
                    q -= 1
                if start > 0 and q >= 0 and out[q].is_word("CAST", "TRY_CAST"):
                    fn = out[q].text.upper()
                    inner = render(out[start + 1 :]).strip()
                    del out[q:]
                    # TRY_CAST keeps try semantics: try_timetz yields
                    # NULL on an unparseable value instead of raising
                    outer = "try_timetz" if fn == "TRY_CAST" else "timetz"
                    out.extend(tokenize(f"{outer}({fn}({inner} AS STRING)"))
                    # the original cast's closing ')' (still ahead in toks)
                    # now closes timetz(...)
                    i = p + 1
                    continue
        out.append(t)
        i += 1
    return out


def _rewrite_typed_literal(toks: list[Tok]) -> list[Tok]:
    """Typed literals `REAL '1.5'`, `BIGINT '42'`, `JSON '[1]'` ->
    CAST('..' AS t). DATE/TIMESTAMP/TIME/DECIMAL/INTERVAL literals are
    Spark-native (DECIMAL has its own precision-sizing pass above)."""
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        j = next_code(toks, i + 1)
        if (
            t.kind == "WORD"
            and t.text.upper() in _TYPED_LIT
            and j < len(toks)
            and toks[j].kind == "STR"
        ):
            out.extend(tokenize(f"CAST({toks[j].text} AS {spark_type(t.text)})"))
            i = j + 1
            continue
        if (
            t.kind == "WORD"
            and t.text.upper() == "DOUBLE"
            and j < len(toks)
            and toks[j].is_word("PRECISION")
        ):
            k = next_code(toks, j + 1)
            if k < len(toks) and toks[k].kind == "STR":
                out.extend(tokenize(f"CAST({toks[k].text} AS DOUBLE)"))
                i = k + 1
                continue
        out.append(t)
        i += 1
    return out


def _rewrite_offset_limit(toks: list[Tok]) -> list[Tok]:
    """Trino `OFFSET n [ROW|ROWS] [LIMIT m]` -> Spark order/spelling:
    `LIMIT m OFFSET n` (Spark requires LIMIT first) or a bare `OFFSET n`
    (Spark accepts no ROW/ROWS keyword). Runs AFTER _rewrite_fetch, so
    `OFFSET n ROWS FETCH NEXT m ROWS ONLY` arrives here as
    `OFFSET n ROWS LIMIT m`."""
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "WORD" and t.text.upper() == "OFFSET":
            j = next_code(toks, i + 1)
            if j < len(toks) and toks[j].kind == "NUM":
                n = toks[j].text
                k = next_code(toks, j + 1)
                if k < len(toks) and toks[k].kind == "WORD" and toks[k].text.upper() in ("ROW", "ROWS"):
                    k = next_code(toks, k + 1)
                if k < len(toks) and toks[k].is_word("LIMIT"):
                    m_i = next_code(toks, k + 1)
                    out.extend(tokenize(f" LIMIT {toks[m_i].text} OFFSET {n} "))
                    i = m_i + 1
                    continue
                out.extend(tokenize(f" OFFSET {n} "))
                i = k
                continue
        out.append(t)
        i += 1
    return out


def _rewrite_unicode_literal(toks: list[Tok]) -> list[Tok]:
    """U&'...' [UESCAPE 'c'] Unicode string literals (grammar
    UNICODE_STRING; Trino docs language/types VARCHAR examples):
    decode \\XXXX (4 hex) and \\+XXXXXX (6 hex) escapes at rewrite time
    into a plain literal."""
    out: list[Tok] = []
    i = 0
    n = len(toks)
    while i < n:
        t = toks[i]
        j = i + 1  # U& must be adjacent: no WS between U, & and the string
        if (
            t.is_word("U")
            and j + 1 < n
            and toks[j].is_sym("&")
            and toks[j + 1].kind == "STR"
        ):
            body = toks[j + 1].text[1:-1].replace("''", "'")
            esc = "\\"
            k = next_code(toks, j + 2)
            consumed = j + 2
            if k < n and toks[k].is_word("UESCAPE"):
                e = next_code(toks, k + 1)
                if e < n and toks[e].kind == "STR":
                    esc = toks[e].text[1:-1]
                    consumed = e + 1
            ch = re.escape(esc)
            decoded = re.sub(
                ch + r"\+([0-9A-Fa-f]{6})|" + ch + r"([0-9A-Fa-f]{4})|" + ch + ch,
                lambda m: chr(int(m.group(1) or m.group(2), 16))
                if (m.group(1) or m.group(2))
                else esc,
                body,
            )
            # Spark's string parser treats backslash as an escape inside
            # '...' (Trino's does not), so re-escape any literal backslash
            decoded = decoded.replace("\\", "\\\\").replace("'", "''")
            out.append(Tok("STR", "'" + decoded + "'"))
            i = consumed
            continue
        out.append(t)
        i += 1
    return out


def _rewrite_niladic(toks: list[Tok]) -> list[Tok]:
    """Niladic keywords Spark only accepts with parens (localtimestamp)
    or under a different spelling: current_catalog -> the session
    catalog literal, current_schema -> current_database() (Trino's
    grammar treats both as parenless niladics)."""
    out: list[Tok] = []
    for idx, t in enumerate(toks):
        if t.kind == "WORD" and t.text.upper() == "LOCALTIMESTAMP":
            j = next_code(toks, idx + 1)
            if not (j < len(toks) and toks[j].is_sym("(")):
                out.extend(tokenize("localtimestamp()"))
                continue
        if t.kind == "WORD" and t.text.upper() in ("CURRENT_CATALOG", "CURRENT_SCHEMA"):
            j = next_code(toks, idx + 1)
            p = prev_code(toks, idx - 1)
            # leave `current_schema.table` AND `t.current_schema`-style
            # qualified references alone (a preceding '.' means this is a
            # column of some relation, not the niladic)
            if p >= 0 and toks[p].is_sym("."):
                out.append(t)
                continue
            if not (j < len(toks) and (toks[j].is_sym("(") or toks[j].is_sym("."))):
                out.extend(
                    tokenize(
                        "'spark'"
                        if t.text.upper() == "CURRENT_CATALOG"
                        else "current_database()"
                    )
                )
                continue
        out.append(t)
    return out


def _rewrite_row(toks: list[Tok]) -> list[Tok]:
    """ROW(...) in expression position -> struct(...); ROW(...) in type
    position (after AS inside CAST) -> STRUCT<name: TYPE, ...>."""
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "WORD" and t.text.upper() == "ROW":
            j = next_code(toks, i + 1)
            if j < len(toks) and toks[j].is_sym("("):
                prev = prev_code(out, len(out) - 1)
                in_type_pos = prev >= 0 and out[prev].is_word("AS")
                close = match_paren(toks, j)
                if in_type_pos:
                    typed = spark_type(render(toks[i : close + 1]))
                    out.extend(tokenize(typed))
                    i = close + 1
                else:
                    # Constructor: swap the word only and continue from the
                    # paren so NESTED ROW(...) constructors get visited too.
                    out.append(Tok("WORD", "struct"))
                    i = j
                continue
        out.append(t)
        i += 1
    return out


# ------------------------------------------------------------------ driver

def _rewrite_table_ptf(toks: list[Tok]) -> list[Tok]:
    """Polymorphic table functions (reference: main/operator/table/ —
    Sequence/ExcludeColumns TableFunction):
    TABLE(sequence(start, stop [, step])) -> range() subquery emitting
    Trino's `sequential_number` column; TABLE(exclude_columns(TABLE(t),
    DESCRIPTOR(c, ...))) -> SELECT * EXCEPT subquery. Runs after the
    function pass so PTF arguments are already translated."""
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        nxt = next_code(toks, i + 1)
        if t.is_word("TABLE") and nxt < len(toks) and toks[nxt].is_sym("("):
            close = match_paren(toks, nxt)
            fi = next_code(toks, nxt + 1)
            fn = toks[fi].text.upper() if fi < len(toks) and toks[fi].kind == "WORD" else None
            if fn == "SEQUENCE":
                po = next_code(toks, fi + 1)
                pc = match_paren(toks, po)
                args = [render(toks[s:e]).strip() for s, e in split_args(toks, po, pc)]
                start, stop = args[0], args[1]
                step = args[2] if len(args) > 2 else None
                end = f"({stop}) - 1" if step and step.lstrip().startswith("-") else f"({stop}) + 1"
                sql = f"(SELECT id AS sequential_number FROM range({start}, {end}"
                sql += f", {step}))" if step else "))"
                out.append(Tok("WORD", sql))
                i = close + 1
                continue
            if fn is not None and fn not in ("SEQUENCE", "EXCLUDE_COLUMNS"):
                fcall = next_code(toks, fi + 1)
                if fcall < len(toks) and toks[fcall].is_sym("("):
                    # Generic PTF (spi/function/table/ConnectorTableFunction):
                    # TABLE(fn(args)) -> fn(args), Spark's native UDTF
                    # invocation in FROM position. Inner TABLE(t) arguments
                    # pass through — Spark UDTFs accept the same syntax.
                    out.append(Tok("WORD", render(toks[fi:close]).strip()))
                    i = close + 1
                    continue
            if fn == "EXCLUDE_COLUMNS":
                po = next_code(toks, fi + 1)
                pc = match_paren(toks, po)
                spans = split_args(toks, po, pc)
                src = render(toks[spans[0][0] : spans[0][1]]).strip()
                if src.upper().startswith("TABLE"):
                    src = src[src.index("(") + 1 : src.rindex(")")].strip()
                desc = render(toks[spans[1][0] : spans[1][1]]).strip()
                cols = desc[desc.index("(") + 1 : desc.rindex(")")]
                out.append(Tok("WORD", f"(SELECT * EXCEPT ({cols}) FROM {src})"))
                i = close + 1
                continue
        out.append(t)
        i += 1
    return out


_SIMPLE_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_$]*$")

# Unquoting "from" etc. would re-keyword an identifier Trino quoted
# precisely to escape — those keep their quoting (as backticks).
_RESERVED_WORDS = frozenset(
    """all and any as asc between by case cast create cross cube current
    delete desc distinct drop else end escape except exists false fetch
    following for from full group grouping having in inner insert intersect
    interval into is join lateral left like limit natural not null offset
    on or order outer over partition preceding right rollup row rows select
    set some table then to true union unnest update using values when where
    window with""".split()
)


def _rewrite_qident(toks):
    """Trino double-quoted identifiers -> Spark form (SqlBase.g4
    quotedIdentifier; the vendored TPC-DS corpus quotes every identifier,
    including function names like "sum"(...)). Simple non-reserved
    identifiers drop the quotes and become WORD tokens — so later passes
    (function renames, keyword logic) see them; reserved words and
    non-simple names become backtick identifiers (still quoted, never
    re-keyworded)."""
    out = []
    for t in toks:
        if t.kind == "QIDENT":
            inner = t.text[1:-1]
            if _SIMPLE_IDENT.match(inner) and inner.lower() not in _RESERVED_WORDS:
                out.append(Tok("WORD", inner))
            else:
                out.append(Tok("QIDENT", f"`{inner}`"))
        else:
            out.append(t)
    return out


_SPATIAL_AGG_NAMES = ("SPATIAL_PARTITIONING", "SPATIAL_PARTITIONING_N")
_SPATIAL_SAMPLE_N = 10000
# Pure scalar functions that may safely appear alongside the rewritten
# aggregate in a select list. Anything else followed by '(' — including
# aggregates we have never heard of (count_if, stddev, bool_and,
# approx_percentile, min_by, ...) — ABORTS the rewrite: rewriting past an
# unknown aggregate would silently change its grouping (it would see
# per-partition partial rows), whereas the direct form fails loudly
# (Spark rejects mixing pandas GROUPED_AGG with plain aggregates).
_SAFE_SCALAR_CALLS = frozenset(
    """cast try_cast coalesce nullif abs round floor ceil ceiling sign
    upper lower trim ltrim rtrim btrim substr substring concat concat_ws
    length char_length if ifnull nvl nvl2 greatest least format_number
    date timestamp to_date to_timestamp date_format year month day hour
    minute second replace split element_at
    value_at_quantile values_at_quantiles quantile_at_value
    jaccard_index intersection_cardinality hash_counts cardinality
    theta_sketch_estimate map_keys map_values""".split()
)
# keywords that legally precede '(' without being a function call
_KW_BEFORE_PAREN = frozenset(
    """in not and or when then else case end is between like escape as
    distinct all any some exists interval over filter select from where
    by on using row array map struct values""".split()
)


def _select_list_calls_ok(
    toks: list[Tok], sel: int, from_idx: int, allowed: frozenset | set
) -> bool:
    """True iff every `name(` in the select list span is either one of the
    rewrite's own aggregates, a known pure scalar, or a keyword — the
    guard the two pandas-GROUPED_AGG rewrites below share."""
    n = len(toks)
    for i in range(sel + 1, from_idx):
        t = toks[i]
        if t.kind != "WORD":
            continue
        j = next_code(toks, i + 1)
        if j >= n or not toks[j].is_sym("("):
            continue
        name = t.text.lower()
        if (
            t.text.upper() not in allowed
            and name not in _SAFE_SCALAR_CALLS
            and name not in _KW_BEFORE_PAREN
        ):
            return False
    return True


def _rewrite_spatial_sample(toks: list[Tok]) -> list[Tok]:
    """spatial_partitioning[_n](g[, n]) is a pandas GROUPED_AGG — Spark's
    Python aggregate path has NO partial merge, so a global call ships the
    whole geometry column to one task. The reference keeps a bounded
    reservoir per partial state (plugin/trino-geospatial
    SpatialPartitioningAggregateFunction.java). Rewrite the enclosing
    global-aggregate SELECT block so the aggregate consumes a
    deterministic bottom-k hash sample:

        SELECT spatial_partitioning_n(g, 8) FROM pts
     -> SELECT spatial_partitioning_n(__sp_w0, 8) FROM (
          SELECT * FROM (SELECT *, g AS __sp_w0 FROM pts) __sp_src0
          WHERE __sp_w0 IS NOT NULL
          ORDER BY xxhash64(CAST(__sp_w0 AS STRING)) LIMIT 10000
        ) __sp_sample0

    ORDER BY + LIMIT compiles to TakeOrderedAndProject: per-partition
    top-k then a bounded merge — only <= 10k geometries ever move, and a
    bottom-k-by-uniform-hash sample IS a uniform reservoir sample.
    Applies only to blocks with a FROM, no GROUP BY/HAVING, and no other
    aggregate in the select list; anything else keeps the direct form."""
    return _rewrite_each(toks, _spatial_sample_once)


def _rewrite_each(
    toks: list[Tok],
    once: Callable[[list[Tok], int], "tuple[list[Tok], bool] | None"],
) -> list[Tok]:
    """Drive a pass that rewrites one call per step: `once(toks, skip)`
    rewrites the first candidate after `skip` ones it left alone and
    returns (toks, left_alone), or None when no candidate remains.
    Statements hold at most a handful of such calls."""
    skip = 0
    for _ in range(16):
        res = once(toks, skip)
        if res is None:
            return toks
        toks, left_alone = res
        skip += left_alone
    return toks


def _spatial_sample_once(
    toks: list[Tok], skip: int
) -> "tuple[list[Tok], bool] | None":
    n = len(toks)
    seen = 0
    chosen = None
    for f in range(n):
        if not toks[f].is_word(*_SPATIAL_AGG_NAMES):
            continue
        op = next_code(toks, f + 1)
        if op >= n or not toks[op].is_sym("("):
            continue
        cl = match_paren(toks, op)
        arg_spans = split_args(toks, op, cl)
        if not arg_spans:
            continue
        first = render(toks[arg_spans[0][0] : arg_spans[0][1]]).strip()
        if first.startswith("__sp_w"):
            continue  # already sampled
        if seen < skip:
            seen += 1
            continue
        chosen = (f, op, cl, first)
        break
    if chosen is None:
        return None
    f, op, cl, first = chosen

    blk = structure(toks).block_of(f)
    if blk is None or blk.from_ < 0 or blk.group >= 0 or blk.having >= 0:
        return toks, True
    sel, from_idx, boundary = blk.select, blk.from_, blk.end
    # any call that is not ours / a known scalar -> leave the block
    if not _select_list_calls_ok(toks, sel, from_idx, set(_SPATIAL_AGG_NAMES)):
        return toks, True

    tag = render(toks).count("__sp_src")
    alias = f"__sp_w{tag}"
    from_text = render(toks[from_idx + 1 : boundary]).strip()

    # replace the first argument of every matching call in the select
    # list (last-to-first so spans stay valid)
    calls = []
    for i in range(sel + 1, from_idx):
        if toks[i].is_word(*_SPATIAL_AGG_NAMES):
            o = next_code(toks, i + 1)
            if o < n and toks[o].is_sym("("):
                c = match_paren(toks, o)
                spans = split_args(toks, o, c)
                if spans and render(toks[spans[0][0] : spans[0][1]]).strip() == first:
                    calls.append(spans[0])
    head = list(toks[: from_idx + 1])
    for s, e in sorted(calls, reverse=True):
        head[s:e] = [Tok("WORD", alias)]
    new_from = (
        f" (SELECT * FROM (SELECT *, {first} AS {alias} FROM {from_text})"
        f" __sp_src{tag} WHERE {alias} IS NOT NULL"
        f" ORDER BY xxhash64(CAST({alias} AS STRING))"
        f" LIMIT {_SPATIAL_SAMPLE_N}) __sp_sample{tag} "
    )
    return head + tokenize(new_from) + list(toks[boundary:]), False


def _rewrite_spatial_private(toks: list[Tok]) -> list[Tok]:
    """Rename spatial_partitioning[_n] calls to the dialect-private
    registrations (round 7): the PUBLIC session UDFs raise with a pointer
    here, because a raw `spark.sql` global call would ship the whole
    geometry column to one task (pandas GROUPED_AGG has no partial
    merge). Dialect callers keep full behavior — the global form was
    already bounded by _rewrite_spatial_sample above, and grouped forms
    are group-bounded by their keys."""
    out = []
    n = len(toks)
    for i, t in enumerate(toks):
        if t.is_word(*_SPATIAL_AGG_NAMES):
            j = next_code(toks, i + 1)
            if j < n and toks[j].is_sym("("):
                out.append(Tok("WORD", f"__{t.text.lower()}_sampled"))
                continue
        out.append(t)
    return out


def _sk_plain(merge_fn: str):
    """partial = the original call; merge = merge_fn(partial)."""

    def h(args, text, alias):
        return text, f"{merge_fn}({alias})"

    return h


_NUM_LIT = re.compile(r"^\d+$")


def _sk_amf(args, text, alias):
    # approx_most_frequent(buckets, value, capacity): partials keep
    # `capacity` entries (the accuracy knob), the merge sums counts and
    # trims to `buckets`. Literal-size args only — the merge runs in a
    # scope where source columns no longer resolve.
    if len(args) != 3 or not (_NUM_LIT.match(args[0]) and _NUM_LIT.match(args[2])):
        return None
    return (
        f"approx_most_frequent({args[2]}, {args[1]}, {args[2]})",
        f"merge_approx_most_frequent({args[0]}, {alias})",
    )


def _sk_nh(args, text, alias):
    if len(args) != 2 or not _NUM_LIT.match(args[0]):
        return None
    return text, f"merge_numeric_histogram({args[0]}, {alias})"


_SKETCH_AGGS = {
    "QDIGEST_AGG": _sk_plain("merge_qdigest"),
    "TDIGEST_AGG": _sk_plain("merge_tdigest"),
    "MAKE_SET_DIGEST": _sk_plain("merge_set_digest"),
    "THETA_SKETCH_AGG": _sk_plain("theta_sketch_union"),
    "APPROX_MOST_FREQUENT": _sk_amf,
    "NUMERIC_HISTOGRAM": _sk_nh,
}


def _rewrite_sketch_twophase(toks: list[Tok]) -> list[Tok]:
    """Two-phase the GROUPED_AGG sketch SQL surface (functions/sqlagg.py).

    A pandas GROUPED_AGG buffers its whole group in one pandas Series —
    the reference's accumulators merge partials instead
    (TDigestAggregationFunction#combine etc.). Every sketch family here
    is exactly mergeable (qdigest buckets sum, KMV bottom-k of a union
    of bottom-k sets is the bottom-k of the union, theta union), so
    rewrite

        SELECT k, qdigest_agg(v) FROM t GROUP BY k
     -> SELECT __sk_g0 AS ..., merge_qdigest(__sk_p0) FROM (
          SELECT k AS __sk_g0, qdigest_agg(v) AS __sk_p0
          FROM (SELECT *, spark_partition_id() AS __sk_salt FROM t) __sk_src
          GROUP BY k, __sk_salt
        ) __sk_part GROUP BY __sk_g0

    Each inner group is bounded by a scan-partition's share of the key,
    so no whole-group buffer ever forms; the merge phase consumes one
    small sketch per (key, partition). Blocks with HAVING, DISTINCT,
    grouping sets, ordinal group keys, window OVER uses, or other
    aggregates keep the direct form (pandas GROUPED_AGG cannot mix with
    plain aggregates in one SELECT anyway)."""
    return _rewrite_each(toks, _sketch_twophase_once)


def _sketch_twophase_once(
    toks: list[Tok], skip: int
) -> "tuple[list[Tok], bool] | None":
    n = len(toks)
    st = None
    seen = 0
    for f in range(n):
        if not toks[f].is_word(*_SKETCH_AGGS):
            continue
        op = next_code(toks, f + 1)
        if op >= n or not toks[op].is_sym("("):
            continue
        st = st or structure(toks)
        blk = st.block_of(f)
        if blk is not None and blk.group >= 0 and "__sk_salt" in render(
            toks[blk.group : blk.end]
        ):
            continue  # the inner partial of an already-done rewrite
        if seen < skip:
            seen += 1
            continue
        break
    else:
        return None
    if blk is None or blk.from_ < 0 or blk.distinct or blk.having >= 0:
        return toks, True
    sel, from_idx, group_idx, boundary = blk.select, blk.from_, blk.group, blk.end

    # any call that is not a sketch agg / known scalar -> leave the block
    if not _select_list_calls_ok(toks, sel, from_idx, set(_SKETCH_AGGS)):
        return toks, True

    # group keys
    gkeys: list[str] = []
    if group_idx >= 0:
        by = next_code(toks, group_idx + 1)
        if by >= n or not toks[by].is_word("BY"):
            return toks, True
        if any(t.is_word("ROLLUP", "CUBE", "GROUPING") for t in toks[by + 1 : boundary]):
            return toks, True
        gkeys = [render(toks[a:b]).strip() for a, b in split_args(toks, by, boundary)]
        gkeys = [g for g in gkeys if g]
        if any(re.fullmatch(r"\d+", g) for g in gkeys):
            return toks, True  # ordinal keys

    # sketch calls anywhere in the select list
    calls: list[tuple[int, int, int]] = []  # (name_idx, open_idx, close_idx)
    for i in range(sel + 1, from_idx):
        if toks[i].is_word(*_SKETCH_AGGS):
            o = next_code(toks, i + 1)
            if o < n and toks[o].is_sym("("):
                c = match_paren(toks, o)
                after = next_code(toks, c + 1)
                if after < n and toks[after].is_word("OVER"):
                    return toks, True
                calls.append((i, o, c))
    if not calls:
        return toks, True

    tag = render(toks).count("__sk_src")
    # call text -> (alias, partial expr, merge expr)
    partials: dict[str, tuple[str, str, str]] = {}
    for i, o, c in calls:
        text = render(toks[i : c + 1]).strip()
        if text in partials:
            continue
        args = [
            render(toks[s:e]).strip() for s, e in split_args(toks, o, c)
        ]
        alias = f"__sk_p{tag}_{len(partials)}"
        handled = _SKETCH_AGGS[toks[i].text.upper()](args, text, alias)
        if handled is None:
            return toks, True
        partials[text] = (alias, handled[0], handled[1])

    def _bound_sub(text: str, old: str, new: str) -> str:
        # identifier-boundary-guarded replacement so a group key `k`
        # never rewrites the `k` inside `__sk_p0_0` or `kind`
        pat = r"(?<![A-Za-z0-9_])" + re.escape(old) + r"(?![A-Za-z0-9_])"
        return re.sub(pat, new, text)

    sel_list = render(toks[sel + 1 : from_idx])
    # longest-first so make_set_digest(a) does not clobber
    # make_set_digest(a_long)'s text
    for text, (alias, _pe, merge_expr) in sorted(
        partials.items(), key=lambda kv: -len(kv[0])
    ):
        sel_list = sel_list.replace(text, merge_expr)
    # a bare-identifier key keeps its own name through the inner query
    # (renaming it would change the block's output schema); only key
    # EXPRESSIONS need a synthetic alias
    galias = {
        g: (g if _SIMPLE_IDENT.match(g) else f"__sk_g{tag}_{j}")
        for j, g in enumerate(gkeys)
    }
    for g in sorted(gkeys, key=len, reverse=True):
        if galias[g] != g:
            sel_list = _bound_sub(sel_list, g, galias[g])

    # the block's own ORDER BY / LIMIT tail may reference group keys the
    # outer query no longer exposes under their original spelling (a
    # set-operation sibling is a different scope, outside the tail)
    block_end = blk.tail_end
    tail = render(toks[boundary:block_end])
    for g in sorted(gkeys, key=len, reverse=True):
        if galias[g] != g:
            tail = _bound_sub(tail, g, galias[g])

    from_end = group_idx if group_idx >= 0 else boundary
    from_text = render(toks[from_idx + 1 : from_end]).strip()
    inner_list = ", ".join(
        [f"{g} AS {a}" for g, a in galias.items()]
        + [f"{pe} AS {alias}" for _t, (alias, pe, _me) in partials.items()]
    )
    inner_group = ", ".join(gkeys + ["__sk_salt"])
    inner = (
        f"SELECT {inner_list} FROM (SELECT *, spark_partition_id() AS"
        f" __sk_salt FROM {from_text}) __sk_src{tag} GROUP BY {inner_group}"
    )
    outer_group = (
        f" GROUP BY {', '.join(galias[g] for g in gkeys)}" if gkeys else ""
    )
    block = (
        f"SELECT {sel_list.strip()} FROM ({inner}) __sk_part{tag}"
        f"{outer_group} {tail} "
    )
    return list(toks[:sel]) + tokenize(block) + list(toks[block_end:]), False


_GROUPS_FRAME_RX = re.compile(
    r"\bGROUPS\s+BETWEEN\s+(UNBOUNDED\s+PRECEDING|CURRENT\s+ROW|\d+\s+PRECEDING|\d+\s+FOLLOWING)"
    r"\s+AND\s+(UNBOUNDED\s+FOLLOWING|CURRENT\s+ROW|\d+\s+PRECEDING|\d+\s+FOLLOWING)",
    re.IGNORECASE,
)


def _rewrite_groups_frame(toks: list[Tok]) -> list[Tok]:
    """GROUPS window frames (SQL:2011; Trino WindowFrame.Type.GROUPS) —
    Spark has no GROUPS mode, but a GROUPS frame over ORDER BY k is
    exactly a RANGE frame over dense_rank() ORDER BY k:

        agg(e) OVER (PARTITION BY p ORDER BY k
                     GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
     -> agg(e) OVER (PARTITION BY p ORDER BY __gr0
                     RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)
        FROM (SELECT *, dense_rank() OVER (PARTITION BY p ORDER BY k)
              AS __gr0 FROM <from>) __gr_src0

    Same enclosing-block machinery as the spatial/sketch passes; blocks
    with GROUP BY keep the direct form (the wrap would change the rows
    the rank sees)."""
    return _rewrite_each(toks, _groups_frame_once)


def _groups_frame_once(
    toks: list[Tok], skip: int
) -> "tuple[list[Tok], bool] | None":
    n = len(toks)
    seen = 0
    # find an OVER ( ... GROUPS BETWEEN ... ) spec
    for f in range(n):
        if not toks[f].is_word("OVER"):
            continue
        op = next_code(toks, f + 1)
        if op >= n or not toks[op].is_sym("("):
            continue
        cl = match_paren(toks, op)
        spec = render(toks[op + 1 : cl])
        fm = _GROUPS_FRAME_RX.search(spec)
        if not fm:
            continue
        if seen < skip:
            seen += 1
            continue
        pm = re.search(
            r"\bPARTITION\s+BY\s+(.*?)(?=\bORDER\s+BY\b|\bGROUPS\b|$)",
            spec,
            re.IGNORECASE | re.DOTALL,
        )
        om = re.search(
            r"\bORDER\s+BY\s+(.*?)(?=\bGROUPS\b|$)", spec, re.IGNORECASE | re.DOTALL
        )
        if not om:
            return toks, True  # GROUPS without ORDER BY: invalid, leave to Spark
        part_txt = pm.group(1).strip() if pm else ""
        order_txt = om.group(1).strip().rstrip(",")
        if re.search(r"\bDESC\b", order_txt, re.IGNORECASE):
            return toks, True  # rank direction flip not supported — leave as-is

        blk = structure(toks).block_of(f)
        if blk is None or blk.group >= 0 or blk.having >= 0:
            return toks, True  # aggregated block: wrap would be wrong
        from_idx, boundary = blk.from_, blk.end
        if from_idx < 0 or not (blk.select < f < from_idx):
            return toks, True  # the GROUPS window must sit in this select list

        tag = render(toks).count("__gr_src")
        rk = f"__gr{tag}"
        part_clause = f"PARTITION BY {part_txt} " if part_txt else ""
        new_spec = (
            spec[: fm.start()]
            .replace(om.group(0), f"ORDER BY {rk} ")
            + f"RANGE BETWEEN {fm.group(1)} AND {fm.group(2)}"
            + spec[fm.end():]
        )
        from_text = render(toks[from_idx + 1 : boundary]).strip()
        new_from = (
            f" (SELECT *, dense_rank() OVER ({part_clause}ORDER BY"
            f" {order_txt}) AS {rk} FROM {from_text}) __gr_src{tag} "
        )
        return (
            list(toks[:op])
            + tokenize(f"({new_spec})")
            + list(toks[cl + 1 : from_idx + 1])
            + tokenize(new_from)
            + list(toks[boundary:])
        ), False
    return None


def _called_names(toks: list[Tok]) -> set[str]:
    """Every word followed by `(`: the functions (and PTFs) a statement
    calls, plus harmless keywords such as IN or VALUES."""
    names, prev = set(), None
    for t in toks:
        if t.kind == "WS":
            continue
        if prev is not None and prev.kind == "WORD" and t.is_sym("("):
            names.add(prev.text)
        prev = t
    return names


def translate(sql: str) -> str:
    """Trino-dialect SQL → Spark-SQL text. Registers the bundle functions
    the output calls on the current session (functions/registry.py)."""
    # Standalone VALUES statement (grammar SqlBase.g4 query -> VALUES):
    # Spark only accepts VALUES as a FROM-clause relation.
    if re.match(r"\s*VALUES\b", sql, re.IGNORECASE):
        sql = "SELECT * FROM " + sql.strip()
    # the niladics first: a quoted identifier that spells one
    # ("current_schema") is a name, and _rewrite_qident unquotes it
    toks = _rewrite_niladic(tokenize(sql))
    toks = _rewrite_qident(toks)
    toks = _rewrite_spatial_sample(toks)
    toks = _rewrite_spatial_private(toks)
    toks = _rewrite_sketch_twophase(toks)
    toks = _rewrite_groups_frame(toks)
    toks = _rewrite_unicode_literal(toks)
    toks = _rewrite_array_literal(toks)
    toks = _rewrite_decimal_literal(toks)
    toks = _rewrite_timetz(toks)
    toks = _rewrite_typed_literal(toks)
    toks = _rewrite_row(toks)
    toks = _rewrite_quantified(toks)
    toks, ties = _rewrite_fetch(toks)
    toks = _rewrite_offset_limit(toks)
    toks = _rewrite_functions(toks)
    toks = _rewrite_table_ptf(toks)
    toks = _rewrite_at_time_zone(toks)
    toks = _rewrite_tablesample(toks)
    toks = _rewrite_unnest(toks)
    toks = _rewrite_cast_char(toks)
    toks = _rewrite_types(toks)
    result = render(toks)
    if ties:
        result = _rewrite_ties(result)
    # passes splice rendered fragments in as single tokens, so the calls
    # are read off the final text
    register_functions(_called_names(tokenize(result)))
    return result
