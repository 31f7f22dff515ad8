"""Dynamic catalogs: CREATE CATALOG / DROP CATALOG and
``catalog.schema.table`` name resolution.

Reference surface: grammar ``SqlBase.g4`` #createCatalog/#dropCatalog
(CREATE CATALOG <name> USING <connector> [COMMENT ...] [WITH (...)]),
executed by ``io.trino.execution.CreateCatalogTask`` through
``io.trino.connector.CatalogFactory`` — catalogs are mounted at runtime
and every query may address any mounted catalog with a fully-qualified
``catalog.schema.table`` name. Connectors mirrored here:

- ``parquet`` / ``hive``: parquet-on-filesystem at ``location``
  (plugin/trino-hive HiveMetadata's external-location tables).
- ``jdbc``: a REAL Spark DSv2 JDBC catalog (JDBCTableCatalog) — Spark
  itself resolves the 3-part name and pushes filters/aggregates/limits
  into the remote scan (plugin/trino-base-jdbc JdbcClient semantics).
- ``tpch`` / ``tpcds``: the generator connectors (plugin/trino-tpch
  TpchMetadata schema=sfN surface; sources/tpchgen.py, tpcdsgen.py).

Spark-first shape: a mounted catalog is a NAME-RESOLUTION rule, not a
data copy. Non-jdbc mounts resolve lazily — the first reference to
``cat.schema.tbl`` registers a temp view over ``spark.read.parquet`` /
a generator DataFrame, so mount time is O(1) and unreferenced tables
cost nothing. At 100 TB the parquet mount is a metadata pointer; scans
keep full pushdown/pruning because they ARE plain parquet scans.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import StructType

from trino_spark.dialect.dml import align_insert, query_of, rows_result
from trino_spark.dialect.tokenizer import next_code
from trino_spark.dialect.writes import named, properties, unquote

_CONNECTORS = (
    "parquet",
    "hive",
    "jdbc",
    "tpch",
    "tpcds",
    "memory",
    "blackhole",
    "faker",
    # file-format connectors (reference: the hive connector's
    # HiveStorageFormat.java CSV/JSON/ORC/TEXTFILE variants — one
    # location-rooted catalog per format, read-side)
    "csv",
    "json",
    "orc",
    "text",
)
_FILE_CONNECTORS = ("parquet", "hive", "csv", "json", "orc", "text")


def create_catalog(engine, stripped: str) -> DataFrame:
    # CREATE CATALOG [IF NOT EXISTS] name USING connector [COMMENT '...'] [WITH (...)]
    name, if_exists, rest = named(stripped, "CATALOG")
    code = [t for t in rest if t.kind != "WS"]
    if len(code) < 2 or not code[0].is_word("USING"):
        raise ValueError(f"cannot parse CREATE CATALOG: {stripped}")
    _require_owner(engine, "CREATE CATALOG")
    conn = code[1].text.lower()
    mounts = engine.catalogs
    if name in mounts or name == "spark":
        if if_exists:
            return _row(engine, name)
        raise ValueError(f"catalog already exists: {name}")
    if conn not in _CONNECTORS:
        raise ValueError(
            f"unknown connector: {conn} (supported: {', '.join(_CONNECTORS)})"
        )
    k = next((i for i, t in enumerate(rest) if t.is_word("WITH")), None)
    props = {} if k is None else properties(rest, next_code(rest, k + 1))
    if conn in _FILE_CONNECTORS:
        loc = props.get("location")
        if not loc or not os.path.isdir(loc):
            raise ValueError(f"connector {conn} needs location = '<existing dir>'")
    if conn == "jdbc":
        url = props.get("url")
        if not url:
            raise ValueError("connector jdbc needs url = '<jdbc url>'")
        opts = {k: v for k, v in props.items() if k != "url"}
        engine.catalog.register_jdbc_catalog(name, url, **opts)
    mounts[name] = {
        "connector": conn,
        "properties": props,
        "comment": unquote(code[3]) if len(code) > 3 and code[2].is_word("COMMENT") else "",
        "views": set(),
    }
    return _row(engine, name)


def drop_catalog(engine, stripped: str) -> DataFrame:
    name, if_exists, _ = named(stripped, "CATALOG")  # CASCADE | RESTRICT alike
    _require_owner(engine, "DROP CATALOG")
    mounts = engine.catalogs
    if name not in mounts:
        if if_exists:
            return _row(engine, name)
        raise ValueError(f"catalog not found: {name}")
    mount = mounts.pop(name)
    for view in mount["views"]:
        engine.spark.catalog.dropTempView(view)
    if mount["connector"] == "jdbc":
        conf = engine.spark.conf
        for key in (
            f"spark.sql.catalog.{name}",
            f"spark.sql.catalog.{name}.url",
            f"spark.sql.catalog.{name}.pushDownAggregate",
            f"spark.sql.catalog.{name}.pushDownLimit",
        ):
            try:
                conf.unset(key)
            except Exception:
                pass
    return _row(engine, name)


def _require_owner(engine, what: str) -> None:
    """Catalog mounts are system-level (reference: checkCanCreateCatalog
    of SystemAccessControl — admin-only by default): deny under any
    active restricted role."""
    if engine._acl["current"] is not None:
        raise PermissionError(f"Access Denied: {what} requires an owner session")


def _row(engine, name: str) -> DataFrame:
    return rows_result(engine.spark, [(name,)], "catalog: string")


def _pages(spark, rows, schema) -> DataFrame:
    """A connector table's data: a memory table's rows, or the zero rows of
    a blackhole table or an emptied file table. Table data of any column
    type (nested, intervals), not a result, so built from Spark rows
    rather than by rows_result."""
    return spark.createDataFrame(rows, schema)


def view_for(engine, cat: str, schema: str, table: str) -> str | None:
    """The view a read of ``cat.schema.table`` resolves to (lower-case
    parts), registered on first use; None for a name of no mount or of a
    jdbc mount (a real Spark catalog: Spark resolves it natively, keeping
    remote pushdown)."""
    mount = engine.catalogs.get(cat)
    if mount is None or mount["connector"] == "jdbc":
        return None
    spark = engine.spark
    view = f"__cat_{cat}_{schema}_{table}"
    if view in mount["views"]:
        return view
    conn = mount["connector"]
    if conn in _FILE_CONNECTORS:
        ext = {"parquet": ".parquet", "hive": ".parquet", "csv": ".csv", "json": ".json",
               "orc": ".orc", "text": ".txt"}[conn]
        loc = mount["properties"]["location"]
        path = os.path.join(loc, schema, table)
        if not os.path.exists(path):
            path = os.path.join(loc, table)
        if not os.path.exists(path):
            path += ext
        if not os.path.exists(path):
            raise ValueError(f"table not found: {cat}.{schema}.{table}")
        _read_files(spark, mount, path).createOrReplaceTempView(view)
    elif conn == "tpch":
        from trino_spark.sources import tpchgen

        sf = _schema_sf(schema)
        tpchgen.gen_table(spark, table, sf).createOrReplaceTempView(view)
    elif conn == "tpcds":
        from trino_spark.sources import tpcdsgen

        tpcdsgen.register_tpcds(spark)
        if table not in tpcdsgen.TABLES:
            raise ValueError(f"table not found: {cat}.{schema}.{table}")
        return f"{tpcdsgen.PREFIX}{table}"
    elif conn == "memory":
        # plugin/trino-memory MemoryPagesStore.java: tables exist only if
        # written (CTAS/INSERT via write registers the view).
        if (schema, table) not in mount.setdefault("tables", {}):
            raise ValueError(f"table not found: {cat}.{schema}.{table}")
        return view
    elif conn == "blackhole":
        # plugin/trino-blackhole: reads return ZERO rows of the schema the
        # table last swallowed (BlackHolePageSourceProvider empty pages).
        tables = mount.setdefault("tables", {})
        if (schema, table) not in tables:
            raise ValueError(f"table not found: {cat}.{schema}.{table}")
        _pages(spark, [], tables[(schema, table)]).createOrReplaceTempView(view)
    elif conn == "faker":
        # plugin/trino-faker FakerMetadata: deterministic synthetic rows.
        # Catalog properties fix the row schema/count; the table name
        # perturbs the seed so distinct tables get distinct (stable) data.
        from trino_spark.sources import faker

        cols = mount["properties"].get("schema", "id bigint, name string, price double")
        n = int(mount["properties"].get("rows", "100"))
        seed = int(mount["properties"].get("seed", "0"))
        import zlib

        seed = seed ^ (zlib.crc32(table.encode()) & 0xFFFF)
        faker.gen(spark, cols, n, seed=seed).createOrReplaceTempView(view)
    mount["views"].add(view)
    return view


def _read_files(spark, mount, path: str):
    """A file mount's table at `path` (reference: HiveStorageFormat's
    readers; the catalog's csv options override the defaults)."""
    conn = mount["connector"]
    fmt = "parquet" if conn == "hive" else conn
    reader = spark.read
    if fmt == "csv":
        # HiveStorageFormat CSV defaults; catalog properties override
        # (header / delimiter / inferschema as 'true'/'false' strings)
        p = mount["properties"]
        reader = reader.options(
            header=p.get("header", "true"),
            sep=p.get("delimiter", ","),
            inferSchema=p.get("inferschema", "true"),
        )
    # an emptied csv/json table has no row to infer a schema from: its
    # sidecar (underscore-prefixed, so Spark's listing skips it) holds it
    sidecar = os.path.join(path, _SIDECAR)
    if fmt in ("csv", "json") and os.path.isfile(sidecar):
        with open(sidecar) as fh:
            reader = reader.schema(StructType.fromJson(json.load(fh)))
        if fmt == "csv":
            reader = reader.option("inferSchema", "false")
    return reader.format(fmt).load(path)


_SIDECAR = "_ts_schema.json"
# the connectors whose tables take writes: the page stores, and the file
# formats with a general page-sink mapping (text has a single column)
_WRITABLE = ("memory", "blackhole", "parquet", "hive", "csv", "json", "orc")


def write(engine, w) -> DataFrame:
    """A write (dialect/writes.py) to a table of a mounted catalog: the
    connector page-sink path. memory keeps the pages on the driver
    (MemoryPageSinkProvider), blackhole only the table's schema
    (BlackHolePageSink); a file catalog writes <location>/<schema>/<table>/
    with distributed Spark writes (HivePageSinkProvider: CTAS creates it,
    INSERT appends, DELETE/TRUNCATE empty it, DROP removes it), a 100 TB
    path. Row-level DML lives in the managed tables; a form a sink lacks
    is refused by name."""
    cat, schema, table = w.target
    mount = engine.catalogs[cat]
    conn = mount["connector"]
    if conn not in _WRITABLE:
        raise ValueError(f"catalog {cat} ({conn}) does not support writes")
    files = conn not in ("memory", "blackhole")
    fmt = ("parquet" if conn == "hive" else conn) if files else None
    form = (
        w.kind if w.kind in ("UPDATE", "MERGE")
        else "DELETE ... WHERE (whole-table DELETE only)" if w.kind == "DELETE" and w.where
        else "CREATE TABLE without AS" if w.kind == "CREATE" and w.query is None
        else next((f"table property {k}" for k, v in w.props.items()
                   if k != "format" or (files and str(v).lower() != fmt)), None)
    )
    if form:
        raise ValueError(f"connector {conn} does not support {form}")
    spark = engine.spark
    tables = mount.setdefault("tables", {})
    path = os.path.join(mount["properties"]["location"], schema, table) if files else ""
    exists = os.path.isdir(path) if files else (schema, table) in tables
    view = f"__cat_{cat}_{schema}_{table}"
    if w.kind == "CREATE" and exists:
        if w.if_exists:
            return rows_result(spark, 0)
        raise ValueError(f"table already exists: {cat}.{schema}.{table}")
    # memory and blackhole INSERT into a table they do not hold yet
    if not exists and w.kind != "CREATE" and (files or w.kind != "INSERT"):
        if w.kind == "DROP" and w.if_exists:
            return rows_result(spark, 0)
        raise ValueError(f"table not found: {cat}.{schema}.{table}")
    if w.kind == "DROP":
        if files:
            shutil.rmtree(path)
        else:
            del tables[(schema, table)]
        spark.catalog.dropTempView(view)
        mount["views"].discard(view)
        return rows_result(spark, 0)
    emptied = w.kind in ("DELETE", "TRUNCATE")
    held = None  # the schema of the table a DELETE, TRUNCATE or INSERT writes
    if exists and w.kind != "CREATE":
        held = _read_files(spark, mount, path).schema if files else tables[(schema, table)]
    # the source query runs through the engine, so dialect SQL, routines
    # and security rewrites all apply
    new = _pages(spark, [], held) if emptied else query_of(engine, w)
    if w.kind == "INSERT" and held is not None:
        new = align_insert(engine, new, held, w.columns, {})
    if conn == "blackhole":
        tables[(schema, table)] = new.schema
        return rows_result(spark, 0 if emptied else new.count())  # the count is all it keeps
    if conn == "memory":
        # the memory connector IS driver-resident, like the reference's
        # MemoryPagesStore (worker-memory tables) — small dimension/staging
        # data only, not a 100 TB path
        rows = [] if emptied else new.collect()
        old = spark.table(view).collect() if w.kind == "INSERT" and exists else []
        _pages(spark, old + rows, new.schema).createOrReplaceTempView(view)
        tables[(schema, table)] = new.schema
        mount["views"].add(view)
        return rows_result(spark, len(rows))
    # the written-row count rides the write (no second evaluation)
    obs = Observation()
    writer = new.observe(obs, F.count(F.lit(1)).alias("n")).write
    if fmt == "csv":
        writer = writer.option("header", mount["properties"].get("header", "true"))
    writer.format(fmt).mode("append" if w.kind == "INSERT" else "overwrite").save(path)
    if fmt in ("csv", "json") and emptied:
        # zero-row csv/json cannot be schema-inferred on re-read
        with open(os.path.join(path, _SIDECAR), "w") as fh:
            json.dump(new.schema.jsonValue(), fh)
    # the table's next read lists what the write left
    spark.catalog.dropTempView(view)
    mount["views"].discard(view)
    return rows_result(spark, int(obs.get["n"]))


def _schema_sf(schema: str) -> float:
    """``tiny``/``sfN`` schema names of the tpch generator connector
    (plugin/trino-tpch TpchMetadata schema list; ``sf0_01`` spells a
    fractional scale, '.' being illegal in identifiers)."""
    if schema == "tiny":
        return 0.01
    if schema.startswith("sf"):
        try:
            return float(schema[2:].replace("_", "."))
        except ValueError:
            pass
    raise ValueError(f"tpch connector schema must be tiny or sfN, got: {schema}")
