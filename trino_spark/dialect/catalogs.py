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

import os
import re

from pyspark.sql import DataFrame

from trino_spark.dialect.dml import rows_result
from trino_spark.dialect.tokenizer import head, tokenize

_CREATE_RX = re.compile(
    r"CREATE\s+CATALOG\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>\"[^\"]+\"|\w+)\s+"
    r"USING\s+(?P<conn>\w+)"
    r"(?:\s+COMMENT\s+'(?P<comment>[^']*)')?"
    r"(?:\s+WITH\s*\((?P<props>.*)\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_RX = re.compile(
    r"DROP\s+CATALOG\s+(?P<ie>IF\s+EXISTS\s+)?(?P<name>\"[^\"]+\"|\w+)"
    r"(?:\s+(?:CASCADE|RESTRICT))?\s*$",
    re.IGNORECASE,
)

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


def _parse_props(txt: str | None) -> dict[str, str]:
    """``k = 'v', k2 = 'v2'`` catalog properties (reference: the
    catalog-properties map of CreateCatalogTask)."""
    props: dict[str, str] = {}
    for m in re.finditer(r"([\w.]+)\s*=\s*(?:'([^']*)'|(\w+))", txt or ""):
        props[m.group(1).lower()] = m.group(2) if m.group(2) is not None else m.group(3)
    return props


def create_catalog(engine, stripped: str) -> DataFrame:
    m = _CREATE_RX.match(stripped)
    if not m:
        raise ValueError(f"cannot parse CREATE CATALOG: {stripped}")
    _require_owner(engine, "CREATE CATALOG")
    name = m.group("name").strip('"').lower()
    conn = m.group("conn").lower()
    mounts = engine.catalogs
    if name in mounts or name == "spark":
        if m.group("ine"):
            return _row(engine, name)
        raise ValueError(f"catalog already exists: {name}")
    if conn not in _CONNECTORS:
        raise ValueError(
            f"unknown connector: {conn} (supported: {', '.join(_CONNECTORS)})"
        )
    props = _parse_props(m.group("props"))
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
        "comment": m.group("comment") or "",
        "views": set(),
    }
    return _row(engine, name)


def drop_catalog(engine, stripped: str) -> DataFrame:
    m = _DROP_RX.match(stripped)
    if not m:
        raise ValueError(f"cannot parse DROP CATALOG: {stripped}")
    _require_owner(engine, "DROP CATALOG")
    name = m.group("name").strip('"').lower()
    mounts = engine.catalogs
    if name not in mounts:
        if m.group("ie"):
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
    if conn in ("parquet", "hive", "csv", "json", "orc", "text"):
        fmt = "parquet" if conn == "hive" else conn
        ext = {"parquet": ".parquet", "csv": ".csv", "json": ".json",
               "orc": ".orc", "text": ".txt"}[fmt]
        loc = mount["properties"]["location"]
        path = os.path.join(loc, schema, table)
        if not os.path.exists(path):
            path = os.path.join(loc, table)
        if not os.path.exists(path):
            path += ext
        if not os.path.exists(path):
            raise ValueError(f"table not found: {cat}.{schema}.{table}")
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
        reader.format(fmt).load(path).createOrReplaceTempView(view)
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
        # written (CTAS/INSERT via try_execute_dml registers the view).
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


_DML_TARGET_RX = re.compile(
    r"(?:INSERT\s+INTO|CREATE\s+TABLE(?:\s+IF\s+NOT\s+EXISTS)?|DROP\s+TABLE(?:\s+IF\s+EXISTS)?|DELETE\s+FROM|TRUNCATE\s+TABLE)\s+"
    r"([A-Za-z_]\w*)\.([A-Za-z_]\w*)\.([A-Za-z_]\w*)",
    re.IGNORECASE,
)


def try_execute_dml(engine, stripped: str) -> DataFrame | None:
    """DML whose target is a mounted memory/blackhole table (reference:
    the connector page-sink path — MemoryPageSinkProvider stores pages,
    BlackHolePageSink discards them and keeps only counts). Returns None
    for targets that are not catalog-qualified mounts, letting the
    engine-managed DML layer handle them."""
    m = _DML_TARGET_RX.match(stripped)
    if not m:
        return None
    cat, schema, table = (g.lower() for g in m.groups())
    mount = engine.catalogs.get(cat)
    if mount is None:
        return None
    conn = mount["connector"]
    if conn in ("parquet", "hive", "csv", "json", "orc"):
        return _file_catalog_dml(engine, mount, stripped, m)
    if conn not in ("memory", "blackhole"):
        raise ValueError(f"catalog {cat} ({conn}) does not support writes")
    spark = engine.spark
    up0 = head(tokenize(m.group(0)))[0]
    tables = mount.setdefault("tables", {})
    view = f"__cat_{cat}_{schema}_{table}"
    if up0 == "DROP":
        if (schema, table) in tables:
            tables.pop((schema, table))
            spark.catalog.dropTempView(view)
        elif "IF EXISTS" not in stripped.upper():
            raise ValueError(f"table not found: {cat}.{schema}.{table}")
        return rows_result(spark, 0)
    if up0 in ("DELETE", "TRUNCATE"):
        # memory connector supports whole-table delete only (the
        # reference's MemoryMetadata has no row-level delete either).
        if re.search(r"\bWHERE\b", stripped, re.IGNORECASE):
            raise ValueError(f"connector {conn} supports only whole-table DELETE")
        if (schema, table) not in tables:
            raise ValueError(f"table not found: {cat}.{schema}.{table}")
        if conn == "memory":
            empty = _pages(spark, [], tables[(schema, table)])
            empty.createOrReplaceTempView(view)
        return rows_result(spark, 0)
    # INSERT INTO / CTAS: evaluate the source query through the engine so
    # dialect SQL, routines, and security rewrites all apply.
    rest = stripped[m.end():].lstrip()
    if up0 == "CREATE":
        rest = re.sub(r"^AS\s+", "", rest, flags=re.IGNORECASE)
        if (schema, table) in tables and "IF NOT EXISTS" not in stripped.upper():
            raise ValueError(f"table already exists: {cat}.{schema}.{table}")
    src = engine.sql(rest)
    if conn == "blackhole":
        n = src.count()  # swallow: count is the only thing retained
        tables[(schema, table)] = src.schema
        return rows_result(spark, n)
    if up0 == "INSERT" and (schema, table) in tables:
        # Positional alignment to the table layout (the reference's
        # INSERT column rule), like dml._insert does for managed tables.
        tgt = tables[(schema, table)]
        if len(src.columns) != len(tgt.fields):
            raise ValueError(
                f"INSERT arity mismatch: {len(src.columns)} values for {len(tgt.fields)} columns"
            )
        from pyspark.sql import functions as F

        src = src.toDF(*[f.name for f in tgt.fields]).select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in tgt.fields]
        )
    new_rows = src.collect()  # memory connector IS driver-resident, like
    # the reference's MemoryPagesStore (worker-memory tables) — small
    # dimension/staging data only, not a 100 TB path.
    if up0 == "INSERT" and (schema, table) in tables:
        all_rows = spark.table(view).collect() + new_rows
    else:
        all_rows = new_rows
    _pages(spark, all_rows, src.schema).createOrReplaceTempView(view)
    tables[(schema, table)] = src.schema
    mount["views"].add(view)
    return rows_result(spark, len(new_rows))


def _file_catalog_dml(engine, mount, stripped: str, m: re.Match) -> DataFrame:
    """Write path of the parquet/hive file catalogs (reference: the hive
    connector's HivePageSinkProvider — CTAS creates
    <location>/<schema>/<table>/, INSERT appends files, DROP removes the
    directory, TRUNCATE rewrites it empty). All writes are distributed
    Spark writes (no driver materialization — unlike the memory
    connector this IS a 100 TB path)."""
    import shutil

    spark = engine.spark
    cat, schema, table = (g.lower() for g in m.groups())
    conn = mount["connector"]
    fmt = "parquet" if conn == "hive" else conn
    loc = mount["properties"]["location"]
    pdir = os.path.join(loc, schema, table)
    view = f"__cat_{cat}_{schema}_{table}"
    up0 = head(tokenize(m.group(0)))[0]

    def _read(path):
        reader = spark.read
        if fmt == "csv":
            p = mount["properties"]
            reader = reader.options(
                header=p.get("header", "true"),
                sep=p.get("delimiter", ","),
                inferSchema=p.get("inferschema", "true"),
            )
        # TRUNCATE leaves csv/json directories with zero data rows —
        # schema inference would fail, so the truncate writes a sidecar
        # (underscore-prefixed: invisible to Spark's file listing) and
        # reads apply it explicitly.
        sidecar = os.path.join(path, "_ts_schema.json")
        if fmt in ("csv", "json") and os.path.isfile(sidecar):
            import json as _json

            from pyspark.sql.types import StructType

            with open(sidecar) as fh:
                reader = reader.schema(StructType.fromJson(_json.load(fh)))
            if fmt == "csv":
                reader = reader.option("inferSchema", "false")
        return reader.format(fmt).load(path)

    def _writer(df):
        w = df.write
        if fmt == "csv":
            w = w.option("header", mount["properties"].get("header", "true"))
        return w.format(fmt)

    def _invalidate() -> None:
        if view in mount["views"]:
            spark.catalog.dropTempView(view)
            mount["views"].discard(view)

    if up0 == "DROP":
        if os.path.isdir(pdir):
            shutil.rmtree(pdir)
        elif "IF EXISTS" not in stripped.upper():
            raise ValueError(f"table not found: {cat}.{schema}.{table}")
        _invalidate()
        return rows_result(spark, 0)
    if up0 in ("DELETE", "TRUNCATE"):
        if re.search(r"\bWHERE\b", stripped, re.IGNORECASE):
            raise ValueError(
                "file catalogs support whole-table DELETE only (row-level "
                "DML lives in the engine-managed snapshot tables)"
            )
        if not os.path.isdir(pdir):
            raise ValueError(f"table not found: {cat}.{schema}.{table}")
        # capture the schema, then write a source-independent empty frame
        # (overwriting a path the plan still reads from is undefined)
        tgt_schema = _read(pdir).schema
        empty = _pages(spark, [], tgt_schema)
        _writer(empty).mode("overwrite").save(pdir)
        if fmt in ("csv", "json"):
            # zero-row csv/json cannot be schema-inferred on re-read —
            # persist the captured schema for _read to apply
            import json as _json

            with open(os.path.join(pdir, "_ts_schema.json"), "w") as fh:
                _json.dump(tgt_schema.jsonValue(), fh)
        _invalidate()
        return rows_result(spark, 0)
    rest = stripped[m.end():].lstrip()
    if up0 == "CREATE":
        rest = re.sub(r"^AS\s+", "", rest, flags=re.IGNORECASE)
        if os.path.isdir(pdir):
            if "IF NOT EXISTS" in stripped.upper():
                return rows_result(spark, 0)
            raise ValueError(f"table already exists: {cat}.{schema}.{table}")
    elif not os.path.isdir(pdir):
        raise ValueError(f"table not found: {cat}.{schema}.{table}")
    # evaluate the source through the engine so dialect SQL, routines and
    # security rewrites all apply; count rides the write via Observation
    # (no second evaluation of the source plan)
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    src = engine.sql(rest)
    if up0 == "INSERT":
        tgt = _read(pdir).schema
        if len(src.columns) != len(tgt.fields):
            raise ValueError(
                f"INSERT arity mismatch: {len(src.columns)} values for "
                f"{len(tgt.fields)} columns"
            )
        src = src.toDF(*[f.name for f in tgt.fields]).select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in tgt.fields]
        )
    obs = Observation()
    src = src.observe(obs, F.count(F.lit(1)).alias("n"))
    _writer(src).mode("append" if up0 == "INSERT" else "overwrite").save(pdir)
    _invalidate()
    n = int(obs.get["n"])
    return rows_result(spark, n)


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
