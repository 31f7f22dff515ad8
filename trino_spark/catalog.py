"""Catalog / federation registry.

Trino's engine owns no storage: every table resolves through a connector's
ConnectorMetadata (reference: core/trino-spi/.../connector/ConnectorMetadata.java,
CatalogSchemaTableName.java). This module is our equivalent: a registry that
maps table names to DataFrame sources (parquet dirs today; jdbc/csv/json/orc
behind the same interface), registering each as a Spark temp view so both the
DataFrame API and `spark.sql` resolve them.

Spark-first: reading stays in `spark.read.*` (DataSource V2 — vectorized
parquet reader, predicate pushdown, partition pruning). We never materialize
or cache eagerly; registration is lazy plan construction only. A parquet
table's schema comes from its footer, read on the driver (`read_parquet`),
the way Trino's coordinator answers schema questions from connector
metadata: registering a table schedules no Spark job.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# The ten driver-generated tables (TESTDATA.md / FIXTURES.md).
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)
EXTENSION_TABLES = ("events", "documents", "embeddings")
ALL_TABLES = TPCH_TABLES + EXTENSION_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@dataclass(kw_only=True)
class Described:
    """What a table's record says about it beyond its Spark schema, as the
    reference's connector metadata holds it (ConnectorTableMetadata's
    comment, each ColumnMetadata's default and comment). Readers get the
    whole column record from infoschema.columns."""

    comment: str | None = None
    defaults: dict[str, str] = field(default_factory=dict)  # column -> SQL
    comments: dict[str, str] = field(default_factory=dict)  # column -> text


@dataclass
class TableSource(Described):
    """One registered table: format + location + reader options."""

    name: str
    path: str
    format: str = "parquet"
    options: dict[str, str] = field(default_factory=dict)

    def load(self, spark: SparkSession) -> DataFrame:
        if self.format == "parquet" and not self.options:
            # Shared path normalizes ns-timestamp columns (events.ts).
            sf_dir, fname = os.path.split(self.path)
            if fname == f"{self.name}.parquet":
                return load(spark, sf_dir, self.name)
        reader = spark.read.format(self.format).options(**self.options)
        return reader.load(self.path)


class Catalog:
    """Maps table names -> sources; registers them as temp views.

    Equivalent in role to a Trino catalog backed by the hive/iceberg
    connector over a filesystem (reference:
    plugin/trino-hive/.../HivePageSourceProvider.java:85) minus the
    metastore: parquet footers are the schema source of truth.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._sources: dict[str, TableSource] = {}

    def register_parquet_dir(self, sf_dir: str, tables: tuple[str, ...] = ALL_TABLES) -> None:
        for name in tables:
            self.register(TableSource(name=name, path=os.path.join(sf_dir, f"{name}.parquet")))

    def register(self, source: TableSource) -> None:
        self._sources[source.name] = source
        source.load(self.spark).createOrReplaceTempView(source.name)

    def register_jdbc(self, name: str, url: str, dbtable: str, **options: str) -> None:
        """Federated JDBC source (Trino: plugin/trino-base-jdbc/.../JdbcClient.java:56).

        Spark's JDBC DSv2 pushes filters/limits/aggregates to the remote DB,
        matching Trino's connector pushdown behavior.
        """
        opts = {"url": url, "dbtable": dbtable, **options}
        self.register(TableSource(name=name, path="", format="jdbc", options=opts))

    def register_jdbc_catalog(self, catalog_name: str, url: str, **options: str) -> None:
        """Mount a whole remote database as a Spark DSv2 JDBC catalog with
        aggregate/limit pushdown enabled — the full-connector analog of
        register_jdbc's single table.

        Trino pushes entire aggregations into JDBC connectors
        (main/.../PushAggregationIntoTableScan.java:65 +
        plugin/trino-base-jdbc AggregateFunctionRewriter); Spark's
        equivalent lives only in the DataSource-V2 JDBC catalog
        (JDBCTableCatalog), not the V1 reader — so catalog-mounting is
        what turns `SELECT k, count(*) ... GROUP BY k` into a remote
        `PushedAggregates: [COUNT(*), ...]` scan. Tables resolve as
        `<catalog_name>.<schema>.<table>`."""
        conf = self.spark.conf
        conf.set(
            f"spark.sql.catalog.{catalog_name}",
            "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog",
        )
        conf.set(f"spark.sql.catalog.{catalog_name}.url", url)
        conf.set(f"spark.sql.catalog.{catalog_name}.pushDownAggregate", "true")
        conf.set(f"spark.sql.catalog.{catalog_name}.pushDownLimit", "true")
        for k, v in options.items():
            conf.set(f"spark.sql.catalog.{catalog_name}.{k}", v)

    def table(self, name: str) -> DataFrame:
        if name in self._sources:
            return self._sources[name].load(self.spark)
        return self.spark.table(name)

    def tables(self) -> list[str]:
        return sorted(self._sources)


def register_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> Catalog:
    """Register all testdata tables from `sf_dir` as temp views; return catalog."""
    cat = Catalog(spark)
    cat.register_parquet_dir(sf_dir)
    return cat


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One-table loader used by query builders (no view side effects).

    Cached per (session, sf_dir, name): every TrinoEngine construction
    re-registers all 10 testdata views — reusing the immutable DataFrame
    (plans are never mutated; testdata is read-only) turns the
    per-engine catalog setup from ~0.8 s into ~10 catalog calls. The
    temp-view registration itself still happens per engine so a view a
    prior engine replaced is always reset.

    events.ts is parquet INT64 TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects outright (PARQUET_TYPE_ILLEGAL). We read nanos as LongType
    (legacy conf) and rebuild a microsecond timestamp with INTEGER division
    (`div`): the raw ns value exceeds 2^53, so a double-precision divide
    would corrupt the low microsecond digit. Truncation (floor) matches what
    DuckDB's TIMESTAMP_NS -> TIMESTAMP cast does, so oracles agree to the µs.
    """
    cache = getattr(spark, "_ts_load_cache", None)
    if cache is None:
        cache = {}
        spark._ts_load_cache = cache
    key = (sf_dir, name)
    if key in cache:
        return cache[key]
    df = _read_parquet_nanos_safe(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        dt = df.schema["ts"].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif not isinstance(dt, T.TimestampType):
            # µs-precision parquet loads as TIMESTAMP_NTZ; session zone is
            # UTC so the cast is a lossless type change (same micros value),
            # and downstream unix_micros()/window() get the TIMESTAMP they
            # require.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    cache[key] = df
    return df


def _read_parquet_nanos_safe(spark: SparkSession, path: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return read_parquet(spark, path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` without Spark's schema-inference job.

    Without mergeSchema, Spark infers a parquet relation's schema from one
    footer, but reads it in a one-task Spark job
    (SchemaMergeUtils.mergeSchemasInParallel). This reads the same footer
    on the driver, through ParquetFileFormat.readParquetFootersInParallel
    and readSchema, which convert it with the session's inference settings
    (nanosAsLong, inferTimestampNTZ, binaryAsString, int96AsTimestamp), and
    hands the result to the reader as its schema. Partition columns still
    come from discovery: a schema of data columns only gets the discovered
    ones appended. Where the footer to read cannot be told locally,
    Spark's own inference runs."""
    first = _first_data_file(path)
    if first is None or spark.conf.get("spark.sql.parquet.mergeSchema", "false") == "true":
        return spark.read.parquet(path)
    jvm, jspark = spark._jvm, spark._jsparkSession
    state = jspark.sessionState()
    hadoop_conf = state.newHadoopConf()
    hpath = jvm.org.apache.hadoop.fs.Path(first)
    status = jvm.java.util.Collections.singletonList(
        hpath.getFileSystem(hadoop_conf).getFileStatus(hpath)
    )
    parquet = getattr(
        getattr(jvm.org.apache.spark.sql.execution.datasources.parquet, "ParquetFileFormat$"),
        "MODULE$",
    )
    footers = parquet.readParquetFootersInParallel(
        hadoop_conf,
        jvm.org.apache.spark.api.python.PythonUtils.toSeq(status),
        state.conf().ignoreCorruptFiles(),
    )
    schema = parquet.readSchema(footers, jspark)
    if not schema.isDefined():
        return spark.read.parquet(path)
    return spark.read.schema(StructType.fromJson(json.loads(schema.get().json()))).parquet(path)


def _first_data_file(path: str) -> str | None:
    """The file non-merging inference reads (ParquetUtils.inferSchema): the
    first data file under `path` in path order, skipping the names
    InMemoryFileIndex hides. None for a non-local or glob path, a
    directory with parquet summary files, or one with no data file."""
    parsed = urlparse(path)
    if parsed.scheme not in ("", "file") or any(c in path for c in "*?[{"):
        return None
    local = parsed.path if parsed.scheme else path
    if os.path.isfile(local):
        return os.path.abspath(local)
    files = []
    for root, dirs, names in os.walk(local):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        for name in names:
            if name.startswith(("_metadata", "_common_metadata")):
                return None
            if not _hidden(name):
                files.append(os.path.join(root, name))
    return os.path.abspath(min(files)) if files else None


def _hidden(name: str) -> bool:
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
