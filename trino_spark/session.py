"""SparkSession factory tuned for the engine.

Mirrors the role of Trino's session/system properties
(reference: core/trino-main/src/main/java/io/trino/SystemSessionProperties.java:108)
but as Spark conf: AQE (Trino's AdaptivePlanner analog), CBO (Trino's
cost-based ReorderJoins/DetermineJoinDistributionType analog), runtime
bloom-filter join reduction (Trino's dynamic filtering,
main/server/DynamicFilterService.java:101).

Scale notes (100 TB design intent):
- AQE owns the runtime shuffle-partition count; `spark.sql.shuffle.partitions`
  is only the pre-AQE upper bound, so we set it from the local core count for
  tests while `initialPartitionNum` would be raised on a real cluster.
- Runtime bloom filters + DPP reduce probe-side scans exactly where Trino's
  dynamic filtering does.
- Arrow enabled: every Python-side operator (pandas UDFs) moves columnar
  batches, never rows.
- Parallelism and heap come from the host: `local[N]` with N the CPUs this
  process may run on, and a driver heap of half the machine's memory (an
  unspillable heap larger than RAM meets the OOM killer before Spark
  spills). `SPARK_GRAFT_CPUS` and `SPARK_GRAFT_DRIVER_MEM` override them.
- JVM launch options: the driver JVM runs one C1 and one C2 JIT compiler
  thread (`_DRIVER_JAVA_OPTIONS`). A fresh server otherwise spends half of
  its CPU C2-compiling Spark's own framework code; see
  PERF.md, "Where a fresh server's CPU goes (4 cores)". The heap is set
  through `spark.driver.memory`, never `-Xmx` in the Java options, which
  Spark rejects.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local parallelism, also the pre-AQE shuffle parallelism: the CPUs this
# process may run on. A real cluster raises the shuffle count (or relies on
# AQE coalescing from a high initial count).
_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))

# -XX:CICompilerCount=2 is the tiered minimum: one C1 and one C2 compiler
# thread (the JVM's default on 4 cores is one C1 and two C2). On TPC-H at
# sf0.01 through the HTTP server, 4 cores, a fresh server spent half of its
# JVM CPU in C2 threads, nearly all of it compiling Spark's framework code
# (Janino, object streams, ANTLR, class loading, ASM), about 1 % on
# generated query code. With one C2 thread fewer framework methods are
# compiled while the server is fresh: -23 % CPU per statement. Methods that
# stay hot are still C2-compiled, so warm sf0.1 and sf10 TPC-H times hold;
# C1 only (-XX:TieredStopAtLevel=1) makes warm sf10 queries 2-3.5x slower.
_DRIVER_JAVA_OPTIONS = "-XX:CICompilerCount=2"


def _default_driver_memory() -> str:
    """Half of the machine's memory in whole GB, at least 1g."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, kb // 2 // (1 << 20))}g"


def get_spark(
    app_name: str = "trino_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Defaults are correctness-first (UTC session zone, ANSI off to match
    Trino's permissive double arithmetic on the testdata) and
    performance-second (AQE, CBO, bloom-filter runtime join reduction).
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{_CPUS}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _CPUS))
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI mode off: testdata uses doubles (not decimals); Trino's
        # double arithmetic is non-ANSI-strict too.
        .config("spark.sql.ansi.enabled", "false")
        # --- adaptive execution (Trino: AdaptivePlanner / skew rebalancer) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- CBO (Trino: ReorderJoins + DetermineJoinDistributionType) ---
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # --- runtime filters (Trino: DynamicFilterService) ---
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        # InferFiltersFromGenerate rewrites explode(f(x)) into
        # Filter(size(f(x))>0) + explode and pushes that filter to the scan,
        # duplicating the (possibly expensive, lambda-bearing) array
        # expression below every repartition — measured 20x slowdown on the
        # dedup shingle pipelines. The guard only skips empty arrays, which
        # our generators handle anyway.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # --- Python/Arrow boundary ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet ns timestamps in testdata (events.ts): Spark rejects
        # TIMESTAMP(NANOS) outright; read as long and rebuild µs timestamps
        # in the catalog loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Trino's map_concat/map_union keep the LAST value for a key seen
        # in multiple maps (MapConcatFunction.java); Spark's default policy
        # raises DUPLICATED_MAP_KEY instead. Trade-off: duplicate keys in a
        # single map() constructor now silently dedup rather than error.
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.driver.extraJavaOptions", _DRIVER_JAVA_OPTIONS)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
