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
- Class-data archive: the driver JVM starts from a JDK 17 dynamic AppCDS
  archive of the classes an earlier start loaded (`_class_archive`). The
  first start for a key (java binary, Spark jars, JVM options) records it
  when its JVM exits, into `$XDG_CACHE_HOME/trino_spark` (default
  `~/.cache/trino_spark`); every later start maps it and skips parsing
  and verifying those ~10k classes, spinning their lambda proxies and
  JIT-compiling that loader code: about -40 % set-up CPU on TPC-H (PERF.md,
  "Where a fresh server's session start goes: the class archive"). The
  recording start costs more CPU and its JVM takes ~15 s to exit. With a
  real file in the Spark conf directory, or a cache that cannot be
  written, the JVM starts without an archive.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import re
import shlex
import shutil
import struct
import uuid

from pyspark.find_spark_home import _find_spark_home
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

# The first four bytes of a finished JDK 17 dynamic class-data archive
# (native byte order). The JDK writes the header last, so a recording
# that has not finished reads zeros here.
_CDS_MAGIC = 0xF00BABA8
# Without it a recording JVM prints ~1,100 "[warning][cds]" lines at exit
# (Janino's jar is signed, so its classes are skipped), and a rejected
# archive prints one. -Xshare stays at its default (auto): a rejected
# archive costs the gain, never the start.
_CDS_QUIET = "-Xlog:cds*=off"
# Spark's launcher also puts these on the driver's classpath; any of them
# may be a non-empty directory, with which JDK 17 refuses to record.
_CLASSPATH_ENV = (
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES",
)


def _default_driver_memory() -> str:
    """Half of the machine's memory in whole GB, at least 1g."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, kb // 2 // (1 << 20))}g"


def _launch_conf_dir(conf_dir: str, empty_dir: str) -> str | None:
    """The `SPARK_CONF_DIR` to launch the driver with so that it may record
    or map a class archive, or None when it may not.

    Spark puts the conf directory first on the classpath, and JDK 17
    refuses to start recording while a non-empty directory is on it. A
    directory of `*.template` files only holds nothing Spark reads, so the
    empty directory `empty_dir` stands in for it."""
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        return conf_dir
    except OSError:
        return None
    if all(n.endswith(".template") for n in names):
        return empty_dir if names else conf_dir
    return None


def _archive_key(java: str, jars_dir: str, options: str) -> str:
    """A hash of what the JDK validates before it maps an archive: the
    `java` binary, the jars on the classpath and the JVM options (a heap of
    32 GB or more turns compressed oops off)."""
    h = hashlib.sha256()
    st = os.stat(java)
    h.update(f"{os.path.realpath(java)} {st.st_size} {st.st_mtime_ns}\n".encode())
    for e in sorted(os.scandir(jars_dir), key=lambda e: e.name):
        st = e.stat()
        h.update(f"{e.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    h.update(options.encode())
    return h.hexdigest()[:20]


def _is_archive(path: str) -> bool:
    """Whether `path` starts with a finished dynamic archive's magic."""
    try:
        with open(path, "rb") as f:
            head = f.read(4)
    except OSError:
        return False
    return len(head) == 4 and struct.unpack("=I", head)[0] == _CDS_MAGIC


def _recordings(final: str) -> set[str]:
    """The files live processes record the archive `final` to. A JVM
    creates its file only when it exits, so this reads the recording flag
    off every process's command line (also where it still sits inside
    spark-submit's `--conf`) rather than looking for files."""
    flag = re.compile(
        rb"-XX:ArchiveClassesAtExit=(" + re.escape(os.fsencode(final + ".")) + rb"[^\s\0'\"]+)"
    )
    found = set()
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    found.update(map(os.fsdecode, flag.findall(f.read())))
            except OSError:
                pass
    return found


def _settle_archive(final: str) -> bool:
    """Put the recordings of `final` in order and say whether one is still
    running.

    A recording dumps to `<final>.<unique>.tmp`. A finished one (it carries
    the magic) becomes `final` by `os.replace`, unless `final` already is an
    archive; an unfinished one whose writer is gone is removed, and so is a
    `final` that is not an archive. Nothing writes `final` in place: running
    JVMs map it."""
    if os.path.exists(final) and not _is_archive(final):
        os.unlink(final)
    running = _recordings(final)
    for tmp in glob.glob(glob.escape(final) + ".*.tmp"):
        try:
            if _is_archive(tmp) and not os.path.exists(final):
                os.replace(tmp, final)
            elif _is_archive(tmp) or tmp not in running:
                os.unlink(tmp)
        except FileNotFoundError:  # another start settled it first
            pass
    return bool(running)


def _class_archive(jvm_options: str) -> tuple[list[str], str | None]:
    """The class-archive options of the driver JVM and the `SPARK_CONF_DIR`
    to launch it with; `([], None)` for a start without an archive.

    The archive is one JDK 17 dynamic AppCDS archive per key (see
    `_archive_key`) under `$XDG_CACHE_HOME/trino_spark`. A start maps it
    when it exists; otherwise, unless another start is recording it, the
    JVM records it at exit."""
    if any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return [], None
    spark_home = _find_spark_home()
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java") or ""
    cache_home = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    cache = os.path.join(cache_home, "trino_spark")
    try:
        empty = os.path.join(cache, "empty-conf")
        os.makedirs(empty, exist_ok=True)
        conf_dir = _launch_conf_dir(
            os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf"), empty
        )
        if conf_dir is None or not os.access(cache, os.W_OK | os.X_OK):
            return [], None
        key = _archive_key(java, os.path.join(spark_home, "jars"), f"{jvm_options} {conf_dir}")
        final = os.path.join(cache, f"driver-{key}.jsa")
        recording = _settle_archive(final)
    except OSError:
        return [], None
    if os.path.exists(final):
        flag = f"-XX:SharedArchiveFile={final}"
    elif recording:
        return [], None
    else:
        flag = f"-XX:ArchiveClassesAtExit={final}.{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp"
    return [shlex.quote(flag), _CDS_QUIET], conf_dir


@contextlib.contextmanager
def _spark_conf_dir(conf_dir: str | None):
    """Set `SPARK_CONF_DIR` (read when the JVM is launched) for the block."""
    old = os.environ.get("SPARK_CONF_DIR")
    if conf_dir is not None:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield
    finally:
        if old is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = old


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
    memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory()
    archive_options, conf_dir = _class_archive(f"{_DRIVER_JAVA_OPTIONS} -Xmx{memory}")
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
        .config("spark.driver.memory", memory)
        .config(
            "spark.driver.extraJavaOptions",
            " ".join([_DRIVER_JAVA_OPTIONS, *archive_options]),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    with _spark_conf_dir(conf_dir):
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
