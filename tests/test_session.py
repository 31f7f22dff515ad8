"""The session is sized from the host and launches its JVM with the JIT
compiler-thread cap and a class-data archive recorded once per machine
(trino_spark/session.py)."""

import json
import os
import re
import shutil
import struct
import subprocess
import sys
from pathlib import Path

import pytest

from trino_spark import session


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return kb * 1024


def _size_bytes(size: str) -> int:
    """A JVM memory string; without a unit, Spark reads driver memory in MiB."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", size.strip().lower())
    assert m, size
    return int(m.group(1)) * 1024 ** " kmgt".index(m.group(2) or "m")


def test_driver_jvm_caps_compiler_threads(spark):
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    assert "-XX:CICompilerCount=2" in args


def test_driver_memory_fits_the_host(spark):
    assert _size_bytes(spark.conf.get("spark.driver.memory")) <= _mem_total_bytes()


def test_master_uses_host_cpus(spark):
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    assert spark.sparkContext.master == f"local[{cpus}]"


# --- the driver JVM's class-data archive ---------------------------------

_MAGIC = struct.pack("=I", 0xF00BABA8)


def test_conf_dir_of_templates_only_is_swapped_for_an_empty_one(tmp_path):
    conf, empty = tmp_path / "conf", tmp_path / "empty"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("spark.master local\n")
    (conf / "log4j2.properties.template").write_text("")
    assert session._launch_conf_dir(str(conf), str(empty)) == str(empty)


def test_empty_conf_dir_is_kept(tmp_path):
    (tmp_path / "conf").mkdir()
    conf = str(tmp_path / "conf")
    assert session._launch_conf_dir(conf, str(tmp_path / "empty")) == conf


def test_real_conf_file_means_no_archive(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-env.sh.template").write_text("")
    (conf / "spark-defaults.conf").write_text("spark.executor.cores 2\n")
    assert session._launch_conf_dir(str(conf), str(tmp_path / "empty")) is None


def test_unfinished_recording_is_not_adopted(tmp_path):
    final = tmp_path / "driver-k.jsa"
    tmp = tmp_path / "driver-k.jsa.1-a.tmp"
    tmp.write_bytes(bytes(4096))  # the JDK writes the header last
    assert session._settle_archive(str(final)) is False
    assert not final.exists()
    assert not tmp.exists()  # its writer is gone


def test_final_name_without_the_magic_is_removed(tmp_path):
    final = tmp_path / "driver-k.jsa"
    final.write_bytes(b"garbage" * 100)
    assert session._settle_archive(str(final)) is False
    assert not final.exists()


def test_running_recording_is_left_alone(tmp_path):
    final = tmp_path / "driver-k.jsa"
    tmp = tmp_path / "driver-k.jsa.1-a.tmp"
    argv = [
        sys.executable,
        "-c",
        "import time; print('up', flush=True); time.sleep(60)",
        # as spark-submit holds it, before the JVM gets it as its own
        f"spark.driver.extraJavaOptions=-XX:ArchiveClassesAtExit={tmp} -Xlog:cds*=off",
    ]
    with subprocess.Popen(argv, stdout=subprocess.PIPE) as writer:
        try:
            # Popen may return before the kernel has set up the new argv
            assert writer.stdout.readline() == b"up\n"
            # a JVM creates its recording only when it exits
            assert session._settle_archive(str(final)) is True
            tmp.write_bytes(bytes(4096))
            assert session._settle_archive(str(final)) is True
            assert tmp.exists() and not final.exists()
        finally:
            writer.kill()


def test_finished_recording_is_renamed_to_the_final_name(tmp_path):
    final = tmp_path / "driver-k.jsa"
    tmp = tmp_path / "driver-k.jsa.1-a.tmp"
    tmp.write_bytes(_MAGIC + b"archive")
    inode = tmp.stat().st_ino
    assert session._settle_archive(str(final)) is False
    assert final.read_bytes() == _MAGIC + b"archive"
    assert final.stat().st_ino == inode and not tmp.exists()


def test_final_archive_is_never_written_in_place(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "conf"))
    for name in session._CLASSPATH_ENV:
        monkeypatch.delenv(name, raising=False)
    options, _ = session._class_archive("-Xmx1g")
    (recording,) = [o for o in options if "ArchiveClassesAtExit=" in o]
    final = recording.split("=", 1)[1].rsplit(".", 2)[0]
    assert final.endswith(".jsa") and not os.path.exists(final)
    # a second finished recording next to a mapped archive is dropped,
    # not copied over it
    with open(final, "wb") as f:
        f.write(_MAGIC + b"mapped")
    inode = os.stat(final).st_ino
    with open(final + ".2-b.tmp", "wb") as f:
        f.write(_MAGIC + b"other")
    options, _ = session._class_archive("-Xmx1g")
    assert f"-XX:SharedArchiveFile={final}" in options
    assert os.stat(final).st_ino == inode
    with open(final, "rb") as f:
        assert f.read() == _MAGIC + b"mapped"
    assert not os.path.exists(final + ".2-b.tmp")


_START = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from pyspark import SparkContext
from trino_spark.session import get_spark

spark = get_spark(app_name="archive_probe")
one = spark.sql("SELECT 1 AS one").collect()[0].one
jvm = spark.sparkContext._jvm
args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
proc = SparkContext._gateway.proc
with open(f"/proc/{proc.pid}/maps") as f:
    mapped = sorted({l.split()[-1] for l in f if l.rstrip().endswith(".jsa")})
spark.stop()
SparkContext._gateway.shutdown()
proc.stdin.close()  # the JVM exits (and writes a recording) when stdin closes
proc.wait()
print(json.dumps({"one": one, "args": [a for a in args if "Archive" in a], "mapped": mapped}))
"""


def _start(cache: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _START, str(Path(__file__).resolve().parents[1])],
        env=dict(os.environ, XDG_CACHE_HOME=cache),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "[cds]" not in out.stdout + out.stderr
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.fixture
def cache(tmp_path):
    path = tmp_path / "cache"
    yield str(path)
    shutil.rmtree(path, ignore_errors=True)  # an archive is 140-165 MB


def test_sessions_start_with_bad_missing_and_recorded_archives(tmp_path, cache):
    # an empty cache: this start records the archive when its JVM exits
    first = _start(cache)
    assert first["one"] == 1
    (recording,) = first["args"]
    assert recording.startswith("-XX:ArchiveClassesAtExit=")
    tmp = recording.split("=", 1)[1]
    final = tmp.rsplit(".", 2)[0]
    assert final.endswith(".jsa") and os.path.exists(tmp)
    good = os.path.join(cache, "recorded.jsa")
    os.replace(tmp, good)

    # garbage carrying the magic reaches the JVM, which rejects it quietly
    with open(final, "wb") as f:
        f.write(_MAGIC + bytes(65536))
    bad = _start(cache)
    assert bad["one"] == 1
    assert bad["args"] == [f"-XX:SharedArchiveFile={final}"]
    assert final not in bad["mapped"]

    # a cache that cannot be written: no archive at all
    blocked = tmp_path / "not-a-dir"
    blocked.write_text("")
    plain = _start(str(blocked))
    assert plain["one"] == 1 and plain["args"] == []

    # the recorded archive is mapped
    os.replace(good, final)
    mapped = _start(cache)
    assert mapped["one"] == 1
    assert mapped["args"] == [f"-XX:SharedArchiveFile={final}"]
    assert final in mapped["mapped"]
