"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a 1000-executor cluster deployment would
set cluster-wide: AQE on (runtime re-plan + skew-join splitting),
Arrow enabled (all our Python UDFs are Arrow-batched), UTC session time,
shuffle partitions sized to the parallelism level rather than the 200
default.

Python workers fork from `osm_notes_ingestion_spark.daemon`, Spark's own
daemon with one patch: the import-cache flush that starts every Python
task re-reads a zip on the worker path only when the zip changed.
Without it each task re-parses pyspark.zip, py4j and the spark-core jar
(0.12–0.24 s per task on 4 local cores), more than a small batch's UDF
body. The runner's own spark-submit session keeps Spark's daemon: there
the package may reach executors only through `--py-files`, after the
daemon has started.

The driver JVM starts from a class-data-sharing archive: a dynamic
AppCDS archive of the classes a real run loaded, kept under the
checkout's git-ignored `.cds/` and keyed by the JDK (java binary and
`libjvm.so`), the driver classpath (each jar's name, size and mtime)
and whether the heap is small enough for compressed pointers (below
32 GiB). It halves the Spark session's start (median 6.3 → 3.4 s on 4
cores) and trims the first jobs' class loading. The first process that finds no
archive builds it: its JVM gets `-XX:ArchiveClassesAtExit` and writes
the archive when it exits. One builder is chosen by a lock file that
records its pid, created with `O_EXCL` under an `flock`; the lock of a
dead builder with no finished archive is taken over. Later processes
pass `-XX:SharedArchiveFile`. Only the JVM writes the archive, and it
writes the header last, so a reader either sees a finished archive or
none: an archive is used only once its header is written. JDK 17
refuses CDS while a non-empty directory is on the classpath, and Spark
puts its conf dir there. So an unset `SPARK_CONF_DIR` is pointed at an
empty directory when `$SPARK_HOME/conf` holds only `*.template` files,
which Spark never reads; any other non-empty conf dir, or any other
classpath addition, starts without CDS. A missing, stale or mismatched
archive starts the JVM normally. JDK logging goes to stderr, so the
archive's warnings never reach stdout.
"""

from __future__ import annotations

import fcntl
import glob
import hashlib
import os
import shutil
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession
from pyspark.util import _parse_memory

CDS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cds")
_DYNAMIC_MAGIC = (0xF00BABA8).to_bytes(4, "little")  # the header of a finished dynamic archive
_QUIET = "-Xlog:disable -Xlog:all=warning:stderr"
# settings that add driver classpath entries the archive's key does not cover
_CLASSPATH_ENV = (
    "PYSPARK_SUBMIT_ARGS",
    "SPARK_DIST_CLASSPATH",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_PREPEND_CLASSES",
    "SPARK_TESTING",
)


def get_spark(
    parallelism: int | None = None,
    app_name: str = "osm_notes_ingestion_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    parallelism=None → local[*]. Shuffle partitions track parallelism so
    local benches don't drown in tiny tasks; on a real cluster this is
    replaced by AQE coalescing from an intentionally-high initial value.
    """
    cpus = parallelism or os.cpu_count() or 8
    conf = {"spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"), **(extra_conf or {})}
    builder = (
        SparkSession.builder.master(f"local[{parallelism or '*'}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "osm_notes_ingestion_spark.daemon")
    )
    opts, conf_dir, lock = _cds_plan(conf) or (None, None, None)
    if opts:
        key = "spark.driver.defaultJavaOptions"
        conf[key] = f"{opts} {conf[key]}" if key in conf else opts
    for k, v in conf.items():
        builder = builder.config(k, v)
    if conf_dir:  # read by spark-submit when pyspark launches it, then restored
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if conf_dir:
            del os.environ["SPARK_CONF_DIR"]
    if lock:
        # the JVM writes the archive when it exits, which may be after this
        # process has: the lock records the JVM's pid
        jvm_pid = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid()
        with _mutex(), open(lock, "w") as f:
            f.write(str(jvm_pid))
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _cds_plan(conf: dict[str, str]) -> tuple[str, str | None, str | None] | None:
    """The driver's CDS options, the `SPARK_CONF_DIR` to launch with (None:
    leave it) and, for the one builder, its lock; None starts without CDS.
    `conf` holds `spark.driver.memory`."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # no JVM is launched here
    if "spark.driver.extraClassPath" in conf or any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    try:
        home = _find_spark_home()
        conf_dir, set_conf = os.environ.get("SPARK_CONF_DIR"), None
        if conf_dir is None:
            conf_dir = os.path.join(home, "conf")
            names = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
            if not all(n.endswith(".template") for n in names):
                return None
            if names:
                set_conf = conf_dir = os.path.join(CDS_DIR, "conf")
                os.makedirs(conf_dir, exist_ok=True)
        if os.path.isdir(conf_dir) and os.listdir(conf_dir):
            return None
        java_home = os.environ.get("JAVA_HOME")
        java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if not java or not jars:
            return None
        java = os.path.realpath(java)
        libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
        # HotSpot compresses pointers below a 32 GiB heap; an archive dumped
        # under one setting is unusable under the other
        stamp = [conf_dir, f"compressed oops {_parse_memory(conf['spark.driver.memory']) < 32 * 1024}"]
        for path in (java, libjvm, *jars):
            st = os.stat(path)
            stamp.append(f"{path} {st.st_size} {st.st_mtime_ns}")
        key = hashlib.sha256("\n".join(stamp).encode()).hexdigest()[:16]
        archive = os.path.join(CDS_DIR, f"driver-{key}.jsa")
        lock = archive + ".lock"
        with _mutex():
            if _finished(archive):
                return f"-XX:SharedArchiveFile={archive} {_QUIET}", set_conf, None
            if os.path.exists(lock):
                if _alive(lock):
                    return None  # another process is building it
                os.unlink(lock)  # its builder died before the archive was written
            with os.fdopen(os.open(lock, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644), "w") as f:
                f.write(str(os.getpid()))
        return f"-XX:ArchiveClassesAtExit={archive} {_QUIET}", set_conf, lock
    except (OSError, ValueError):  # an unwritable checkout, another JDK layout, a bare memory size
        return None


@contextmanager
def _mutex():
    os.makedirs(CDS_DIR, exist_ok=True)
    with open(os.path.join(CDS_DIR, "mutex"), "a") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        yield


def _finished(archive: str) -> bool:
    """The dumping JVM writes the header last: until its final write the
    file reads a zero magic, and JDK 17 starts normally from that. A
    truncated file that has its header would abort the JVM, so nothing but
    the JVM ever writes one."""
    try:
        with open(archive, "rb") as f:
            return f.read(4) == _DYNAMIC_MAGIC
    except FileNotFoundError:
        return False


def _alive(lock: str) -> bool:
    """Whether the pid a build lock records is a live process."""
    try:
        with open(lock) as f:
            os.kill(int(f.read()), 0)
    except (ValueError, ProcessLookupError):
        return False
    except PermissionError:
        return True
    return True
