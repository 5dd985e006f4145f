"""SparkSession factory.

The reference engine's only runtime knobs are ``<mapper_threads>
<reducer_threads>`` (main.cc:199-214). In Spark those map onto input-split
parallelism (``spark.sql.files.maxPartitionBytes``) and shuffle parallelism
(``spark.sql.shuffle.partitions``); everything else the reference does with
pthreads (dynamic task queue main.cc:50-59, barriers main.cc:99/129) is the
Spark scheduler's job.

Cold start. The reference starts in milliseconds; a Spark driver spends
most of its first ~10 s loading classes. JDK 17 cannot create a class
archive on its own (``-XX:+AutoCreateSharedArchive`` is JDK 19+), so
``get_spark`` keeps a dynamic AppCDS archive of the driver JVM itself:

- Cache: ``<tempfile.gettempdir()>/spark-graft-cds/``, one archive
  ``<key>.jsa`` (~150 MB). The key hashes the ``java`` that ``spark-class``
  runs (``$JAVA_HOME/bin/java``, else ``java`` on ``PATH``) and the names,
  sizes and mtimes of ``<spark_home>/jars``; promoting a new key deletes
  the other archives. The cache is made with mode 0700 and used only if
  it is a real directory (not a symlink) owned by this user and writable
  by no one else: on a shared ``/tmp``, another user must not choose the
  archive the JVM maps.
- With ``<key>.jsa`` present the driver loads it (``-Xshare:auto``: a
  truncated, stale or foreign archive just means a start without it).
- Without it, the first session claims ``<key>.lock`` and its JVM dumps
  ``<key>.<pid>.tmp`` at exit (``-XX:ArchiveClassesAtExit``, ~15 s). A
  session started while a live JVM holds the lock starts plainly. The
  next session after the dumper has exited checks the dump with
  ``java -Xshare:on -XX:+VerifySharedSpaces`` against the dumper's
  classpath and renames it to ``<key>.jsa``, or deletes it; a dump killed
  mid-write is deleted, and the session after that dumps again.
- The dump needs the classpath's conf directory empty, so
  ``SPARK_CONF_DIR`` points at the cache's empty ``conf/`` — only when the
  effective conf directory is absent or holds nothing but ``*.template``
  files. A real conf directory, a running JVM, or ``extra_conf`` setting
  the driver's Java options, class path or ``spark.jars*`` leaves the
  start exactly as without an archive. JVM logging for CDS is off: it
  would go to stdout.

Scale notes (100 TB): these defaults are for the local[32] harness. On a real
cluster the same code runs unchanged; only the session config changes —
shuffle partitions sized so each post-shuffle partition is ~128-200 MB
(100 TB / 150 MB ≈ 700k partitions → rely on AQE coalescing from a high
initial number), AQE handles skew splitting, and executors get the memory/
core ratio. Nothing in the engine hard-codes partition counts.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import stat
import subprocess
import tempfile

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_CDS_LOG_OFF = "-Xshare:auto -Xlog:cds=off -Xlog:cds+dynamic=off"
# conf that changes the driver's JVM flags or class path: leave such starts alone
_JVM_CONF = ("spark.driver.extraJavaOptions", "spark.driver.extraClassPath", "spark.jars")


def get_spark(
    app_name: str = "mapreduce-model-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with scale-ready defaults.

    - AQE on (runtime partition coalescing, skew-join splitting) — replaces
      the reference's static equal-range reduce split (main.cc:112-118).
    - UTC session timezone so timestamp semantics match the DuckDB oracle.
    - Arrow on so any Pandas-UDF path is vectorized (never row-at-a-time).
    - File listing on the driver: above the default 32 paths Spark lists
      files with a distributed job on every ``spark.read`` call. The
      manifest reader has already ``os.path.exists``-checked each path on
      the driver, so the threshold sits above any path count read here.
    - A new driver JVM loads the class archive in
      ``<tempfile.gettempdir()>/spark-graft-cds/``, or dumps it at exit if
      there is none yet (module docstring). Without the archive, with a
      conf directory holding anything but ``*.template`` files, or when
      ``extra_conf`` sets ``spark.driver.extraJavaOptions``,
      ``spark.driver.extraClassPath`` or ``spark.jars*``, the session is
      the same, only slower to start.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    extra_conf = extra_conf or {}
    driver_memory = extra_conf.get("spark.driver.memory", "8g")

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(cpus))
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        # not fs.file.impl=RawLocalFileSystem: RocksDB state stores cast to LocalFileSystem
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    jvm_running = SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ
    archive = None
    if not jvm_running and not any(k.startswith(_JVM_CONF) for k in extra_conf):
        archive = ClassArchive.open(driver_memory)
    if archive is None:
        return builder.getOrCreate()
    builder = builder.config("spark.driver.extraJavaOptions", archive.java_options)
    try:
        spark = builder.getOrCreate()
    except BaseException:
        archive.release()
        raise
    archive.started(spark)
    return spark


class ClassArchive:
    """One driver start's use of the AppCDS cache (module docstring)."""

    def __init__(self, cache: str, key: str, java: str) -> None:
        self.cache, self.key, self.java = cache, key, java
        self.jsa = os.path.join(cache, key + ".jsa")
        self.lock = os.path.join(cache, key + ".lock")
        self.java_options = ""
        self.dumping = False

    @classmethod
    def open(cls, driver_memory: str) -> ClassArchive | None:
        """Pick this start's JVM options and point ``SPARK_CONF_DIR`` at the
        cache's empty conf directory. None: start as without an archive (a
        real conf directory, no ``java``, an unusable or foreign cache, a
        live dumper, a dump that just failed)."""
        home = _find_spark_home()
        conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
        if os.path.isdir(conf) and not all(n.endswith(".template") for n in os.listdir(conf)):
            return None
        java = _java()
        cache = os.path.join(tempfile.gettempdir(), "spark-graft-cds")
        empty_conf = os.path.join(cache, "conf")
        try:
            os.makedirs(cache, mode=0o700, exist_ok=True)
            st = os.lstat(cache)
            if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid() or st.st_mode & 0o022:
                return None
            os.makedirs(empty_conf, exist_ok=True)
            if java is None or os.listdir(empty_conf):
                return None
            archive = cls(cache, _archive_key(java, os.path.join(home, "jars")), java)
            if not archive._choose(driver_memory):
                return None
        except OSError:
            return None
        os.environ["SPARK_CONF_DIR"] = empty_conf
        return archive

    def _choose(self, driver_memory: str) -> bool:
        if not os.path.exists(self.jsa):
            held = _read_lock(self.lock)
            if held is not None:
                pid, classpath = held
                if _alive(pid):
                    return False  # a live JVM is dumping
                # the dumper has exited: keep its archive only if it verifies
                for tmp in glob.glob(glob.escape(os.path.join(self.cache, self.key)) + ".*.tmp"):
                    if classpath and self._verifies(tmp, classpath, driver_memory):
                        os.replace(tmp, self.jsa)
                    else:
                        os.remove(tmp)
                os.remove(self.lock)
                if not os.path.exists(self.jsa):
                    return False  # the last dump failed: the next start retries
                for other in glob.glob(os.path.join(glob.escape(self.cache), "*.jsa")):
                    if other != self.jsa:
                        os.remove(other)
        if os.path.exists(self.jsa):
            self.java_options = f"-XX:SharedArchiveFile={self.jsa} {_CDS_LOG_OFF}"
        elif _write_lock(self.lock, f"{os.getpid()}\n", exclusive=True):
            tmp = os.path.join(self.cache, f"{self.key}.{os.getpid()}.tmp")
            self.java_options = f"-XX:ArchiveClassesAtExit={tmp} {_CDS_LOG_OFF}"
            self.dumping = True
        return bool(self.java_options)

    def _verifies(self, tmp: str, classpath: str, driver_memory: str) -> bool:
        check = [self.java, f"-XX:SharedArchiveFile={tmp}", "-Xshare:on", "-XX:+VerifySharedSpaces",
                 f"-Xmx{driver_memory}", "-cp", classpath, "-version"]
        return subprocess.run(check, stdin=subprocess.DEVNULL, capture_output=True).returncode == 0

    def started(self, spark: SparkSession) -> None:
        """Hand the lock to the dumping JVM, with the class path the archive
        must be checked against."""
        if self.dumping:
            jvm = spark.sparkContext._jvm
            pid = jvm.java.lang.ProcessHandle.current().pid()
            classpath = jvm.java.lang.System.getProperty("java.class.path")
            _write_lock(self.lock, f"{pid}\n{classpath}\n", exclusive=False)

    def release(self) -> None:
        if self.dumping:
            os.remove(self.lock)


def _java() -> str | None:
    """The ``java`` that ``spark-class`` runs."""
    if os.environ.get("JAVA_HOME"):
        return os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    return shutil.which("java")


def _archive_key(java: str, jars: str) -> str:
    h = hashlib.sha256()
    for path in [java] + sorted(os.path.join(jars, n) for n in os.listdir(jars)):
        st = os.stat(path)
        h.update(f"{os.path.realpath(path)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _write_lock(lock: str, text: str, exclusive: bool) -> bool:
    """Write ``lock`` whole in one step; with ``exclusive``, only if it does
    not exist yet (False if it does)."""
    part = f"{lock}.{os.getpid()}"
    with open(part, "w") as f:
        f.write(text)
    try:
        if exclusive:
            os.link(part, lock)  # atomic create-if-absent
        else:
            os.replace(part, lock)
        return True
    except FileExistsError:
        return False
    finally:
        if os.path.exists(part):
            os.remove(part)


def _read_lock(lock: str) -> tuple[int, str] | None:
    """(pid, class path) held in ``lock``, None if there is no lock."""
    try:
        with open(lock) as f:
            lines = f.read().split("\n")
    except FileNotFoundError:
        return None
    return (int(lines[0]) if lines[0].isdigit() else 0), (lines[1] if len(lines) > 1 else "")


def _alive(pid: int) -> bool:
    if pid <= 0:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # another user's process
    return True
