"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` in one JVM; the configuration below is
chosen so the same logical plans scale to a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) so shuffle partition
  counts adapt to real data sizes instead of being hand-tuned per SF.
- ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster this is the *initial* number and AQE coalesces.
  The CLI sizes each run's initial count from its input bytes
  (``cli._size_partitions``): ⌈bytes ÷ the advisory partition size⌉,
  clamped to [1, ``shuffle.partitions``], set for the run as AQE's
  ``coalescePartitions.initialPartitionNum``, then restored. A small
  input plans one shuffle partition, so an ORDER BY's range exchange
  samples nothing. File scans keep Spark's own split sizing.
- Arrow enabled: every Pandas-UDF hop is Arrow-batched, never per-row.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- No progress bar on stderr, which sqawk leaves empty.

Start-up class cache. Every sqawk invocation is a fresh process, and
its driver JVM spends most of its set-up loading classes. So the driver
JVM starts from a dynamic class-data archive (JDK 17 AppCDS) kept as
``${XDG_CACHE_HOME:-~/.cache}/pysqawk/cds/<key>.<bytes>.jsa``, about
155 MB; the cache holds one archive. The key hashes the ``java``
binary, the name, size and mtime of every jar in ``$SPARK_HOME/jars``,
the pyspark version and the driver's memory and Java options, so a
changed install builds a new archive. The first invocation of an
install writes the archive as its JVM exits, which takes about 10 s
more; a lock file lets one process at a time do so, and the others
start without the archive. ``rm -rf ~/.cache/pysqawk/cds`` clears it.
The JVM checks the archive itself and ignores one that does not match;
the ``-Xlog`` option keeps its CDS warnings off stdout, which carries
the result. The archive is skipped, and the JVM starts as it would
without this cache, when Spark would put more than the jars on the
driver classpath (CDS refuses a non-empty directory there):
``SPARK_CONF_DIR``, ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR``,
``SPARK_DIST_CLASSPATH`` or ``SPARK_PREPEND_CLASSES`` set, a file other
than ``*.template`` in ``$SPARK_HOME/conf``, or
``spark.driver.extraClassPath`` given. It is also skipped when the
process already has a gateway, when the cache directory cannot be
written and holds no archive, and on a JDK older than 17. The launcher JVM
(``org.apache.spark.launcher.Main``) is not archived: it took 135–140 ms
in 4 runs on a 4-CPU host.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shlex
import shutil
import subprocess
from dataclasses import dataclass

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# the JVM prints its CDS warnings (an archive it cannot use, signed jars
# it skips while dumping) on stdout, which carries the result
_QUIET = "-Xlog:cds*=off"
_CLASSPATH_ENV = (
    "SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
    "SPARK_DIST_CLASSPATH", "SPARK_PREPEND_CLASSES",
)
# the dumping JVM writes the archive as it exits; one slower than this
# is killed and its archive dropped
_DUMP_WAIT_S = 120


@dataclass(frozen=True)
class CdsLaunch:
    """How the driver JVM starts against the class-data archive."""

    java_opts: str  # appended to spark.driver.extraJavaOptions
    conf_dir: str  # an empty SPARK_CONF_DIR for the gateway launch
    dump: str | None = None  # the archive this process writes at exit
    lock: str | None = None  # held while it does


def _cds_dir() -> str:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(cache, "pysqawk", "cds")


def _java() -> str | None:
    """The realpath of the java the Spark launcher runs, if JDK ≥ 17."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    java = os.path.realpath(java)
    release = os.path.join(os.path.dirname(os.path.dirname(java)), "release")
    try:
        with open(release) as f:
            text = f.read()
    except OSError:
        return None
    for line in text.splitlines():
        if line.startswith("JAVA_VERSION="):
            major = line.split("=", 1)[1].strip('"').split(".")[0]
            return java if major.isdigit() and int(major) >= 17 else None
    return None


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # another user's process
        pass
    return True


def _lock_held(path: str) -> bool:
    """Whether a live process holds the lock. An unreadable pid counts
    as dead: at worst two processes both write the archive."""
    try:
        with open(path) as f:
            text = f.read().strip()
    except FileNotFoundError:
        return False
    return text.isdigit() and int(text) > 0 and _pid_alive(int(text))


def _take_lock(path: str) -> bool:
    """Create ``path`` holding this pid; take over a dead owner's lock."""
    for _ in range(2):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            if _lock_held(path):
                return False
            try:
                os.unlink(path)
            except FileNotFoundError:
                pass
            continue
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        return True
    return False


def _archive(cds: str, key: str) -> str | None:
    """The published archive for ``key``, if it is whole: its name
    records its size, and a truncated archive crashes the JVM."""
    for name in os.listdir(cds):
        parts = name.split(".")
        if len(parts) == 3 and parts[0] == key and parts[2] == "jsa":
            path = os.path.join(cds, name)
            if parts[1].isdigit() and os.path.getsize(path) == int(parts[1]):
                return path
    return None


def cds_launch(conf: dict[str, str]) -> CdsLaunch | None:
    """The archive options for a gateway started with ``conf``, or None
    when the archive cannot be used safely (see the module docstring)."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    if any(os.environ.get(k) for k in _CLASSPATH_ENV):
        return None
    if conf.get("spark.driver.extraClassPath"):
        return None
    java = _java()
    spark_home = _find_spark_home()
    jars = os.path.join(spark_home, "jars")
    cds = _cds_dir()
    conf_dir = os.path.join(cds, "conf")
    try:
        spark_conf = os.path.join(spark_home, "conf")
        names = os.listdir(spark_conf) if os.path.isdir(spark_conf) else []
        if java is None or any(not n.endswith(".template") for n in names):
            return None
        os.makedirs(conf_dir, exist_ok=True)
        h = hashlib.sha256()
        for path in [java] + [os.path.join(jars, n) for n in sorted(os.listdir(jars))]:
            st = os.stat(path)
            h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
        h.update(pyspark.__version__.encode())
        for k in ("spark.driver.memory", "spark.driver.defaultJavaOptions",
                  "spark.driver.extraJavaOptions"):
            h.update(f"\n{k}={conf.get(k, '')}".encode())
        key = h.hexdigest()[:20]
        archive = _archive(cds, key)
        if archive:
            opt = shlex.quote(f"-XX:SharedArchiveFile={archive}")
            return CdsLaunch(f"{opt} {_QUIET}", conf_dir)
        lock = os.path.join(cds, f"{key}.lock")
        if not _take_lock(lock):
            return None
    except OSError:
        return None
    dump = os.path.join(cds, f"{key}.{os.getpid()}.tmp")
    opt = shlex.quote(f"-XX:ArchiveClassesAtExit={dump}")
    return CdsLaunch(f"{opt} {_QUIET}", conf_dir, dump, lock)


def publish_archive(proc, launch: CdsLaunch) -> None:
    """Let the dumping JVM exit, then publish the archive it wrote.

    Closing the gateway's stdin makes PythonGatewayServer call
    ``System.exit(0)``, and the JVM writes the archive as it exits. On
    exit code 0 the archive replaces every other one in the cache; on
    any other outcome it is dropped. The lock is released either way.
    """
    code = None
    if proc is not None:
        proc.stdin.close()
        try:
            code = proc.wait(timeout=_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    cds = os.path.dirname(launch.dump)
    try:
        if code == 0 and os.path.isfile(launch.dump):
            key = os.path.basename(launch.lock).split(".")[0]
            archive = os.path.join(cds, f"{key}.{os.path.getsize(launch.dump)}.jsa")
            os.replace(launch.dump, archive)
            for name in os.listdir(cds):
                parts = name.split(".")
                stale = name.endswith(".jsa") or (
                    name.endswith(".tmp") and len(parts) == 3
                    and parts[1].isdigit() and not _pid_alive(int(parts[1]))
                )
                if stale and os.path.join(cds, name) != archive:
                    os.unlink(os.path.join(cds, name))
    except OSError:
        pass  # a later run writes the archive again
    finally:
        for path in (launch.dump, launch.lock):
            try:
                os.unlink(path)
            except FileNotFoundError:
                pass


def _publish_at_exit(launch: CdsLaunch) -> None:
    gateway = SparkContext._gateway
    publish_archive(getattr(gateway, "proc", None), launch)


def get_session(
    app_name: str = "sqawk_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # SQLite-style permissive coercion (Spark 4 defaults to ANSI):
        # 'c' < 10000 must be NULL-out, not an error
        "spark.sql.ansi.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": os.environ.get("SQAWK_SPARK_DRIVER_MEM", "8g"),
        **(extra_conf or {}),
    }
    launch = cds_launch(conf)
    if launch:
        opts = conf.get("spark.driver.extraJavaOptions", "")
        conf["spark.driver.extraJavaOptions"] = f"{opts} {launch.java_opts}".strip()
        if launch.dump:
            atexit.register(_publish_at_exit, launch)
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    if launch:
        os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if launch:
            del os.environ["SPARK_CONF_DIR"]
    spark.sparkContext.setLogLevel("WARN")
    return spark
