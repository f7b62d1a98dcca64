"""The driver JVM's start-up class cache (session.cds_launch).

The option-builder tests run without Spark: they point SPARK_HOME,
JAVA_HOME and XDG_CACHE_HOME at a fake install under tmp_path and read
the options ``cds_launch`` returns. The subprocess test runs the real
CLI, because only a separate process shows what the JVM writes on the
stdout it shares with sqawk; ``cli.run(out=buf)`` never sees it.
"""

from __future__ import annotations

import io
import os
import sqlite3
import subprocess
import sys
from types import SimpleNamespace

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

from sqawk_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKIP_ENV = (
    "SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
    "SPARK_DIST_CLASSPATH", "SPARK_PREPEND_CLASSES", "PYSPARK_GATEWAY_PORT",
)
CONF = {"spark.driver.memory": "8g"}


@pytest.fixture
def install(tmp_path, monkeypatch):
    """A fake JDK 17 and Spark install, an empty cache, no gateway."""
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_text("")
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    spark = tmp_path / "spark"
    (spark / "jars").mkdir(parents=True)
    (spark / "conf").mkdir()
    (spark / "conf" / "spark-defaults.conf.template").write_text("")
    for name in ("a.jar", "b.jar"):
        (spark / "jars" / name).write_text(name)
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("SPARK_HOME", str(spark))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for k in SKIP_ENV:
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    return SimpleNamespace(
        jdk=jdk, spark=spark, cds=tmp_path / "cache" / "pysqawk" / "cds"
    )


def _dumping_key(conf=CONF) -> str:
    """The key of a miss; releases the lock the miss took."""
    launch = session.cds_launch(dict(conf))
    assert launch.dump and "-XX:ArchiveClassesAtExit=" in launch.java_opts
    os.unlink(launch.lock)
    return os.path.basename(launch.lock).split(".")[0]


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def test_key_follows_jars_java_and_driver_memory(install):
    key = _dumping_key()
    assert _dumping_key() == key
    jar = install.spark / "jars" / "a.jar"
    jar.write_text("a.jar, rebuilt")
    grown = _dumping_key()
    assert grown != key
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    touched = _dumping_key()
    assert touched != grown
    assert _dumping_key({"spark.driver.memory": "40g"}) != touched
    (install.jdk / "bin" / "java").write_text("another build")
    assert _dumping_key() != touched


@pytest.mark.parametrize(
    "why",
    ["conf_file", "old_jdk", "gateway", "extra_class_path", "cache_unwritable"]
    + ["env:" + k for k in SKIP_ENV],
)
def test_no_flags_when_unsafe(install, monkeypatch, why):
    conf = dict(CONF)
    if why == "conf_file":
        (install.spark / "conf" / "spark-defaults.conf").write_text("")
    elif why == "old_jdk":
        (install.jdk / "release").write_text('JAVA_VERSION="11.0.2"\n')
    elif why == "gateway":
        monkeypatch.setattr(SparkContext, "_gateway", object())
    elif why == "extra_class_path":
        conf["spark.driver.extraClassPath"] = "extra-classes"
    elif why == "cache_unwritable":
        install.cds.parent.parent.write_text("a file where the cache goes")
    else:
        monkeypatch.setenv(why.split(":")[1], "/somewhere")
    assert session.cds_launch(conf) is None
    assert not install.cds.is_dir() or not any(
        p.suffix in (".lock", ".jsa") for p in install.cds.iterdir()
    )


def test_lock_held_by_live_pid_means_no_dump(install):
    lock = install.cds / f"{_dumping_key()}.lock"
    lock.write_text(str(os.getppid()))
    assert session.cds_launch(dict(CONF)) is None
    assert lock.read_text() == str(os.getppid())


def test_lock_of_dead_pid_is_taken_over(install):
    lock = install.cds / f"{_dumping_key()}.lock"
    lock.write_text(str(_dead_pid()))
    launch = session.cds_launch(dict(CONF))
    assert launch.dump and launch.lock == str(lock)
    assert lock.read_text() == str(os.getpid())


def test_hit_only_on_a_whole_archive(install):
    key = _dumping_key()
    archive = install.cds / f"{key}.8.jsa"
    archive.write_bytes(b"12345678")
    launch = session.cds_launch(dict(CONF))
    assert launch.dump is None and launch.lock is None
    assert launch.java_opts == f"-XX:SharedArchiveFile={archive} -Xlog:cds*=off"
    assert launch.conf_dir == str(install.cds / "conf")
    # a truncated archive crashes the JVM (SIGBUS), so it counts as a miss
    archive.write_bytes(b"1234")
    assert session.cds_launch(dict(CONF)).dump


class _Exited:
    def __init__(self, code: int):
        self.code, self.stdin = code, io.BytesIO()

    def wait(self, timeout=None):
        assert self.stdin.closed
        return self.code


def test_publish_leaves_one_archive(install):
    key = _dumping_key()
    (install.cds / "0123.99.jsa").write_bytes(b"old install")
    orphan = install.cds / f"0123.{_dead_pid()}.tmp"
    orphan.write_bytes(b"dumped by a killed run")
    launch = session.cds_launch(dict(CONF))
    with open(launch.dump, "wb") as f:
        f.write(b"archive")
    session.publish_archive(_Exited(0), launch)
    assert sorted(p.name for p in install.cds.iterdir()) == sorted([f"{key}.7.jsa", "conf"])


def test_failed_dump_publishes_nothing(install):
    launch = session.cds_launch(dict(CONF))
    with open(launch.dump, "wb") as f:
        f.write(b"half an archive")
    session.publish_archive(_Exited(1), launch)
    assert [p.name for p in install.cds.iterdir()] == ["conf"]


# ----------------------------------------------- through a real process

QUERY = "select a1, count(*), sum(a2), max(a3) from a group by a1 order by a1"


def _expected(lines: list[str]) -> str:
    con = sqlite3.connect(":memory:")
    con.execute("create table a (a1 text, a2 integer, a3 text)")
    con.executemany("insert into a values (?, ?, ?)", [ln.split() for ln in lines])
    rows = con.execute(QUERY).fetchall()
    con.close()
    return "".join(" ".join(str(v) for v in r) + "\n" for r in rows)


def _jvms_under(path: str) -> list[int]:
    """Live processes whose command line names ``path``."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if path.encode() in f.read():
                    pids.append(int(pid))
        except OSError:
            pass
    return pids


def test_cli_output_is_byte_identical_in_every_cache_state(tmp_path):
    conf_files = os.listdir(os.path.join(_find_spark_home(), "conf"))
    if session._java() is None or any(not n.endswith(".template") for n in conf_files):
        pytest.skip("this JDK or Spark install rules the archive out")
    lines = [f"k{i % 7} {i} w{i * 37 % 101}" for i in range(300)]
    data = tmp_path / "in.txt"
    data.write_text("\n".join(lines) + "\n")
    want = _expected(lines)
    cds = tmp_path / "cache" / "pysqawk" / "cds"
    env = {k: v for k, v in os.environ.items() if k not in SKIP_ENV}
    env.update(
        XDG_CACHE_HOME=str(tmp_path / "cache"),
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
    )

    def run(**extra):
        proc = subprocess.run(
            [sys.executable, "-m", "sqawk_spark.cli", QUERY, str(data)],
            cwd=tmp_path, env={**env, **extra}, capture_output=True,
            text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert proc.stdout == want
        for stream in (proc.stdout, proc.stderr):
            assert "[cds" not in stream
        # no WARN per SQLite function registered over a Spark built-in,
        # no progress bar
        for noise in ("SimpleFunctionRegistry", "[Stage"):
            assert noise not in proc.stderr, proc.stderr[-2000:]

    def archives():
        return sorted(p for p in cds.iterdir() if p.name != "conf")

    run()  # (a) empty cache: this run dumps the archive at exit
    (archive,) = archives()
    assert archive.suffix == ".jsa" and archive.stat().st_size > 10**6
    assert _jvms_under(str(tmp_path)) == []

    run()  # (b) the archive is used
    assert archives() == [archive]

    archive.chmod(0o644)  # (c) junk over the archive's header
    with open(archive, "r+b") as f:
        f.write(os.urandom(65536))
    run()
    assert archives() == [archive]

    conf = tmp_path / "conf"  # (d) a conf dir holding a real file
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("# no settings\n")
    run(SPARK_CONF_DIR=str(conf))
    assert archives() == [archive]
