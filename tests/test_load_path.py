"""The table build (sources/base.py build_table): one stats aggregation
per loaded table, checked for its job count and, on the inputs where
partition layout matters, byte for byte against stdlib SQLite over the
same rows in sqawk's table layout.

Also pins that the CLI registers its SQLite UDFs once per session.
"""

from __future__ import annotations

import io
import re
import sqlite3
import uuid

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F
from pyspark.sql.udf import UDFRegistration

import sqawk_spark.sources.awk as awk
from sqawk_spark import cli
from sqawk_spark.sources.base import FileSpec, TableLoader, build_table


def run(argv: list[str]) -> str:
    buf = io.StringIO()
    assert cli.run(argv, out=buf) == 0
    return buf.getvalue()


def _cell(v) -> str:
    if v is None:
        return ""
    if isinstance(v, float):
        return repr(v)
    return str(v)


def sqlite_awk(
    query: str,
    lines: list[str],
    recs: list[list[str]],
    table: str = "a",
    names: list[str] | None = None,
    decls: list[str] | None = None,
    nf: int = 10,
) -> str:
    """``query`` in SQLite over ``recs`` (the fields of ``lines``) in
    sqawk's layout — ``<t>nr INTEGER PRIMARY KEY, <t>nf, <t>0 TEXT``,
    then the fields, INTEGER unless declared — printed as the awk
    serializer prints rows."""
    width = max([nf, *map(len, recs)])
    names = list(names or [])[:width]
    names += [f"{table}{i + 1}" for i in range(len(names), width)]
    decls = [(decls or [])[i] if i < len(decls or []) else "integer" for i in range(width)]
    con = sqlite3.connect(":memory:")
    con.execute(
        f"create table {table} ({table}nr INTEGER PRIMARY KEY, {table}nf INTEGER, "
        f"{table}0 TEXT, " + ", ".join(f'"{n}" {d}' for n, d in zip(names, decls)) + ")"
    )
    con.executemany(
        f"insert into {table} values ({','.join('?' * (width + 3))})",
        (
            [nr, len(r), line, *r, *([None] * (width - len(r)))]
            for nr, (line, r) in enumerate(zip(lines, recs), 1)
        ),
    )
    out = "".join(" ".join(map(_cell, r)) + "\n" for r in con.execute(query))
    con.close()
    return out


@pytest.fixture
def finalize_jobs(spark, monkeypatch):
    """Per TableLoader.finalize call: (Spark jobs it submitted, tables)."""
    sc = spark.sparkContext
    orig = TableLoader.finalize
    seen: list[tuple[int, int]] = []

    def finalize(self):
        group = f"finalize-{uuid.uuid4()}"
        props = ("spark.jobGroup.id", "spark.job.description")
        prev = [sc.getLocalProperty(p) for p in props]
        sc.setJobGroup(group, "TableLoader.finalize")
        try:
            return orig(self)
        finally:
            for p, v in zip(props, prev):
                sc.setLocalProperty(p, v)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            seen.append((len(jobs), len(self.tables)))

    monkeypatch.setattr(TableLoader, "finalize", finalize)
    return seen


@pytest.fixture
def small_splits(spark):
    """Text files split into many partitions."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "2048")
    yield
    spark.conf.set(key, old)


def _mixed_lines(n: int) -> list[str]:
    words = ["x", "7", "-3", "0012", "2.5", "abc", "1e3"]
    return [f"{i} {words[i % 7]} {i / 4} {i % 5}" for i in range(1, n + 1)]


def test_finalize_one_stats_job_per_table(spark, tmp_path, finalize_jobs, small_splits):
    lines = _mixed_lines(600)
    f = tmp_path / "a.txt"
    f.write_text("\n".join(lines) + "\n")
    assert spark.read.text(str(f)).rdd.getNumPartitions() > 1
    c = tmp_path / "c.csv"
    c.write_text("id,name,score\n" + "".join(f"{i},n{i % 9},{i * 3}\n" for i in range(400)))
    q = "select anr, anf, a1, a2, a3, a4 from a where anr % 37 = 1 or anr > 590"
    recs = [ln.split(" ") for ln in lines]
    assert run([q, str(f)]) == sqlite_awk(q, lines, recs)
    q2 = "select count(*), sum(id), max(anr), min(name) from a where score > 30"
    csv_lines = c.read_text().splitlines()
    assert run([q2, "format=csv", "header=1", str(c)]) == sqlite_awk(
        q2, csv_lines[1:], [ln.split(",") for ln in csv_lines[1:]], names=["id", "name", "score"]
    )
    q3 = "select anr, anf, a1, a2 from a where anr < 4 or anr > 597"
    assert run(["-MNF", "crop", "-NF", "2", q3, str(f)]) == sqlite_awk(
        q3, lines, [r[:2] for r in recs], nf=2
    )
    q4 = "select count(*), sum(a1), sum(a4) from a"
    assert run(["-MNF", "error", "-NF", "4", q4, str(f)]) == sqlite_awk(q4, lines, recs, nf=4)
    # each table costs one aggregation
    assert len(finalize_jobs) == 4
    assert all(jobs <= 2 * tables for jobs, tables in finalize_jobs), finalize_jobs


def test_mnf_error_raises_past_nf(tmp_path):
    f = tmp_path / "a.txt"
    f.write_text("1 2\n3 4 5\n")
    with pytest.raises(ValueError, match="no column named a3"):
        run(["-MNF", "error", "-NF", "2", "select * from a", str(f)])


def test_header_in_a_later_partition_vs_sqlite(spark):
    """The header is the first row of the first NON-EMPTY partition:
    here partition 0 holds no row, and the header sits in partition 1."""
    ids = spark.range(0, 40, numPartitions=8).where("id >= 7")
    records = ids.select(
        F.format_string("%d v%d", "id", "id").alias("a0"),
        F.array(F.col("id").cast("string"), F.format_string("v%d", "id")).alias("fields"),
    )
    spec = FileSpec(filename="", table="a", header=True)
    out = build_table(spark, records, spec, "a", {})
    assert out.columns[:5] == ["anr", "anf", "a0", "7", "v7"]
    got = "".join(
        " ".join(map(_cell, r)) + "\n" for r in out.select("anr", "`7`", "v7").orderBy("anr").collect()
    )
    lines = [f"{i} v{i}" for i in range(8, 40)]
    want = sqlite_awk(
        'select anr, "7", "v7" from a order by anr',
        lines,
        [ln.split(" ") for ln in lines],
        names=["7", "v7"],
    )
    assert got == want


def test_two_file_table_with_empty_first_file_vs_sqlite(tmp_path):
    empty = tmp_path / "empty.csv"
    empty.write_text("")
    f2 = tmp_path / "b.csv"
    f2.write_text("k,v\n1,10\n2,x\n3,30\n")
    q = "select * from t"
    out = run([q, "table=t", "format=csv", "header=1", str(empty),
               "table=t", "format=csv", "header=1", str(f2)])
    lines = f2.read_text().splitlines()[1:]
    assert out == sqlite_awk(q, lines, [ln.split(",") for ln in lines], table="t", names=["k", "v"])


def test_regex_rs_chunks_vs_sqlite(tmp_path, monkeypatch):
    monkeypatch.setattr(awk, "RS_CHUNK_BYTES", 256)
    monkeypatch.setattr(awk, "RS_OVERLAP_BYTES", 64)
    text = "".join(f"{i} v{i % 4} {i * 7}" + ";;" for i in range(300))
    f = tmp_path / "r.txt"
    f.write_text(text)
    lines = re.split("[;]+", text)[:-1]
    q = "select anr, a1, a2, a3 from a where anr % 29 = 3 or anr > 296"
    assert run(["-RS", "[;]+", q, str(f)]) == sqlite_awk(
        q, lines, [ln.split(" ") for ln in lines]
    )


def test_expand_record_wider_than_nf_vs_sqlite(tmp_path, finalize_jobs):
    lines = ["1 2", "3 4 5", "6 7 8 9 x", "10 11 12 13 14 15", "16"]
    f = tmp_path / "w.txt"
    f.write_text("\n".join(lines) + "\n")
    q = "select * from a order by a4 desc, anr"
    recs = [ln.split(" ") for ln in lines]
    assert run(["-NF", "3", q, str(f)]) == sqlite_awk(q, lines, recs, nf=3)
    q2 = "select typeof(a4), typeof(a5), a4 + a6 from a order by anr"
    assert run(["-NF", "3", q2, str(f)]) == sqlite_awk(q2, lines, recs, nf=3)
    # the columns past NF cost one more aggregation, no more
    assert all(jobs <= 4 for jobs, _ in finalize_jobs), finalize_jobs


def test_udfs_register_once_per_session(tmp_path, monkeypatch):
    f = tmp_path / "a.txt"
    f.write_text("1 2\n")
    names: list[str] = []
    orig = UDFRegistration.register

    def register(self, name, *args, **kwargs):
        names.append(name)
        return orig(self, name, *args, **kwargs)

    monkeypatch.setattr(UDFRegistration, "register", register)
    assert run(["select a1 + a2 from a", str(f)]) == "3\n"
    names.clear()
    assert run(["select total(a1) from a", str(f)]) == "1.0\n"
    assert names == []
    # a new SparkContext under the same session object registers again
    monkeypatch.setattr(SparkContext, "applicationId", property(lambda sc: "app-new"))
    assert run(["select total(a2) from a", str(f)]) == "2.0\n"
    assert "total" in names
