"""The table build (sources/base.py build_table): one stats aggregation
per loaded table, checked for its job count and, on the inputs where
partition layout matters, byte for byte against stdlib SQLite over the
same rows in sqawk's table layout.

Also pins that the CLI registers its SQLite UDFs once per session, and
the -dbfile read-back (dbfile._register_sqlite_table): an Arrow local
relation with the list path's conversions, a column of mixed storage
classes read as sqlite3 prints it, a spill that keeps SQLite's rowid
order, and prefetched result partitions streamed in order. Last, a
warm run's Spark job budget and its starting partition counts, sized
from the input bytes (cli._size_partitions) and restored after.
"""

from __future__ import annotations

import io
import re
import sqlite3
import uuid

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F
from pyspark.sql.catalog import Catalog
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.udf import UDFRegistration

import sqawk_spark.sources.awk as awk
from sqawk_spark import cli, dbfile
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
    script: str = "",
) -> str:
    """``query`` in SQLite over ``recs`` (the fields of ``lines``) in
    sqawk's layout — ``<t>nr INTEGER PRIMARY KEY, <t>nf, <t>0 TEXT``,
    then the fields, INTEGER unless declared — printed as the awk
    serializer prints rows; ``script`` runs before ``query``."""
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
    con.executescript(script)
    out = _awk_out(con.execute(query))
    con.close()
    return out


def _awk_out(rows) -> str:
    """Rows as the awk serializer prints them."""
    return "".join(" ".join(map(_cell, r)) + "\n" for r in rows)


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


def _sqlite_db(path, decl: str, rows: list[tuple], table: str = "x") -> str:
    con = sqlite3.connect(path)
    con.execute(f"create table {table} ({decl})")
    con.executemany(
        f"insert into {table} values ({','.join('?' * (decl.count(',') + 1))})", rows
    )
    con.commit()
    con.close()
    return str(path)


def _sqlite_out(db: str, query: str) -> str:
    con = sqlite3.connect(db)
    out = _awk_out(con.execute(query))
    con.close()
    return out


def test_dbfile_readback_is_local_relation(spark, tmp_path):
    """A stored table reads back as a LocalRelation: no Python RDD
    under the view, so no query over it starts a Python worker."""
    f = tmp_path / "a.txt"
    f.write_text("".join(f"{i} w{i % 7}\n" for i in range(1, 201)))
    db = str(tmp_path / "t.db")
    assert run(["-dbfile", db, "select count(*) from a", str(f)]) == "200\n"
    assert run(["-dbfile", db, "-noinput", "select sum(a1) from a"]) == "20100\n"
    plan = spark.table("a")._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


_DECL = "i INTEGER, r REAL, t TEXT, n NUMERIC, u"


def test_dbfile_readback_conversions(tmp_path):
    """Every value class SQLite can hand back, in each declared column
    type, prints what the list-based createDataFrame printed; a column
    whose Spark type cannot hold one of its values prints sqlite3's
    values (1.5 in an INTEGER column must not print 1)."""
    db = _sqlite_db(
        tmp_path / "ok.db",
        _DECL,
        [
            (1, 2.5, "a", 5, 7),
            (None, None, None, None, None),
            ("5", 3, 5, "5", "t"),
            (2.0, 1e20, 1.5, 1.5, 2.5),
            (3, -0.0, 12345678.0, "abc", b"ab"),
            (4, 1.0, b"ab", b"cd", 9223372036854775807),
            (5, float("inf"), "é", "1e3", 1e-5),
        ],
    )
    assert run(["-dbfile", db, "-noinput", "select * from x"]) == (
        "1 2.5 a 5 7\n    \n5 3 5 5 t\n2 1e+20 1.5 1.5 2.5\n"
        "3 0 12345678.0 abc b'ab'\n4 1 b'ab' b'cd' 9223372036854775807\n"
        "5 inf é 1000 1e-05\n"
    )
    q = "select typeof(t), typeof(n), typeof(u), t || '', n || '' from x"
    assert run(["-dbfile", db, "-noinput", q]) == (
        "text integer integer a 5\nnull null null  \ninteger integer text 5 5\n"
        "real real real 1.5 1.5\nreal text text 12345678.0 abc\n"
        "text text integer b'ab' b'cd'\ntext integer real é 1000\n"
    )
    # a declared type is only an affinity: SQLite keeps a value of
    # another class, and the column reads back as sqlite3 prints it
    for name, row, col in [
        ("int_real", (1.5, 1.0, "a", 1, 1), "i"),
        ("int_text", ("abc", 1.0, "a", 1, 1), "i"),
        ("int_blob", (b"ab", 1.0, "a", 1, 1), "i"),
        ("real_text", (1, "abc", "a", 1, 1), "r"),
        ("real_blob", (1, b"x", "a", 1, 1), "r"),
    ]:
        bad = _sqlite_db(tmp_path / f"{name}.db", _DECL, [row])
        q = f"select {col}, t from x"
        assert run(["-dbfile", bad, "-noinput", q]) == _sqlite_out(bad, q), name


def test_dbfile_mixed_class_column_vs_sqlite(tmp_path):
    """An INTEGER or REAL column holding values of other storage
    classes compares, sorts, sums and types by each value's own class,
    as in SQLite (numbers before text)."""
    db = _sqlite_db(
        tmp_path / "m.db",
        "i INTEGER, r REAL",
        [(3, 2.5), ("abc", "x"), (1.5, 7), (None, None), (-2, -1.25), (10, "10z"), ("9e", 0.5)],
    )
    for q in [
        "select i, r from x",
        "select i from x order by i",
        "select r from x order by r desc",
        "select typeof(i), typeof(r) from x",
        "select i from x where i > 2",
        "select r from x where r < 'a'",
        "select sum(i), total(r), max(i), min(r), count(i) from x",
        "select i + 1, r * 2 from x",
    ]:
        assert run(["-dbfile", db, "-noinput", q]) == _sqlite_out(db, q), q


def test_dbfile_spilled_readback_keeps_rowid_order(tmp_path, monkeypatch):
    """A table past one fetch batch spills to parquet; the view still
    scans in rowid order. Rows grow with the rowid, so per-batch part
    files would differ in size and be read largest first."""
    monkeypatch.setattr(dbfile, "_READBACK_BATCH", 100)
    rows = [(i, 2, f"{i} {'x' * (i // 50)}", i, "x" * (i // 50)) for i in range(1, 1001)]
    db = _sqlite_db(
        tmp_path / "t.db",
        "anr INTEGER PRIMARY KEY, anf INTEGER, a0 TEXT, a1 INTEGER, a2 TEXT",
        rows,
        table="a",
    )
    for q in ["select anr, a1 from a", "select anr from a limit 3", "select a0 from a where anr % 97 = 0"]:
        assert run(["-dbfile", db, "-noinput", q]) == _sqlite_out(db, q), q


def test_spilled_readback_mixed_class_column(tmp_path, monkeypatch):
    """A value of another storage class found in a later spilled batch
    starts the read-back over with its column as text, so the rows
    already spilled print as sqlite3 prints them too."""
    monkeypatch.setattr(dbfile, "_READBACK_BATCH", 100)
    rows = [(i, "abc" if i == 250 else i * 7 % 40, f"w{i}") for i in range(1, 301)]
    db = _sqlite_db(tmp_path / "t.db", "k INTEGER, i INTEGER, t TEXT", rows)
    for q in ["select k, i from x where i > 35 or k > 248", "select k from x order by i desc, k limit 5"]:
        assert run(["-dbfile", db, "-noinput", q]) == _sqlite_out(db, q), q


def test_prefetched_order_by_streams_in_order(spark, tmp_path, monkeypatch):
    """An ORDER BY over several result partitions, drained with
    prefetch, prints SQLite's order byte for byte."""
    seen: list[tuple[int, dict]] = []
    orig = DataFrame.toLocalIterator

    def to_local_iterator(df, *args, **kwargs):
        seen.append((df.rdd.getNumPartitions(), kwargs))
        return orig(df, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "toLocalIterator", to_local_iterator)
    lines = [f"{i} w{(i * 7919) % 613} {i % 3}" for i in range(1, 2001)]
    f = tmp_path / "a.txt"
    f.write_text("\n".join(lines) + "\n")
    db = str(tmp_path / "t.db")
    assert run(["-dbfile", db, "select count(*) from a", str(f)]) == "2000\n"
    q = "select anr, a2, a3 from a order by a2 desc, a3, anr"
    # cli.run's get_session re-applies the builder's settings, so the
    # sort's partition settings go in after it
    conf = {
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in conf}
    orig_get = cli.get_session

    def get_session(*args, **kwargs):
        s = orig_get(*args, **kwargs)
        for k, v in conf.items():
            s.conf.set(k, v)
        return s

    monkeypatch.setattr(cli, "get_session", get_session)
    try:
        seen.clear()
        got = run(["-dbfile", db, "-noinput", q])
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert got == sqlite_awk(q, lines, [ln.split(" ") for ln in lines])
    parts, kwargs = seen[-1]
    assert parts >= 3 and kwargs.get("prefetchPartitions") is True, seen


def _run_counting_jobs(spark, argv: list[str]) -> tuple[str, int]:
    """(output, Spark jobs) of one ``cli.run`` under its own job group."""
    sc = spark.sparkContext
    group = f"run-{uuid.uuid4()}"
    props = ("spark.jobGroup.id", "spark.job.description")
    prev = [sc.getLocalProperty(p) for p in props]
    sc.setJobGroup(group, "cli.run")
    try:
        out = run(argv)
    finally:
        for p, v in zip(props, prev):
            sc.setLocalProperty(p, v)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_run_job_budget(spark, tmp_path, monkeypatch):
    """A warm run over small inputs lists no catalog (two jobs per
    listing) and samples no range partitioner: its shuffles start at
    one partition, so an ORDER BY's exchange samples nothing and the
    stage under it runs once, and a -dbfile read-back mutated by DML
    is written back without a job. The group-by's REAL sums print
    through the JVM ``py_real_repr``, so its plan evaluates no
    Python."""
    listed: list[tuple] = []
    orig = Catalog.listTables

    def list_tables(self, *args, **kwargs):
        listed.append(args)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(Catalog, "listTables", list_tables)
    frames: list[DataFrame] = []
    orig_statement = cli._run_statement_with

    def run_statement_with(*args, **kwargs):
        frames.append(orig_statement(*args, **kwargs))
        return frames[-1]

    monkeypatch.setattr(cli, "_run_statement_with", run_statement_with)
    texts, reals = ["x", "ab", "Q"], ["0.5", "1.25", "-2.25", "3"]
    mixed_lines = [
        f"{texts[i % 3] if i % 11 == 0 else i * 7 % 500},{reals[i % 4]},g{i % 12}"
        for i in range(1, 401)
    ]
    mixed = tmp_path / "mixed.txt"
    mixed.write_text("\n".join(mixed_lines) + "\n")
    cities = ["Oslo", "Lima", "Pune", "Kyiv"]
    csv_lines = [f"{i},w{i % 37},{cities[i % 4]},{i * 13 % 101}" for i in range(1, 401)]
    people = tmp_path / "people.csv"
    people.write_text("id,name,city,score\n" + "".join(ln + "\n" for ln in csv_lines))
    mutate = (
        "update a set score = score + 5 where city = 'Oslo'; delete from a where score < 20"
    )
    q_mixed = (
        "select a3, count(*) n, sum(a1) s1, sum(a2) s2, max(a2) hi from a "
        "group by a3 order by a3"
    )
    q_dml = (
        "select id, name, city, score from a where score >= 90 and city <> 'Lima' "
        "order by score desc, id"
    )
    q_read = (
        "select city, count(*) n, sum(score) s, min(id) lo, max(name) hi "
        "from a group by city order by city"
    )

    def dml_argv(db):
        return ["-dbfile", str(db), f"{mutate}; {q_dml}", "format=csv", "header=1", str(people)]

    groupby = ["-FS", ",", q_mixed, "datatypes=integer,real,text", str(mixed)]
    read = ["-dbfile", str(tmp_path / "2.db"), "-noinput", q_read]
    # the first run of each shape warms it; the second one counts
    run(groupby)
    out_groupby, jobs_groupby = _run_counting_jobs(spark, groupby)
    groupby_plan = frames[-1]._jdf.queryExecution().executedPlan().toString()
    run(dml_argv(tmp_path / "1.db"))
    out_dml, jobs_dml = _run_counting_jobs(spark, dml_argv(tmp_path / "2.db"))
    run(read)
    out_read, jobs_read = _run_counting_jobs(spark, read)

    assert out_groupby == sqlite_awk(
        q_mixed, mixed_lines, [ln.split(",") for ln in mixed_lines],
        decls=["integer", "real", "text"],
    )
    assert out_dml == sqlite_awk(
        q_dml, csv_lines, [ln.split(",") for ln in csv_lines],
        names=["id", "name", "city", "score"], script=mutate,
    )
    assert out_read == _sqlite_out(str(tmp_path / "2.db"), q_read)
    assert listed == []
    assert "Aggregate" in groupby_plan and "py_real_repr(" in groupby_plan, groupby_plan
    for node in ("BatchEvalPython", "ArrowEvalPython"):
        assert node not in groupby_plan, groupby_plan
    # with catalog listings and 2-partition starts: 8, 13 and 6 jobs
    jobs = (jobs_groupby, jobs_dml, jobs_read)
    assert all(n <= limit for n, limit in zip(jobs, (5, 7, 3))), jobs


_SIZED = (cli._INITIAL_PARTITIONS,)
# a file scan's split size and a local relation's partitions follow
# this one; the run leaves it alone
_LEAF = "spark.sql.leafNodeDefaultParallelism"


def test_sized_settings_restored(spark, tmp_path):
    """The starting-partition setting reads as before the run after a
    run that succeeds and after one that raises."""
    f = tmp_path / "a.txt"
    f.write_text("1 x\n2 y\n")
    for before in ({k: None for k in _SIZED}, {k: "3" for k in _SIZED}):
        for k, v in before.items():
            if v is not None:
                spark.conf.set(k, v)
        try:
            assert run(["select a2 from a order by a1 desc", str(f)]) == "y\nx\n"
            assert {k: spark.conf.get(k, None) for k in _SIZED} == before
            with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND"):
                run(["select * from nosuch", str(f)])
            assert {k: spark.conf.get(k, None) for k in _SIZED} == before
        finally:
            for k in _SIZED:
                spark.conf.unset(k)


@pytest.mark.parametrize("advisory, want", [(None, "1"), ("1k", "8")])
def test_starting_partitions_follow_input_bytes(spark, tmp_path, monkeypatch, advisory, want):
    """A run starts at ⌈input bytes ÷ advisory partition size⌉
    partitions, clamped to [1, shuffle.partitions]: one for a small
    input, more once the input spans several advisory sizes; the
    output is sqlite3's either way."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    seen: list[dict] = []
    orig = TableLoader.finalize

    def finalize(self):
        seen.append({k: spark.conf.get(k, None) for k in (*_SIZED, _LEAF)})
        return orig(self)

    monkeypatch.setattr(TableLoader, "finalize", finalize)
    lines = [f"{i} w{(i * 7919) % 613} {i % 3}" for i in range(1, 2001)]
    f = tmp_path / "a.txt"
    f.write_text("\n".join(lines) + "\n")
    q = "select a3, count(*), min(a2), max(anr) from a group by a3 order by 3 desc, a3"
    conf = {"spark.sql.shuffle.partitions": "8", **({key: advisory} if advisory else {})}
    old = {k: spark.conf.get(k, None) for k in conf}
    orig_get = cli.get_session

    def get_session(*args, **kwargs):
        s = orig_get(*args, **kwargs)
        for k, v in conf.items():
            s.conf.set(k, v)
        return s

    monkeypatch.setattr(cli, "get_session", get_session)
    try:
        got = run([q, str(f)])
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert seen == [{**{k: want for k in _SIZED}, _LEAF: None}]
    assert got == sqlite_awk(q, lines, [ln.split(" ") for ln in lines])
