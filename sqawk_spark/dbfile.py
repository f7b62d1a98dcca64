"""-dbfile: durable tables (reference README.md:146-150).

The reference opens an on-disk SQLite database instead of :memory:,
which makes loaded tables persist across runs and lets them exceed
RAM. Two formats here, chosen by the path:

- a ``.db`` / ``.sqlite`` / ``.sqlite3`` path (or an existing regular
  file) is a REAL SQLite database — byte-level reference fidelity:
  the same CREATE TABLE layout (``<p>nr INTEGER PRIMARY KEY``,
  initial columns in the create statement, expanded columns via
  ALTER, so even ``.dump`` output matches tests.tcl:1398-1474's
  expectations), the same append-with-continuing-record-numbers
  semantics. Rows stream driver-side through ``toLocalIterator`` in
  batches, with the next partition computing while the driver writes
  the current one — bounded memory, but inherently single-writer:
  this is the CLI-fidelity format. Stored tables are read back as
  Arrow local relations (no Python worker runs for a query over
  them); one larger than a fetch batch spills to a single parquet
  file, one row group per batch, so it keeps SQLite's rowid order.
- anything else is a DIRECTORY OF PARQUET tables — durability and
  larger-than-memory via the storage layer Spark scales on; the
  format to use at 100 TB.

`CREATE TABLE IF NOT EXISTS` append semantics carry over to both:
loading into an existing table appends with record numbers continuing
after the current maximum (lib/classes/table.tcl:69).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

_SQLITE_EXTS = (".db", ".sqlite", ".sqlite3")

_TO_SQLITE = {"bigint": "INTEGER", "int": "INTEGER", "double": "REAL"}
_FROM_SQLITE = {"INTEGER": LongType(), "REAL": DoubleType()}


def _is_sqlite_path(path: str) -> bool:
    if os.path.isdir(path):
        return False
    if os.path.isfile(path):
        return True
    return os.path.splitext(path)[1].lower() in _SQLITE_EXTS


def _nr_column(df: DataFrame) -> str:
    """The record-number column is the first one, `<prefix>nr`."""
    return df.columns[0]


def persist_and_register(
    spark: SparkSession,
    dbdir: str,
    loaded: dict[str, DataFrame],
    nf_by_table: dict[str, int] | None = None,
    classes: dict[str, str] | None = None,
) -> dict[str, list[str]]:
    """Persist the loaded tables and register every stored table as a
    temp view; returns ``{view: columns}`` of the views registered.
    A SQLite column read back as text because its values mix storage
    classes is recorded in ``classes`` as 'dynamic' (affinity.py)."""
    if _is_sqlite_path(dbdir):
        if classes is None:
            classes = {}
        return _persist_sqlite(spark, dbdir, loaded, nf_by_table or {}, classes)
    os.makedirs(dbdir, exist_ok=True)
    views: dict[str, list[str]] = {}

    def register(name: str, path: str) -> None:
        df = spark.read.parquet(path)
        df.createOrReplaceTempView(name)
        views[name] = df.columns

    for name, df in loaded.items():
        path = os.path.join(dbdir, name)
        nr = _nr_column(df)
        if os.path.isdir(path):
            existing = spark.read.parquet(path)
            offset = existing.agg(
                F.max(F.col(_nr_column(existing))).alias("m")
            ).first()["m"] or 0
            shifted = df.withColumn(nr, F.col(nr) + F.lit(offset))
            shifted.write.mode("append").parquet(path)
        else:
            df.write.mode("overwrite").parquet(path)
        # re-read so queries in this run see the durable table
        register(name, path)

    # tables from previous runs become queryable too
    for entry in os.listdir(dbdir):
        path = os.path.join(dbdir, entry)
        if entry not in loaded and os.path.isdir(path):
            register(entry, path)
    return views


def persist_mutations(
    spark: SparkSession, dbdir: str, names: list[str]
) -> None:
    """Write the final state of DML-mutated views back to the store.

    The reference evals scripts directly against the on-disk SQLite
    database, so INSERT/UPDATE/DELETE/CREATE/DROP persist naturally;
    here the statement loop mutates temp views, and this runs after it
    (ADVICE r03 medium: persist_and_register only snapshots load-time
    state). A view that no longer exists in the catalog was dropped —
    the stored table is removed.
    """
    # catalog.tableExists runs no Spark job; catalog.listTables runs two
    live = {n for n in names if spark.catalog.tableExists(n)}
    if _is_sqlite_path(dbdir):
        _persist_mutations_sqlite(spark, dbdir, names, live)
        return
    import shutil

    for name in dict.fromkeys(names):
        path = os.path.join(dbdir, name)
        if name not in live:
            if os.path.isdir(path):
                shutil.rmtree(path)
            continue
        # the view's plan reads from the same parquet dir it must now
        # overwrite — localCheckpoint materializes the rows first so
        # the write doesn't race its own input
        df = spark.table(name).localCheckpoint(eager=True)
        df.write.mode("overwrite").parquet(path)
        spark.read.parquet(path).createOrReplaceTempView(name)


def _persist_mutations_sqlite(
    spark: SparkSession, path: str, names: list[str], live: set[str]
) -> None:
    """DELETE-and-reinsert keeps each table's original CREATE layout
    (the .dump-fidelity property the load path establishes); only
    DML-created tables get a fresh CREATE from the view's dtypes."""
    import sqlite3

    con = sqlite3.connect(path)
    try:
        for name in dict.fromkeys(names):
            if name not in live:
                con.execute(f"DROP TABLE IF EXISTS {name}")
                continue
            df = spark.table(name)
            dtypes = dict(df.dtypes)
            exists = con.execute(
                "SELECT 1 FROM sqlite_master WHERE type='table' AND name=?",
                (name,),
            ).fetchone()
            if exists:
                have = {
                    r[1] for r in con.execute(f"PRAGMA table_info({name})")
                }
                for c in df.columns:
                    if c not in have:
                        con.execute(
                            f"ALTER TABLE {name} ADD COLUMN {c} "
                            f"{_TO_SQLITE.get(dtypes[c], 'TEXT')}"
                        )
                con.execute(f"DELETE FROM {name}")
            else:
                cols = ", ".join(
                    f"{c} {_TO_SQLITE.get(dtypes[c], 'TEXT')}"
                    for c in df.columns
                )
                con.execute(f"CREATE TABLE {name} ({cols})")
            ins = (
                f"INSERT INTO {name} ({', '.join(df.columns)}) "
                f"VALUES ({','.join('?' * len(df.columns))})"
            )
            # a view Spark folds into a local relation (DML over a
            # read-back that fit one batch) holds its rows driver-side
            # already: collect() hands them over without a Spark job,
            # where toLocalIterator runs one per partition
            local = (
                df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
                == "LocalRelation"
            )
            batch: list[list] = []
            for row in df.collect() if local else df.toLocalIterator(
                prefetchPartitions=True
            ):
                batch.append(list(row))
                if len(batch) >= 10_000:
                    con.executemany(ins, batch)
                    batch = []
            if batch:
                con.executemany(ins, batch)
        con.commit()
    finally:
        con.close()


def _persist_sqlite(
    spark: SparkSession,
    path: str,
    loaded: dict[str, DataFrame],
    nf_by_table: dict[str, int],
    classes: dict[str, str],
) -> dict[str, list[str]]:
    """Reference-fidelity SQLite persistence (tests.tcl dbfile-*)."""
    import sqlite3

    con = sqlite3.connect(path)
    try:
        for name, df in loaded.items():
            cols = df.columns
            dtypes = dict(df.dtypes)
            prefix = cols[0][: -len("nr")]
            exists = con.execute(
                "SELECT 1 FROM sqlite_master WHERE type='table' AND name=?",
                (name,),
            ).fetchone()
            if not exists:
                nf = nf_by_table.get(name, len(cols) - 3)
                initial, expanded = [], []
                for c in cols[2:]:
                    suffix = c[len(prefix) :]
                    target = (
                        initial
                        if suffix.isdigit() and int(suffix) <= nf
                        else expanded
                    )
                    target.append(f"{c} {_TO_SQLITE.get(dtypes[c], 'TEXT')}")
                # the reference's exact create layout (table.tcl:69-75);
                # expanded columns ALTER in afterwards, so .dump shows
                # them inline just like the reference's MNF-expand path
                head = [
                    f"{prefix}nr INTEGER PRIMARY KEY",
                    f"{prefix}nf INTEGER",
                ]
                con.execute(
                    f"CREATE TABLE IF NOT EXISTS {name} (\n    "
                    + ",\n    ".join(head + initial)
                    + ")"
                )
                for coldef in expanded:
                    con.execute(f"ALTER TABLE {name} ADD COLUMN {coldef}")
            else:
                have = {
                    r[1] for r in con.execute(f"PRAGMA table_info({name})")
                }
                for c in cols:
                    if c not in have:
                        con.execute(
                            f"ALTER TABLE {name} ADD COLUMN {c} "
                            f"{_TO_SQLITE.get(dtypes[c], 'TEXT')}"
                        )
            offset = (
                con.execute(f"SELECT max({prefix}nr) FROM {name}").fetchone()[0]
                or 0
            )
            ins = (
                f"INSERT INTO {name} ({', '.join(cols)}) "
                f"VALUES ({','.join('?' * len(cols))})"
            )
            # stream in batches: O(batch) driver memory at any table size
            batch: list[list] = []
            for row in df.toLocalIterator(prefetchPartitions=True):
                vals = list(row)
                vals[0] += offset
                batch.append(vals)
                if len(batch) >= 10_000:
                    con.executemany(ins, batch)
                    batch = []
            if batch:
                con.executemany(ins, batch)
            con.commit()

        # every table in the file becomes queryable this run (including
        # ones from previous runs — dbfile-2.1's -noinput flow)
        names = [
            r[0]
            for r in con.execute(
                "SELECT name FROM sqlite_master WHERE type='table'"
            )
        ]
        views: dict[str, list[str]] = {}
        for name in names:
            info = con.execute(f"PRAGMA table_info({name})").fetchall()
            schema = StructType(
                [
                    StructField(
                        r[1], _FROM_SQLITE.get((r[2] or "").upper(), StringType())
                    )
                    for r in info
                ]
            )
            for c in _register_sqlite_table(spark, con, name, schema):
                classes[c.lower()] = "dynamic"
            views[name] = [r[1] for r in info]
        return views
    finally:
        con.close()


_READBACK_BATCH = 50_000

# Parquet spill dirs created by large -dbfile read-backs. The
# registered temp views read from them for the rest of the session, so
# they cannot be deleted eagerly — the CLI teardown calls
# clear_spill_dirs() once the run's views are dropped (repeated large
# runs would otherwise leak unbounded /tmp disk).
_SPILL_DIRS: list[str] = []


def clear_spill_dirs() -> None:
    import shutil

    while _SPILL_DIRS:
        d = _SPILL_DIRS.pop()
        shutil.rmtree(d, ignore_errors=True)


class _MixedClass(Exception):
    """A read-back batch holds, in a column declared INTEGER or REAL,
    values of another storage class."""

    def __init__(self, columns: set[str]):
        super().__init__(", ".join(sorted(columns)))
        self.columns = columns


# the one Python type sqlite3 gives each value of a numeric field
_PY_TYPE = {LongType: int, DoubleType: float}


def _arrow_batch(rows: list[tuple], schema: StructType):
    """One fetchmany batch as a ``pyarrow.Table`` of ``schema``. A
    string column holds ``str(v)`` of a non-text value (``5`` →
    ``'5'``, ``1.5`` → ``'1.5'``, ``b'ab'`` → ``"b'ab'"``), as sqlite3
    prints it. A LongType (DoubleType) column holding anything but
    Python ints (floats) raises ``_MixedClass``: Arrow's int64
    conversion alone would truncate 1.5 to 1."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays, mixed = [], set()
    for field, type_, col in zip(schema.fields, arrow_schema.types, columns):
        want = _PY_TYPE.get(type(field.dataType))
        if want is None:
            col = [v if v is None or isinstance(v, str) else str(v) for v in col]
        elif any(v is not None and type(v) is not want for v in col):
            mixed.add(field.name)
            continue
        arrays.append(pa.array(col, type=type_))
    if mixed:
        raise _MixedClass(mixed)
    return pa.Table.from_arrays(arrays, schema=arrow_schema)


def _register_sqlite_table(spark, con, name: str, schema: StructType) -> set[str]:
    """Register an existing SQLite table as a temp view with bounded
    driver memory; returns the columns read back as text. A declared
    INTEGER or REAL type is only an affinity, so SQLite keeps 'abc'
    or 1.5 under INTEGER and text under REAL: a batch holding such a
    value starts the read over with that column as text, each value
    as sqlite3 prints it (the caller classes it dynamic)."""
    mixed: set[str] = set()
    while True:
        typed = StructType(
            [
                StructField(f.name, StringType()) if f.name in mixed else f
                for f in schema.fields
            ]
        )
        try:
            _read_back(spark, con, name, typed)
            return mixed
        except _MixedClass as e:
            mixed |= e.columns


def _read_back(spark, con, name: str, schema: StructType) -> None:
    """Table ``name`` as a temp view of ``schema``. A table that fits
    one fetchmany batch (the CLI norm) becomes one Arrow local
    relation: no Python RDD, so no query over the view starts a
    Python worker, and Catalyst folds projections and filters into
    the relation (so ``_persist_mutations_sqlite`` writes DML over it
    back without a Spark job). A larger table spills to one parquet
    file written driver-side, one row group per batch, so the driver
    never holds more than one batch and the view scans the rows in
    SQLite's rowid order (Spark orders the splits of several part
    files by size, not by name)."""
    cur = con.execute(f"SELECT * FROM {name}")
    first = cur.fetchmany(_READBACK_BATCH)
    rest = cur.fetchmany(_READBACK_BATCH)
    if not rest:
        spark.createDataFrame(
            _arrow_batch(first, schema), schema
        ).createOrReplaceTempView(name)
        return
    import itertools
    import shutil
    import tempfile

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    spill = tempfile.mkdtemp(prefix=f"sqawk_dbfile_{name}_")
    _SPILL_DIRS.append(spill)
    batches = itertools.chain(
        (first, rest), iter(lambda: cur.fetchmany(_READBACK_BATCH), [])
    )
    path = os.path.join(spill, "rows.parquet")
    try:
        with pq.ParquetWriter(path, to_arrow_schema(schema)) as writer:
            for batch in batches:
                writer.write_table(_arrow_batch(batch, schema))
    except _MixedClass:
        _SPILL_DIRS.remove(spill)
        shutil.rmtree(spill, ignore_errors=True)
        raise
    spark.read.parquet(spill).createOrReplaceTempView(name)
