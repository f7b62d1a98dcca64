"""DML/DDL statements against the loaded temp views (SURVEY.md §2.B27).

The reference evals scripts verbatim against its in-memory SQLite
database (lib/classes/sqawk.tcl:216), so INSERT/UPDATE/DELETE/CREATE/
DROP are reachable surface even though no reference test exercises
them. Spark temp views are immutable, but ``createOrReplaceTempView``
captures the DataFrame's *analyzed* plan — re-registering a view in
terms of its own previous contents is safe (no recursive-view cycle)
— so each DML statement becomes: derive a new DataFrame from the
current view, re-register under the same name.

Semantics follow SQLite:

- ``INSERT INTO t [(cols)] VALUES ... | SELECT ...`` appends rows;
  values are cast to the target column types by position, unnamed
  columns become NULL, wrong arity is an error.
- ``UPDATE t SET c = e, ... [WHERE p]`` maps every column through
  ``CASE WHEN p THEN e ELSE c END`` — one scan, no shuffle.
- ``DELETE FROM t [WHERE p]`` keeps rows where p IS NOT TRUE (NULL
  predicate rows survive, exactly SQLite's rule).
- ``CREATE TABLE|VIEW t AS SELECT ...`` registers a new view;
  ``CREATE TABLE t (a, b TEXT, n INTEGER)`` registers an empty one
  with SQLite affinities mapped to Spark types.
- ``DROP TABLE|VIEW [IF EXISTS] t`` unregisters (error when missing
  without IF EXISTS, like SQLite).

All rewrites are quote-aware and operate on token boundaries; the
statement text inside (VALUES/SELECT/WHERE/SET expressions) passes
through the same dialect rewriter as queries. DML produces no output
rows (the CLI serializes nothing for them), matching sqawk feeding
the statement to SQLite.

Scale note: each statement is one narrow transformation appended to
the view's plan — nothing materializes, nothing collects. A long DML
script grows the lineage; that is the honest Spark translation of
mutating an in-memory database (and `-dbfile` persists the final
state when asked).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqawk_spark import sqllex

_INSERT_RE = re.compile(
    r"^\s*insert\s+into\s+([A-Za-z_][A-Za-z_0-9]*)\s*", re.IGNORECASE
)
_UPDATE_RE = re.compile(
    r"^\s*update\s+([A-Za-z_][A-Za-z_0-9]*)\s+set\s+", re.IGNORECASE
)
_DELETE_RE = re.compile(
    r"^\s*delete\s+from\s+([A-Za-z_][A-Za-z_0-9]*)\s*", re.IGNORECASE
)
_CREATE_AS_RE = re.compile(
    r"^\s*create\s+(?:table|view)\s+([A-Za-z_][A-Za-z_0-9]*)\s+as\s+",
    re.IGNORECASE,
)
_CREATE_COLS_RE = re.compile(
    r"^\s*create\s+table\s+([A-Za-z_][A-Za-z_0-9]*)\s*\(", re.IGNORECASE
)
_DROP_RE = re.compile(
    r"^\s*drop\s+(?:table|view)\s+(if\s+exists\s+)?"
    r"([A-Za-z_][A-Za-z_0-9]*)\s*;?\s*$",
    re.IGNORECASE,
)

# SQLite type-name affinity (datatype3.html §3.1), mapped to Spark
_AFFINITY = (
    ("INT", "long"),
    ("CHAR", "string"),
    ("CLOB", "string"),
    ("TEXT", "string"),
    ("BLOB", "binary"),
    ("REAL", "double"),
    ("FLOA", "double"),
    ("DOUB", "double"),
)


def maybe_run_dml(
    spark: SparkSession, stmt: str, run_sql, classes: dict[str, str]
) -> str | None:
    """Execute ``stmt`` if it is a DML/DDL statement; return the name
    of the mutated table (truthy — callers branch on it, and the CLI
    uses it to write mutated views back to ``-dbfile``), or None for
    non-DML. ``run_sql(sql) -> DataFrame`` is the CLI's statement
    runner (dialect rewrites + double-quote resolution applied);
    ``classes`` maps the loaded columns to their storage classes."""
    s = stmt.strip().rstrip(";").strip()

    m = _DROP_RE.match(stmt)
    if m:
        if_exists, name = m.group(1), m.group(2)
        if spark.catalog.dropTempView(name):
            return name
        if if_exists:
            return name
        raise ValueError(f"no such table: {name}")

    m = _CREATE_AS_RE.match(s)
    if m:
        name = m.group(1)
        df = run_sql(s[m.end() :])
        df.createOrReplaceTempView(name)
        return name

    m = _CREATE_COLS_RE.match(s)
    if m:
        name = m.group(1)
        close = sqllex.close_paren(s, m.end() - 1)
        fields = []
        for coldef in sqllex.split_top(s[m.end() : close - 1]):
            toks = coldef.split()
            if not toks or toks[0].upper() in (
                "PRIMARY", "UNIQUE", "CHECK", "FOREIGN", "CONSTRAINT",
            ):
                continue  # table constraints don't add columns
            typ = "string"  # SQLite's no-type / unknown → text-ish
            decl = " ".join(toks[1:]).upper()
            for frag, spark_type in _AFFINITY:
                if frag in decl:
                    typ = spark_type
                    break
            if len(toks) == 1:
                typ = "string"
            fields.append(f"{toks[0]} {typ}")
        df = spark.createDataFrame([], ", ".join(fields))
        df.createOrReplaceTempView(name)
        return name

    m = _INSERT_RE.match(s)
    if m:
        name = m.group(1)
        target = spark.table(name)
        rest = s[m.end() :]
        cols: list[str] | None = None
        if rest.startswith("("):
            close = sqllex.close_paren(rest, 0)
            cols = [
                c.strip('"`') for c in sqllex.split_top(rest[1 : close - 1])
            ]
            rest = rest[close:].strip()
        kw = rest[:6].upper()
        if kw.startswith("VALUES"):
            new = run_sql(f"SELECT * FROM {rest}")
        elif kw.startswith("SELECT") or rest[:4].upper() == "WITH":
            new = run_sql(rest)
        else:
            raise ValueError(f"cannot parse INSERT statement: {stmt!r}")
        names = cols if cols is not None else target.columns
        if cols is not None:
            # SQLite errors on a column list naming an absent column;
            # without this, the misnamed column's values would vanish
            # silently in the target-schema alignment below
            for c in cols:
                if c not in target.columns:
                    raise ValueError(
                        f"table {name} has no column named {c}"
                    )
        if len(new.columns) != len(names):
            raise ValueError(
                f"table {name} has {len(names)} columns but "
                f"{len(new.columns)} values were supplied"
            )
        new = new.toDF(*names)
        dtypes = dict(target.dtypes)
        aligned = new.select(
            *[
                (
                    F.col(c) if c in new.columns else F.lit(None)
                )
                .cast(dtypes[c])
                .alias(c)
                for c in target.columns
            ]
        )
        target.unionByName(aligned).createOrReplaceTempView(name)
        return name

    m = _UPDATE_RE.match(s)
    if m:
        name = m.group(1)
        target = spark.table(name)
        rest = s[m.end() :]
        wm = _find_top_keyword(rest, "where")
        set_part = rest[: wm if wm is not None else len(rest)]
        cond = rest[wm + 5 :].strip() if wm is not None else None
        updates: dict[str, str] = {}
        for assign in sqllex.split_top(set_part):
            eq = _find_top_eq(assign)
            if eq is None:
                raise ValueError(f"cannot parse SET clause: {assign!r}")
            updates[assign[:eq].strip().strip('"`')] = assign[eq + 1 :].strip()
        sel = []
        for c in target.columns:
            if c in updates:
                e = updates[c]
                sel.append(
                    f"CASE WHEN ({cond}) THEN ({e}) ELSE {c} END AS {c}"
                    if cond is not None
                    else f"({e}) AS {c}"
                )
            else:
                sel.append(c)
        run_sql(f"SELECT {', '.join(sel)} FROM {name}").createOrReplaceTempView(
            name
        )
        return name

    m = _DELETE_RE.match(s)
    if m:
        name = m.group(1)
        rest = s[m.end() :].strip()
        if not rest:
            new = spark.table(name).limit(0)
        elif rest[:5].upper() == "WHERE":
            # keep rows where the predicate IS NOT TRUE: SQLite keeps
            # NULL-predicate rows, plain NOT would drop them.  The
            # numeric-as-boolean coercion must apply HERE — wrapped
            # under IS NOT TRUE the statement-level pass reads the
            # body as already-boolean
            from sqawk_spark.dialect import boolify_condition

            cond = boolify_condition(rest[5:], classes)
            new = run_sql(
                f"SELECT * FROM {name} WHERE ({cond}) IS NOT TRUE"
            )
        else:
            raise ValueError(f"cannot parse DELETE statement: {stmt!r}")
        new.createOrReplaceTempView(name)
        return name

    return None


def _find_top_keyword(s: str, kw: str) -> int | None:
    """Index of a bare keyword at depth 0 outside quotes, or None."""
    return next(
        (w.start for w in sqllex.words(s) if w.depth == 0 and w.text == kw),
        None,
    )


def _find_top_eq(s: str) -> int | None:
    """Index of the first top-level ``=`` outside quotes/parens."""
    return next(iter(sqllex.top_positions(s, "=")), None)
