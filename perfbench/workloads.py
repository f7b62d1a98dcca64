"""The workloads: their ops and the expected output of each op.

Expected outputs come from independent oracles and are computed outside
the timed passes:

- CLI ops: stdlib ``sqlite3`` over the same rows loaded in sqawk's table
  layout (``<t>nr INTEGER PRIMARY KEY, <t>nf INTEGER, <t>0 TEXT,
  <t>1..<t>N`` with the declared column types, INTEGER by default),
  rendered by this file's own serializers and compared byte for byte.
- registry ops: ``registry.oracle_sql()`` run in DuckDB over the same
  parquet files, compared by row count and a hash of the sorted,
  normalised rows.
"""

from __future__ import annotations

import csv
import hashlib
import json
import math
import os
import re
import sqlite3
import unicodedata
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal

# ------------------------------------------------------------ CLI ops


@dataclass
class Table:
    name: str
    file: str  # key in gen.cli_inputs()
    fs: str = r"[ \t]+"
    csv_header: bool = False
    datatypes: list[str] = field(default_factory=list)


@dataclass
class CliOp:
    name: str
    argv: list[str]  # "{file}" placeholders and "{db}" for the pass's dbfile
    tables: list[Table]
    script: str  # what the oracle runs
    output: str = "awk"


MIXED = (
    "select a3, count(*) n, sum(a1) s1, sum(a2) s2, max(a2) hi "
    "from a group by a3 order by a3"
)
CSV_MUTATE = "update a set score = score + 5 where city = 'Oslo'; delete from a where score < 20"
CSV_DML = (
    f"{CSV_MUTATE}; select id, name, city, score from a where score >= 90 and "
    "city <> 'Lima' order by score desc, id"
)
DB_READ = (
    "select city, count(*) n, sum(score) s, min(id) lo, max(name) hi "
    "from a group by city order by city"
)
_PEOPLE = Table("a", "people.csv", csv_header=True)

# One pass: three invocations that between them cover an -FS group-by
# over mixed column affinities, CSV input with a header, an
# update/delete script, the table, json and awk serializers, and a
# -dbfile write followed by a read-back in a second invocation. Each
# invocation costs seconds of fixed work, so a pass holds few of them:
# a run must fit a cold pass and three warm passes into about a minute.
CLI_OPS = [
    CliOp(
        "groupby_mixed",
        ["-FS", ",", "-output", "table", MIXED, "datatypes=integer,real,text", "{mixed.txt}"],
        [Table("a", "mixed.txt", fs=",", datatypes=["integer", "real", "text"])],
        MIXED,
        output="table",
    ),
    CliOp(
        "csv_dml_json",
        ["-dbfile", "{db}", "-output", "json", CSV_DML, "format=csv", "header=1", "{people.csv}"],
        [_PEOPLE],
        CSV_DML,
        output="json",
    ),
    CliOp(
        "dbfile_read",
        ["-dbfile", "{db}", "-noinput", DB_READ],
        [_PEOPLE],
        f"{CSV_MUTATE}; {DB_READ}",
    ),
]


def cli_argv(op: CliOp, files: dict[str, str], db: str) -> list[str]:
    subs = dict(files, db=db)
    return [re.sub(r"^\{(.+)\}$", lambda m: subs[m.group(1)], a) for a in op.argv]


def _load(con: sqlite3.Connection, t: Table, path: str) -> None:
    with open(path, encoding="utf-8", newline="") as f:
        text = f.read()
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    if t.csv_header:
        recs = list(csv.reader(lines))
        names, recs = recs[0], recs[1:]
    else:
        recs = [re.split(t.fs, line) for line in lines]
        names = []
    width = max([10, *(len(r) for r in recs)])
    names = names[:width] + [f"{t.name}{i + 1}" for i in range(len(names), width)]
    decls = [
        (t.datatypes[i] if i < len(t.datatypes) else "integer").upper()
        for i in range(width)
    ]
    p = t.name
    con.execute(
        f"create table {p} ({p}nr INTEGER PRIMARY KEY, {p}nf INTEGER, {p}0 TEXT, "
        + ", ".join(f'"{n}" {d}' for n, d in zip(names, decls))
        + ")"
    )
    con.executemany(
        f"insert into {p} values ({','.join('?' * (width + 3))})",
        (
            [nr, len(r), line, *r, *([None] * (width - len(r)))]
            for nr, (line, r) in enumerate(zip(lines[len(lines) - len(recs):], recs), 1)
        ),
    )


def _cell(v) -> str:
    if v is None:
        return ""
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _display_width(s: str) -> int:
    return sum(2 if unicodedata.east_asian_width(c) in ("W", "F") else 1 for c in s)


def render(kind: str, names: list[str], rows: list[list[str]]) -> str:
    """Serialize rows the way sqawk's -output formats are specified."""
    if kind == "awk":
        return "".join(" ".join(r) + "\n" for r in rows)
    if kind == "json":
        objs = (
            "{" + ",".join(f"{json.dumps(n)}:{json.dumps(v)}" for n, v in zip(names, r)) + "}"
            for r in rows
        )
        return "[" + ",".join(objs) + "]\n"
    if kind == "table":
        if not rows:
            return ""
        widths = [max(_display_width(r[i]) for r in rows) for i in range(len(rows[0]))]

        def rule(left: str, mid: str, right: str) -> str:
            return left + mid.join("─" * w for w in widths) + right

        def center(s: str, w: int) -> str:
            gap = w - _display_width(s)
            return " " * (gap // 2) + s + " " * (gap - gap // 2)

        lines = [rule("┌", "┬", "┐")]
        for i, r in enumerate(rows):
            if i:
                lines.append(rule("├", "┼", "┤"))
            lines.append("│" + "│".join(center(v, w) for v, w in zip(r, widths)) + "│")
        lines.append(rule("└", "┴", "┘"))
        return "\n".join(lines) + "\n"
    raise ValueError(kind)


def cli_expected(op: CliOp, files: dict[str, str]) -> str:
    """The op's output according to real SQLite."""
    con = sqlite3.connect(":memory:")
    for t in op.tables:
        _load(con, t, files[t.file])
    names: list[str] = []
    rows: list[list[str]] = []
    for stmt in op.script.split(";"):
        cur = con.execute(stmt)
        if cur.description:
            names = [d[0] for d in cur.description]
            rows += [[_cell(v) for v in r] for r in cur.fetchall()]
    con.close()
    return render(op.output, names, rows)


# ------------------------------------------------------- registry ops

# Pair-generating, relational, TPC-H, text, events and unprepared
# (sample_shuffle_deterministic collects per call) builders. Every pass
# starts with the first one, which builds the shared shingle-index
# session cache on the cold pass.
REGISTRY_QUERIES = [
    "dedup_ngram_jaccard",
    "flagship_pricing_summary",
    "window_rank",
    "tpch_q5_local_supplier_volume",
    "market_basket_pairs",
    "text_bm25_topk",
    "events_sessionize",
    "sample_shuffle_deterministic",
]


def _norm(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, bool):
        return int(v)
    return v


def rows_digest(cols: list[str], rows) -> tuple[int, str]:
    """(row count, hash of the sorted rows with columns sorted by name)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    keyed = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    h.update(repr(sorted(cols)).encode())
    for k in keyed:
        h.update(k.encode())
    return len(keyed), h.hexdigest()


def registry_expected(names: list[str], sf_dir: str) -> dict[str, tuple[int, str]]:
    """{query: (row count, hash)} from DuckDB over the parquet files in sf_dir."""
    import duckdb

    import sqawk_spark.operators as operators

    operators.load_all()
    from sqawk_spark.operators.registry import oracle_sql

    oracles = oracle_sql()
    con = duckdb.connect()
    con.execute("set threads to 2")
    for fn in sorted(os.listdir(sf_dir)):
        table = fn.removesuffix(".parquet")
        con.execute(
            f"create view {table} as select * from read_parquet('{os.path.join(sf_dir, fn)}')"
        )
    out = {}
    for name in names:
        res = con.execute(oracles[name])
        out[name] = rows_digest([d[0] for d in res.description], res.fetchall())
    con.close()
    return out
