"""Output serializers (SURVEY.md §2.C).

Each serializer consumes an ordered stream of result rows (driver-side
``toLocalIterator(prefetchPartitions=True)``: the job for the next
partition runs while the driver serializes the current one, so the
driver holds at most two partitions of a result) and writes to a file
object. NULL values render as empty strings, matching SQLite's Tcl
binding.

Selected by ``-output name,opt=val,...`` (reference
lib/classes/sqawk.tcl:86-132).
"""

from __future__ import annotations

from sqawk_spark.serializers import awk, csv, json, table, tcl

SERIALIZERS = {
    "awk": awk.AwkSerializer,
    "csv": csv.CsvSerializer,
    "json": json.JsonSerializer,
    "table": table.TableSerializer,
    "tcl": tcl.TclSerializer,
}


def parse_output_spec(spec: str) -> tuple[str, dict[str, str]]:
    """``table,align=l c r,margins=1`` → ("table", {...}).

    Option values may contain commas' worth of spaces but not commas;
    the reference splits on commas then on the first ``=``
    (lib/classes/sqawk.tcl:90-105)."""
    parts = spec.split(",")
    name = parts[0]
    opts: dict[str, str] = {}
    for p in parts[1:]:
        if "=" not in p:
            raise ValueError(f"invalid serializer option: {p!r}")
        k, v = p.split("=", 1)
        opts[k] = v
    return name, opts


def make_serializer(spec: str, out):
    name, opts = parse_output_spec(spec)
    if name not in SERIALIZERS:
        raise ValueError(f"unknown output format: {name!r}")
    return SERIALIZERS[name](out, opts)


def render_value(v) -> str:
    """SQLite-flavored value rendering: NULL → "".

    Integral floats print as integers: this is the FALLBACK for
    doubles that reach the serializer untyped — aggregate results
    over INTEGER-affinity columns arrive as Spark doubles (the
    columns are canonicalized strings), and SQLite would have
    returned an integer — `sum(a1)` must print 30000, not 30000.0
    (tests.tcl:505-525).  Expressions whose SQLite result class is
    statically or dynamically known (sum/avg/total/min-max/CAST/
    arithmetic select items, windowed or not) never hit this branch:
    the dialect's result-class item rewrites pre-render them as
    class-exact STRINGS (dialect.py, fuzzed against real SQLite in
    tests/test_cli_fuzz.py), so the residual divergence is confined
    to shapes no item pass classifies (e.g. function-call composites
    like abs(x) over a REAL column)."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float) and v.is_integer() and abs(v) < 1e15:
        return str(int(v))
    return str(v)
