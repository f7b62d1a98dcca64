"""Input format parsers (SURVEY.md §2.A).

Each parser turns one input file into a "records" DataFrame with two
columns — ``a0`` (the raw record, string) and ``fields``
(array<string>) — which :mod:`.base` then shapes into the reference's
table layout (``anr``/``anf``/``a0``/named field columns) and registers
as a temp view.

Registry mirrors the reference's parser namespace discovery
(lib/classes/sqawk.tcl:42-61).
"""

from __future__ import annotations

from sqawk_spark.sources import awk, csv, json, parquet, tcl
from sqawk_spark.sources.base import FileSpec, TableLoader

PARSERS = {
    "awk": awk.parse,
    "csv": csv.parse,
    "csv2": csv.parse_alt,
    "csvalt": csv.parse_alt,
    "json": json.parse,
    "orc": parquet.parse_orc,
    "parquet": parquet.parse,
    "tcl": tcl.parse,
}

# per-format option names accepted after the global ones
# (validation parity: sqawk-dev.tcl:146-180)
PARSER_OPTIONS = {
    "awk": {"FS", "RS", "trim", "fields"},
    "csv": {"csvsep", "csvquote"},
    "csv2": {"csvsep", "csvquote"},
    "csvalt": {"csvsep", "csvquote"},
    "json": {"kv", "lines"},
    "orc": set(),
    "parquet": set(),
    "tcl": {"kv", "lines"},
}

COMMON_OPTIONS = {
    "format",
    "table",
    "prefix",
    "header",
    "columns",
    "F0",
    "NF",
    "MNF",
    "datatypes",
}

__all__ = [
    "PARSERS",
    "PARSER_OPTIONS",
    "COMMON_OPTIONS",
    "FileSpec",
    "TableLoader",
]
