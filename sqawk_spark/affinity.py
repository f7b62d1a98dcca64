"""SQLite type-affinity emulation (SURVEY.md §1.3, §7 phase 2).

The reference stores every field in a SQLite column whose declared type
is only an *affinity*; a single column holds mixed runtime types
(`"001"` under INTEGER affinity becomes integer 1, `"c"` in the same
column stays text — reference tests.tcl:1066-1072).

Spark columns are homogeneously typed, so fields are stored as
**canonicalized strings**: the affinity rules are applied at load time
as Spark SQL expressions (``affinity_sql``), producing the display form
SQLite would print. Numeric behavior in queries then comes from Spark's implicit
string→numeric coercion in comparisons/arithmetic.

SQLite's cross-type ordering (NULL < numbers < text < blob,
datatype3.html §4.1) is reproduced at query time: every loaded column
records its storage treatment in its run's column-class map
(``TableLoader.classes``, filled by ``sources.base.build_table``), and
the dialect layer rewrites comparisons / ORDER BY / min-max over columns
that can hold mixed storage classes onto an order-preserving struct
key (``dialect._aff_key_col_sql``) whose Spark struct comparison IS the SQLite
value order — including integers beyond 2^53 and the int64/real
boundary at ±2^63, via the key's exact-int64 and boundary-flag
fields (dialect.py). Property-tested against real SQLite in
tests/test_affinity_property.py. Residual divergences: operands the
dialect cannot classify (function calls, arithmetic) keep Spark
coercion; and GROUP BY groups by the canonical string, which splits
the single value pair SQLite deems equal yet renders differently —
INTEGER -2^63 vs a REAL collapsing onto -2^63 ('-9223372036854775808'
vs '-9.223372036854776e+18'; every other equal pair shares one
canonical form, and +2^63 is inequal by sqlite3IntFloatCompare's
r >= 2^63 arm). min/max DISPLAY at that same tie is integer-preferred
(SQLite's is arrival-order — see rewrite_affinity_minmax).

Affinity canonicalization per SQLite rules:
- INTEGER/NUMERIC: integer-looking text → canonical integer ("001"→"1",
  "+7"→"7"); real-looking text with integral value → integer ("1.0"→"1");
  other real-looking → real; everything else verbatim.
- REAL: numeric text → real display ("001"→"1.0", "1.5"→"1.5");
  everything else verbatim.
- TEXT (and the a0 column): verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from sqawk_spark import jvm

INT_RE = r"^[+-]?\d+$"
REAL_RE = r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$"

AFFINITIES = ("integer", "real", "text", "numeric", "int", "blob")


def normalize_affinity(decl: str) -> str:
    """SQLite's affinity-from-declared-type rule, §3.1 of its docs:
    contains INT → INTEGER; CHAR/CLOB/TEXT → TEXT; BLOB → BLOB;
    REAL/FLOA/DOUB → REAL; else NUMERIC."""
    d = decl.strip().lower()
    # `a1 null` parses as a nullability constraint in SQLite, not a
    # type ⇒ no affinity at all (verbatim storage) — verified against
    # SQLite and the reference's datatypes-1.4 golden
    if d in ("", "null", "none"):
        return "blob"
    if "int" in d:
        return "integer"
    if "char" in d or "clob" in d or "text" in d:
        return "text"
    if "blob" in d:
        return "blob"
    if "real" in d or "floa" in d or "doub" in d:
        return "real"
    return "numeric"


# ---------------------------------------------------------------------
# Storage-treatment catalog: how each loaded column's values are held,
# which decides its SQLite comparison behavior (datatype3.html §4).
#
#   'long'    — promoted to LongType; every value is numeric class
#   'dynamic' — numeric-affinity canonicalized string; a value's
#               storage class is numeric iff it looks numeric
#   'text'    — TEXT affinity; every value is text class, and TEXT
#               affinity converts an affinity-less other operand
#   'none'    — no affinity (blob decl / bare NULL decl / a0 raw
#               record); every value is text class, converts nothing
#
# sqawk column names are globally unique (each file gets its own
# prefix: a1.., b1..), so one flat map keyed by lowercase name serves
# every statement. The map belongs to the run: sources.base.TableLoader
# owns it (``loader.classes``), build_table fills it, and the CLI hands
# it to the dialect and DML layers.


def column_class_for(decl: str, promoted: bool) -> str:
    """Storage treatment for a field column declared ``decl``."""
    if promoted:
        return "long"
    aff = normalize_affinity(decl)
    if aff == "text":
        return "text"
    if aff == "blob":
        return "none"
    return "dynamic"


# ---------------------------------------------------------------------
# Canonicalization as Spark SQL text. The table build projects every
# column through one ``selectExpr`` batch, so the expressions below are
# strings built in pure Python: a Column tree costs one py4j round trip
# per node, thousands per table. ``apply_affinity`` binds a Column into
# the same text for callers that hold Columns. A REAL value prints
# through ``py_real_repr``, a JVM function (``sqawk_spark/jvm``) that
# the session must have registered: CPython's repr of the double, which
# is what SQLite's shell and Python's sqlite3 print (``12345678.5``
# where Spark's cast to string gives ``1.23456785E7``).


def sql_str(s: str) -> str:
    """A Spark SQL string literal for ``s`` (Spark's literal parser
    processes backslash escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


_EDGE_SPACE = sql_str(r"^\s+|\s+$")


def affinity_sql(x: str, affinity: str) -> str:
    """Canonicalize the raw text field expression ``x`` per its column
    affinity, as Spark SQL text."""
    affinity = normalize_affinity(affinity)
    if affinity in ("text", "blob"):
        return x

    # SQLite's "looks like a number" check ignores surrounding ASCII
    # whitespace (' 2 ' under INTEGER affinity stores integer 2);
    # non-numeric text keeps its whitespace verbatim
    t = f"regexp_replace({x}, {_EDGE_SPACE}, '')"
    is_int = f"({t} RLIKE {sql_str(INT_RE)})"
    is_real = f"({t} RLIKE {sql_str(REAL_RE)})"
    d = f"CAST({t} AS DOUBLE)"

    if affinity == "real":
        # SQLite stores a REAL zero without its sign ('-0' prints 0.0)
        return (
            f"CASE WHEN {is_int} OR {is_real} THEN "
            f"CASE WHEN {d} = 0 THEN '0.0' ELSE py_real_repr({d}) END "
            f"ELSE {x} END"
        )

    # integer / numeric: lossless-integral → integer form, else real.
    # SQLite's rule is a lossless ROUND-TRIP within int64 (not a 2^53
    # window): real-looking text whose double is integral and survives
    # double→int64→double unchanged stores as INTEGER — with STRICT
    # endpoint bounds (sqlite3VdbeIntegerAffinity requires
    # SMALLEST_INT64 < i < LARGEST_INT64): the doubles ±2^63 stay
    # REAL even though -2^63 is int64-representable. The strict upper
    # bound also dodges a Spark boundary quirk: try_cast(2^63-as-
    # double AS BIGINT) returns a CLAMPED int64max instead of NULL
    # (the overflow check compares against max-as-double, which IS
    # 2^63), and the clamped value would pass the round-trip test.
    li = f"TRY_CAST({d} AS BIGINT)"  # NULL on overflow (but see above)
    integral = (
        f"{li} IS NOT NULL AND CAST({li} AS DOUBLE) = {d} "
        f"AND {li} > -9223372036854775808L AND {li} < 9223372036854775807L"
    )
    long_form = f"CAST(TRY_CAST({t} AS BIGINT) AS STRING)"
    return (
        # int-looking text that overflows int64 falls through to real,
        # matching SQLite's lossless-only integer conversion
        f"CASE WHEN {is_int} AND {long_form} IS NOT NULL THEN {long_form} "
        f"WHEN {is_real} AND {integral} THEN CAST({li} AS STRING) "
        f"WHEN {is_real} OR {is_int} THEN py_real_repr({d}) "
        f"ELSE {x} END"
    )


def apply_affinity(col: Column, affinity: str) -> Column:
    """Canonicalize a raw text field Column per its column affinity
    (:func:`affinity_sql`): ``col`` is bound to a lambda variable, and
    the text names it."""
    if normalize_affinity(affinity) in ("text", "blob"):
        return col
    jvm.register(SparkSession.active())
    lam = F.expr(f"__v -> {affinity_sql('__v', affinity)}")
    return F.call_function("transform", F.array(col), lam)[0]
