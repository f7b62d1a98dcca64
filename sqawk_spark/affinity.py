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

from pyspark.sql import Column
from pyspark.sql import functions as F

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
# per node, thousands per table. ``apply_affinity`` and
# ``_python_real_repr`` bind a Column into the same text for callers
# that hold Columns.


def sql_str(s: str) -> str:
    """A Spark SQL string literal for ``s`` (Spark's literal parser
    processes backslash escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _let(var: str, bindings: dict[str, str], body: str) -> str:
    """Evaluate-once let-binding in SQL text.

    Repeating an operand in the text repeats its evaluation and its
    subtree — a formatter that mentions an intermediate eight times
    inflates the expression tree exponentially (the first double
    formatter here generated >64 KB of Java per column and janino
    refused to compile it). A higher-order function's lambda
    variable is a genuine evaluated-once reference, so
    ``transform(array(named_struct(<bindings>)), var -> body)[0]`` is a
    ``let``: each binding computes once per row, ``body`` reads it as
    ``var.<name>``, and the tree stays linear in the source size. Nested
    lets capture outer lambda variables (Spark resolves them lexically),
    so nested lets take distinct variable names."""
    fields = ", ".join(f"{sql_str(k)}, {v}" for k, v in bindings.items())
    return f"transform(array(named_struct({fields})), {var} -> {body})[0]"


_DOT = sql_str(r"\.")
_EDGE_SPACE = sql_str(r"^\s+|\s+$")


def _strip_digits(mantissa: str) -> str:
    """The digit run of a rendered mantissa: no point, no trailing 0s."""
    return (
        f"regexp_replace(regexp_replace({mantissa}, {_DOT}, ''), '0+$', '')"
    )


def python_real_repr_sql(d: str) -> str:
    """CPython/SQLite ``repr()`` of the double expression ``d``, as
    Spark SQL text — Spark's ``cast(string)`` emits Java formatting
    (``1.23456785E7``) where SQLite's shell and Python's sqlite3
    render CPython repr (``12345678.5``). Java 17's ``toString`` is
    also not always shortest-digits (pre-Ryū ``FloatingDecimal`` can
    emit 17 where 16 suffice), so the digits are derived the way
    CPython derives them: toString's digits when they number ≤ 15
    (provably shortest there — the FloatingDecimal bug class needs
    16+), else the shortest of the 14..17-digit ``%e`` renderings
    that parses back to the same double; the digits are then
    formatted by CPython's rules — fixed-point for decimal exponent
    in [-4, 15], scientific (``1.5e+16`` / ``9.9e-05``: bare
    mantissa, explicit sign, exponent ≥ 2 digits) outside.

    Built on :func:`_let` so every intermediate (Java string, digit
    run, decimal exponent) is computed once per row.

    Residual (documented; fuzz-measured ~0.01% of bit-random doubles,
    zero in realistic data): values whose shortest repr needs ≥ 16
    digits can render with a last digit off-by-one or one extra digit
    versus CPython (Java's Formatter double-rounds through toString
    digits; e.g. the subnormal 5e-324 renders '4.9e-324') — the
    output still parses back to the IDENTICAL double, so every
    comparison/join/order semantic is unaffected; only the printed
    string can differ.
    """
    # formatting, over the let variable __q (digits, exp, sa, has_e,
    # fa, neg)
    digits, exp, sa = "__q.digits", "__q.exp", "__q.sa"
    n = f"length({digits})"
    expabs = f"CAST(abs({exp}) AS STRING)"
    sci = (
        f"concat(substring({digits}, 1, 1), "
        f"CASE WHEN {n} > 1 THEN concat('.', substring({digits}, 2, {n})) "
        f"ELSE '' END, 'e', CASE WHEN {exp} >= 0 THEN '+' ELSE '-' END, "
        # zero-pad to ≥2 digits; lpad would TRUNCATE 3-digit exponents
        f"CASE WHEN length({expabs}) < 2 THEN concat('0', {expabs}) "
        f"ELSE {expabs} END)"
    )
    intlen = f"({exp} + 1)"
    fixed_pos = (
        f"CASE WHEN {n} > {intlen} THEN concat(substring({digits}, 1, "
        f"{intlen}), '.', substring({digits}, {intlen} + 1, {n})) "
        f"ELSE concat({digits}, repeat('0', {intlen} - {n}), '.0') END"
    )
    fixed_neg = f"concat('0.', repeat('0', -{exp} - 1), {digits})"
    body = (
        f"CASE WHEN __q.fa = 0.0D THEN '0.0' "
        f"WHEN {sa} = 'Infinity' THEN 'inf' "
        # Java fixed-point (1e-3 ≤ |d| < 1e7) == Python fixed-point
        f"WHEN NOT __q.has_e THEN {sa} "
        f"WHEN ({exp} >= 16) OR ({exp} <= -5) THEN {sci} "
        f"WHEN {exp} >= 0 THEN {fixed_pos} ELSE {fixed_neg} END"
    )
    fmt = f"CASE WHEN __q.neg THEN concat('-', {body}) ELSE {body} END"

    # digit derivation, over the let variable __r (fa, sa, neg)
    fa, sa = "__r.fa", "__r.sa"
    # Tier 1: Java toString digits — shortest whenever ≤ 15 digits
    # (FloatingDecimal's non-shortest bug class needs 16+), the
    # overwhelmingly common case, and free to extract.
    p0 = f"split({sa}, 'E')"
    d0s = _strip_digits(f"{p0}[0]")
    d0 = f"CASE WHEN {d0s} = '' THEN '0' ELSE {d0s} END"
    # Tier 2 (toString gave ≥ 16 digits): shortest of the 14..17-digit
    # renderings that parses back — non-shortest toString can
    # overshoot by a digit, so the search starts below it.
    sel = " ".join(
        f"WHEN CAST(format_string('%.{k}e', {fa}) AS DOUBLE) = {fa} "
        f"THEN format_string('%.{k}e', {fa})"
        for k in (13, 14, 15)
    )
    p1 = f"split(CASE {sel} ELSE format_string('%.16e', {fa}) END, 'e')"
    d1s = _strip_digits(f"{p1}[0]")
    use0 = f"length({d0}) <= 15"
    derive = _let(
        "__q",
        {
            "digits": f"CASE WHEN {use0} THEN {d0} "
            f"ELSE CASE WHEN {d1s} = '' THEN '0' ELSE {d1s} END END",
            # get(), not [1]: bindings evaluate eagerly (struct
            # fields), and fixed-point Java strings have no "E" part —
            # [1] would throw under ANSI instead of NULLing
            "exp": f"CAST(CASE WHEN {use0} THEN get({p0}, 1) "
            f"ELSE {p1}[1] END AS INT)",
            "sa": sa,
            "has_e": f"size({p0}) = 2",
            "fa": fa,
            "neg": "__r.neg",
        },
        fmt,
    )
    return _let(
        "__r",
        {
            "fa": f"abs({d})",
            "sa": f"CAST(abs({d}) AS STRING)",
            # sign probed from the Java string so -0.0 keeps its minus
            "neg": f"startswith(CAST({d} AS STRING), '-')",
        },
        derive,
    )


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
        # fixed-point "N.0" for every integral double below 1e16 —
        # the exact window where CPython/SQLite float repr stays
        # fixed-point (repr(9007199254740992.0) = '9007199254740992.0'
        # but repr(1e16) = '1e+16'); long-cast is exact there
        return (
            f"CASE WHEN {is_int} OR {is_real} THEN "
            f"CASE WHEN {d} = floor({d}) AND abs({d}) < 1e16 "
            f"THEN concat(CAST(CAST({d} AS BIGINT) AS STRING), '.0') "
            f"ELSE {python_real_repr_sql(d)} END ELSE {x} END"
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
        f"WHEN {is_real} OR {is_int} THEN {python_real_repr_sql(d)} "
        f"ELSE {x} END"
    )


def _over(col: Column, text_of) -> Column:
    """The SQL text ``text_of(name)`` evaluated over ``col``'s value:
    ``col`` is bound to a lambda variable, and the text names it."""
    lam = F.expr(f"__v -> {text_of('__v')}")
    return F.call_function("transform", F.array(col), lam)[0]


def _python_real_repr(d: Column) -> Column:
    """:func:`python_real_repr_sql` over a double Column."""
    return _over(d, python_real_repr_sql)


def apply_affinity(col: Column, affinity: str) -> Column:
    """Canonicalize a raw text field Column per its column affinity
    (:func:`affinity_sql`)."""
    if normalize_affinity(affinity) in ("text", "blob"):
        return col
    return _over(col, lambda v: affinity_sql(v, affinity))
