"""SQLite type-affinity emulation (SURVEY.md §1.3, §7 phase 2).

The reference stores every field in a SQLite column whose declared type
is only an *affinity*; a single column holds mixed runtime types
(`"001"` under INTEGER affinity becomes integer 1, `"c"` in the same
column stays text — reference tests.tcl:1066-1072).

Spark columns are homogeneously typed, so fields are stored as
**canonicalized strings**: the affinity rules are applied at load time
as pure column expressions, producing the display form SQLite would
print. Numeric behavior in queries then comes from Spark's implicit
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


def _let(bindings: dict[str, Column], body) -> Column:
    """Evaluate-once let-binding for column expressions.

    Plain ``Column`` reuse in PySpark CLONES the whole subtree at
    every reference site — a formatter that mentions an intermediate
    eight times inflates the expression tree exponentially (the
    pre-refactor :func:`_python_real_repr` generated >64 KB of Java
    per column and janino refused to compile it). A higher-order
    function's lambda variable, by contrast, is a genuine evaluated-
    once reference, so ``transform(array(struct(<bindings>)), λ)[0]``
    is the JVM-side equivalent of a ``let``: each binding computes
    once per row, the body references it for free, and the tree stays
    linear in the source size. Nested calls may capture outer lambda
    variables (Spark resolves named lambda variables lexically)."""
    s = F.struct(*[v.alias(k) for k, v in bindings.items()])
    return F.transform(F.array(s), body)[0]


def _python_real_repr(d: Column) -> Column:
    """CPython/SQLite ``repr()`` of a double, as a pure JVM column
    expression — Spark's ``cast(string)`` emits Java formatting
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
    run, decimal exponent) is computed once per row — the naive
    all-``Column`` version duplicated subtrees exponentially and blew
    the 64 KB JVM method limit.

    Residual (documented; fuzz-measured ~0.01% of bit-random doubles,
    zero in realistic data): values whose shortest repr needs ≥ 16
    digits can render with a last digit off-by-one or one extra digit
    versus CPython (Java's Formatter double-rounds through toString
    digits; e.g. the subnormal 5e-324 renders '4.9e-324') — the
    output still parses back to the IDENTICAL double, so every
    comparison/join/order semantic is unaffected; only the printed
    string can differ.
    """

    def fmt(q: Column) -> Column:
        digits, exp, sa = q["digits"], q["exp"], q["sa"]
        n = F.length(digits)
        expabs = F.abs(exp).cast("string")
        sci = F.concat(
            digits.substr(F.lit(1), F.lit(1)),
            F.when(
                n > 1, F.concat(F.lit("."), digits.substr(F.lit(2), n))
            ).otherwise(F.lit("")),
            F.lit("e"),
            F.when(exp >= 0, F.lit("+")).otherwise(F.lit("-")),
            # zero-pad to ≥2 digits; lpad would TRUNCATE 3-digit
            # exponents
            F.when(F.length(expabs) < 2, F.concat(F.lit("0"), expabs))
            .otherwise(expabs),
        )
        intlen = exp + F.lit(1)
        fixed_pos = F.when(
            n > intlen,
            F.concat(
                digits.substr(F.lit(1), intlen),
                F.lit("."),
                digits.substr(intlen + 1, n),
            ),
        ).otherwise(
            F.concat(
                digits,
                F.repeat(F.lit("0"), intlen - n),
                F.lit(".0"),
            )
        )
        fixed_neg = F.concat(
            F.lit("0."), F.repeat(F.lit("0"), -exp - 1), digits
        )
        body = (
            F.when(q["fa"] == 0.0, F.lit("0.0"))
            .when(sa == "Infinity", F.lit("inf"))
            # Java fixed-point (1e-3 ≤ |d| < 1e7) == Python fixed-point
            .when(~q["has_e"], sa)
            .when((exp >= 16) | (exp <= -5), sci)
            .when(exp >= 0, fixed_pos)
            .otherwise(fixed_neg)
        )
        return F.when(
            q["neg"], F.concat(F.lit("-"), body)
        ).otherwise(body)

    def derive(r: Column) -> Column:
        fa, sa = r["fa"], r["sa"]
        # Tier 1: Java toString digits — shortest whenever ≤ 15 digits
        # (FloatingDecimal's non-shortest bug class needs 16+), the
        # overwhelmingly common case, and free to extract.
        p0 = F.split(sa, "E")
        d0s = F.regexp_replace(
            F.regexp_replace(p0[0], r"\.", ""), r"0+$", ""
        )
        d0 = F.when(d0s == "", F.lit("0")).otherwise(d0s)
        # Tier 2 (toString gave ≥ 16 digits): shortest of the
        # 14..17-digit renderings that parses back — non-shortest
        # toString can overshoot by a digit, so the search starts
        # below it.
        sel = None
        for k in (13, 14, 15):
            c = F.format_string(f"%.{k}e", fa)
            cond = c.cast("double") == fa
            sel = F.when(cond, c) if sel is None else sel.when(cond, c)
        sel = sel.otherwise(F.format_string("%.16e", fa))
        p1 = F.split(sel, "e")
        d1s = F.regexp_replace(
            F.regexp_replace(p1[0], r"\.", ""), r"0+$", ""
        )
        use0 = F.length(d0) <= 15
        return _let(
            {
                "digits": F.when(use0, d0).otherwise(
                    F.when(d1s == "", F.lit("0")).otherwise(d1s)
                ),
                # F.get, not [1]: bindings evaluate eagerly (struct
                # fields), and fixed-point Java strings have no "E"
                # part — [1] would throw under ANSI instead of NULLing
                "exp": F.when(use0, F.get(p0, 1))
                .otherwise(p1[1])
                .cast("int"),
                "sa": sa,
                "has_e": F.size(p0) == 2,
                "fa": fa,
                "neg": r["neg"],
            },
            fmt,
        )

    return _let(
        {
            "fa": F.abs(d),
            "sa": F.abs(d).cast("string"),
            # sign probed from the Java string so -0.0 keeps its minus
            "neg": d.cast("string").startswith("-"),
        },
        derive,
    )


def apply_affinity(col: Column, affinity: str) -> Column:
    """Canonicalize a raw text field per its column affinity."""
    affinity = normalize_affinity(affinity)
    if affinity in ("text", "blob"):
        return col

    # SQLite's "looks like a number" check ignores surrounding ASCII
    # whitespace (' 2 ' under INTEGER affinity stores integer 2);
    # non-numeric text keeps its whitespace verbatim
    t = F.regexp_replace(col, r"^\s+|\s+$", "")
    is_int = t.rlike(INT_RE)
    is_real = t.rlike(REAL_RE)
    d = t.cast("double")

    if affinity == "real":
        # fixed-point "N.0" for every integral double below 1e16 —
        # the exact window where CPython/SQLite float repr stays
        # fixed-point (repr(9007199254740992.0) = '9007199254740992.0'
        # but repr(1e16) = '1e+16'); long-cast is exact there
        integral = (d == F.floor(d)) & (F.abs(d) < 1e16)
        real_str = F.when(
            integral, F.concat(d.cast("long").cast("string"), F.lit(".0"))
        ).otherwise(_python_real_repr(d))
        return F.when(is_int | is_real, real_str).otherwise(col)

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
    li = d.try_cast("long")  # NULL on overflow (except the ==2^63 quirk)
    integral = (
        li.isNotNull()
        & (li.cast("double") == d)
        & (li > -9223372036854775808)
        & (li < 9223372036854775807)
    )
    long_form = t.try_cast("long").cast("string")
    as_int = li.cast("string")
    as_real = _python_real_repr(d)
    return (
        # int-looking text that overflows int64 falls through to real,
        # matching SQLite's lossless-only integer conversion
        F.when(is_int & long_form.isNotNull(), long_form)
        .when(is_real & integral, as_int)
        .when(is_real, as_real)
        .when(is_int, as_real)
        .otherwise(col)
    )
