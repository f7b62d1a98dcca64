"""The SQLite-dialect rewriter (sqawk_spark/dialect.py): pure string
rewrites, checked (a) unit-style on the rewrite output and (b) for
semantic parity against the real SQLite library, which is the
reference's actual query engine (lib/classes/sqawk.tcl:216)."""

from __future__ import annotations

import sqlite3

import pytest

from sqawk_spark import sqllex
from sqawk_spark.dialect import (
    glob_to_regex,
    rewrite_glob,
    rewrite_group_concat,
    rewrite_regex_calls,
    rewrite_statement,
)


def _lower_only(stmt: str) -> str:
    """The GLOB/group_concat lowering passes without the JVM regex-call
    lift — what rewrite_statement did before the RLIKE fast path."""
    return rewrite_group_concat(rewrite_glob(stmt))


@pytest.mark.parametrize(
    "src,expected",
    [
        # infix GLOB — SQLite expr grammar, X GLOB Y == glob(Y, X)
        (
            "select a1 from a where a1 GLOB '*.txt'",
            "select a1 from a where glob('*.txt', a1)",
        ),
        (
            "select a1 from a where a1 NOT GLOB 'x[0-9]'",
            "select a1 from a where NOT glob('x[0-9]', a1)",
        ),
        (
            "select a1 from a where lower(a1) glob 'abc*'",
            "select a1 from a where glob('abc*', lower(a1))",
        ),
        # function-call form untouched, incl. after NOT and in args
        ("select glob('a*', a1) from a", "select glob('a*', a1) from a"),
        ("where not glob('p', a1)", "where not glob('p', a1)"),
        (
            "select f(x, glob('a', a1)) from a",
            "select f(x, glob('a', a1)) from a",
        ),
        # quoted text untouched
        ("select 'a GLOB b' from a", "select 'a GLOB b' from a"),
        # parenthesized operands on either side
        ("select (a1) GLOB a2 from a", "select glob(a2, (a1)) from a"),
        (
            "select max(a1, a2) GLOB '1*' from a",
            "select glob('1*', max(a1, a2)) from a",
        ),
        # several operators in one predicate
        (
            "where a1 GLOB 'p' or a2 GLOB 'q'",
            "where glob('p', a1) or glob('q', a2)",
        ),
        # group_concat arity dispatch
        (
            "select group_concat(a1) from a",
            "select group_concat(a1) from a",
        ),
        (
            "select group_concat(a1, '-') from a",
            "select group_concat2(a1, '-') from a",
        ),
        (
            "select group_concat(coalesce(a1, 'x'), ';'), group_concat(a2) from a",
            "select group_concat2(coalesce(a1, 'x'), ';'), group_concat(a2) from a",
        ),
        (
            "select 'group_concat(a,b)' from a",
            "select 'group_concat(a,b)' from a",
        ),
    ],
)
def test_rewrite(src, expected):
    assert _lower_only(src) == expected


@pytest.mark.parametrize(
    "src,expected",
    [
        # literal-pattern regexp → JVM RLIKE (NULL-as-empty preserved)
        (
            "select * from a where regexp('^a', a1)",
            "select * from a where (coalesce(a1, '') RLIKE '^a')",
        ),
        (
            "select * from a where NOT REGEXP('x$', lower(a1))",
            "select * from a where NOT (coalesce(lower(a1), '') RLIKE 'x$')",
        ),
        # literal regsub with a plain replacement → regexp_replace
        (
            "select regsub('a+', a1, 'X') from a",
            "select regexp_replace(coalesce(a1, ''), 'a+', 'X') from a",
        ),
        # replacement metacharacters → dialect differs, keep the UDF
        (
            r"select regsub('(a)', a1, '\1') from a",
            r"select regsub('(a)', a1, '\1') from a",
        ),
        ("select regsub('a', a1, '&') from a", "select regsub('a', a1, '&') from a"),
        # dynamic pattern → keep the UDF
        ("select regexp(a2, a1) from a", "select regexp(a2, a1) from a"),
        # Python-only regex constructs → keep the UDF
        (
            "select regexp('(?P<g>a)', a1) from a",
            "select regexp('(?P<g>a)', a1) from a",
        ),
        # glob() with a literal pattern → translated anchored RLIKE
        (
            "select glob('a*', a1) from a",
            "select (a1 RLIKE '(?s)^(?:a.*)$') from a",
        ),
        # glob() with a dynamic pattern stays a UDF call
        ("select glob(a2, a1) from a", "select glob(a2, a1) from a"),
        # names inside quotes / longer identifiers untouched
        ("select 'regexp(a, b)' from a", "select 'regexp(a, b)' from a"),
        ("select my_regexp('p', a1) from a", "select my_regexp('p', a1) from a"),
    ],
)
def test_rewrite_regex_calls(src, expected):
    assert rewrite_regex_calls(src) == expected


@pytest.mark.parametrize(
    "src,expected",
    [
        # full pipeline: infix GLOB lowers to glob() then lifts to RLIKE
        (
            "select a1 from a where a1 GLOB 'a?z'",
            "select a1 from a where (a1 RLIKE '(?s)^(?:a.z)$')",
        ),
        # doubled-quote escape in the left operand scans correctly
        (
            "select 'it''s' GLOB 'it*' from a",
            "select ('it''s' RLIKE '(?s)^(?:it.*)$') from a",
        ),
        # compound operands (|| binds tighter than GLOB in SQLite):
        # left unrewritten rather than silently regrouped
        (
            "select a1 || a2 GLOB 'p' from a",
            "select a1 || a2 GLOB 'p' from a",
        ),
        (
            "where a1 GLOB 'p' || 'q'",
            "where a1 GLOB 'p' || 'q'",
        ),
    ],
)
def test_rewrite_statement_pipeline(src, expected):
    assert rewrite_statement(src) == expected


def test_glob_to_regex_matches_sqlite():
    """The compile-time GLOB→regex translation must agree with
    SQLite's infix GLOB, including literal backslash inside [...]."""
    import re as _re

    rows = ["file.txt", "FILE.TXT", "a1z", "abz", "a\\z", "adz", "b2", ""]
    pats = ["*.txt", "a[0-9]z", "a[^0-9]z", "?2", "*", "", "a[\\d]z"]
    con = sqlite3.connect(":memory:")
    con.execute("create table g (x text)")
    con.executemany("insert into g values (?)", [(r,) for r in rows])
    for p in pats:
        want = [r[0] for r in con.execute("select x from g where x GLOB ?", (p,))]
        rx = _re.compile(glob_to_regex(p))
        got = [r for r in rows if rx.search(r)]
        assert got == want, p


def test_double_quoted_identifier_fallback():
    from sqawk_spark.dialect import rewrite_double_quoted_idents as rw

    cols = {"a1", "a column with a long name"}
    assert (
        rw('select "a column with a long name" from a', cols)
        == "select `a column with a long name` from a"
    )
    # unresolvable stays a literal
    assert rw('select "nope" from a', cols) == 'select "nope" from a'
    # inside single quotes untouched
    assert rw("select '\"a1\"' from a", cols) == "select '\"a1\"' from a"
    # doubled-quote escape resolves against the unescaped name
    assert rw('select "a""b" from a', {'a"b'}) == "select `a\"b` from a"


try:
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    _sql_texts = st.text(
        alphabet=st.sampled_from(
            list("abcdefgXYZ0123456789 _.,*=<>()'\"`%+-|;\n\t")
        ),
        max_size=60,
    )

    @given(_sql_texts)
    @settings(max_examples=300, deadline=None)
    @example("-(0<0)")
    def test_rewrite_keeps_quoted_spans(s):
        """The rewriter may restructure expressions — ``-(0<0)``
        becomes a CASE, since SQLite's comparison value is the integer
        0/1 (test_negated_comparison_value_vs_sqlite) — but never
        edits quoted text: every quoted span of the input appears
        verbatim, in order, in the output.  GLOB and group_concat are
        left out: the GLOB lowering swaps its operands."""
        if "glob" in s.lower() or "group_concat" in s.lower():
            return
        out = rewrite_statement(s)
        pos = 0
        for a, b in sqllex.string_spans(s):
            pos = out.find(s[a:b], pos)
            assert pos >= 0, (s, out, s[a:b])
            pos += b - a

    @given(_sql_texts, st.sampled_from([" GLOB ", " NOT GLOB "]))
    @settings(max_examples=300, deadline=None)
    def test_rewrite_is_idempotent(prefix, op):
        """Rewriting twice equals rewriting once (the function-call
        forms produced by pass one must not be re-rewritten)."""
        s = f"select a1 from a where a1{op}'{prefix.replace(chr(39), '')}*'"
        once = rewrite_statement(s)
        assert rewrite_statement(once) == once

except ImportError:  # pragma: no cover - hypothesis is baked in
    pass


def _sqlite(sql: str, rows):
    con = sqlite3.connect(":memory:")
    con.execute("create table a (a1 text, a2 text)")
    con.executemany("insert into a values (?, ?)", rows)
    return [tuple(r) for r in con.execute(sql)]


def test_negated_comparison_value_vs_sqlite(spark):
    """A comparison used as a VALUE is SQLite's integer 0/1, so its
    negation is the integer 0 or -1 — the boolean-in-value rewrite
    (a CASE) is what gives Spark the same value."""
    con = sqlite3.connect(":memory:")
    for q in ["select -(0<0)", "select -(0<1)", "select -(1<0) + 2"]:
        want = con.execute(q).fetchall()
        got = spark.sql(rewrite_statement(q)).collect()
        assert [tuple(r) for r in got] == want, q


def test_glob_semantics_match_sqlite():
    """The rewrite target glob(Y, X) must agree with SQLite's infix
    GLOB on representative patterns (case sensitivity, classes,
    negated classes)."""
    rows = [
        ("file.txt", "x"), ("FILE.TXT", "y"), ("a1z", "z"),
        ("abz", "w"), ("b2", "v"), ("", "u"),
    ]
    pats = ["*.txt", "a[0-9]z", "a[^0-9]z", "?2", "*", ""]
    # reference behavior straight from SQLite
    for p in pats:
        want = _sqlite(f"select a1 from a where a1 GLOB '{p}'", rows)
        got = _sqlite(f"select a1 from a where glob('{p}', a1)", rows)
        assert got == want, p


def test_group_concat_two_arg_semantics_match_sqlite():
    """SQLite: separator precedes each value after the first and is
    taken from the current row's second argument."""
    con = sqlite3.connect(":memory:")
    con.execute("create table t (g int, x text, s text)")
    con.executemany(
        "insert into t values (?, ?, ?)",
        [(1, "a", "-"), (1, "b", "+"), (1, None, "*"), (1, "c", "/"),
         (2, None, "-")],
    )
    want = {
        g: v
        for g, v in con.execute(
            "select g, group_concat(x, s) from t group by g"
        )
    }
    # mirror of functions/__init__.py group_concat2_agg logic
    def py_group_concat2(pairs):
        vals = [str(x) for x, _ in pairs if x is not None]
        seps = [str(s) for x, s in pairs if x is not None]
        if not vals:
            return None
        return vals[0] + "".join(
            seps[i] + vals[i] for i in range(1, len(vals))
        )

    assert py_group_concat2([("a", "-"), ("b", "+"), (None, "*"), ("c", "/")]) == want[1]
    assert py_group_concat2([(None, "-")]) == want[2]


def test_date_call_lowering_matches_udf_and_sqlite(spark):
    """rewrite_date_calls lowers modifier-free strftime/date/datetime/
    time onto JVM date_format; the lowered expression must agree with
    the Python UDF path AND with the system SQLite on every time-value
    shape the UDF handles (ISO with/without T and fraction, julian
    day numbers, out-of-range julians, garbage, NULL)."""
    from sqawk_spark.dialect import rewrite_date_calls
    from sqawk_spark.functions import register_udfs

    register_udfs(spark)
    vals = [
        "2024-02-29 12:30:45",
        "2024-01-01",
        "2024-01-02T03:04:05",
        "2024-03-01 01:02:03.456",
        " 2024-07-04 08:09:10 ",
        "2451545.0",   # J2000 noon
        "2451544.5",   # 2000-01-01 00:00
        "1721425.5",   # year 1 lower bound
        "0",           # below datetime range -> NULL
        "1e20",        # overflow -> NULL
        "-2451545",    # negative -> NULL
        "garbage",
        "",
        None,
    ]
    spark.createDataFrame([(v,) for v in vals], "v string").createOrReplaceTempView(
        "dtvals"
    )
    calls = [
        "strftime('%Y-%m-%d', v)",
        "strftime('%H:%M:%f', v)",
        "strftime('%Y/%j week%%', v)",
        "date(v)",
        "datetime(v)",
        "time(v)",
    ]
    udf_rows = spark.sql(
        "select " + ", ".join(f"{c} as c{i}" for i, c in enumerate(calls))
        + " from dtvals"
    ).collect()
    lowered_sql = (
        "select "
        + ", ".join(
            f"{rewrite_date_calls(c)} as c{i}" for i, c in enumerate(calls)
        )
        + " from dtvals"
    )
    assert "strftime(" not in lowered_sql and "date(v)" not in lowered_sql
    jvm_rows = spark.sql(lowered_sql).collect()

    import sqlite3

    con = sqlite3.connect(":memory:")
    for v, u, j in zip(vals, udf_rows, jvm_rows):
        for i, c in enumerate(calls):
            assert u[f"c{i}"] == j[f"c{i}"], (
                f"UDF vs JVM mismatch for {c} on {v!r}: "
                f"{u[f'c{i}']!r} vs {j[f'c{i}']!r}"
            )
        if v is not None and v == v.strip():
            # ground truth: system SQLite on the same literal. Skipped
            # where the engine deliberately diverges: padded values
            # (the UDF trims, SQLite doesn't) and time values outside
            # the Python datetime domain (years 1-9999 — SQLite's
            # julian range reaches -4713; the engine NULLs those, and
            # the JVM path pins the UDF's behavior).
            for i, c in enumerate(calls):
                if u[f"c{i}"] is None:
                    continue
                lit = "'" + v.replace("'", "''") + "'"
                want = con.execute(
                    f"select {c.replace(', v', f', {lit}').replace('(v)', f'({lit})')}"
                ).fetchone()[0]
                assert j[f"c{i}"] == want, (
                    f"JVM vs SQLite mismatch for {c} on {v!r}: "
                    f"{j[f'c{i}']!r} vs {want!r}"
                )


def test_date_call_lowering_keeps_plan_jvm_side(spark):
    """VERDICT r04 done-criterion: a lowered strftime plan must contain
    no BatchEvalPython stage (the UDF fallback only runs for modifier
    chains / exotic tokens, which must STILL resolve via the UDF)."""
    from sqawk_spark.dialect import rewrite_statement
    from sqawk_spark.functions import register_udfs

    register_udfs(spark)
    spark.createDataFrame(
        [("2024-01-15 10:20:30",)], "a1 string"
    ).createOrReplaceTempView("dtplan")
    lowered = spark.sql(
        rewrite_statement("select strftime('%Y-%m-%d', a1) as d from dtplan")
    )
    p = lowered._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p
    # modifier chain keeps the Python fallback and still runs
    fallback = spark.sql(
        rewrite_statement(
            "select datetime(a1, '+1 month', 'start of month') as d from dtplan"
        )
    )
    assert fallback.collect()[0]["d"] == "2024-02-01 00:00:00"
    assert "BatchEvalPython" in (
        fallback._jdf.queryExecution().executedPlan().toString()
    )


def test_limit_comma_rewrite():
    from sqawk_spark.dialect import rewrite_limit_comma as r

    assert (
        r("select a1 from a order by a1 limit 1, 2").strip()
        == "select a1 from a order by a1 limit 2 OFFSET 1"
    )
    # plain LIMIT and LIMIT/OFFSET pass through untouched
    assert r("select a1 from a limit 5") == "select a1 from a limit 5"
    assert (
        r("select a1 from a limit 3 offset 1")
        == "select a1 from a limit 3 offset 1"
    )
    # only the top-level clause is rewritten; a parenthesized subquery
    # limit keeps Spark's loud parse error (never a silent swap)
    s = "select * from (select a1 from a limit 1, 2) t"
    assert "limit 1, 2" in r(s)


def test_bare_minmax_leaves_alias_and_ordinal_group_by_untouched():
    """GROUP BY may reference a select item by alias or 1-based
    ordinal (Spark's groupByAliases/groupByOrdinal, SQLite likewise);
    rewriting such an item into max_by would turn the grouping key
    into an aggregate and break a previously-valid query (ADVICE r05)."""
    from sqawk_spark.dialect import rewrite_bare_minmax_columns as r

    # alias-grouped item stays a plain column → nothing to rewrite
    s = "select a as x, max(b) from t group by x"
    assert r(s) == s
    # ordinal-grouped likewise
    s = "select a, max(b) from t group by 1"
    assert r(s) == s
    # qualified item grouped by ordinal
    s = "select t.a, max(t.b) from t group by 1"
    assert r(s) == s
    # a genuinely bare column NEXT TO an alias-grouped one still
    # rewrites (SQLite bare-column semantics)
    assert (
        r("select a as x, c, max(b) from t group by x")
        == "select a as x, max_by(c, b) AS c, max(b) from t group by x"
    )


def test_filter_clause_distinct_any_whitespace():
    """'count(DISTINCT\\nx) FILTER (...)' is valid SQLite — the
    DISTINCT keyword may be followed by any whitespace, not just one
    space (ADVICE r05)."""
    from sqawk_spark.dialect import rewrite_filter_clause as r

    assert (
        r("select count(distinct\nv) filter (where k > 0) from t")
        == "select count(DISTINCT CASE WHEN k > 0 THEN v END) from t"
    )
    assert (
        r("select count(distinct\t v) filter (where k > 0) from t")
        == "select count(DISTINCT CASE WHEN k > 0 THEN v END) from t"
    )
    # an identifier that merely STARTS with 'distinct' is an argument,
    # not the keyword
    assert (
        r("select count(distinctive) filter (where k > 0) from t")
        == "select count(CASE WHEN k > 0 THEN distinctive END) from t"
    )


# ---------------------------------------------------------------------------
# round 9: scalar-library exactness (substr / upper / lower / typeof /
# nullif) — each probed for semantic parity against real SQLite
# ---------------------------------------------------------------------------


def test_substr_rewrite_arity_and_scope():
    from sqawk_spark.dialect import rewrite_scalar_calls

    assert (
        rewrite_scalar_calls("select substr(a1, 0, 2) from a")
        == "select sqlite_substr3(a1, 0, 2) from a"
    )
    assert (
        rewrite_scalar_calls("select substring(a1, -2) from a")
        == "select sqlite_substr2(a1, -2) from a"
    )
    # SQL-standard FROM/FOR form has no top-level comma: stays native
    q = "select substring(a1 from 2 for 3) from a"
    assert rewrite_scalar_calls(q) == q
    # fast path: positive literal Y / non-negative literal Z — Spark's
    # substring is already exact there, so the call stays JVM-side
    q = "select substr(a1, 2, 3), substr(a1, 1) from a"
    assert rewrite_scalar_calls(q) == q
    # string literals containing 'substr(' are untouched
    q = "select 'substr(x, 0)' from a"
    assert rewrite_scalar_calls(q) == q


def test_substr_udf_grid_vs_sqlite(spark):
    """The registered UDF walks func.c exactly — grid over the corner
    space (position 0, negative Y, negative Z, 2-arg) vs sqlite3."""
    from sqawk_spark.functions import register_udfs

    register_udfs(spark)
    con = sqlite3.connect(":memory:")
    cases = []
    for s in ("'abc'", "'abcdef'", "''"):
        for y in (-7, -2, -1, 0, 1, 2, 4):
            for z in (-3, -1, 0, 1, 3, None):
                cases.append((s, y, z))
    sel_sq = ", ".join(
        f"substr({s}, {y}{'' if z is None else f', {z}'})"
        for s, y, z in cases
    )
    want = list(con.execute(f"select {sel_sq}").fetchone())
    sel_sp = ", ".join(
        f"sqlite_substr{2 if z is None else 3}"
        f"({s}, {y}{'' if z is None else f', {z}'})"
        for s, y, z in cases
    )
    got = list(spark.sql(f"select {sel_sp}").collect()[0])
    assert got == want


def test_upper_lower_ascii_only(spark):
    from sqawk_spark.dialect import rewrite_scalar_calls

    q = rewrite_scalar_calls("select upper('straße'), lower('ÄBC')")
    row = spark.sql(q).collect()[0]
    con = sqlite3.connect(":memory:")
    assert tuple(row) == con.execute(
        "select upper('straße'), lower('ÄBC')"
    ).fetchone()


def test_typeof_rewrite_class_aware():
    from sqawk_spark.dialect import rewrite_typeof_calls

    cl = {"t": "text", "n": "none", "l": "long", "d": "dynamic"}
    r = rewrite_typeof_calls("select typeof(t), typeof(l) from a", cl)
    assert "'text'" in r and "'integer'" in r and "typeof" not in r
    r = rewrite_typeof_calls("select typeof(d) from a", cl)
    assert "RLIKE" in r and "typeof" not in r
    # unclassifiable argument keeps the UDF fallback
    r = rewrite_typeof_calls("select typeof(t || l) from a", cl)
    assert "typeof" in r


def test_nullif_no_affinity_vs_sqlite(spark):
    """nullif compares WITHOUT affinity conversion: nullif(a, '7')
    over INTEGER a returns 7 though a = '7' is TRUE; numerics DO
    compare across classes (nullif(7, 7.0) is NULL)."""
    from sqawk_spark.dialect import rewrite_statement as rw

    con = sqlite3.connect(":memory:")
    con.execute("create table t (a integer, b text)")
    con.executemany(
        "insert into t values (?,?)",
        [("7", "7"), ("0", "x"), ("7.5", "0"), (None, None)],
    )
    # engine-side: canonicalized strings, a dynamic / b text ('7.0'
    # under numeric affinity canonicalizes to '7', so the real-class
    # row uses a non-integral value)
    spark.createDataFrame(
        [("7", "7"), ("0", "x"), ("7.5", "0"), (None, None)],
        "a string, b string",
    ).createOrReplaceTempView("t")
    cl = {"a": "dynamic", "b": "text"}
    for q in [
        "select nullif(a, '7') from t",
        "select nullif(a, 7) from t",
        "select nullif(b, 7) from t",
        "select nullif(b, '7') from t",
        "select nullif(a, 7.0) from t",
        "select nullif(a, 7.5) from t",
        "select nullif(a, null) from t",
    ]:
        want = [r[0] for r in con.execute(q).fetchall()]
        got = [
            None if r[0] is None else str(r[0])
            for r in spark.sql(rw(q, classes=cl)).collect()
        ]
        want = [None if v is None else str(v) for v in want]
        assert got == want, q


def test_round_udf_vs_sqlite(spark):
    """sqlite_round walks func.c roundFunc: decimal-shortest-repr
    half-away-from-zero for Y>0 (2.675 → 2.68 where binary HALF_UP
    says 2.67), the ±0.5 int64 truncation for Y=0, prefix coercion
    for text, Y clamped to [0, 30]."""
    from sqawk_spark.functions import register_udfs

    register_udfs(spark)
    con = sqlite3.connect(":memory:")
    cases = [
        "round(2.675, 2)", "round(2.35, 1)", "round(2.5)",
        "round(-2.5)", "round(-0.4)", "round(-0.04, 1)",
        "round(25.0, -1)", "round(2.44, 1.9)", "round('3abc')",
        "round('x')", "round('  3.5 ', 0)", "round(1e300)",
        "round('-0.0')", "round(0.5)", "round(1.5)", "round(-1.5)",
    ]
    want = list(con.execute("select " + ", ".join(cases)).fetchone())
    sp = ", ".join(
        c.replace("round(", "sqlite_round2(", 1)
        if "," in c
        else c.replace("round(", "sqlite_round1(", 1)
        for c in cases
    )
    got = list(spark.sql("select " + sp).collect()[0])
    import math

    assert got == want and all(
        math.copysign(1, g) == math.copysign(1, w)
        for g, w in zip(got, want)
    )


def test_compound_order_by_class_keys_vs_sqlite(spark):
    """Compound ORDER BY is class-exact through the wrapper
    (_wrap_ordered_compound): '007' from a TEXT branch sorts as text
    AFTER every number, positional ORDER BY 1 keys like an alias, a
    NOCASE marker folds the text component, and under distinct set
    ops the key columns reproduce SQLite's class-aware row identity
    (TEXT '7' and INTEGER 7 render alike but are distinct rows)."""
    con = sqlite3.connect(":memory:")
    con.execute("create table t (d numeric, s text)")
    # no NOCASE-fold ties ('ABX' vs 'ab'): order among fold-equal
    # strings is unspecified in both engines
    rows = [
        ("7", "007"), ("0.5", "xx"), ("-3", "7"), ("ab", "ABX"),
        ("2.25", "12"), (None, "ab"), ("12", "0.5"),
    ]
    con.executemany("insert into t values (?,?)", rows)
    # engine-side canonical strings: d numeric-affinity canonical,
    # s TEXT verbatim (d '0.5'→'0.5', '7'→'7', '2.25'→'2.25')
    spark.createDataFrame(rows, "d string, s string").createOrReplaceTempView("t")
    cl = {"d": "dynamic", "s": "text"}
    from sqawk_spark.dialect import rewrite_statement as rw

    for q in [
        "select d as c0 from t union select s from t order by 1",
        "select d as c0 from t union all select s from t order by c0 desc",
        "select s as c0 from t union select s from t order by 1",
        "select d as c0 from t intersect select s from t order by 1",
        "select d as c0 from t except select s from t order by 1",
        "select d as c0 from t union select s from t"
        " order by c0 collate nocase",
        "select d as c0, s as c1 from t union all"
        " select s, d from t order by 2, 1 desc limit 9",
    ]:
        want = [
            tuple("" if v is None else str(v) for v in r)
            for r in con.execute(q).fetchall()
        ]
        got = [
            tuple("" if v is None else str(v) for v in r)
            for r in spark.sql(rw(q, classes=cl)).collect()
        ]
        assert got == want, f"{q}\ngot {got}\nwant {want}"


def test_sign_and_format_vs_sqlite(spark):
    """sign(): INTEGER -1/0/+1 via a WHOLE-string numeric parse (NULL
    for '7x'/''/'inf' — no prefix coercion); format() is the printf
    alias."""
    con = sqlite3.connect(":memory:")
    q = (
        "select sign('7'), sign(' -7.5 '), sign('7x'), sign(''),"
        " sign(0.0), sign('1e2'), sign(null),"
        " format('%d|%s', 4.9, 'a'),"
        " unixepoch('2024-03-01 12:00:00'),"
        " unixepoch('2024-03-01', '+1 day'), unixepoch('nope')"
    )
    want = list(con.execute(q).fetchone())
    from sqawk_spark.dialect import rewrite_statement as rw
    from sqawk_spark.functions import register_udfs

    register_udfs(spark)
    got = list(spark.sql(rw(q)).collect()[0])
    assert got == want


# --- round 10: numeric-as-boolean coercion (lang_expr.html §16) ----------


def test_boolean_contexts_vs_sqlite(spark):
    """SQLite truth in WHERE/HAVING/WHEN/AND/OR/NOT: numeric nonzero,
    text numeric-prefix, NULL propagates.  Differential vs the real
    library on a typed table (the CLI surface is covered by
    tests/probe_bool.py and the composed fuzzer's condition shapes)."""
    con = sqlite3.connect(":memory:")
    con.execute("create table t(i INTEGER, s TEXT, r REAL)")
    con.executemany(
        "insert into t values (?,?,?)",
        [
            (1, "x", 0.5),
            (0, "y", 0.0),
            (-3, "3abc", 2.0),
            (2, "", None),
            (None, "0.0", 1.5),
        ],
    )
    spark.sql(
        "select * from values (1L,'x',0.5D),(0L,'y',0.0D),"
        "(-3L,'3abc',2.0D),(2L,'',CAST(NULL AS DOUBLE)),"
        "(CAST(NULL AS BIGINT),'0.0',1.5D) as t(i,s,r)"
    ).createOrReplaceTempView("t")
    cl = {"i": "long", "s": "text", "r": "long"}
    for q in [
        "select i from t where i order by i",
        "select i from t where s order by i",
        "select i from t where r order by i",
        "select i from t where not i order by i",
        "select i from t where not s order by i",
        "select i from t where i and s order by i",
        "select i from t where i or r order by i",
        "select i from t where i and (s or r) order by i",
        "select i from t where not (i or s) order by i",
        "select i from t where i > 0 and r order by i",
        "select i, case when s then 1 else 0 end as c from t order by i",
        "select 1 and 2, not 0.5, 7 or null, 0 or null, 0 and null",
        "select iif(2, 'y', 'n'), iif(0, 'y', 'n'), iif('3x', 'y', 'n')",
        "select i from t where '  2x' order by i",
        "select i from t where i - 1 order by i",
        "select count(*) as n from t group by s having count(*) - 1",
    ]:
        want = [
            tuple("" if v is None else str(v) for v in r)
            for r in con.execute(q).fetchall()
        ]
        got = [
            tuple(
                ""
                if v is None
                else (("1" if v else "0") if isinstance(v, bool) else str(v))
                for v in r
            )
            for r in spark.sql(rewrite_statement(q, classes=cl)).collect()
        ]
        assert got == want, f"{q}\ngot {got}\nwant {want}"


def test_boolify_idempotent():
    """Re-running the boolean passes on their own output is identity —
    the in-pass fixpoint loop relies on it."""
    from sqawk_spark.dialect import (
        rewrite_boolean_contexts,
        rewrite_boolean_select_items,
    )

    cl = {"a1": "dynamic", "a2": "text", "anr": "long"}
    for q in [
        "select a1 from a where a1",
        "select a1 from a where not (a1 or a2) and anr > 2",
        "select 1 and 2 as x, not 0.5 as y from a",
        "select case when a2 then a1 else 0 end from a where a1",
    ]:
        once = rewrite_boolean_contexts(
            rewrite_boolean_select_items(q, cl), cl
        )
        twice = rewrite_boolean_contexts(
            rewrite_boolean_select_items(once, cl), cl
        )
        assert once == twice, q


# --- round 10: expression-collation propagation (datatype3.html §7.1) ----


def test_collate_propagation_vs_sqlite(spark):
    """COLLATE NOCASE anywhere in a select item's subtree governs the
    item's collation: ORDER BY over its alias sorts nocase; DISTINCT
    folds nocase with the first-arrival representative."""
    con = sqlite3.connect(":memory:")
    con.execute(
        "create table t(tnr INTEGER PRIMARY KEY, a1 TEXT, a2 TEXT)"
    )
    con.executemany(
        "insert into t values (?,?,?)",
        [
            (1, "aB", "x"),
            (2, "AB", "y"),
            (3, "Q", "z"),
            (4, "zz", "w"),
            (5, "ab", "v"),
        ],
    )
    spark.sql(
        "select * from values (1L,'aB','x'),(2L,'AB','y'),(3L,'Q','z'),"
        "(4L,'zz','w'),(5L,'ab','v') as t(tnr,a1,a2)"
    ).createOrReplaceTempView("t")
    cl = {"tnr": "long", "a1": "text", "a2": "text"}
    for q in [
        "select distinct case when a1 <> 'z' collate nocase then a1"
        " else '' end as c0 from t order by c0",
        "select distinct a1 collate nocase as c0 from t order by c0",
        "select a1 collate nocase as c0 from t order by c0, tnr",
        "select case when a1 > 'b' collate nocase then a1 else a2 end"
        " as c0 from t order by c0, tnr",
        "select distinct a1 collate nocase as c0 from t order by c0 desc",
        "select distinct a1 collate nocase as c0, a2 as c1 from t"
        " order by c0, c1",
        # GROUP BY keys fold with the first-arrival representative
        "select case when a1 <> 'z' collate nocase then a1 else ''"
        " end as g, count(*) as n from t group by 1 order by g",
        "select a1 collate nocase as g, count(*) as n from t"
        " group by g order by g",
        # comparison collation propagates out of the CASE subtree
        "select a1 from t where case when a1 <> 'z' collate nocase"
        " then a1 else '' end = 'ab' order by tnr",
        "select a1 from t where 'ab' = (case when a1 <> 'z'"
        " collate nocase then a1 else '' end) order by tnr",
        # an unaliased DISTINCT item keeps its name: ORDER BY terms
        # naming it (the ordinal becomes its text) still resolve
        "select distinct a1 collate nocase from t order by 1",
        "select distinct a1 collate nocase from t"
        " order by a1 collate nocase",
        "select distinct a1 collate nocase, length(a2) from t order by 1",
        # a collated simple-CASE base compares every WHEN nocase
        "select case a1 collate nocase when 'ab' then 1 else 3 end, tnr"
        " from t order by tnr",
        "select case (a1 collate nocase) when 'ab' then 1"
        " when 'q' collate binary then 2 else 3 end, tnr"
        " from t order by tnr",
        "select tnr from t where case a1 collate nocase when 'ab'"
        " then 1 else 0 end order by tnr",
        # a parenthesized collated operand of a comparison
        "select tnr from t where (a1 collate nocase) = 'ab' order by tnr",
        "select tnr from t where 'ab' = ((a1 collate nocase)) order by tnr",
    ]:
        want = [
            tuple("" if v is None else str(v) for v in r)
            for r in con.execute(q).fetchall()
        ]
        got = [
            tuple("" if v is None else str(v) for v in r)
            for r in spark.sql(rewrite_statement(q, classes=cl)).collect()
        ]
        assert got == want, f"{q}\ngot {got}\nwant {want}"


def test_non_ascii_identifiers_rewrite():
    """A character at or above U+0080 is an identifier character, as
    in SQLite's tokenizer: a word may start with ``ß`` or ``é``, and
    ``prénom`` is one word, not ``pr`` plus ``nom``.  Every statement
    below used to raise AttributeError inside the rewriter."""
    cl = {"größe": "long", "prénom": "text", "anr": "long"}
    for q in [
        "select größe from a where größe > 1",
        "select prénom, größe from a where größe > 1 order by prénom",
        "select case when größe > 1 then prénom else 'x' end from a",
        "select sum(größe > 1), ßx from a group by ßx",
        "select é from a where é and größe",
    ]:
        out = rewrite_statement(q, set(cl), cl)
        for name in ("größe", "prénom", "ßx"):
            assert (name in out) == (name in q), (q, out)


def test_non_ascii_columns_vs_sqlite(tmp_path):
    """Known non-ASCII column names run: SQLite reads ``größe`` as an
    identifier, and the rewriter backtick-quotes it for Spark."""
    from tests.test_load_path import run, sqlite_awk

    f = tmp_path / "h.csv"
    f.write_text("id,größe,prénom\n1,1,Zoé\n2,2,anna\n3,3,Émile\n")
    lines = f.read_text().splitlines()[1:]
    recs = [ln.split(",") for ln in lines]
    for q in [
        "select größe from a where größe > 1",
        "select prénom, größe from a where größe > 1 order by prénom",
        'select a.größe + 1, "prénom", \'größe\' from a order by anr',
    ]:
        want = sqlite_awk(q, lines, recs, names=["id", "größe", "prénom"])
        assert run([q, "format=csv", "header=1", str(f)]) == want, q
    # a mixed-class non-ASCII column compares and sorts by SQLite's
    # storage classes, like the same values under an ASCII name
    g = tmp_path / "g.csv"
    g.write_text("id,größe,gx\n1,2,2\n2,abc,abc\n3,10,10\n")
    lines = g.read_text().splitlines()[1:]
    recs = [ln.split(",") for ln in lines]
    for q in [
        "select id from a where größe > 5",
        "select größe from a order by größe",
        "select distinct größe from a order by 1",
        "select sum(größe) filter (where größe > 2) from a",
    ]:
        want = sqlite_awk(q, lines, recs, names=["id", "größe", "gx"])
        assert run([q, "format=csv", "header=1", str(g)]) == want, q


def test_non_ascii_names_rewrite_like_ascii():
    """Every pass treats a non-ASCII column name as an identifier: the
    rewrite of a statement over ``größe`` is the rewrite of the same
    statement over the ASCII ``gx`` with the name swapped back."""
    cols = {"anr", "anf", "a0", "id", "größe", "gx"}
    classes = {"id": "long", "größe": "dynamic", "gx": "dynamic", "anr": "long", "a0": "text"}
    for shape in [
        "select id from a where X > 5",
        "select id from a where a.X >= (select min(X) from a)",
        "select X from a order by X desc",
        "select min(X), max(X), sum(X), avg(X), total(X) from a",
        "select id from a where X between 2 and 20",
        "select id from a where X in (2, 'abc')",
        "select X, count(*) from a group by X having count(*) > 0 order by X",
        "select X + 1, cast(X as integer), typeof(X) from a",
        "select id from a where X is 10",
        "select distinct X from a",
        "select X from a union select 5",
        "select X collate nocase from a order by X collate nocase",
        "select sum(X) filter (where X > 2) as s from a",
        "select cast(X as text) as t from a order by t",
        "select min(case when X > 1 then X else 0 end) from a",
        "select X, sum(X) over (order by id rows between 1 preceding and current row) from a",
    ]:
        ascii_ = rewrite_statement(shape.replace("X", "gx"), cols, classes)
        got = rewrite_statement(shape.replace("X", "größe"), cols, classes)
        assert got.replace("`größe`", "gx") == ascii_, shape


# --- round 10: literal branches in distinct set ops ----------------------


def test_literal_setop_branches_vs_sqlite(spark):
    """`select 7 union select '7'` keeps TWO rows — INTEGER and TEXT
    are distinct classes even when the rendering matches."""
    con = sqlite3.connect(":memory:")
    con.execute("create table t(d INTEGER, s TEXT)")
    con.executemany(
        "insert into t values (?,?)", [(7, "7"), (2, "x")]
    )
    spark.sql(
        "select * from values ('7','7'),('2','x') as t(d,s)"
    ).createOrReplaceTempView("t")
    cl = {"d": "dynamic", "s": "text"}
    for q in [
        "select count(*) as n from (select 7 as v union select '7')",
        "select count(*) as n from (select 5 as v intersect select '5')",
        "select count(*) as n from (select 5 as v except select '5')",
        "select count(*) as n from (select d from t union select '7')",
        "select count(*) as n from (select 'x' as v union select 'x')",
        "select count(*) as n from"
        " (select 1 as v union select 1.5 union select '1')",
    ]:
        want = [
            tuple(str(v) for v in r) for r in con.execute(q).fetchall()
        ]
        got = [
            tuple(str(v) for v in r)
            for r in spark.sql(rewrite_statement(q, classes=cl)).collect()
        ]
        assert got == want, f"{q}\ngot {got}\nwant {want}"


# --- round 10: deterministic scan order for the CLI text surface ---------


def test_append_scan_order_shapes():
    from sqawk_spark.dialect import append_scan_order

    nr = {"a": "anr", "b": "bnr", "c": "cnr"}
    # join without ORDER BY: keys appended as a new clause
    assert append_scan_order(
        "select a1, b1 from a join b on a1 = b1", nr
    ).endswith("order by a.anr, b.bnr")
    # existing ORDER BY: keys appended as trailing tiebreaks
    out = append_scan_order(
        "select a1, b1 from a join b on a1 = b1 order by b1 limit 3", nr
    )
    assert "order by b1, a.anr, b.bnr limit 3" in out
    # aliases qualify the counter; comma joins count
    out = append_scan_order("select * from a x, b y where x.a1 = y.b1", nr)
    assert out.endswith("order by x.anr, y.bnr")
    # three-way
    out = append_scan_order(
        "select a1 from a join b on a1=b1 join c on a1=c1", nr
    )
    assert out.endswith("order by a.anr, b.bnr, c.cnr")
    # bails: single table, aggregates, group by, distinct, set ops,
    # derived tables, unknown counter
    for q in [
        "select a1 from a",
        "select count(*) from a join b on a1=b1",
        "select min(a1) from a join b on a1=b1",
        "select a1 from a join b on a1=b1 group by a1",
        "select distinct a1 from a join b on a1=b1",
        "select a1 from a union select b1 from b",
        "select a1 from (select a1 from a) join b on a1=b1",
        "select a1 from a join d on a1=d1",
    ]:
        assert append_scan_order(q, nr) == q, q
    # window aggregates do NOT bail (cardinality-preserving)
    out = append_scan_order(
        "select a1, sum(a1) over (order by a1) as w from a join b on a1=b1",
        nr,
    )
    assert out == (
        "select a1, sum(a1) over (order by a1) as w from a join b on a1=b1"
    ) or out.endswith("order by a.anr, b.bnr")


# --- round 10: bare-column rules (lang_select.html §bare_columns) ---------


def test_bare_group_columns_vs_sqlite(spark):
    """No-min/max aggregate queries give bare non-grouped columns the
    FIRST row of the group in scan order (probed deterministic); a
    single min/max keeps the winning row even next to count()/sum()."""
    con = sqlite3.connect(":memory:")
    con.execute(
        "create table t(tnr INTEGER PRIMARY KEY, g TEXT, v TEXT)"
    )
    con.executemany(
        "insert into t(g,v) values (?,?)",
        [("a", "v1"), ("b", "v2"), ("a", "v3"), ("b", "v4"), ("a", "v5")],
    )
    spark.sql(
        "select * from values (1L,'a','v1'),(2L,'b','v2'),(3L,'a','v3'),"
        "(4L,'b','v4'),(5L,'a','v5') as t(tnr,g,v)"
    ).createOrReplaceTempView("t")
    from sqawk_spark.functions import register_udfs

    register_udfs(spark)  # total() rendering uses py_real_repr
    cl = {"tnr": "long", "g": "text", "v": "text"}
    for q in [
        "select v, g from t group by g order by g",
        "select v, g, count(*) as n from t group by g order by g",
        "select v, count(*) as n from t",
        "select v, g, max(tnr) as m, count(*) as n from t group by g"
        " order by g",
        "select v, g, sum(tnr) as s from t where tnr > 1 group by g"
        " order by g",
        "select v, g, total(tnr) as s from t group by g order by g",
        # a named window (``OVER w``) is a window function too: no
        # bare-column rewrite, one row per input row
        "select max(tnr) over w as m, v from t window w as"
        " (order by tnr) order by tnr",
        "select count(*) over w as n, v from t window w as"
        " (order by tnr) order by tnr",
    ]:
        want = [
            tuple("" if x is None else str(x) for x in r)
            for r in con.execute(q).fetchall()
        ]
        got = [
            tuple("" if x is None else str(x) for x in r)
            for r in spark.sql(rewrite_statement(q, classes=cl)).collect()
        ]
        assert got == want, f"{q}\ngot {got}\nwant {want}"


def test_no_module_level_name_bound_twice():
    """A module-level rebinding silently changes every earlier user:
    ``_OVER_RE`` was bound to ``\\bover\\b`` and later rebound to
    ``\\bover\\s*\\(``, so the bare-column window guards missed
    ``OVER w`` (the named-window queries above)."""
    import ast
    import collections

    import sqawk_spark.dialect as dialect

    with open(dialect.__file__) as f:
        tree = ast.parse(f.read())
    bound: collections.Counter[str] = collections.Counter()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            bound[node.name] += 1
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            bound.update(a.asname or a.name for a in node.names)
        elif isinstance(node, ast.Assign):
            bound.update(
                t.id for t in node.targets if isinstance(t, ast.Name)
            )
        elif isinstance(node, ast.AnnAssign) and isinstance(
            node.target, ast.Name
        ):
            bound[node.target.id] += 1
    assert [n for n, c in bound.items() if c > 1] == []


def test_no_module_level_regex_compiled_twice():
    """One pattern, one name: three module-level names held the same
    ``\\b(min|max)\\s*\\(`` regex, two the same alias splitter and two
    the same single-table FROM matcher, so a fix to one copy would
    miss the others.  Compares every module-level ``re.compile`` whose
    pattern is a literal, by pattern and flags."""
    import ast
    import collections

    import sqawk_spark.dialect as dialect

    with open(dialect.__file__) as f:
        tree = ast.parse(f.read())
    seen: collections.defaultdict[tuple, list[int]] = (
        collections.defaultdict(list)
    )
    for node in tree.body:
        if not isinstance(node, (ast.Assign, ast.AnnAssign)):
            continue
        for call in ast.walk(node):
            if (
                isinstance(call, ast.Call)
                and ast.unparse(call.func) == "re.compile"
                and call.args
                and isinstance(call.args[0], ast.Constant)
            ):
                flags = [ast.unparse(a) for a in call.args[1:]]
                seen[(call.args[0].value, *flags)].append(call.lineno)
    assert {k: v for k, v in seen.items() if len(v) > 1} == {}


# ---------------------------------------------------------------------------
# function-call lowerings on the one call-site walker (_rewrite_calls)
# ---------------------------------------------------------------------------

# the passes whose calls the walker visits; they and their ``_lower_*``
# functions hold no loop of their own
_CALL_SITE_PASSES = [
    "rewrite_function_aliases",
    "rewrite_group_concat",
    "rewrite_regex_calls",
    "rewrite_scalar_calls",
    "rewrite_date_calls",
    "rewrite_typeof_calls",
    "rewrite_nullif_calls",
    "mark_mixed_minmax",
    "rewrite_scalar_minmax",
    "rewrite_filter_clause",
    "rewrite_groups_frames",
    "rewrite_plain_frame_excludes",
    "rewrite_affinity_minmax",
    "rewrite_affinity_in",
    "rewrite_affinity_aggregates",
    "rewrite_affinity_casts",
    "_strip_nocase",
]


def test_call_site_loops_ratchet():
    import ast

    import sqawk_spark.dialect as dialect

    with open(dialect.__file__) as f:
        tree = ast.parse(f.read())
    funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}

    def called(fn) -> set[str]:
        return {
            ast.unparse(c.func).split(".")[-1]
            for c in ast.walk(fn)
            if isinstance(c, ast.Call)
        }

    for name in _CALL_SITE_PASSES:
        assert "_rewrite_calls" in called(funcs[name]), name
    looped = [
        name
        for name, fn in funcs.items()
        if (name in _CALL_SITE_PASSES or name.startswith("_lower_"))
        and any(isinstance(n, (ast.For, ast.While)) for n in ast.walk(fn))
    ]
    assert looped == []
    assert not any(
        isinstance(n, ast.While) for n in ast.walk(funcs["rewrite_statement"])
    )
    # every other scan for call sites is the walker's: only it, and
    # the read-only window-span finder, pair a finditer scan with
    # sqllex.close_paren
    paired = sorted(
        name
        for name, fn in funcs.items()
        if {"finditer", "close_paren"} <= called(fn)
    )
    assert paired == ["_over_spans", "_rewrite_calls"]


_NESTED_LINES = ["1 7 ab", "2 3 xAx", "3 9 straße"]


def test_nested_calls_vs_sqlite(tmp_path):
    """A call nested inside one its lowering keeps (the aggregate max,
    substr's fast path, a nullif over an unclassifiable operand,
    one-argument trim) is lowered too."""
    from tests.test_load_path import run, sqlite_awk

    f = tmp_path / "n.txt"
    f.write_text("\n".join(_NESTED_LINES) + "\n")
    recs = [ln.split() for ln in _NESTED_LINES]
    for q in [
        "select max(min(a1, a2)) from a",
        "select substr(substr(a3, 0, 2), 1) from a",
        "select nullif(nullif(a2, '7'), 3) from a",
        "select trim(trim(a3, 'x')) from a",
    ]:
        assert run([q, str(f)]) == sqlite_awk(q, _NESTED_LINES, recs), q


def test_scalar_minmax_mixed_classes_vs_sqlite(tmp_path):
    """Scalar min/max picks its winner by SQLite's value order (NULL
    if any argument is NULL, numbers before text) and returns it in
    its own class: text beside numbers raised DATATYPE_MISMATCH, and
    an INTEGER winner over a REAL argument printed as a real. The
    winner's class varies per row, so ORDER BY, aggregate min/max,
    comparisons, arithmetic and compounds over it go by class (10
    sorts after 2)."""
    from tests.test_load_path import run, sqlite_awk

    lines = [*_NESTED_LINES, "10 12 10"]
    f = tmp_path / "n.txt"
    f.write_text("\n".join(lines) + "\n")
    recs = [ln.split() for ln in lines]
    for q in [
        "select min(a3, 5) from a",
        "select min(substr(a3, 1, 1), a1) from a",
        "select max(1.5, 2) from a",
        "select max(a1, 1.5) from a",
        "select max(a3, a2, 8), min(a2, 'x', 4.5) from a",
        "select min(2, 2.0), max(2, 2.0), min(2.0, 2), max(2.0, 2) from a",
        "select max(a1, null), min(a3, a4, 1) from a",
        "select min(a1, a2), max(a1, a2), max('b', a3), min(a1, 3) from a",
        "select max(a1, 1.5) + 1, typeof(max(a1, 1.5)) from a",
        "select a1 from a order by max(a1, 1.5)",
        "select max(a1, 1.5) as m from a order by m desc",
        "select a1, min(a3, 5) from a order by 2, 1",
        "select max(max(a1, 1.5)), min(max(a1, 1.5)), max(min(a3, 5)) from a",
        "select a1 from a where max(a3, 5) > 7 and max(a1, 1.5) <> '2'",
        "select max(a1, 1.5) * 2, -min(a3, 5), max(a1, 1.5) / 2 from a",
        "select max(a1, 1.5) from a union select 3 order by 1",
        "select min(a1 * 1e20, a3) from a",
    ]:
        assert run([q, str(f)]) == sqlite_awk(q, lines, recs), q


_CLASS_LINES = ["1 7 ab", "2 3 xAx", "10 9 straße", "4 12 10"]


def _vs_sqlite(tmp_path, queries):
    from tests.test_load_path import run, sqlite_awk

    f = tmp_path / "c.txt"
    f.write_text("\n".join(_CLASS_LINES) + "\n")
    recs = [ln.split() for ln in _CLASS_LINES]
    for q in queries:
        assert run([q, str(f)]) == sqlite_awk(q, _CLASS_LINES, recs), q


def test_same_class_scalar_minmax_has_no_affinity_vs_sqlite(tmp_path):
    """A scalar min/max over one storage class is a function result:
    a value of that class without affinity, so a text literal beside
    it is not converted to a number (``max(a1, 2) = '2'`` matched
    rows that SQLite does not)."""
    _vs_sqlite(
        tmp_path,
        [
            "select a1 from a where max(a1, 2) = '2'",
            "select a1 from a where max(a1, a2) = '7'",
            "select a1 from a where max(a1, 2) = 2",
        ],
    )


def test_distinct_positional_order_by_vs_sqlite(tmp_path):
    """``ORDER BY N`` naming an unaliased expression under SELECT
    DISTINCT resolves (it raised UNRESOLVED_COLUMN) and sorts by the
    output's storage class."""
    _vs_sqlite(
        tmp_path,
        [
            "select distinct a1 + 0 from a order by 1",
            "select distinct abs(a1) from a order by 1",
            "select distinct max(a1, 1.5) from a order by 1",
        ],
    )


def test_string_agg_collate_vs_sqlite(tmp_path):
    """``string_agg(X COLLATE NOCASE, SEP)`` drops the no-op collation
    like group_concat does.  string_agg is SQLite 3.44's name for the
    two-argument group_concat; the oracle spells it group_concat, the
    name every SQLite has."""
    from tests.test_load_path import run, sqlite_awk

    f = tmp_path / "n.txt"
    f.write_text("\n".join(_NESTED_LINES) + "\n")
    recs = [ln.split() for ln in _NESTED_LINES]
    q = "select string_agg(a3 COLLATE NOCASE, ';') from a"
    want = sqlite_awk(
        q.replace("string_agg", "group_concat"), _NESTED_LINES, recs
    )
    assert run([q, str(f)]) == want


def test_nested_scalar_grid_vs_sqlite(spark):
    """Two-level compositions of the lowered scalar functions over
    literals, one query, vs sqlite3: each outer call both kept (substr
    fast path, one-argument trim, nullif) and lowered."""
    from sqawk_spark.functions import register_udfs

    register_udfs(spark)
    text_inner = [
        "substr('straße', 0, 3)", "trim('xAx', 'x')", "upper('straße')",
        "lower('ÄBC')", "min('b', 'a')", "max('b', NULL)",
        "likely('xab')", "rtrim('abxx', 'x')", "substr('abc', 2)",
    ]
    text_outer = [
        "substr({}, 1)", "substr({}, 0, 2)", "trim({})", "trim({}, 'a')",
        "ltrim({}, 's')", "upper({})", "lower({})", "min({}, 'zz')",
        "max({}, 'b')", "likely({})", "nullif({}, 'A')",
    ]
    num_inner = [
        "round(2.675, 2)", "sign('-3')", "min(2, 1)", "max(3, 2)",
        "unlikely(-4)", "round(sign(-2.5))",
    ]
    num_outer = [
        "round({0})", "round({0}, 1)", "sign({0})", "likelihood({0}, 0.5)",
        "nullif({0}, 1)", "min({0}, {0})", "max({0}, {0})",
    ]
    exprs = [o.format(i) for o in text_outer for i in text_inner]
    exprs += [o.format(i) for o in num_outer for i in num_inner]
    q = "select " + ", ".join(exprs)
    want = list(sqlite3.connect(":memory:").execute(q).fetchone())
    got = list(spark.sql(rewrite_statement(q)).collect()[0])
    assert [(e, type(v), v) for e, v in zip(exprs, got)] == [
        (e, type(v), v) for e, v in zip(exprs, want)
    ]


def test_unclosed_call_is_kept():
    """A call whose paren never closes is left byte for byte (it used
    to be read to the end of the text, its last character dropped),
    and a closed call inside it is still lowered."""
    from sqawk_spark.dialect import rewrite_scalar_calls

    for q, want in [
        ("select substr(a3, 0, 2", "select substr(a3, 0, 2"),
        ("select upper(substr(a3, 0, 2)", "select upper(sqlite_substr3(a3, 0, 2)"),
        (
            "select substr(a3, 0, 2) from a where likely(a1",
            "select sqlite_substr3(a3, 0, 2) from a where likely(a1",
        ),
    ]:
        assert rewrite_scalar_calls(q) == want, q


def test_kept_calls_do_not_grow_the_stack():
    """1,100 calls the substr fast path keeps: the walker goes on
    after each without recursing, under Python's default recursion
    limit (libraries loaded by other tests may have raised it)."""
    import sys

    q = "select " + ", ".join(["substr(a3, 1, 2)"] * 1100) + " from a"
    limit = sys.getrecursionlimit()
    sys.setrecursionlimit(1000)
    try:
        assert rewrite_statement(q) == q
    finally:
        sys.setrecursionlimit(limit)
