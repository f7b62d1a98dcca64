"""The lexer (sqawk_spark/sqllex.py) against the hand-rolled scanners
it replaced.  The reference implementations below are the dialect
rewriter's, DML runner's and CLI's former quote-and-paren loops,
copied verbatim (names kept); each lexer-based replacement must agree
with its reference at every position of every drawn text."""

from __future__ import annotations

import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from sqawk_spark import dialect, sqllex
from sqawk_spark.cli import split_statements
from sqawk_spark.dialect import _escape_backslash_literals, _split_call_args

# test_dialect.py's alphabet: quotes, doubled quotes, unbalanced parens
_sql_texts = st.text(
    alphabet=st.sampled_from(
        list("abcdefgXYZ0123456789 _.,*=<>()'\"`%+-|;\n\t")
    ),
    max_size=60,
)


# --- reference implementations ----------------------------------------


def _scan_string(s: str, i: int) -> int:
    q = s[i]
    i += 1
    n = len(s)
    while i < n:
        if s[i] == q:
            if i + 1 < n and s[i + 1] == q:
                i += 2
                continue
            return i + 1
        i += 1
    return n


def _in_quotes(s: str, pos: int) -> bool:
    i = 0
    while i < pos:
        if s[i] in "'\"`":
            i = _scan_string(s, i)
            if i > pos:
                return True
            continue
        i += 1
    return False


def _string_spans(s: str) -> list[tuple[int, int]]:
    spans = []
    i, n = 0, len(s)
    while i < n:
        if s[i] in "'\"`":
            j = _scan_string(s, i)
            spans.append((i, j))
            i = j
        else:
            i += 1
    return spans


def _stmt_depth(stmt: str, pos: int) -> int:
    depth = 0
    i = 0
    while i < pos:
        c = stmt[i]
        if c in "'\"`":
            i = _scan_string(stmt, i)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        i += 1
    return depth


def _match_paren_fwd(s: str, i: int) -> int:
    depth = 0
    n = len(s)
    while i < n:
        c = s[i]
        if c in "'\"`":
            i = _scan_string(s, i)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return n


def _split_args_top(s: str) -> list[str]:
    parts, depth, last, i, n = [], 0, 0, 0, len(s)
    while i < n:
        c = s[i]
        if c in "'\"`":
            i = _scan_string(s, i)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[last:i])
            last = i + 1
        i += 1
    parts.append(s[last:])
    return [p.strip() for p in parts]


def _ref_split_call_args(stmt: str, open_paren: int) -> list[str] | None:
    close = _match_paren_fwd(stmt, open_paren)
    if close > len(stmt) or stmt[close - 1] != ")":
        return None
    args: list[str] = []
    depth = 0
    i = open_paren
    last = open_paren + 1
    while i < close:
        c = stmt[i]
        if c in "'\"`":
            i = _scan_string(stmt, i)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                args.append(stmt[last:i].strip())
        elif c == "," and depth == 1:
            args.append(stmt[last:i].strip())
            last = i + 1
        i += 1
    return args


def _ref_escape_backslash_literals(stmt: str) -> str:
    if "\\" not in stmt:
        return stmt
    out = []
    i = 0
    n = len(stmt)
    while i < n:
        c = stmt[i]
        if c == "'":
            j = _scan_string(stmt, i)
            out.append(stmt[i:j].replace("\\", "\\\\"))
            i = j
        elif c in '"`':
            j = _scan_string(stmt, i)
            out.append(stmt[i:j])
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _ref_split_statements(script: str) -> list[str]:
    stmts: list[str] = []
    cur: list[str] = []
    i, n = 0, len(script)
    quote: str | None = None
    while i < n:
        c = script[i]
        if quote:
            cur.append(c)
            if c == quote:
                if i + 1 < n and script[i + 1] == quote:  # '' escape
                    cur.append(script[i + 1])
                    i += 1
                else:
                    quote = None
        elif c in ("'", '"', "`"):
            quote = c
            cur.append(c)
        elif c == ";":
            stmts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    stmts.append("".join(cur))
    return [
        _ref_escape_backslash_literals(s.strip())
        for s in stmts
        if s.strip()
    ]


# --- properties -------------------------------------------------------


@given(_sql_texts)
@settings(max_examples=400, deadline=None)
@example("a'b''c'(d\"e\"\"f\")`g")
@example("('x''")
def test_string_spans_and_depth(s):
    assert list(sqllex.string_spans(s)) == _string_spans(s)
    for i in range(len(s) + 1):
        assert sqllex.depth(s, i) == _stmt_depth(s, i)


@given(_sql_texts)
@settings(max_examples=400, deadline=None)
@example("'a'b")
def test_in_string_conventions(s):
    """``_in_quotes`` meant start < pos < end; the ``outside()``
    closures meant start <= pos < end, which ``sqllex.in_string``
    keeps.  The two differ exactly on a token's opening quote."""
    spans = _string_spans(s)
    for i in range(len(s)):
        assert sqllex.in_string(s, i) == any(a <= i < e for a, e in spans)
        if sqllex.in_string(s, i) != _in_quotes(s, i):
            assert i in {a for a, _ in spans}


# texts that follow an opening quote
_AFTER_QUOTE = [
    "a' between 1 and 2",
    "a' not between 'a' and 'b' collate nocase",
    "a' collate nocase between 'a' and 'b'",
    "x' collate nocase",
    "x' collate rtrim",
    "a''b' = 1 and b like 'c'",
    "a' is not null",
    "a' as x",
    "a' desc nulls last",
    "%Y', a1) over (order by a1)",
    "select', a1 from a group by a2",
]


@given(st.lists(_sql_texts, max_size=3))
@settings(max_examples=200, deadline=None)
def test_regex_starts_never_sit_on_a_quote(extra):
    """Which callers can meet the opening-quote case: every caller of
    ``in_string`` passes the start of a dialect regex match (or of an
    operator character), and no dialect regex can match at a quote
    except the ones below.  The ``^``-anchored item regexes match
    whole items and never feed ``in_string``; ``_BETWEEN_COLLATE_RES``
    does — its X operand may be a string literal — and its caller in
    rewrite_collate_positions asks for a start strictly inside a
    quoted token, the old convention, explicitly."""
    may_open_on_quote = {
        "_BETWEEN_COLLATE_RES",
        "_AFF_ORDER_KEY_RE",
        "_BOOL_ITEM_ALIAS_RE",
        "_OB_TERM_DIR_RE",
        "_PROP_ALIAS_RE",
        "_TRAILING_COLLATE_RE",
        "_TRAILING_RTRIM_RE",
    }
    seen = set()
    for name, value in vars(dialect).items():
        members = value if isinstance(value, (tuple, list)) else [value]
        if isinstance(value, dict):
            members = list(value.values())
        for rex in members:
            if isinstance(rex, tuple):
                rex = next((r for r in rex if isinstance(r, re.Pattern)), None)
            if not isinstance(rex, re.Pattern):
                continue
            for text in _AFTER_QUOTE + extra:
                for q in sqllex.QUOTES:
                    if rex.match(q + text.replace("'", q)):
                        seen.add(name)
    assert seen == may_open_on_quote


@given(_sql_texts)
@settings(max_examples=400, deadline=None)
@example("f((a),b)")
@example("f(x,(a)")
@example("'('(')")
def test_close_paren_and_call_args(s):
    """Every ``(`` — outside strings or, as a forward scan from there
    would read it, inside one — closes where the old scan said.  Call
    arguments agree whenever the call closes; an unclosed call is None
    (the old scan returned a partial list when the text happened to end
    in ``)``, against its own docstring)."""
    for i, c in enumerate(s):
        if c != "(":
            continue
        close = _match_paren_fwd(s, i)
        assert sqllex.close_paren(s, i) == close
        args = _split_call_args(s, i)
        if _stmt_depth(s[i:close], close - i) == 0:  # the call closes
            assert args == _ref_split_call_args(s, i)
        else:
            assert args is None


@given(_sql_texts)
@settings(max_examples=400, deadline=None)
def test_split_top_and_scan(s):
    assert sqllex.split_top(s) == _split_args_top(s)
    for start in range(len(s)):
        sub = s[start:]
        assert sqllex.split_top(s, start) == _split_args_top(sub)
        got = [(i - start, d) for i, d in sqllex.scan(s, start)]
        want = [
            (i, _stmt_depth(sub, i))
            for i in range(len(sub))
            if not any(a <= i < e for a, e in _string_spans(sub))
        ]
        assert got == want


@given(_sql_texts)
@settings(max_examples=400, deadline=None)
@example("select 'a\\b'; select \"c\\d\";;x")
def test_split_statements(s):
    s = s.replace("%", "\\")  # backslashes inside and outside quotes
    assert split_statements(s) == _ref_split_statements(s)
    assert _escape_backslash_literals(s) == _ref_escape_backslash_literals(s)
