"""The lexer (sqawk_spark/sqllex.py) against the hand-rolled scanners
it replaced.  The reference implementations below are the dialect
rewriter's, DML runner's and CLI's former quote-and-paren loops and
the rewriter's former word, CASE and clause walkers, copied verbatim
(names kept); each lexer-based replacement must agree with its
reference at every position of every drawn text (the CASE walkers:
on every well-formed one, see ``_check_against_walkers``).  Last, the
rewriter's call-site walker against the function-call loop it
replaced."""

from __future__ import annotations

import re

import pytest
from hypothesis import assume, example, given, settings
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


# --- words, CASE blocks and clauses -------------------------------------
#
# The rewriter's former word-by-word walkers, copied verbatim (names
# kept).  They read a word as ``[A-Za-z_][A-Za-z_0-9]*`` and crashed on a
# non-ASCII letter that started one; ``sqllex.words`` counts every
# character at or above U+0080 as an identifier character, as SQLite's
# tokenizer does.  Replacing each such character by ``x`` keeps every
# position and gives the references the same word boundaries, so they
# read ``_ascii(s)`` wherever the new code reads ``s``.

_IDENT = re.compile(r"[A-Za-z_0-9$.]")
_BOOL_WORD_RE = re.compile(r"[A-Za-z_][A-Za-z_0-9]*")


def _skip_ws(s: str, i: int) -> int:
    while i < len(s) and s[i].isspace():
        i += 1
    return i


_CLAUSE_RES: tuple[tuple[str, re.Pattern[str]], ...] = (
    ("from", re.compile(r"from\b", re.IGNORECASE)),
    ("where", re.compile(r"where\b", re.IGNORECASE)),
    ("group_by", re.compile(r"group\s+by\b", re.IGNORECASE)),
    ("having", re.compile(r"having\b", re.IGNORECASE)),
    ("window", re.compile(r"window\b", re.IGNORECASE)),
    ("order_by", re.compile(r"order\s+by\b", re.IGNORECASE)),
    ("limit", re.compile(r"limit\b", re.IGNORECASE)),
    ("setop", re.compile(r"(?:union|intersect|except)\b", re.IGNORECASE)),
)


def _top_level_clauses(stmt: str) -> list[tuple[str, int, int]]:
    """Depth-0, outside-strings occurrences of statement clause
    keywords, as ``(name, kw_start, kw_end)`` in source order."""
    found: list[tuple[str, int, int]] = []
    for i, depth in sqllex.scan(stmt):
        c = stmt[i]
        if depth or not (c.isalpha() or c == "_"):
            continue
        if i and _IDENT.match(stmt[i - 1]):
            continue
        for name, rex in _CLAUSE_RES:
            m = rex.match(stmt, i)
            if m:
                # 'FROM' inside IS [NOT] DISTINCT FROM is an
                # operator token, not the statement clause
                if name != "from" or not re.search(
                    r"\bdistinct\s*$",
                    stmt[max(0, i - 12) : i],
                    re.IGNORECASE,
                ):
                    found.append((name, m.start(), m.end()))
                break
    return found


def _case_end(s: str, start: int) -> int | None:
    """Index just past the END keyword of the CASE whose body starts
    at ``start`` (right after its CASE keyword), or None."""
    cd = 0
    for i, depth in sqllex.scan(s, start):
        c = s[i]
        if c == ")" and depth == 0:
            return None
        if (
            depth == 0
            and (c.isalpha() or c == "_")
            and (i == 0 or not _IDENT.match(s[i - 1]))
        ):
            m = _BOOL_WORD_RE.match(s, i)
            w = m.group(0).lower()
            if w == "case":
                cd += 1
            elif w == "end":
                if not cd:
                    return m.end()
                cd -= 1
    return None


def _when_then_end(stmt: str, start: int) -> int:
    """Position of the THEN matching a WHEN at this CASE level."""
    case_depth = 0
    for i, _ in sqllex.scan(stmt, start):
        c = stmt[i]
        if (c.isalpha() or c == "_") and (
            i == 0 or not _IDENT.match(stmt[i - 1])
        ):
            w = _BOOL_WORD_RE.match(stmt, i).group(0).lower()
            if w == "case":
                case_depth += 1
            elif w == "end" and case_depth:
                case_depth -= 1
            elif w == "then" and case_depth == 0:
                return i
    return len(stmt)


def _searched_when_spans(stmt: str) -> list[tuple[int, int]]:
    """(start, end) of every searched-CASE WHEN condition — the CASE
    whose first token is WHEN.  A simple CASE's WHEN operands are
    comparison values, not boolean contexts, and are skipped."""
    spans: list[tuple[int, int]] = []
    stack: list[bool] = []
    for i, _ in sqllex.scan(stmt):
        c = stmt[i]
        if (c.isalpha() or c == "_") and (
            i == 0 or not _IDENT.match(stmt[i - 1])
        ):
            m = _BOOL_WORD_RE.match(stmt, i)
            w = m.group(0).lower()
            if w == "case":
                j = _skip_ws(stmt, m.end())
                stack.append(
                    bool(re.match(r"when\b", stmt[j:], re.IGNORECASE))
                )
            elif w == "end":
                if stack:
                    stack.pop()
            elif w == "when" and stack and stack[-1]:
                spans.append((m.end(), _when_then_end(stmt, m.end())))
    return spans


def _bool_split_top(expr: str, word: str) -> list[str]:
    """Split on a top-level AND/OR — outside strings, parens and
    CASE..END blocks, with the AND that belongs to a BETWEEN consumed
    by it."""
    parts: list[str] = []
    last = case_depth = between = 0
    for i, depth in sqllex.scan(expr):
        c = expr[i]
        if (c.isalpha() or c == "_") and (
            i == 0 or not _IDENT.match(expr[i - 1])
        ):
            m = _BOOL_WORD_RE.match(expr, i)
            w = m.group(0).lower()
            if depth:
                continue
            if w == "case":
                case_depth += 1
            elif w == "end" and case_depth:
                case_depth -= 1
            elif case_depth == 0:
                if w == "between":
                    between += 1
                elif w == "and" and between:
                    between -= 1
                elif w == word:
                    parts.append(expr[last:i])
                    last = m.end()
    parts.append(expr[last:])
    return parts


def _case_value_spans(stmt: str) -> list[tuple[int, int]]:
    """(start, end) of every CASE branch VALUE payload (THEN/ELSE
    bodies at the CASE's own level) — simple-CASE WHEN operands are
    comparison values and are skipped."""
    starts: list[int] = []
    for i, _ in sqllex.scan(stmt):
        c = stmt[i]
        if (c.isalpha() or c == "_") and (
            i == 0 or not _IDENT.match(stmt[i - 1])
        ):
            m = _BOOL_WORD_RE.match(stmt, i)
            if m.group(0).lower() == "case":
                starts.append(m.end())
    spans: list[tuple[int, int]] = []
    for st in starts:
        spans.extend(_case_spans_from(stmt, st))
    return spans


def _case_spans_from(stmt: str, st: int) -> list[tuple[int, int]]:
    """Branch VALUE spans of the single CASE whose body starts at
    ``st`` (just past its CASE keyword) — own level only."""
    spans: list[tuple[int, int]] = []
    cd = 0
    cur: int | None = None
    for i, depth in sqllex.scan(stmt, st):
        c = stmt[i]
        if c == ")" and depth == 0:
            break  # enclosing scope closed before END
        if (
            depth == 0
            and (c.isalpha() or c == "_")
            and (i == 0 or not _IDENT.match(stmt[i - 1]))
        ):
            m = _BOOL_WORD_RE.match(stmt, i)
            w = m.group(0).lower()
            if w == "case":
                cd += 1
            elif w == "end":
                if cd:
                    cd -= 1
                else:
                    if cur is not None:
                        spans.append((cur, i))
                    break
            elif cd == 0 and w == "when":
                if cur is not None:
                    spans.append((cur, i))
                    cur = None
            elif cd == 0 and w in ("then", "else"):
                if cur is not None:
                    spans.append((cur, i))
                cur = m.end()
    return spans


def _bool_cond_end(
    stmt: str, start: int, stops: frozenset, comma_stop: bool = False
) -> int:
    """Exclusive end of a condition starting at ``start``: the next
    stop keyword at the same paren depth, a ``)`` closing the
    enclosing scope, a statement separator, or end of text.  The
    ``FROM`` of an ``IS [NOT] DISTINCT FROM`` operator is part of the
    expression, not a stop."""
    prev_word = ""
    for i, depth in sqllex.scan(stmt, start):
        c = stmt[i]
        if depth:
            continue
        if c == ")" or c == ";" or (c == "," and comma_stop):
            return i
        if (c.isalpha() or c == "_") and (
            i == 0 or not _IDENT.match(stmt[i - 1])
        ):
            w = _BOOL_WORD_RE.match(stmt, i).group(0).lower()
            if w in stops and not (w == "from" and prev_word == "distinct"):
                return i
            prev_word = w
    return len(stmt)


def _ascii(s: str) -> str:
    return re.sub(r"[^\x00-\x7f]", "x", s)


def _ref_words(s: str, start: int) -> list[tuple[int, int, int]]:
    return [
        (i, _BOOL_WORD_RE.match(s, i).end(), d)
        for i, d in sqllex.scan(s, start)
        if (s[i].isalpha() or s[i] == "_")
        and (i == 0 or not _IDENT.match(s[i - 1]))
    ]


_NAMES = st.sampled_from(
    ["a1", "x", "t.end", "x$case", "1end", "größe", "prénom", "é", "ß_1",
     "_k", "then1", "'case end'", "'it''s'", '"when"', "`then`", "3.5"]
)
_BINOPS = st.sampled_from(
    ["and", "or", "+", "=", "<", ",", "is not distinct from"]
)


def _case_of(children):
    return st.tuples(
        st.one_of(st.just([]), children),
        st.lists(st.tuples(children, children), min_size=1, max_size=3),
        st.one_of(st.just([]), children.map(lambda e: ["else", *e])),
    ).map(
        lambda t: [
            "case",
            *t[0],
            *(k for c, v in t[1] for k in ("when", *c, "then", *v)),
            *t[2],
            "end",
        ]
    )


def _compound(children):
    return st.one_of(
        _case_of(children),
        children.map(lambda e: ["(", *e, ")"]),
        st.tuples(children, _BINOPS, children).map(
            lambda t: [*t[0], t[1], *t[2]]
        ),
        st.tuples(children, children, children).map(
            lambda t: [*t[0], "between", *t[1], "and", *t[2]]
        ),
    )


_EXPRS = st.recursive(_NAMES.map(lambda n: [n]), _compound, max_leaves=10)
# well-formed statements: CASE..END, parens and CASE grammar balanced
_STATEMENTS = st.tuples(
    _case_of(_EXPRS),
    st.sampled_from([[], ["from", "t"], ["from", "(", "select", "x", ")"]]),
    st.one_of(st.just([]), _EXPRS.map(lambda e: ["where", *e])),
    st.one_of(st.just([]), _EXPRS.map(lambda e: ["order by", *e])),
    st.sampled_from([[], ["limit", "3"], ["union", "select", "1"]]),
).map(lambda t: ["select", *(k for part in t for k in part)])
# free word soup: anything may be unbalanced
_SOUP = st.lists(
    st.one_of(
        _NAMES,
        st.sampled_from(
            ["case", "when", "then", "else", "end", "between", "and", "or",
             "from", "order by", "group by", "limit", "where", "union",
             "distinct", "(", ")", ",", ";"]
        ),
    ),
    max_size=24,
)


@st.composite
def _render(draw, tokens):
    """Join tokens: keywords in any letter case, words always apart."""
    out = []
    for k, tok in enumerate(draw(tokens)):
        if tok.isalpha() and draw(st.booleans()):
            tok = tok.upper()
        if k:
            seps = [" ", "\n  "]
            if tok in "(),;" or out[-1] in "(),;":
                seps.append("")
            out.append(draw(st.sampled_from(seps)))
        out.append(tok)
    return "".join(out)


def _tokens(s: str) -> list[str]:
    """The case/paren skeleton of a rendered text, read off its words."""
    marks = {w.start: w.text for w in sqllex.words(s)}
    marks.update(
        {i: s[i] for i, _ in sqllex.scan(s) if s[i] in "()"}
    )
    return [marks[i] for i in sorted(marks)]


def _well_formed(s: str) -> bool:
    """Parens balance; every CASE has its END inside the same paren
    group; every WHEN/THEN/ELSE/END sits directly in a CASE; and each
    CASE's own keywords read WHEN THEN [WHEN THEN ...] [ELSE]."""
    frames: list[list[list[str]]] = [[]]
    for t in _tokens(s):
        if t == "(":
            frames.append([])
        elif t == ")":
            if len(frames) == 1 or frames[-1]:
                return False
            frames.pop()
        elif t == "case":
            frames[-1].append([])
        elif t in ("when", "then", "else", "end"):
            if not frames[-1]:
                return False
            if t != "end":
                frames[-1][-1].append(t)
            elif not re.fullmatch(
                r"(when then )+(else )?", " ".join(frames[-1].pop()) + " "
            ):
                return False
    return frames == [[]]


def _check_against_walkers(s: str) -> None:
    """The checks that hold on every text, then — on well-formed texts
    only — the ones the old depth-blind walkers agree with.  Outside
    that class the walkers differ by design: ``_when_then_end`` and
    ``_searched_when_spans`` counted CASE and END at every paren depth
    (an END inside parens closed the CASE outside them, a stray WHEN
    in parens was a condition), ``_when_then_end`` ran past the END to
    any later THEN, and ``_bool_split_top`` resumed splitting after a
    ``)`` that closed the text's own scope; the CASE table ends a CASE
    at that ``)`` and owns only the keywords at its paren depth."""
    r = _ascii(s)
    for start in range(len(s) + 1):
        got = [(w.start, w.end, w.depth) for w in sqllex.words(s, start)]
        assert got == _ref_words(r, start)
        for stops, comma in (
            (frozenset({"when", "end"}), False),
            (dialect._BOOL_STOP_ON, True),
            (dialect._BOOL_ITEM_STOPS, False),
        ):
            assert dialect._bool_cond_end(
                s, start, stops, comma
            ) == _bool_cond_end(r, start, stops, comma)
    assert list(sqllex.clauses(s)) == _top_level_clauses(r)
    cases = sqllex.cases(s)
    assert sorted(cases) == [
        w.start for w in sqllex.words(s) if w.text == "case"
    ]
    for p, case in cases.items():
        assert _case_end(r, p + 4) == (
            None if case.end is None else case.end + 3
        )
        assert _case_spans_from(r, p + 4) == case.values()
    assert sorted(_case_value_spans(r)) == sorted(
        v for c in cases.values() for v in c.values()
    )
    if not _well_formed(s):
        return
    for case in cases.values():
        for (a, b), w in zip(
            case.conditions(), (k for k in case.keys if k.text == "when")
        ):
            assert a == w.end and _when_then_end(r, a) == b
    assert _searched_when_spans(r) == sorted(
        v for c in cases.values() if c.searched for v in c.conditions()
    )
    for word in ("and", "or"):
        got = [_ascii(p) for p in dialect._bool_split_top(s, word)]
        assert got == _bool_split_top(r, word)


@given(_render(_STATEMENTS))
@settings(max_examples=200, deadline=None)
@example("select case when a then case b when 1 then 2 end else 3 end")
@example("select größe from t where größe between 1 and 2 or x")
def test_words_cases_clauses_vs_walkers(s):
    assert _well_formed(s)
    _check_against_walkers(s)


@given(_render(_SOUP))
@settings(max_examples=400, deadline=None)
@example("case when (then) then end")
@example("case ) ( when a then b end and x")
@example("case when a end then")
def test_words_cases_clauses_on_word_soup(s):
    _check_against_walkers(s)


def test_walker_differences_are_malformed():
    """One text per documented difference: none is well-formed, and on
    each an old walker reads the text differently from the CASE
    table."""
    r = "case when a then (end) when b then 1 end"  # END in parens
    assert not _well_formed(r)
    assert len(_searched_when_spans(r)) == 1
    assert len(sqllex.cases(r)[0].conditions()) == 2
    r = "case when (when x then) then 1 end"  # stray WHEN in parens
    assert not _well_formed(r)
    assert len(_searched_when_spans(r)) == 2
    assert len(sqllex.cases(r)[0].conditions()) == 1
    r = "case when a else b end then 1"  # a WHEN without its THEN
    assert not _well_formed(r)
    assert _when_then_end(r, 9) == r.index("then")
    assert sqllex.cases(r)[0].conditions() == []
    r = "case ) ( end and y"  # a ')' closes the text's own scope
    assert not _well_formed(r)
    assert _bool_split_top(r, "and") == ["case ) ( end ", " y"]
    assert dialect._bool_split_top(r, "and") == [r]


# --- the call-site walker ---------------------------------------------
#
# Before ``dialect._rewrite_calls``, nine passes (rewrite_substr_calls
# among them) each held the loop below around their own lowering: on
# a kept call it went on after the call's close paren, so a call
# nested inside a kept one was never lowered.  Everywhere else the
# walker must lower exactly as the loop did, but for one change made
# since: a call whose paren never closes is not a call (the loop
# lowered it as if it ran to the end of the text), and the scan goes
# on inside it.  The loop takes the walker's ``(start, end, text)``
# edits too, the form of the passes whose edit owns text around the
# call (FILTER's aggregate before it, VALUES's rows after it): the
# edit may reach back before a kept call, and the scan starts again
# from the edit's start.


def _ref_rewrite_calls(stmt, call_re, lower):
    done = 0  # no call before here is left to lower
    while True:
        m = next(
            (
                m
                for m in sqllex.finditer(call_re, stmt)
                if m.start() >= done
                and (
                    m.start() == 0
                    or not dialect._IDENT.match(stmt[m.start() - 1])
                )
            ),
            None,
        )
        if m is None:
            return stmt
        open_p = m.end() - 1
        if not sqllex.closes(stmt, open_p):
            done = m.end()
            continue
        close = sqllex.close_paren(stmt, open_p)  # one past ')'
        repl = lower(m, stmt[open_p + 1 : close - 1])
        if repl is None:
            done = close
            continue
        if isinstance(repl, str):
            repl = (m.start(), close, repl)
        start, end, text = repl
        stmt = stmt[:start] + text + stmt[end:]
        done = min(done, start)


def _nests_in_kept(s, call_re, lower) -> bool:
    """Does the walker visit a call inside a call it kept?  A kept
    call is held as its start and the distance from its close to the
    end of the text, which edits inside it leave unchanged."""
    kept: list[tuple[int, int]] = []
    nested = False

    def watch(m, inner):
        nonlocal nested
        t = m.string
        while kept and m.start() >= len(t) - kept[-1][1]:
            kept.pop()
        nested = nested or bool(kept)
        repl = lower(m, inner)
        if repl is None:
            close = sqllex.close_paren(t, m.end() - 1)
            kept.append((m.start(), len(t) - close))
        return repl

    dialect._rewrite_calls(s, call_re, watch)
    return nested


_TOY_CALL_RE = re.compile(r"\b(f|g)\s*\(")


def _toy_lower(m, inner):
    """f with two arguments → h(...); g with any text → [...]; the
    rest is kept."""
    if m.group(1) == "g":
        return f"[{inner}]" if inner.strip() else None
    return f"h({inner})" if len(sqllex.split_top(inner)) == 2 else None


_SPAN_CALL_RE = re.compile(r"\b(f|g|k|v)\s*\(")


def _span_lower(m, inner):
    """``_toy_lower``, and two lowerings whose edit owns text around
    the call: ``f(a) k(b)`` → ``f(a, b)`` (k's group joins the call
    before it, as FILTER's joins its aggregate) and ``v(a), (b)`` →
    ``[a; b]`` (v takes the paren groups after it, as VALUES takes
    its rows)."""
    s = m.string
    end = m.end() + len(inner) + 1
    if m.group(1) == "k":
        pm = re.search(r"\bf\(([^()']*)\)\s*$", s[: m.start()])
        if pm is None:
            return None
        return pm.start(), end, f"f({pm.group(1)}, {inner})"
    if m.group(1) == "v":
        rows = [inner]
        while (gm := re.match(r"\s*,\s*\(", s[end:])) and sqllex.closes(
            s, end + gm.end() - 1
        ):
            close = sqllex.close_paren(s, end + gm.end() - 1)
            rows.append(s[end + gm.end() : close - 1])
            end = close
        return m.start(), end, "[" + "; ".join(rows) + "]"
    return _toy_lower(m, inner)


def _scalar_lower(m, inner):
    return dialect._SCALAR_LOWERINGS[m.group(1).lower()](m, inner)


def _call_texts(names):
    return st.lists(
        st.sampled_from(
            [f"{n}(" for n in names] * 2
            + ["x" + names[0] + "(", "." + names[-1] + "(", names[0] + " ("]
            + [")"] * 4 + [","] * 3 + ["(", "'", "''", '"', " ", "a", "0", "1", "'s'"]
        ),
        max_size=24,
    ).map("".join)


@pytest.mark.parametrize(
    "call_re,lower,names",
    [
        (_TOY_CALL_RE, _toy_lower, ["f", "g"]),
        (
            dialect._SCALAR_CALL_RE,
            _scalar_lower,
            ["substr", "max", "upper", "likelihood", "trim"],
        ),
        (_SPAN_CALL_RE, _span_lower, ["f", "k", "v", "g"]),
    ],
    ids=["toy", "scalar", "span"],
)
def test_rewrite_calls_vs_old_loop(call_re, lower, names):
    @given(_call_texts(names))
    @settings(max_examples=300, deadline=None)
    @example("f(1, f(2, 3))")
    @example("g(f(1,2), g(a)) f(")
    @example("f(1,'2)' f(3,4)")
    @example("f(a) k(b)")  # the edit's start is before the k call
    @example("v(1), (f(2, 3)) g(4)")  # a consumed row holds a call
    def check(s):
        assume(not _nests_in_kept(s, call_re, lower))
        assert dialect._rewrite_calls(s, call_re, lower) == (
            _ref_rewrite_calls(s, call_re, lower)
        )

    check()


def test_rewrite_calls_span_edits():
    """An edit that owns text around its call is scanned again from
    its start: the call it reached back to, and a call in the group
    it took after it, are lowered too."""

    def walk(s):
        return dialect._rewrite_calls(s, _SPAN_CALL_RE, _span_lower)

    assert walk("f(a) k(b)") == "h(a, b)"
    # a FILTER-like group holding a call that must still be lowered
    assert walk("f(a) k(f(1, 2))") == "h(a, h(1, 2))"
    assert walk("x v(1), (f(2, 3)), (g(4)) y") == "x [1; h(2, 3); [4]] y"


def test_rewrite_calls_lowers_inside_kept_calls():
    """Where a matched call does nest inside a kept one, the walker
    lowers it and the old loop did not."""
    s = "g() f(f(1, 2))"
    assert _nests_in_kept(s, _TOY_CALL_RE, _toy_lower)
    assert dialect._rewrite_calls(s, _TOY_CALL_RE, _toy_lower) == "g() f(h(1, 2))"
    assert _ref_rewrite_calls(s, _TOY_CALL_RE, _toy_lower) == s
