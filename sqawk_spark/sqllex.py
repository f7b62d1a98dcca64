"""The one SQL lexer behind the dialect rewriter, the DML runner and
the CLI's statement splitter.

A statement is lexed once per distinct string: the spans of its
quoted tokens (``'…'``, ``"…"`` and backtick-quoted, each with SQL's
doubled-quote escape; an unterminated quote runs to the end of the
text) and the paren depth at every position, counting only parens
outside those tokens.  Rewrite passes are pure functions of the
string, so the lexed form is kept in a bounded cache keyed on it.

Every helper that takes a ``start`` reads the text the way a forward
scan beginning at ``start`` would: when ``start`` falls strictly
inside a quoted token, the quote characters after it are re-read from
there (the rest of the text is lexed on its own).

On top of the lexed form, each distinct string also gets, once: its
words outside quoted tokens (one definition of a word, ``words``), a
table of its CASE expressions with their WHEN/THEN/ELSE/END keywords
(``cases``) and the map of its top-level clauses (``clauses``).
"""

from __future__ import annotations

import re
from bisect import bisect_left, bisect_right
from functools import lru_cache
from typing import Iterator, NamedTuple

QUOTES = "'\"`"

_TOKEN_RE = re.compile(
    r"'[^']*(?:''[^']*)*'?"
    r'|"[^"]*(?:""[^"]*)*"?'
    r"|`[^`]*(?:``[^`]*)*`?"
    r"|[()]"
)


class _Lexed(NamedTuple):
    spans: tuple[tuple[int, int], ...]  # quoted tokens, (start, end)
    starts: tuple[int, ...]  # span starts, for bisection
    depth: tuple[int, ...]  # parens opened before each position
    close: dict[int, int]  # '(' index -> one past its ')'
    shuts: tuple[int, ...]  # every ')' index


@lru_cache(maxsize=256)
def _lex(s: str) -> _Lexed:
    spans: list[tuple[int, int]] = []
    depth: list[int] = []
    close: dict[int, int] = {}
    opens: list[int] = []
    shuts: list[int] = []
    d = 0
    for m in _TOKEN_RE.finditer(s):
        i, j = m.span()
        depth.extend([d] * (i - len(depth)))
        c = s[i]
        if c == "(":
            depth.append(d)
            opens.append(i)
            d += 1
        elif c == ")":
            depth.append(d)
            shuts.append(i)
            d -= 1
            if opens:
                close[opens.pop()] = j
        else:
            spans.append((i, j))
            depth.extend([d] * (j - i))
    depth.extend([d] * (len(s) + 1 - len(depth)))
    return _Lexed(
        tuple(spans),
        tuple(a for a, _ in spans),
        tuple(depth),
        close,
        tuple(shuts),
    )


def string_at(s: str, i: int) -> tuple[int, int] | None:
    """(start, end) of the quoted token holding ``s[i]``, or None."""
    lx = _lex(s)
    k = bisect_right(lx.starts, i) - 1
    if k >= 0 and i < lx.spans[k][1]:
        return lx.spans[k]
    return None


def in_string(s: str, i: int) -> bool:
    """Is ``s[i]`` part of a quoted token (its quotes included)?"""
    return string_at(s, i) is not None


def string_spans(s: str) -> tuple[tuple[int, int], ...]:
    """(start, end) of every quoted token, in source order."""
    return _lex(s).spans


def depth(s: str, i: int) -> int:
    """Paren depth at ``i``: parens opened minus closed before it,
    outside quoted tokens (negative past an unmatched ``)``)."""
    return _lex(s).depth[i]


def close_paren(s: str, i: int) -> int:
    """``s[i] == '('`` → one past its matching ``)``, or ``len(s)``
    when it never closes."""
    span = string_at(s, i)
    if span is not None:
        return i + close_paren(s[i:], 0)
    return _lex(s).close.get(i, len(s))


def closes(s: str, i: int) -> bool:
    """Does the ``(`` at ``s[i]``, outside quoted tokens, have a
    matching ``)``?"""
    return i in _lex(s).close


def scan(s: str, start: int = 0, end: int | None = None) -> Iterator[
    tuple[int, int]
]:
    """``(i, depth)`` for every position of ``s[start:end]`` outside
    quoted tokens, ``depth`` counting the parens opened since
    ``start`` (before ``s[i]`` itself)."""
    end = len(s) if end is None else end
    if start >= end:
        return
    span = string_at(s, start)
    if span is not None and span[0] < start:
        for i, d in scan(s[start:], 0, end - start):
            yield i + start, d
        return
    lx = _lex(s)
    depth_at = lx.depth
    base = depth_at[start]
    i = start
    for a, b in lx.spans[bisect_left(lx.starts, start) :]:
        if a >= end:
            break
        for j in range(i, a):
            yield j, depth_at[j] - base
        i = b
    for j in range(i, end):
        yield j, depth_at[j] - base


def top_positions(
    s: str, chars: str, start: int = 0, end: int | None = None
) -> list[int]:
    """Positions in ``s[start:end]`` of the characters in ``chars``
    that sit outside quoted tokens at the depth of ``start``."""
    return [i for i, d in scan(s, start, end) if d == 0 and s[i] in chars]


def split_top(s: str, start: int = 0, end: int | None = None) -> list[str]:
    """``s[start:end]`` split on the commas at the depth of ``start``
    outside quoted tokens; each piece stripped."""
    end = len(s) if end is None else end
    cuts = top_positions(s, ",", start, end)
    bounds = zip([start - 1, *cuts], [*cuts, end])
    return [s[a + 1 : b].strip() for a, b in bounds]


def finditer(rex: re.Pattern[str], s: str) -> Iterator[re.Match[str]]:
    """Matches of ``rex`` in ``s`` that start outside quoted tokens."""
    return (m for m in rex.finditer(s) if not in_string(s, m.start()))


# --- words, CASE blocks and clauses -------------------------------------

# A word starts at a letter, '_' or any character at or above U+0080
# (SQLite's tokenizer counts those as identifier characters) that does
# not continue an identifier chain: after a letter, digit, '_', '$',
# '.' or such a character, no word starts (``t.end``, ``x$case``).
_WORD_RE = re.compile(
    r"[A-Za-z_\u0080-\U0010ffff][A-Za-z_0-9\u0080-\U0010ffff]*"
)
_CHAIN_RE = re.compile(r"[A-Za-z_0-9$.\u0080-\U0010ffff]")


class Word(NamedTuple):
    start: int
    end: int
    text: str  # lower-cased
    depth: int  # paren depth before it


@lru_cache(maxsize=256)
def _words(s: str) -> tuple[tuple[Word, ...], tuple[int, ...]]:
    depth_at = _lex(s).depth
    out = [
        Word(m.start(), m.end(), m.group(0).lower(), depth_at[m.start()])
        for m in _WORD_RE.finditer(s)
        if not (m.start() and _CHAIN_RE.match(s, m.start() - 1))
        and not in_string(s, m.start())
    ]
    return tuple(out), tuple(w.start for w in out)


def words(s: str, start: int = 0, end: int | None = None) -> tuple[
    Word, ...
]:
    """The words starting in ``s[start:end]`` outside quoted tokens,
    ``depth`` counting the parens opened since ``start``."""
    end = len(s) if end is None else end
    if start >= end:
        return ()
    span = string_at(s, start)
    if span is not None and span[0] < start:
        sub = words(s[start:], 0, end - start)
        if sub and sub[0].start == 0 and _CHAIN_RE.match(s, start - 1):
            sub = sub[1:]
        return tuple(
            w._replace(start=w.start + start, end=w.end + start) for w in sub
        )
    ws, starts = _words(s)
    base = _lex(s).depth[start]
    hit = ws[bisect_left(starts, start) : bisect_left(starts, end)]
    if base:
        return tuple(w._replace(depth=w.depth - base) for w in hit)
    return hit


class Case(NamedTuple):
    """One CASE expression: where its END keyword starts (None when no
    END closes it at its own paren level), whether it is a searched
    CASE (its first word is WHEN), and its own WHEN/THEN/ELSE
    keywords — those at its paren level, outside nested CASEs."""

    end: int | None
    searched: bool
    keys: tuple[Word, ...]

    def conditions(self) -> list[tuple[int, int]]:
        """(past WHEN, its THEN) of every WHEN that has a THEN."""
        out = []
        for k, w in enumerate(self.keys):
            if w.text == "when":
                then = next(
                    (t for t in self.keys[k + 1 :] if t.text == "then"), None
                )
                if then is not None:
                    out.append((w.end, then.start))
        return out

    def values(self) -> list[tuple[int, int]]:
        """(past THEN/ELSE, next own keyword or END) of every branch
        value; a branch still open when the CASE never ENDs is not
        one."""
        out, cur = [], None
        for w in self.keys:
            if cur is not None:
                out.append((cur, w.start))
            cur = None if w.text == "when" else w.end
        if cur is not None and self.end is not None:
            out.append((cur, self.end))
        return out


@lru_cache(maxsize=256)
def cases(s: str) -> dict[int, Case]:
    """Every CASE keyword outside quoted tokens, by its start.  A CASE
    owns the WHEN/THEN/ELSE/END words at its paren depth up to its
    END; a ``)`` that closes the paren holding it ends it without
    one."""
    ws, _ = _words(s)
    lx = _lex(s)
    out: dict[int, Case] = {}
    # open CASEs: (start, depth, searched, keys)
    stack: list[tuple[int, int, bool, list[Word]]] = []

    def close(depth: int) -> None:
        while stack and stack[-1][1] > depth:
            a, _, searched, keys = stack.pop()
            out[a] = Case(None, searched, tuple(keys))

    k = 0
    for n, w in enumerate(ws):
        # the lowest depth since the previous word
        low = w.depth
        while k < len(lx.shuts) and lx.shuts[k] < w.start:
            low = min(low, lx.depth[lx.shuts[k]] - 1)
            k += 1
        close(low)
        if w.text == "case":
            nxt = ws[n + 1] if n + 1 < len(ws) else None
            searched = (
                nxt is not None
                and nxt.text == "when"
                and s[w.end : nxt.start].isspace()
            )
            stack.append((w.start, w.depth, searched, []))
        elif stack and stack[-1][1] == w.depth:
            if w.text == "end":
                a, _, searched, keys = stack.pop()
                out[a] = Case(w.start, searched, tuple(keys))
            elif w.text in ("when", "then", "else"):
                stack[-1][3].append(w)
    close(-len(s) - 1)  # any CASE still open never ENDs
    return out


# depth-0 words that open a statement clause, by clause name;
# ``group`` and ``order`` only when BY follows
_CLAUSE_WORDS = {
    "from": "from",
    "where": "where",
    "group": "group_by",
    "having": "having",
    "window": "window",
    "order": "order_by",
    "limit": "limit",
    "union": "setop",
    "intersect": "setop",
    "except": "setop",
}
_BY_RE = re.compile(r"\s+by\b", re.IGNORECASE)
_DISTINCT_END_RE = re.compile(r"\bdistinct\s*$", re.IGNORECASE)


class Clauses(tuple):
    """The depth-0 clause keywords of one statement as ``(name,
    kw_start, kw_end)`` in source order; a clause's body runs from its
    keyword to the next clause keyword or the end of the text."""

    size: int

    def __new__(cls, found, size: int):
        self = super().__new__(cls, found)
        self.size = size
        return self

    @property
    def names(self) -> tuple[str, ...]:
        return tuple(c[0] for c in self)

    def first(self, name: str) -> tuple[str, int, int] | None:
        return next((c for c in self if c[0] == name), None)

    def body(self, name: str) -> tuple[int, int] | None:
        """(keyword end, body end) of the first ``name`` clause."""
        for k, c in enumerate(self):
            if c[0] == name:
                return c[2], self[k + 1][1] if k + 1 < len(self) else self.size
        return None


@lru_cache(maxsize=256)
def clauses(s: str) -> Clauses:
    """The statement clauses of ``s`` (FROM, WHERE, GROUP BY, HAVING,
    WINDOW, ORDER BY, LIMIT and the set operators), found at paren
    depth 0 outside quoted tokens.  ``order by`` inside a window spec
    sits deeper; the FROM of ``IS [NOT] DISTINCT FROM`` is an operator
    token, not a clause."""
    found = []
    for w in words(s):
        name = _CLAUSE_WORDS.get(w.text)
        if w.depth or name is None:
            continue
        end = w.end
        if name in ("group_by", "order_by"):
            m = _BY_RE.match(s, w.end)
            if m is None:
                continue
            end = m.end()
        if name == "from" and _DISTINCT_END_RE.search(
            s[max(0, w.start - 12) : w.start]
        ):
            continue
        found.append((name, w.start, end))
    return Clauses(found, len(s))
