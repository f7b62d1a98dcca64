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


@lru_cache(maxsize=256)
def _lex(s: str) -> _Lexed:
    spans: list[tuple[int, int]] = []
    depth: list[int] = []
    close: dict[int, int] = {}
    opens: list[int] = []
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
            d -= 1
            if opens:
                close[opens.pop()] = j
        else:
            spans.append((i, j))
            depth.extend([d] * (j - i))
    depth.extend([d] * (len(s) + 1 - len(depth)))
    return _Lexed(
        tuple(spans), tuple(a for a, _ in spans), tuple(depth), close
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
