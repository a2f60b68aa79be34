"""The SQL lexical model every pre-parse rewrite shares.

It is the one Spark's parser applies under ``session.tune_session``
(``spark.sql.ansi.enabled=false``, default ``escapedStringLiterals``):

- ``'…'`` and ``"…"`` are string literals, closed by their own quote; a
  doubled quote or a backslash escapes the next character;
- ``` `…` ``` is a quoted identifier; a doubled backtick escapes it.

All three are opaque spans: no rewrite looks inside them, and a value
bound into a statement becomes one through :func:`quote`.
"""

from __future__ import annotations

import datetime
import re
from bisect import bisect_left

QUOTES = "'\"`"

# an unclosed span runs to the end of the text
_SPAN = re.compile(
    r"'(?:[^'\\]|\\.?|'')*'?" r'|"(?:[^"\\]|\\.?|"")*"?' r"|`(?:[^`]|``)*`?",
    re.DOTALL,
)
_PAREN_OR_QUOTE = re.compile(r"[()'\"`]")
_PAREN_COMMA_OR_QUOTE = re.compile(r"[(),'\"`]")


def literal_end(sql: str, i: int) -> int:
    """Index one past the quoted span that opens at ``sql[i]``."""
    return _SPAN.match(sql, i).end()


def literal_spans(sql: str) -> list[tuple[int, int]]:
    """(start, end) of every quoted span, in order."""
    return [m.span() for m in _SPAN.finditer(sql)]


def map_outside_literals(sql: str, fn) -> str:
    """Apply ``fn`` to every stretch of ``sql`` between quoted spans."""
    out, last = [], 0
    for m in _SPAN.finditer(sql):
        out += (fn(sql[last : m.start()]), m.group())
        last = m.end()
    out.append(fn(sql[last:]))
    return "".join(out)


def _matches_outside(pattern: re.Pattern, sql: str, pos: int = 0):
    """Matches of ``pattern`` from ``pos`` on, skipping any that starts
    inside a quoted span (one may start *with* a span's opening quote)."""
    m, starts = pattern.search(sql, pos), None
    while m:
        if starts is None:
            spans = literal_spans(sql)
            starts = [a for a, _ in spans]
        k = bisect_left(starts, m.start()) - 1
        if k >= 0 and m.start() < spans[k][1]:
            m = pattern.search(sql, spans[k][1])
            continue
        yield m
        m = pattern.search(sql, m.end() + (m.end() == m.start()))


def search_outside_literals(pattern: re.Pattern, sql: str, pos: int = 0):
    """``pattern.search`` that skips matches starting inside a quoted span."""
    return next(_matches_outside(pattern, sql, pos), None)


def sub_outside_literals(pattern: re.Pattern, fn, sql: str) -> str:
    """``pattern.sub(fn, sql)`` that skips matches starting inside a quoted
    span (a match may still *contain* spans, e.g. date bounds)."""
    out, last = [], 0
    for m in _matches_outside(pattern, sql):
        out += (sql[last : m.start()], fn(m))
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def balanced_end(sql: str, open_paren: int) -> int:
    """Index one past the ``)`` that closes the ``(`` at ``open_paren``;
    -1 when it never closes."""
    depth, i = 0, open_paren
    while m := _PAREN_OR_QUOTE.search(sql, i):
        ch = m.group()
        if ch in QUOTES:
            i = literal_end(sql, m.start())
            continue
        depth += 1 if ch == "(" else -1
        i = m.end()
        if depth == 0:
            return i
    return -1


def split_top_level(text: str) -> list[str]:
    """``text`` split on commas outside parens and quoted spans, each part
    stripped; an empty last part is dropped."""
    out, depth, start, i = [], 0, 0, 0
    while m := _PAREN_COMMA_OR_QUOTE.search(text, i):
        ch, i = m.group(), m.end()
        if ch in QUOTES:
            i = literal_end(text, m.start())
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            out.append(text[start : m.start()].strip())
            start = i
    tail = text[start:].strip()
    if tail:
        out.append(tail)
    return out


def quote(value) -> str:
    """``value`` as a SQL literal: the only writer of one.  Strings escape
    ``\\`` and ``'``, so the literal always closes where it should."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, (int, float)):
        return repr(value)
    if isinstance(value, (list, tuple)):
        return "(" + ", ".join(map(quote, value)) + ")"
    if isinstance(value, (datetime.datetime, datetime.date)):
        value = value.isoformat()
    text = str(value).replace("\\", "\\\\").replace("'", "''")
    return f"'{text}'"
