"""SQL dialect shim: rewrite opteryx-dialect SQL into Spark SQL.

The reference does exactly this (string-level, pre-parse) for its own
non-standard syntax — ``opteryx/planner/sql_rewriter.py:38-57`` strips
comments and extracts the temporal ``FOR`` clause before the parser ever
sees the statement.  We adopt the same architecture: a small pure-string
pipeline in front of ``spark.sql``, so Catalyst still parses, analyzes
and optimizes the final statement.

Handled dialect deltas (SURVEY.md §7.1b):
- comments + multi-statement split
- temporal ``FOR <ts>`` / ``FOR DATES BETWEEN a AND b`` / ``FOR DATES
  SINCE x`` / ``FOR LAST n DAYS`` / ``FOR DATES IN <range>``
  (``sql_rewriter.py:50-57,115-120``) → per-occurrence relation markers
  and their specs; ``for_bounds`` resolves a spec to wall-clock bounds
- JSON operators ``->``, ``->>``, ``@?`` (``binary_operators.py:25-80``)
  → ``get_json_object``
- array operators ``@>`` (overlap) / ``@>>`` (contains-all)
  (``ops.py:291-379``) → ``arrays_overlap`` / ``forall``
- ``$dataset`` virtual tables → registered view names
- quoted path / URL FROM targets → relation markers the cursor binds
- ``GENERATE_SERIES(...)`` table function → ``explode(sequence(...))``
- ``DISTINCT ON (cols)`` → ``row_number()`` window wrapper
"""

from __future__ import annotations

import datetime as dt
import re
from dataclasses import dataclass, field

from opteryx_spark import errors, sqltext


@dataclass
class RewriteResult:
    sql: str
    # relation markers in ``sql`` -> (table, FOR spec) / quoted path
    temporal_filters: dict[str, tuple[str, str]] = field(default_factory=dict)
    path_tables: dict[str, str] = field(default_factory=dict)


# Quoted text follows the one lexical model in ``sqltext``.


# --- comments & statement split --------------------------------------------


def strip_comments(sql: str) -> str:
    out, i, n = [], 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in sqltext.QUOTES:
            end = sqltext.literal_end(sql, i)
            out.append(sql[i:end])
            i = end
        elif sql.startswith("--", i):
            i = sql.find("\n", i)
            i = n if i < 0 else i
        elif sql.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:  # reference accepts nested /* */ blocks
                if sql.startswith("/*", i):
                    depth += 1
                    i += 2
                elif sql.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def split_statements(sql: str) -> list[str]:
    stmts, cur, i, n = [], [], 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in sqltext.QUOTES:
            end = sqltext.literal_end(sql, i)
            cur.append(sql[i:end])
            i = end
        elif ch == ";":
            s = "".join(cur).strip()
            if s:
                stmts.append(s)
            cur = []
            i += 1
        else:
            cur.append(ch)
            i += 1
    s = "".join(cur).strip()
    if s:
        stmts.append(s)
    return stmts


# --- temporal FOR clause ----------------------------------------------------

_DAY = dt.timedelta(days=1)
_WEEKDAYS = ("MONDAY", "TUESDAY", "WEDNESDAY", "THURSDAY", "FRIDAY", "SATURDAY", "SUNDAY")
# a day or instant: quoted, a bare ISO date, or a day relative to today
_DATE = rf"(?:'[^']*'|\d{{4}}-\d{{2}}-\d{{2}}|TODAY|YESTERDAY|{'|'.join(_WEEKDAYS)})(?!\w)"
# what follows FOR (reference ``sql_rewriter.py:50-57,115-120``)
_SPEC = (
    rf"DATES\s+BETWEEN\s+(?P<a>{_DATE})\s+AND\s+(?P<b>{_DATE})"
    rf"|DATES\s+SINCE\s+(?P<since>{_DATE})"
    r"|LAST\s+(?P<days>\d+)\s+DAYS\b"
    r"|DATES\s+IN\s+(?P<range>THIS_MONTH|LAST_MONTH|PREVIOUS_MONTH|THIS_YEAR|LAST_YEAR)\b"
    rf"|(?P<day>{_DATE})"
)
_FOR_SPEC = re.compile(_SPEC, re.IGNORECASE)
# FROM|JOIN <table> [alias] FOR <spec> [AS alias]
_FOR_TABLE = re.compile(
    rf"(FROM|JOIN)\s+([\w.$]+)(\s+(?:AS\s+)?\w+)?\s+FOR\s+(?P<spec>{_SPEC})(?P<post>\s+AS\s+\w+)?",
    re.IGNORECASE,
)
# FOR on a derived relation: (SELECT ...) [AS] p FOR <spec>
_FOR_DERIVED = re.compile(rf"(\)\s*(?:AS\s+)?\w+)\s+FOR\s+(?:{_SPEC})", re.IGNORECASE)


def for_bounds(spec: str, now: dt.datetime) -> tuple[dt.datetime, dt.datetime | None]:
    """``[start, end)`` that ``FOR <spec>`` selects, as wall-clock datetimes
    in the zone of ``now`` (the session time zone); ``end`` is None for an
    open range.  Relative days count from ``now``'s date, and a named day
    covers the whole day."""
    m = _FOR_SPEC.fullmatch(spec.strip())
    if m is None:
        raise errors.ProgrammingError(f"unsupported temporal clause: FOR {spec}")
    today = dt.datetime.combine(now.date(), dt.time())

    def day(token: str) -> dt.datetime:
        word = token.upper()
        if word == "TODAY":
            return today
        if word == "YESTERDAY":
            return today - _DAY
        if word in _WEEKDAYS:  # the latest such weekday up to today
            return today - _DAY * ((today.weekday() - _WEEKDAYS.index(word)) % 7)
        try:
            t = dt.datetime.fromisoformat(token.strip("'"))
        except ValueError:
            raise errors.ProgrammingError(f"FOR {spec}: {token} is not a date") from None
        return t.astimezone(now.tzinfo).replace(tzinfo=None) if t.tzinfo else t

    if m["a"]:
        return day(m["a"]), day(m["b"]) + _DAY
    if m["since"]:
        return day(m["since"]), None
    if m["days"]:
        return today - _DAY * int(m["days"]), None
    if m["range"]:
        month, year = today.replace(day=1), today.replace(month=1, day=1)
        last_month = ((month - _DAY).replace(day=1), month)
        return {
            "THIS_MONTH": (month, today + _DAY),
            "LAST_MONTH": last_month,
            "PREVIOUS_MONTH": last_month,
            "THIS_YEAR": (year, today + _DAY),
            "LAST_YEAR": (year.replace(year=year.year - 1), year),
        }[m["range"].upper()]
    start = day(m["day"])
    return start, start + _DAY


def _find_top_level(sql: str, word_pattern: str, start: int = 0) -> tuple[int, int]:
    """First occurrence of ``word_pattern`` (a regex) at paren depth 0 and
    outside string literals; returns (start, end) or (-1, -1).  Used to
    split clauses whose keywords can also appear nested — e.g. the FROM
    inside ``EXTRACT(year FROM ts)`` must not terminate a projection."""
    pat = re.compile(word_pattern, re.IGNORECASE)
    depth, i, n = 0, start, len(sql)
    while i < n:
        ch = sql[i]
        if ch in sqltext.QUOTES:
            i = sqltext.literal_end(sql, i)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            m = pat.match(sql, i)
            if m:
                return i, m.end()
        i += 1
    return -1, -1


def extract_temporal(sql: str) -> tuple[str, dict[str, tuple[str, str]]]:
    """Strip ``FOR ...`` temporal clauses; return per-*occurrence* markers
    mapping to (table, spec), where ``for_bounds(spec, now)`` gives the
    range.  Marker-per-occurrence keeps a temporal and a plain reference
    to the same table in one query independent."""
    refs: dict[str, tuple[str, str]] = {}

    def sub(m):
        kw, table = m.group(1), m.group(2)
        alias = m.group(3) or m.group("post") or ""
        marker = f"__temporal_{len(refs)}_" + re.sub(r"\W", "_", table)
        refs[marker] = (table, m.group("spec"))
        if not alias:
            # unqualified references keep resolving under the name the
            # rest of the statement uses post-rewrite
            name = f"virtual_{table[1:]}" if table.startswith("$") else table.split(".")[-1]
            alias = f" AS {name}"
        return f"{kw} {marker}{alias}"

    sql = sqltext.sub_outside_literals(_FOR_TABLE, sub, sql)
    # FOR on a derived relation ((SELECT ...) AS p FOR '...'): the inner
    # references resolve their own snapshots; with snapshot-consistent
    # (static) virtual data the outer clause is an identity filter
    sql = sqltext.sub_outside_literals(_FOR_DERIVED, lambda m: m.group(1), sql)
    return sql, refs


# --- operator rewrites ------------------------------------------------------

# lhs: a dotted identifier chain, optionally one trailing call — NOT an
# unbalanced prefix like "IFNULL(col" (the old [\w.()]+ class swallowed the
# wrapping function's open paren)
_ARROW2 = re.compile(r"('(?:[^']|'')*'|[\w.]+(?:\([^()]*\))?)\s*->>\s*'([^']+)'")
_ARROW1 = re.compile(r"('(?:[^']|'')*'|[\w.]+(?:\([^()]*\))?)\s*->\s*'([^']+)'")
_ATQ = re.compile(r"('(?:[^']|'')*'|[\w.]+(?:\([^()]*\))?)\s*@\?\s*'([^']+)'")
# lhs + operator head only — the argument list is consumed with a
# balanced-paren scan so nested calls inside the tuple don't truncate it
_AT_ALL = re.compile(r"([\w.\(\)]+)\s*@>>\s*(?:array)?\(", re.IGNORECASE)
_AT_ANY = re.compile(r"([\w.\(\)]+)\s*@>\s*(?:array)?\(", re.IGNORECASE)


def _rewrite_at_ops(sql: str, pattern: re.Pattern, build) -> str:
    pos = 0
    while True:
        m = sqltext.search_outside_literals(pattern, sql, pos)
        if not m:
            return sql
        i = sqltext.balanced_end(sql, m.end() - 1)
        if i < 0:  # unbalanced: leave untouched
            pos = m.end()
            continue
        args = sql[m.end() : i - 1]
        repl = build(m.group(1), args)
        sql = sql[: m.start()] + repl + sql[i:]
        pos = m.start() + len(repl)


_DOLLAR = re.compile(r"\$(\w+)")
_GEN_SERIES_HEAD = re.compile(r"\b(FROM|JOIN)\s+GENERATE_SERIES\s*\(", re.IGNORECASE)
_GS_CONT = re.compile(r"\s*,\s*GENERATE_SERIES\s*\(", re.IGNORECASE)
_GS_ALIAS = re.compile(r"\s*(?:AS\s+)?([A-Za-z_]\w*)\s*(?:\(\s*(\w+)\s*\))?", re.IGNORECASE)
# words that follow a FROM-clause item and therefore are not aliases
_GS_KEYWORDS = frozenset(
    "ON WHERE GROUP ORDER LIMIT OFFSET HAVING UNION INTERSECT EXCEPT JOIN"
    " LEFT RIGHT FULL INNER CROSS SEMI ANTI NATURAL USING WITH AS SELECT".split()
)
_GS_DATE = re.compile(r"^'(\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}(:\d{2}(\.\d+)?)?)?Z?)'$")
_GS_IVAL_TOKEN = re.compile(
    r"(\d+)\s*(years?|y|months?|mons?|mths?|mo|weeks?|w|days?|d|hours?|h|minutes?|mins?|m|seconds?|secs?|s)",
    re.IGNORECASE,
)
_GS_IVAL_UNIT = {
    "y": "YEAR", "year": "YEAR", "years": "YEAR",
    "mon": "MONTH", "mons": "MONTH", "mth": "MONTH", "mths": "MONTH",
    "month": "MONTH", "months": "MONTH",
    "w": "WEEK", "week": "WEEK", "weeks": "WEEK",
    "d": "DAY", "day": "DAY", "days": "DAY",
    "h": "HOUR", "hour": "HOUR", "hours": "HOUR",
    "mo": "MONTH",
    "m": "MINUTE", "min": "MINUTE", "mins": "MINUTE",
    "minute": "MINUTE", "minutes": "MINUTE",
    "s": "SECOND", "sec": "SECOND", "secs": "SECOND",
    "second": "SECOND", "seconds": "SECOND",
}
# a quoted relation must look like a path (slash or dot) so that literal
# operands of EXTRACT/SUBSTRING "FROM 'x'" forms are left alone
_PATH_FROM = re.compile(r"(FROM|JOIN)\s+'([^']*[/.][^']*)'", re.IGNORECASE)
_DISTINCT_ON_HEAD = re.compile(r"SELECT\s+DISTINCT\s+ON\s*\(", re.IGNORECASE)


def _json_path(key: str) -> str:
    return key if key.startswith("$") else f"$.{key}"


def _expr_start(s: str, end: int) -> int:
    """Start index of the value expression ending just before ``end``:
    a dotted identifier chain (backtick parts too) with any trailing
    balanced ()/[] groups (``a.b``, ``fn(x)``, ``arr[0]``, chained), or a
    string literal."""
    opens = {b - 1: a for a, b in sqltext.literal_spans(s[:end])}  # close -> open
    i = end
    while i > 0:
        c = s[i - 1]
        if i - 1 in opens:
            if c == "`":
                i = opens[i - 1]
                continue
            return opens[i - 1] if i == end else i
        if c in ")]":
            open_c = "(" if c == ")" else "["
            depth, k = 0, i - 1
            while k >= 0:
                if k in opens:
                    k = opens[k] - 1
                    continue
                if s[k] == c:
                    depth += 1
                elif s[k] == open_c:
                    depth -= 1
                    if depth == 0:
                        break
                k -= 1
            if k < 0:
                return i
            i = k
            continue
        if c.isalnum() or c in "_.$@":
            i -= 1
            continue
        break
    return i


_JSON_OP = re.compile(r"(->>|->|@\?)\s*'((?:[^']|'')+)'")


def rewrite_json_arrows(sql: str) -> str:
    """``x -> 'k'`` / ``x ->> 'k'`` / ``x @? 'path'`` → get_json_object,
    resolved LEFT-to-right so chains (``a -> 'b' ->> 'c'``) nest
    correctly, with the lhs scanned backward over balanced ()/[] groups
    (``data[0]->'id'``)."""
    pos = 0
    while True:
        m = sqltext.search_outside_literals(_JSON_OP, sql, pos)
        if not m:
            return sql
        lhs_end = m.start()
        while lhs_end > 0 and sql[lhs_end - 1].isspace():
            lhs_end -= 1
        s0 = _expr_start(sql, lhs_end)
        lhs = sql[s0:lhs_end].strip()
        if not lhs or lhs.endswith((",", "(")):
            pos = m.end()
            continue
        path = _json_path(m.group(2))
        if m.group(1) == "@?":
            if re.fullmatch(r"\w+", lhs):
                # bare column: defer to finalize_atq, which picks variant
                # path-existence semantics when the relation preserves
                # explicit JSON nulls (shadow variant view), else the
                # get_json_object fallback
                repl = f"__atq_exists({lhs}, '{path}')"
            else:
                repl = f"(get_json_object({lhs}, '{path}') IS NOT NULL)"
        else:
            repl = f"get_json_object({lhs}, '{path}')"
        sql = sql[:s0] + repl + sql[m.end() :]
        pos = s0


_ATQ_MARKER = re.compile(r"__atq_exists\((\w+), '([^']*)'\)")


def finalize_atq(sql: str, variant_views: dict[str, list[str]] | None = None) -> str:
    """Resolve deferred ``@?`` markers emitted by :func:`rewrite_json_arrows`.

    ``variant_views`` maps view name -> column list for relations read
    with a ``__variant`` raw-JSON column (``sources/registry.py::
    read_json_variant``).  When the marker's column belongs to such a
    view, path existence uses ``variant_get(__variant, '$.col.path')``,
    which counts an explicit JSON null as existing (reference AtQuestion
    semantics); otherwise it falls back to ``get_json_object(col, path)
    IS NOT NULL`` (correct for JSON-string columns, where explicit nulls
    are preserved in the text).
    """
    views = variant_views or {}

    def repl(m):
        col, path = m.group(1), m.group(2)
        # the variant route engages only when the statement reads exactly
        # ONE variant-bearing view and the column belongs to it — the
        # single-view gate makes the unqualified ``__variant`` reference
        # unambiguous (and alias-proof: a view-qualified name would stop
        # resolving the moment the FROM clause aliases the relation)
        if len(views) == 1:
            cols = next(iter(views.values()))
            if col in cols and "__variant" in cols:
                suffix = path[1:] if path.startswith("$") else "." + path
                return f"(variant_get(__variant, '$.{col}{suffix}') IS NOT NULL)"
        return f"(get_json_object({col}, '{path}') IS NOT NULL)"

    return _ATQ_MARKER.sub(repl, sql)


def rewrite_operators(sql: str) -> str:
    sql = rewrite_json_arrows(sql)
    sql = _rewrite_at_ops(
        sql,
        _AT_ALL,
        lambda lhs, args: f"forall(array({args}), __e -> array_contains({lhs}, __e))",
    )
    sql = _rewrite_at_ops(
        sql, _AT_ANY, lambda lhs, args: f"arrays_overlap({lhs}, array({args}))"
    )
    return sql


def rewrite_virtual_datasets(sql: str) -> str:
    """``$planets`` → ``virtual_planets`` (views the cursor registers).

    Literal-aware: ``$`` inside string literals (JSON paths, money
    amounts) is left untouched.  A space is inserted when ``$`` directly
    follows a word character (``FROM$satellites`` is valid reference SQL).
    """

    def seg(s: str) -> str:
        def repl(m):
            lead = " " if m.start() > 0 and (s[m.start() - 1].isalnum() or s[m.start() - 1] == "_") else ""
            return f"{lead}virtual_{m.group(1)}"

        return _DOLLAR.sub(repl, s)

    return sqltext.map_outside_literals(sql, seg)


def _gs_interval(spec: str) -> str | None:
    """``'1m30s'`` / ``'1 mon'`` → ``INTERVAL 1 MINUTE 30 SECOND`` etc."""
    toks = _GS_IVAL_TOKEN.findall(spec)
    if not toks:
        return None
    parts = [f"{n} {_GS_IVAL_UNIT[u.lower()]}" for n, u in toks]
    return "INTERVAL " + " ".join(parts)


_GS_FLOAT = re.compile(r"^-?\d+\.\d+$")


def _gs_args(raw: list[str]) -> str:
    """Reference semantics (``opteryx/utils/series.py:14-46``): numeric
    series default start=1 with inclusive stop; date series take
    (start, end, interval-string) with compact specs like '1mth'."""
    if raw and _GS_DATE.match(raw[0]):
        args = [f"CAST({a} AS TIMESTAMP)" if _GS_DATE.match(a) else a for a in raw[:2]]
        if len(raw) >= 3:
            step = raw[2].strip()
            if step.startswith("'") and step.endswith("'"):
                step = _gs_interval(step[1:-1]) or step
            args.append(step)
        return ", ".join(args)
    if len(raw) == 1:
        return f"1, {raw[0]}"
    return ", ".join(raw)


def _gs_explode_inner(raw: list[str]) -> str:
    """The expression inside ``explode(...)`` for a GENERATE_SERIES call.
    Fractional bounds/steps (unsupported by ``sequence``) become an index
    transform: start + i*step for i in 0..floor((stop-start)/step)."""
    if not (raw and _GS_DATE.match(raw[0])) and any(_GS_FLOAT.match(a) for a in raw):
        start, stop = (raw[0], raw[1]) if len(raw) > 1 else ("1", raw[0])
        step = raw[2] if len(raw) > 2 else "1"
        return (
            f"transform(sequence(0, CAST(FLOOR((({stop})-({start}))/({step})) AS BIGINT)), "
            f"__i -> ({start}) + __i*({step}))"
        )
    return f"sequence({_gs_args(raw)})"


def rewrite_generate_series(sql: str) -> str:
    """``FROM GENERATE_SERIES(...)`` → exploded ``sequence()`` subquery.

    Paren-balanced argument scan (nested calls like ``power(2, 3)`` are
    fine), quoted date bounds cast to TIMESTAMP, and the reference's
    compact interval specs translated to Spark INTERVAL literals.
    """
    def one_call(start: int) -> tuple[str, int] | None:
        """Rewrite the call whose '(' arguments begin at ``start``; returns
        (rendered relation, index after the alias), None if unbalanced."""
        i = sqltext.balanced_end(sql, start - 1)
        if i < 0:
            return None
        inner = _gs_explode_inner(sqltext.split_top_level(sql[start : i - 1]))
        alias, col, end = "series", "generate_series", i
        am = _GS_ALIAS.match(sql, i)
        if am and am.group(1).upper() not in _GS_KEYWORDS:
            # reference: the relation alias names the generated column too
            # (SELECT GS FROM GENERATE_SERIES(1,10) AS GS)
            alias = am.group(1)
            end = am.end() if am.group(2) else am.end(1)
            col = am.group(2) or alias
        return f"(SELECT explode({inner}) AS {col}) {alias}", end

    out, pos = [], 0
    while m := sqltext.search_outside_literals(_GEN_SERIES_HEAD, sql, pos):
        call = one_call(m.end())
        if call is None:  # unbalanced: leave the rest for Spark's parser
            break
        out += (sql[pos : m.start()], f"{m.group(1)} {call[0]}")
        pos = call[1]
        # comma-continued FROM list: FROM generate_series(...) s, generate_series(...) e
        while (cm := _GS_CONT.match(sql, pos)) and (call := one_call(cm.end())):
            out.append(f", {call[0]}")
            pos = call[1]
    out.append(sql[pos:])
    return "".join(out)


def extract_path_tables(sql: str) -> tuple[str, dict[str, str]]:
    """``FROM 'path/file.parquet'`` / ``FROM 's3://...'`` → relation markers."""
    paths: dict[str, str] = {}

    def sub(m):
        name = f"path_table_{len(paths)}"
        paths[name] = m.group(2)
        return f"{m.group(1)} {name}"

    return _PATH_FROM.sub(sub, sql), paths


_LIMIT_TAIL = re.compile(r"\s+(LIMIT\s+\d+(?:\s+OFFSET\s+\d+)?)\s*$", re.IGNORECASE)


def rewrite_distinct_on(sql: str) -> str:
    """``SELECT DISTINCT ON (keys) proj FROM ...`` → row_number wrapper.

    Clause splitting is paren- and literal-aware: the key list is consumed
    with a balanced scan (keys may nest calls), and the projection/FROM/
    ORDER BY boundaries are TOP-LEVEL keyword scans — an
    ``EXTRACT(year FROM ts)`` projection or a subquery's inner ORDER BY
    must not terminate the outer clause (NOTES_r4 documented edge, now
    retired)."""
    s = sql.strip()
    hm = _DISTINCT_ON_HEAD.match(s)
    if not hm:
        return sql
    # balanced scan over the key list (may contain nested parens/literals)
    i = sqltext.balanced_end(s, hm.end() - 1)
    if i < 0:
        return sql  # unbalanced — leave for Spark's parser to report
    keys = s[hm.end() : i - 1]
    fs, fe = _find_top_level(s, r"\bFROM\b", i)
    if fs < 0:
        return sql
    proj = s[i:fs].strip()
    os_, oe = _find_top_level(s, r"\bORDER\s+BY\b", fe)
    if os_ >= 0:
        rest, order = s[fe:os_].strip(), s[oe:].strip()
    else:
        rest, order = s[fe:].strip(), None
    # pull a trailing LIMIT/OFFSET out of whichever clause captured it
    limit = ""
    for clause in ("order", "rest"):
        val = order if clause == "order" else rest
        if val:
            lm = _LIMIT_TAIL.search(val)
            if lm:
                limit = " " + lm.group(1)
                val = val[: lm.start()]
                if clause == "order":
                    order = val
                else:
                    rest = val
    order_clause = order if order else keys
    proj = proj or "*"
    outer_order = f" ORDER BY {order_clause}" if order else ""
    return (
        f"SELECT {proj} FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY {keys} ORDER BY {order_clause}) AS __rn FROM {rest}) "
        f"WHERE __rn = 1{outer_order}{limit}"
    )


# --- parameters -------------------------------------------------------------


def bind_params(sql: str, params: dict | list | None) -> str:
    """Named (``:name``) or positional (``?``) parameter binding, applied
    post-rewrite as safe literal substitution (reference binds post-parse,
    ``planner/ast_rewriter.py:39-56``; string-level is the Spark analogue).
    Placeholders inside quoted spans are never touched, every value is
    written by ``sqltext.quote``, and all markers of a segment are replaced
    in one pass, so bound text is never scanned again."""
    if not params:
        return sql
    if isinstance(params, dict):
        names = "|".join(re.escape(k) for k in sorted(params, key=len, reverse=True))
        marker = re.compile(rf"[:@]({names})\b")
        return sqltext.map_outside_literals(
            sql, lambda seg: marker.sub(lambda m: sqltext.quote(params[m.group(1)]), seg)
        )
    values = iter(params)

    def sub_positional(seg: str) -> str:
        # a '?' that is part of the '@?' JSON path-exists operator is NOT
        # a placeholder (binding may run before the operator rewrite)
        out = []
        for j, ch in enumerate(seg):
            if ch == "?" and (j == 0 or seg[j - 1] != "@"):
                try:
                    out.append(sqltext.quote(next(values)))
                    continue
                except StopIteration:
                    pass
            out.append(ch)
        return "".join(out)

    return sqltext.map_outside_literals(sql, sub_positional)


# --- pipeline ---------------------------------------------------------------


_HTTP_FN = re.compile(r"\b(FROM|JOIN)\s+HTTP\s*\(\s*('[^']+')\s*\)", re.IGNORECASE)


_FAKE_HEAD = re.compile(r"\b(FROM|JOIN)\s+FAKE\s*\(", re.IGNORECASE)


def rewrite_fake_function(sql: str) -> str:
    """``FROM FAKE(n, m)`` / ``FROM FAKE(n, (Name, Age))`` → a generated
    subquery (reference ``operators/function_dataset_node.py:70-139``).

    Columns are ``column_0..column_{m-1}``; int specs generate
    deterministic pseudo-random ints, ``Name`` generator-types strings,
    ``Age`` small ints.  Aliases after the call attach to the subquery
    naturally (``FAKE(5000,2) AS FK`` → ``(SELECT ...) AS FK``).
    """
    out, pos = [], 0
    while m := sqltext.search_outside_literals(_FAKE_HEAD, sql, pos):
        i = sqltext.balanced_end(sql, m.end() - 1)
        if i < 0:  # unbalanced: leave the rest for Spark's parser
            break
        args = sqltext.split_top_level(sql[m.end() : i - 1])
        n = args[0].strip() if args else "0"
        colspec = args[1].strip() if len(args) > 1 else "1"
        cols = []
        if colspec.startswith("("):
            kinds = [k.strip().strip(")").strip() for k in colspec[1:].split(",")]
            kinds = [k for k in kinds if k]
            for idx, kind in enumerate(kinds):
                if kind.lower() == "name":
                    cols.append(
                        f"concat('Name_', pmod(hash(id, {idx}), 1000)) AS column_{idx}"
                    )
                elif kind.lower() == "age":
                    cols.append(f"CAST(pmod(hash(id, {idx}), 100) AS INT) AS column_{idx}")
                else:
                    cols.append(f"CAST(pmod(hash(id, {idx}), 10000) AS INT) AS column_{idx}")
        else:
            width = int(colspec) if colspec.isdigit() else 1
            cols = [
                f"CAST(pmod(hash(id, {idx}), 10000) AS INT) AS column_{idx}"
                for idx in range(width)
            ]
        # reference alias-list semantics: FK(a, b, ...) renames the first
        # min(len(aliases), width) generated columns; excess aliases are
        # ignored, unnamed columns keep column_<i> (Spark would reject the
        # arity mismatch, so consume the alias list here)
        am = re.match(r"\s*(?:AS\s+)?([A-Za-z_]\w*)\s*\(([^)]*)\)", sql[i:], re.IGNORECASE)
        if am and am.group(1).upper() in _GS_KEYWORDS:
            am = None  # `FAKE(2,2) JOIN (SELECT ...)` — not an alias list
        tail = i
        rel_alias = ""
        if am:
            names = [a.strip() for a in am.group(2).split(",") if a.strip()]
            for idx, alias in enumerate(names[: len(cols)]):
                cols[idx] = re.sub(r"AS column_\d+$", f"AS {alias}", cols[idx])
            rel_alias = f" AS {am.group(1)}"
            tail = i + am.end()
        out.append(sql[pos : m.start()])
        out.append(f"{m.group(1)} (SELECT {', '.join(cols)} FROM range({n})){rel_alias}")
        pos = tail
    out.append(sql[pos:])
    return "".join(out)


def rewrite_http_function(sql: str) -> str:
    """``FROM HTTP('url')`` → ``FROM 'url'`` (reference
    ``operators/function_dataset_node.py:60-75``); the path-table
    extraction then routes it through the HTTP reader."""
    return sqltext.sub_outside_literals(
        _HTTP_FN, lambda m: f"{m.group(1)} {m.group(2)}", sql
    )


def rewrite(sql: str, params: dict | list | None = None) -> RewriteResult:
    from opteryx_spark import dialect

    sql = strip_comments(sql)
    sql, temporal = extract_temporal(sql)
    sql = rewrite_http_function(sql)
    sql, paths = extract_path_tables(sql)
    sql = rewrite_generate_series(sql)
    sql = rewrite_fake_function(sql)
    # operators first: their quoted keys ('k', '$.path') become function
    # arguments, then the literal-aware $-rewrite can't touch them
    # (array literals even earlier so `@> ['x']` sees array('x'))
    sql = dialect.rewrite_array_literals(sql)
    sql = rewrite_operators(sql)
    sql = dialect.apply(sql)
    sql = rewrite_virtual_datasets(sql)
    sql = rewrite_distinct_on(sql)
    # the reference's parser accepts OFFSET before LIMIT; Spark requires
    # LIMIT ... OFFSET ...
    sql = sqltext.map_outside_literals(
        sql,
        lambda seg: re.sub(
            r"\bOFFSET\s+(\d+)\s+LIMIT\s+(\d+)", r"LIMIT \2 OFFSET \1", seg, flags=re.IGNORECASE
        ),
    )
    sql = bind_params(sql, params)
    return RewriteResult(sql=sql.strip(), temporal_filters=temporal, path_tables=paths)
