"""SQL dialect-parity rewrites: reference function catalog → Spark built-ins.

The reference's SQL surface (``/root/reference/opteryx/functions/__init__.py:
508-656``, ``managers/expression/ops.py``) includes function names, operators
and literal forms Spark SQL spells differently.  This module closes the gap
as *text-level macro expansion* so every call stays a Catalyst expression —
JVM-side, codegen-friendly, zero UDF overhead.  Only genuinely polymorphic
functions (SEARCH adapts to string vs array input, reference
``functions/other_functions.py:27``) fall back to a registered pandas UDF.

Quoted text follows the one lexical model in ``sqltext``.
"""

from __future__ import annotations

import re

from opteryx_spark.sqltext import (
    QUOTES,
    balanced_end,
    literal_end,
    map_outside_literals,
    search_outside_literals,
    split_top_level,
    sub_outside_literals,
)

# ---------------------------------------------------------------------------
# macro table: reference function name → Spark expression template


def _cast_fn(spark_type: str):
    return lambda a: f"CAST({a[0]} AS {spark_type})" if len(a) == 1 else None


def _sha2(bits: int):
    return lambda a: f"sha2(CAST({a[0]} AS STRING), {bits})" if len(a) == 1 else None


def _product(a):
    # Sign-tracked exp-sum-log: distributive (partial-aggregatable), exact to
    # double precision like the reference's float fold.
    if len(a) != 1:
        return None
    x = a[0]
    mag = f"EXP(SUM(LN(ABS(CASE WHEN ({x}) = 0 THEN 1 ELSE ({x}) END))))"
    return (
        f"(CASE WHEN SUM(CASE WHEN ({x}) = 0 THEN 1 ELSE 0 END) > 0 THEN 0.0D "
        f"WHEN SUM(CASE WHEN ({x}) < 0 THEN 1 ELSE 0 END) % 2 = 1 THEN -{mag} "
        f"ELSE {mag} END)"
    )


_TB_UNITS = {
    "year": "year", "years": "year", "y": "year",
    "month": "month", "months": "month", "mon": "month",
    "week": "week", "weeks": "week", "w": "week",
    "day": "day", "days": "day", "d": "day",
    "hour": "hour", "hours": "hour", "h": "hour",
    "minute": "minute", "minutes": "minute", "min": "minute",
    "second": "second", "seconds": "second", "s": "second",
}


def _time_bucket(a):
    """Reference TIME_BUCKET(ts, n, unit) — fixed-width bucket floor."""
    if len(a) == 2:
        ts, n, unit = a[0], "1", a[1]
    elif len(a) == 3:
        ts, n, unit = a
    else:
        return None
    unit = _TB_UNITS.get(unit.strip().strip("'").lower())
    if unit is None:
        return None
    if unit == "year":
        return f"make_date(CAST(FLOOR(YEAR({ts})/({n}))*({n}) AS INT), 1, 1)"
    if unit == "month":
        return (
            f"add_months(DATE'1970-01-01', "
            f"CAST(FLOOR(((YEAR({ts})-1970)*12+MONTH({ts})-1)/({n}))*({n}) AS INT))"
        )
    if unit in ("day", "week"):
        width = f"({n})*7" if unit == "week" else f"({n})"
        return (
            f"date_add(DATE'1970-01-01', "
            f"CAST(FLOOR(DATEDIFF({ts}, DATE'1970-01-01')/({width}))*({width}) AS INT))"
        )
    secs = {"hour": 3600, "minute": 60, "second": 1}[unit]
    return (
        f"to_timestamp(FLOOR(unix_timestamp(CAST({ts} AS TIMESTAMP))/(({n})*{secs}))"
        f"*(({n})*{secs}))"
    )


_DD_UNITS = {
    "year": "YEAR", "years": "YEAR", "quarter": "QUARTER", "quarters": "QUARTER",
    "month": "MONTH", "months": "MONTH", "week": "WEEK", "weeks": "WEEK",
    "day": "DAY", "days": "DAY", "hour": "HOUR", "hours": "HOUR",
    "minute": "MINUTE", "minutes": "MINUTE", "second": "SECOND", "seconds": "SECOND",
}


def _datediff(a):
    """DATEDIFF('unit', start, end) → timestampdiff (reference arg order)."""
    if len(a) != 3:
        return None
    unit = _DD_UNITS.get(a[0].strip().strip("'").lower())
    if unit is None:
        return None
    return (
        f"timestampdiff({unit}, CAST({a[1]} AS TIMESTAMP), CAST({a[2]} AS TIMESTAMP))"
    )


def _array_tuple(arg: str) -> str:
    """A parenthesised tuple literal → ``array(...)``; else pass through."""
    arg = arg.strip()
    return f"array{arg}" if arg.startswith("(") else arg


def _array_agg_nullsafe(a):
    """Reference ARRAY_AGG preserves NULL elements; Spark's drops them.
    Wrap elements in a struct (never null) and unwrap after the agg."""
    if len(a) != 1:
        return None
    arg = a[0].strip()
    if "__v" in arg or "__k" in arg:
        # already rewritten (expand_macros re-scans), or the ORDER BY
        # modifier pass built a struct agg (itself null-preserving)
        return None
    distinct = ""
    if re.match(r"DISTINCT\s", arg, re.IGNORECASE):
        distinct, arg = "DISTINCT ", arg[8:].strip()
    return f"transform(array_agg({distinct}struct(({arg}) AS __v)), __s -> __s.__v)"


def _jsonb_object_keys(a):
    if len(a) != 1:
        return None
    arg = a[0].strip()
    # a VARCHAR()/BLOB()/CAST(... AS STRING|BINARY) wrapper around a struct
    # is the reference's "render as JSON text" idiom — unwrap it, to_json
    # produces that text directly
    wm = re.match(
        r"(?:VARCHAR|BLOB)\s*\((.*)\)$|CAST\s*\((.*)\s+AS\s+(?:STRING|BINARY|VARCHAR|BLOB)\s*\)$",
        arg,
        re.IGNORECASE | re.DOTALL,
    )
    if wm:
        arg = (wm.group(1) or wm.group(2)).strip()
    # quoted JSON document → already a string; struct/variant column → to_json
    if arg.startswith("'"):
        return f"json_object_keys({arg})"
    return f"json_object_keys(to_json({arg}))"


MACROS = {
    # conditionals (reference functions/__init__.py:597-606)
    "iif": lambda a: f"IF({', '.join(a)})" if len(a) == 3 else None,
    "ifnotnull": lambda a: f"IF(({a[0]}) IS NOT NULL, {a[1]}, {a[0]})" if len(a) == 2 else None,
    # dates
    "today": lambda a: "current_date()" if not a else None,
    "yesterday": lambda a: "date_sub(current_date(), 1)" if not a else None,
    "unixtime": lambda a: "unix_timestamp()" if not a
    else f"unix_timestamp(CAST({a[0]} AS TIMESTAMP))",
    "time_bucket": _time_bucket,
    "datediff": _datediff,
    # generators
    "random_string": lambda a: (
        "SUBSTRING(MD5(CAST(RAND() AS STRING)), 1, 16)"
        if not a
        else f"SUBSTRING(REPEAT(MD5(CAST(RAND() AS STRING)), CAST(({a[0]})/32 AS INT)+1), 1, {a[0]})"
        if len(a) == 1
        else None
    ),
    "normal": lambda a: "randn()" if not a else None,
    "phi": lambda a: "1.61803398874989484820458683436563812D" if not a else None,
    # zero-arg datetime parts default to NOW() (reference functions/__init__.py)
    "year": lambda a: "EXTRACT(YEAR FROM current_timestamp())" if not a else None,
    "month": lambda a: "EXTRACT(MONTH FROM current_timestamp())" if not a else None,
    "day": lambda a: "EXTRACT(DAY FROM current_timestamp())" if not a else None,
    "hour": lambda a: "EXTRACT(HOUR FROM current_timestamp())" if not a else None,
    "minute": lambda a: "EXTRACT(MINUTE FROM current_timestamp())" if not a else None,
    "second": lambda a: "EXTRACT(SECOND FROM current_timestamp())" if not a else None,
    # GET: subscript access; struct['k'] natively, strings repaired by the
    # cursor's analysis-retry (JSON key or char index)
    "get": lambda a: f"({a[0]})[{a[1]}]" if len(a) == 2 else None,
    # strings
    "starts_with": lambda a: f"startswith({', '.join(a)})" if len(a) == 2 else None,
    "ends_with": lambda a: f"endswith({', '.join(a)})" if len(a) == 2 else None,
    "title": lambda a: f"initcap({a[0]})" if len(a) == 1 else None,
    "len": lambda a: f"LENGTH({a[0]})" if len(a) == 1 else None,
    # polymorphic → pandas UDFs (registered by functions.register_sql_functions)
    "search": lambda a: f"opx_search({a[0]}, {a[1]})" if len(a) == 2 else None,
    "cosine_similarity": lambda a: f"opx_text_cosine({a[0]}, {a[1]})" if len(a) == 2 else None,
    # arrays
    "sort": lambda a: f"array_sort({a[0]})" if len(a) == 1 else None,
    "array_agg": _array_agg_nullsafe,
    "greatest": lambda a: f"array_max({a[0]})" if len(a) == 1 else None,
    "least": lambda a: f"array_min({a[0]})" if len(a) == 1 else None,
    "array_contains_any": lambda a: (
        f"arrays_overlap({a[0]}, {_array_tuple(a[1])})" if len(a) == 2 else None
    ),
    "array_contains_all": lambda a: (
        f"forall({_array_tuple(a[1])}, __e -> array_contains({a[0]}, __e))"
        if len(a) == 2 else None
    ),
    # hashes / encodings
    "sha224": _sha2(224), "sha256": _sha2(256), "sha384": _sha2(384), "sha512": _sha2(512),
    "base64_encode": lambda a: f"base64(CAST({a[0]} AS BINARY))" if len(a) == 1 else None,
    "base64_decode": lambda a: f"CAST(unbase64({a[0]}) AS STRING)" if len(a) == 1 else None,
    "hex_encode": lambda a: f"hex({a[0]})" if len(a) == 1 else None,
    "hex_decode": lambda a: f"CAST(unhex({a[0]}) AS STRING)" if len(a) == 1 else None,
    # json
    "jsonb_object_keys": _jsonb_object_keys,
    # aggregates
    "approximate_median": lambda a: f"approx_percentile({a[0]}, 0.5)" if len(a) == 1 else None,
    "count_distinct": lambda a: f"COUNT(DISTINCT {', '.join(a)})" if a else None,
    "one": lambda a: f"any_value({a[0]})" if len(a) == 1 else None,
    "min_max": lambda a: (
        f"named_struct('min', MIN({a[0]}), 'max', MAX({a[0]}))" if len(a) == 1 else None
    ),
    "product": _product,
    # function-style casts (reference planner function-casts; INTEGER is int64)
    "varchar": _cast_fn("STRING"),
    "integer": _cast_fn("BIGINT"),
    "blob": _cast_fn("BINARY"),
}

_NAME = re.compile(r"[A-Za-z_]\w*")


def _expand_once(sql: str) -> str:
    out, i, n = [], 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in QUOTES:
            end = literal_end(sql, i)
            out.append(sql[i:end])
            i = end
            continue
        m = _NAME.match(sql, i)
        if not m:
            out.append(ch)
            i += 1
            continue
        name = m.group(0)
        fn = MACROS.get(name.lower())
        j = m.end()
        k = j
        while k < n and sql[k] in " \t\n":
            k += 1
        qualified = i > 0 and sql[i - 1] in "._$@"
        if fn is None or qualified or sql[k : k + 1] != "(" or (end := balanced_end(sql, k)) < 0:
            out.append(name)
            i = j
            continue
        args = split_top_level(sql[k + 1 : end - 1])
        rep = fn(args)
        out.append(rep if rep is not None else sql[i:end])
        i = end
    return "".join(out)


def expand_macros(sql: str) -> str:
    """Expand reference-dialect calls to Spark expressions (fixpoint so
    macro calls nested in macro arguments resolve too)."""
    for _ in range(8):
        new = _expand_once(sql)
        if new == sql:
            return sql
        sql = new
    return sql


# ---------------------------------------------------------------------------
# quantified comparisons: <expr> <op> ANY|ALL(<array>)
# (reference AnyOp*/AllOp* kernels, managers/expression/ops.py:40-134)

_ANYALL_HEAD = re.compile(
    r"('[^']*'|[\w.$]+(?:\([^()]*\))?|\([^()]*\))\s*"
    r"(NOT\s+(?:LIKE|ILIKE|RLIKE)|LIKE|ILIKE|RLIKE|!=|<>|>=|<=|=|>|<)\s*"
    r"\b(ANY|ALL)\s*\(",
    re.IGNORECASE,
)


# pattern-list bodies: comma-separated string literals (NULLs allowed —
# the reference drops null patterns, utils/sql.py::regex_match_any)
LIT_LIST = re.compile(
    r"^\s*(?:'(?:[^']|'')*'|NULL)(?:\s*,\s*(?:'(?:[^']|'')*'|NULL))*\s*$", re.IGNORECASE
)
# reference-only bare-literal form: ``x LIKE ANY '%p%'`` (no parens)
_LIKE_ANY_BARE = re.compile(
    r"\b(LIKE|ILIKE|RLIKE)\s+(ANY|ALL)\s+('(?:[^']|'')*')", re.IGNORECASE
)


def rewrite_any_all(sql: str) -> str:
    """``'x' = ANY(arr)`` → ``exists(arr, __v -> 'x' = __v)``; ALL → forall.

    Match-absence maps to FALSE rather than SQL's NULL when the array holds
    nulls — identical filtering behaviour for WHERE clauses.

    LIKE-family quantifiers over a *pattern list* (``x LIKE ANY ('%a%',
    '%b%')``) keep Spark's native form, which is correct for string
    columns; array-typed columns are converted to exists/forall at
    execution time by the cursor's analysis-retry (`cursor._type_fallback`)
    since a text-level pass cannot see column types.  ``NOT LIKE ANY``
    wraps as ``NOT (...)`` because the reference's invert semantics
    (``regex_match_any(invert=True)`` = no pattern matches) differ from
    Spark's ``NOT LIKE ANY`` (= fails at least one pattern).
    """
    sql = _LIKE_ANY_BARE.sub(lambda m: f"{m.group(1)} {m.group(2)} ({m.group(3)})", sql)
    pos = 0
    while (m := _ANYALL_HEAD.search(sql, pos)) and (end := balanced_end(sql, m.end() - 1)) >= 0:
        arr = sql[m.end() : end - 1]
        if re.match(r"\s*SELECT\b", arr, re.IGNORECASE):
            pos = m.end()  # ANSI quantified subquery — Spark handles natively
            continue
        lhs, op, quant = m.group(1), m.group(2), m.group(3).upper()
        op_norm = re.sub(r"\s+", " ", op.upper())
        if op_norm.endswith(("LIKE", "RLIKE")) and LIT_LIST.match(arr):
            # reference drops NULL patterns before matching
            pats = [p for p in split_top_level(arr) if p.upper() != "NULL"]
            base = op_norm.split()[-1]
            neg = op_norm.startswith("NOT")
            if not pats:
                repl = "(1 = 0)" if not neg else "(1 = 1)"
            elif neg:
                repl = f"NOT ({lhs} {base} {quant} ({', '.join(pats)}))"
            else:
                repl = f"{lhs} {base} {quant} ({', '.join(pats)})"
            sql = sql[: m.start()] + repl + sql[end:]
            pos = m.start() + len(repl)
            continue
        fn = "exists" if quant == "ANY" else "forall"
        body = arr.strip()
        # tuple literals become arrays: ANY(('a','b')) / ANY('a','b','c')
        # (reference treats the quantifier body as a value list)
        if body.startswith("(") and balanced_end(body, 0) == len(body):
            body = f"array{body}"
        elif len(split_top_level(body)) > 1:
            body = f"array({body})"
        repl = f"{fn}({body}, __v -> {lhs} {op} __v)"
        sql = sql[: m.start()] + repl + sql[end:]
        pos = m.start()
    return sql


# ---------------------------------------------------------------------------
# literal forms

_BYTE_PREFIX = re.compile(r"(?<![\w$])[bB](?=')")
_NUM_UNDERSCORE = re.compile(r"(?<![\w.])(\d[\d_]*(?:\.[\d_]+)?)")


def strip_byte_literals(sql: str) -> str:
    """``b'bytes'`` → ``'bytes'`` — the reference compares BLOB and VARCHAR
    freely (``ops.py:50-56``); Spark strings compare without the prefix."""
    return sub_outside_literals(_BYTE_PREFIX, lambda m: "", sql)


_HEX_LIT = re.compile(r"\b0[xX]([0-9A-Fa-f]+)\b")


def normalize_numeric_underscores(sql: str) -> str:
    """``1_00`` / ``10.0_0`` → ``100`` / ``10.00`` (reference accepts
    underscore digit separators), and ``0x08`` hex literals → decimal."""

    def seg(s: str) -> str:
        s = _HEX_LIT.sub(lambda m: str(int(m.group(1), 16)), s)
        return _NUM_UNDERSCORE.sub(lambda m: m.group(1).replace("_", ""), s)

    return map_outside_literals(sql, seg)


# ---------------------------------------------------------------------------
# CAST target types the reference names differently

_CAST_TYPES = [
    (re.compile(r"\bAS\s+VARCHAR\b(?!\s*\()", re.IGNORECASE), "AS STRING"),
    (re.compile(r"\bAS\s+BLOB\b", re.IGNORECASE), "AS BINARY"),
    (re.compile(r"\bAS\s+VARBINARY\b", re.IGNORECASE), "AS BINARY"),
    # reference INTEGER is always int64 (SURVEY §1.2)
    (re.compile(r"\bAS\s+INTEGER\b", re.IGNORECASE), "AS BIGINT"),
    # same dialect names in `::` casts and ARRAY<> element types.
    # ::VARBINARY maps to STRING: the reference compares BLOB and VARCHAR
    # freely (ops.py:50-56), and its only ::VARBINARY uses are IN-lists of
    # string/byte literals — Spark BINARY would refuse the comparison.
    (re.compile(r"::\s*VARCHAR\b(?!\s*\()", re.IGNORECASE), "::STRING"),
    (re.compile(r"::\s*VARBINARY\b", re.IGNORECASE), "::STRING"),
    (re.compile(r"::\s*BLOB\b", re.IGNORECASE), "::BINARY"),
    (re.compile(r"::\s*INTEGER\b", re.IGNORECASE), "::BIGINT"),
    (re.compile(r"\bARRAY\s*<\s*VARCHAR\s*>", re.IGNORECASE), "ARRAY<STRING>"),
    (re.compile(r"\bARRAY\s*<\s*INTEGER\s*>", re.IGNORECASE), "ARRAY<BIGINT>"),
    (re.compile(r"\bARRAY\s*<\s*BLOB\s*>", re.IGNORECASE), "ARRAY<BINARY>"),
]


_AS_TYPE = re.compile(r"\bAS\s+", re.IGNORECASE)
_CAST_HEAD = re.compile(r"\b(?:TRY_)?CAST\s*\(", re.IGNORECASE)


def map_cast_types(sql: str) -> str:
    # `AS <type>` renames apply only inside CAST(...) spans — a bare
    # `SELECT 'x' AS VARCHAR` is an alias named VARCHAR, not a cast —
    # and never inside string literals within the span
    pos = 0
    while (m := search_outside_literals(_CAST_HEAD, sql, pos)) and (
        end := balanced_end(sql, m.end() - 1)
    ) >= 0:
        body = sql[m.end() : end - 1]

        def seg_as(s: str) -> str:
            for pat, repl in _CAST_TYPES:
                if repl.startswith("AS "):
                    s = pat.sub(repl, s)
            return s

        body = map_outside_literals(body, seg_as)
        sql = sql[: m.end()] + body + sql[end - 1 :]
        pos = m.end() + len(body)

    def seg(s: str) -> str:
        for pat, repl in _CAST_TYPES:
            if not repl.startswith("AS "):
                s = pat.sub(repl, s)
        return s

    return map_outside_literals(sql, seg)


# ---------------------------------------------------------------------------
# EXTRACT: field-name dialect + string-literal operands

_EXTRACT_HEAD = re.compile(r"\bEXTRACT\s*\(", re.IGNORECASE)
_EXTRACT_BODY = re.compile(r"^\s*(\w+)\s+FROM\s+(.+)$", re.IGNORECASE | re.DOTALL)
_DATEISH_LIT = re.compile(r"^'\d{4}-\d{2}-\d{2}([ T].*)?'$")
_EXTRACT_FIELD_MAP = {
    "dayofyear": "DOY",
    "isoyear": "YEAROFWEEK",
    "isodow": "DAYOFWEEK_ISO",
    "weekofyear": "WEEK",
    "isoweek": "WEEK",  # Spark WEEK is ISO-8601 week-of-year
}


def rewrite_extract(sql: str) -> str:
    out, pos = [], 0
    while (m := _EXTRACT_HEAD.search(sql, pos)) and (end := balanced_end(sql, m.end() - 1)) >= 0:
        body = _EXTRACT_BODY.match(sql[m.end() : end - 1])
        if not body:
            out.append(sql[pos:end])
            pos = end
            continue
        field, operand = body.group(1), body.group(2).strip()
        if _DATEISH_LIT.match(operand):
            operand = f"CAST({operand} AS TIMESTAMP)"
        fl = field.lower()
        if fl in ("millisecond", "milliseconds"):
            repl = f"CAST(date_format(CAST({operand} AS TIMESTAMP), 'SSS') AS BIGINT)"
        elif fl == "decade":
            repl = f"CAST(FLOOR(EXTRACT(YEAR FROM {operand}) / 10) AS BIGINT)"
        elif fl == "century":
            repl = f"CAST(CEIL(EXTRACT(YEAR FROM {operand}) / 100.0) AS BIGINT)"
        elif fl == "julian":
            # Julian Day Number: days since -4713-11-24 (unix epoch = JDN 2440588)
            repl = f"(unix_date(CAST({operand} AS DATE)) + 2440588)"
        elif fl in ("microsecond", "microseconds"):
            repl = (
                f"(CAST(date_format(CAST({operand} AS TIMESTAMP), 'SSSSSS') AS BIGINT))"
            )
        elif fl in ("nanosecond", "nanoseconds"):
            repl = (
                f"(CAST(date_format(CAST({operand} AS TIMESTAMP), 'SSSSSS') AS BIGINT) * 1000)"
            )
        elif fl == "epoch":
            repl = f"unix_timestamp(CAST({operand} AS TIMESTAMP))"
        else:
            repl = f"EXTRACT({_EXTRACT_FIELD_MAP.get(fl, field)} FROM {operand})"
        out.append(sql[pos : m.start()])
        out.append(repl)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


# ---------------------------------------------------------------------------
# UNNEST relations (reference operators/function_dataset_node.py:70-139 and
# the cross-join unnest path, operators/cross_join_node.py)

_CJ_UNNEST = re.compile(r"\bCROSS\s+JOIN\s+UNNEST\s*\(", re.IGNORECASE)
_FROM_UNNEST = re.compile(r"\b(FROM|JOIN)\s+UNNEST\s*\(", re.IGNORECASE)
_UNNEST_ALIAS = re.compile(r"\s*(?:AS\s+)?([A-Za-z_]\w*)", re.IGNORECASE)
_UNNEST_KEYWORDS = frozenset(
    "ON WHERE GROUP ORDER LIMIT OFFSET HAVING UNION INTERSECT EXCEPT JOIN"
    " LEFT RIGHT FULL INNER CROSS SEMI ANTI NATURAL USING SELECT".split()
)
_UNNEST_COUNTER = [0]


def _unnest_alias(sql: str, i: int) -> tuple[str | None, int]:
    am = _UNNEST_ALIAS.match(sql, i)
    if am and am.group(1).upper() not in _UNNEST_KEYWORDS:
        return am.group(1), am.end()
    return None, i


_JOIN_UNNEST_SUBQ = re.compile(
    r"\bJOIN\s*\(\s*SELECT\s+\*\s+FROM\s+UNNEST\s*\(\s*([\w.]+)\s*\)\s*(?:AS\s+)?(\w+)\s*\)",
    re.IGNORECASE,
)


def rewrite_unnest(sql: str) -> str:
    # JOIN (SELECT * FROM UNNEST(col) AS a) — the reference resolves the
    # UNNEST argument against the outer relation, i.e. a lateral join
    sql = _JOIN_UNNEST_SUBQ.sub(
        lambda m: f"JOIN LATERAL (SELECT explode({m.group(1)}) AS {m.group(2)})", sql
    )
    # table CROSS JOIN UNNEST(col) AS a → CROSS JOIN LATERAL (SELECT
    # explode(col) AS a): unlike LATERAL VIEW, the lateral subquery can be
    # followed by further JOIN clauses in the same FROM list
    while (m := _CJ_UNNEST.search(sql)) and (end := balanced_end(sql, m.end() - 1)) >= 0:
        arg = _array_tuple(sql[m.end() : end - 1])
        alias, end2 = _unnest_alias(sql, end)
        alias = alias or "unnest"
        _UNNEST_COUNTER[0] += 1
        repl = (
            f" CROSS JOIN LATERAL (SELECT explode({arg}) AS {alias}) __uv_{_UNNEST_COUNTER[0]}"
        )
        sql = sql[: m.start()] + repl + sql[end2:]
    # FROM UNNEST((tuple)) AS element  →  FROM (SELECT explode(array(...)) AS element)
    while (m := _FROM_UNNEST.search(sql)) and (end := balanced_end(sql, m.end() - 1)) >= 0:
        arg = _array_tuple(sql[m.end() : end - 1])
        alias, end2 = _unnest_alias(sql, end)
        alias = alias or "unnest"
        repl = f"{m.group(1)} (SELECT explode({arg}) AS {alias}) AS {alias}"
        sql = sql[: m.start()] + repl + sql[end2:]
    return sql


# ---------------------------------------------------------------------------
# table hints the reference accepts and we (like Spark) ignore

_TABLE_HINT = re.compile(
    r"\s+WITH\s*\(\s*(?:NO_CACHE|NO_PARTITION|NO_PUSH_PROJECTION|NO_PUSH_SELECTION|"
    r"NO_PUSH_AGGREGATION)(?:\s*,\s*\w+)*\s*\)",
    re.IGNORECASE,
)


def strip_table_hints(sql: str) -> str:
    return _TABLE_HINT.sub("", sql)


# ---------------------------------------------------------------------------
# virtual-dataset column aliases (reference FlatColumn(aliases=[...]),
# virtual_datasets/planet_data.py:100-113, satellite_data.py:50,
# missions.py:47 — note the reference's canonical name IS the typo
# "Lauched_at"; "Launched_at" is its alias)

_VIRTUAL_COLUMN_ALIASES = {
    "planets": {
        "escape_velocity": "escapeVelocity",
        "rotation_period": "rotationPeriod",
        "length_of_day": "lengthOfDay",
        "distance_from_sun": "distanceFromSun",
        "orbital_period": "orbitalPeriod",
        "oribtal_velocity": "orbitalVelocity",
        "oribtial_inclination": "orbitalInclination",
        "orbital_eccentricity": "orbitalEccentricity",
        "obliquity_to_orbit": "obliquityToOrbit",
        "mean_temperature": "meanTemperature",
        "surface_pressure": "surfacePressure",
        "number_of_moons": "numberOfMoons",
    },
    "satellites": {"planet_id": "planetId"},
    "missions": {"launched_at": "Lauched_at"},
}


def resolve_virtual_aliases(sql: str) -> str:
    """Rewrite alias column names to canonical ones when the owning virtual
    dataset is referenced.  Bare select-list items keep their queried name
    via an ``AS`` alias, matching the reference's output naming."""
    for table, amap in _VIRTUAL_COLUMN_ALIASES.items():
        if not re.search(rf"\$({table})\b", sql, re.IGNORECASE):
            continue
        for alias, canon in amap.items():
            pat = re.compile(rf"\b{alias}\b(?!\s*')", re.IGNORECASE)

            def seg(s: str, pat=pat, alias=alias, canon=canon) -> str:
                return pat.sub(
                    lambda m: f"{canon} AS {alias}"
                    if _is_bare_select_item(s, m)
                    else canon,
                    s,
                )

            sql = map_outside_literals(sql, seg)
    return sql


def _is_bare_select_item(s: str, m: re.Match) -> bool:
    """True when the matched name is a whole select-list item (so we add
    ``AS alias`` to preserve the output column name)."""
    before = s[: m.start()].rstrip()
    after = s[m.end() :].lstrip()
    head_ok = before.upper().endswith(("SELECT", "DISTINCT", ","))
    tail_ok = after[:1] == "," or after.upper().startswith("FROM")
    return head_ok and tail_ok


# ---------------------------------------------------------------------------
# WHERE <integer expression> — the reference coerces nonzero → true for
# bitwise results (ops.py bitwise kernels feed filters directly)

_WHERE_BITOR = re.compile(
    r"\b(WHERE|HAVING)\s+([\w.]+\s*[|&^]\s*[\w.]+)(?=\s*$|\s+(?:GROUP|ORDER|LIMIT)\b)",
    re.IGNORECASE,
)


def rewrite_bitwise_filters(sql: str) -> str:
    return _WHERE_BITOR.sub(lambda m: f"{m.group(1)} ({m.group(2)}) != 0", sql)


# ---------------------------------------------------------------------------
# bracketed array literals: ['a', 'b'] / [] → array('a', 'b') / array()
# (the reference parser accepts Python-style list literals)


# keywords after which a '[' starts an array literal, never a subscript
# (`IN [1,2]`, `SELECT [1,2]`, `x = ANY [..]`, `WHEN [..] THEN ...`)
_PRE_LITERAL_KEYWORDS = frozenset(
    "SELECT DISTINCT IN VALUES WHEN THEN ELSE CASE AND OR NOT XOR WHERE "
    "HAVING ON BY AS SET LIMIT OFFSET UNION ALL ANY SOME INTERSECT EXCEPT "
    "BETWEEN LIKE ILIKE RLIKE RETURNING".split()
)


def rewrite_array_literals(sql: str) -> str:
    out: list[str] = []
    stack: list[bool] = []  # True where '[' opened an array literal
    prev = ""  # last non-space char emitted outside quoted spans ("'" for a span)
    word: list[str] = []  # identifier/keyword token ending at prev
    gap = True  # whitespace seen since prev (word boundary)
    span_end = 0
    for i, ch in enumerate(sql):
        if i < span_end:
            continue
        if ch in QUOTES:
            span_end = literal_end(sql, i)
            out.append(sql[i:span_end])
            prev, word, gap = "'", [], False
            continue
        if ch == "[":
            # subscript when the preceding token is a value (identifier,
            # ')', ']', quote) — the reference's sqlparser accepts
            # whitespace before a subscript (`arr [0]`), so attachment is
            # decided by the previous token, not adjacency.  After a
            # keyword (`IN [1,2]`), a comma, an operator, or '(' it is an
            # array literal.
            tok = "".join(word).upper()
            is_subscript = bool(prev) and (
                prev in ")]'"
                or ((prev.isalnum() or prev == "_") and tok not in _PRE_LITERAL_KEYWORDS)
            )
            stack.append(not is_subscript)
            out.append("[" if is_subscript else "array(")
            prev, word, gap = "(", [], False
            continue
        if ch == "]":
            was_literal = stack.pop() if stack else False
            out.append(")" if was_literal else "]")
            prev, word, gap = ")", [], False
            continue
        out.append(ch)
        if ch.isspace():
            gap = True  # keep prev/word: token attachment survives whitespace
        elif ch.isalnum() or ch in "_.$@":
            if gap or not (prev.isalnum() or prev in "_.$@"):
                word = []
            word.append(ch)
            prev, gap = ch, False
        else:
            prev, word, gap = ch, [], False
    return "".join(out)


# ---------------------------------------------------------------------------
# membership in an array: <x> [NOT] IN UNNEST(arr) → array_contains

_IN_UNNEST = re.compile(
    r"('(?:[^']|'')*'|[\w.@]+)\s+(NOT\s+)?IN\s+UNNEST\s*\(", re.IGNORECASE
)


def rewrite_in_unnest(sql: str) -> str:
    while (m := _IN_UNNEST.search(sql)) and (end := balanced_end(sql, m.end() - 1)) >= 0:
        arr = sql[m.end() : end - 1]
        neg = "NOT " if m.group(2) else ""
        repl = f"{neg}array_contains({arr}, {m.group(1)})"
        sql = sql[: m.start()] + repl + sql[end:]
    return sql


# ---------------------------------------------------------------------------
# ARRAY_AGG modifiers the reference supports inline:
# ARRAY_AGG([DISTINCT] x [ORDER BY x [ASC|DESC]] [LIMIT n])

_ARRAY_AGG_HEAD = re.compile(r"\bARRAY_AGG\s*\(", re.IGNORECASE)
_AGG_BODY = re.compile(
    r"^\s*(DISTINCT\s+)?(.*?)(?:\s+ORDER\s+BY\s+(.*?)\s*(ASC|DESC)?)?(?:\s+LIMIT\s+(\d+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def rewrite_array_agg_modifiers(sql: str) -> str:
    pos = 0
    while (m := _ARRAY_AGG_HEAD.search(sql, pos)) and (end := balanced_end(sql, m.end() - 1)) >= 0:
        body = sql[m.end() : end - 1]
        if not re.search(r"\b(ORDER\s+BY|LIMIT)\b", body, re.IGNORECASE):
            pos = end  # plain form is native
            continue
        bm = _AGG_BODY.match(body)
        if not bm:
            pos = end
            continue
        distinct, expr, order, direction, limit = bm.groups()
        expr = expr.strip()
        d = "DISTINCT " if distinct else ""
        if order is not None and order.strip() != expr:
            # sort by the ORDER BY key, not the aggregated value: aggregate
            # (key, value) structs — struct ordering is field-by-field, so
            # the key leads — then project the value back out
            agg = f"array_agg({d}struct(({order.strip()}) AS __k, ({expr}) AS __e))"
            agg = f"array_sort({agg})"
            if (direction or "").upper() == "DESC":
                agg = f"reverse({agg})"
            agg = f"transform({agg}, __s -> __s.__e)"
        else:
            agg = f"array_agg({d}{expr})"
            if order is not None:
                agg = f"array_sort({agg})"
                if (direction or "").upper() == "DESC":
                    agg = f"reverse({agg})"
        if limit is not None:
            agg = f"slice({agg}, 1, {limit})"
        sql = sql[: m.start()] + agg + sql[end:]
        pos = m.start() + len(agg)
    return sql


# ---------------------------------------------------------------------------
# assorted operator dialect: MATCH...AGAINST, XOR, regex ops, intervals,
# strftime DATE_FORMAT, tuple CONCAT, CIDR containment '|'

_MATCH_AGAINST = re.compile(r"\bMATCH\s*\(([^)]+)\)\s+AGAINST\s*\(\s*('[^']*')\s*\)", re.IGNORECASE)
_INTERVAL_YM = re.compile(r"\bINTERVAL\s+'(\d+)\s+(\d+)'\s+YEAR\s+TO\s+MONTH\b", re.IGNORECASE)
_INTERVAL_MD = re.compile(r"\bINTERVAL\s+'(\d+)\s+(\d+)'\s+MONTH\s+TO\s+DAY\b", re.IGNORECASE)
_BIG_TS = [
    (re.compile(r"\bTIMESTAMP\s*\(\s*(\d{11,})\s*\)", re.IGNORECASE), r"timestamp_micros(\1)"),
    (re.compile(r"\bCAST\s*\(\s*(\d{11,})\s+AS\s+TIMESTAMP\s*\)", re.IGNORECASE), r"timestamp_micros(\1)"),
    (re.compile(r"\b(\d{11,})\s*::\s*TIMESTAMP\b", re.IGNORECASE), r"timestamp_micros(\1)"),
]
_CIDR_PIPE = re.compile(
    r"('(?:[^']|'')*'|NULL|[\w.]+)\s*\|\s*('[^']*/[^']*')", re.IGNORECASE
)
_DF_HEAD = re.compile(r"\bDATE_FORMAT\s*\(", re.IGNORECASE)
_STRFTIME_MAP = [
    ("%Y", "yyyy"), ("%y", "yy"), ("%m", "MM"), ("%d", "dd"), ("%H", "HH"),
    ("%I", "hh"), ("%M", "mm"), ("%S", "ss"), ("%f", "SSSSSS"), ("%j", "DDD"),
    ("%a", "EEE"), ("%A", "EEEE"), ("%b", "MMM"), ("%B", "MMMM"), ("%p", "a"),
    ("%W", "ww"), ("%%", "%"),
]


# the operator and the opening quote of its pattern literal
_CI_RE_OP = re.compile(r"([\w.\)\]]+)\s*(!~\*|~\*)\s*(['\"])")


def _rewrite_ci_regex_ops(sql: str) -> str:
    return sub_outside_literals(
        _CI_RE_OP,
        lambda m: f"{m.group(1)} {'NOT ' if m.group(2) == '!~*' else ''}RLIKE {m.group(3)}(?i)",
        sql,
    )


def rewrite_misc_operators(sql: str) -> str:
    sql = _MATCH_AGAINST.sub(
        lambda m: (
            "forall(split(lower(" + m.group(2) + "), '[ ,]+'), "
            f"__t -> array_contains(split(lower({m.group(1)}), '[ ,]+'), __t))"
        ),
        sql,
    )
    sql = _INTERVAL_YM.sub(lambda m: f"INTERVAL '{m.group(1)}-{m.group(2)}' YEAR TO MONTH", sql)
    # mixed-unit interval → CalendarIntervalType (make_interval): the only
    # Spark type that carries months and days together for date arithmetic
    sql = _INTERVAL_MD.sub(
        lambda m: f"make_interval(0, {m.group(1)}, 0, {m.group(2)}, 0, 0, 0)", sql
    )
    for pat, repl in _BIG_TS:
        sql = pat.sub(repl, sql)
    sql = _CIDR_PIPE.sub(lambda m: f"ip_in_cidr({m.group(1)}, {m.group(2)})", sql)

    # case-insensitive regex ops carry their pattern literal: fold the
    # insensitivity into the pattern itself ((?i) prefix), not the column.
    # The operator must sit outside quoted spans (a string containing
    # "~* '" is not rewritten) and directly before the pattern literal.
    sql = _rewrite_ci_regex_ops(sql)

    def seg(s: str) -> str:
        s = re.sub(r"\bXOR\b", "!=", s, flags=re.IGNORECASE)
        s = re.sub(r"([\w.\)\]]+)\s*!~\s*", r"\1 NOT RLIKE ", s)
        # segments end right before the pattern literal, so match span-end too
        s = re.sub(r"([\w.\)\]]+)\s*~\s*(?='|$)", r"\1 RLIKE ", s)
        s = re.sub(r"\bNOT\s+SIMILAR\s+TO\b", "NOT RLIKE", s, flags=re.IGNORECASE)
        s = re.sub(r"\bSIMILAR\s+TO\b", "RLIKE", s, flags=re.IGNORECASE)
        return s

    sql = map_outside_literals(sql, seg)
    # strftime-style DATE_FORMAT patterns → Spark datetime patterns
    pos = 0
    while (m := _DF_HEAD.search(sql, pos)) and (end := balanced_end(sql, m.end() - 1)) >= 0:
        args = split_top_level(sql[m.end() : end - 1])
        if len(args) == 2 and args[1].startswith("'"):
            fmt = args[1][1:-1]
            if "%" in fmt or fmt == "dddd":
                fmt = "EEEE" if fmt == "dddd" else fmt
                for tok, repl in _STRFTIME_MAP:
                    fmt = fmt.replace(tok, repl)
                new = f"DATE_FORMAT({args[0]}, '{fmt}')"
                sql = sql[: m.start()] + new + sql[end:]
                pos = m.start() + len(new)
                continue
        pos = end
    # tuple CONCAT: CONCAT((a, b)) → concat_ws('', array(a, b));
    # CONCAT_WS(sep, (a, b)) → concat_ws(sep, array(a, b))
    sql = re.sub(r"\bCONCAT\s*\(\s*\(", "concat_ws('', array(", sql, flags=re.IGNORECASE)
    sql = re.sub(
        r"\bCONCAT_WS\s*\(\s*('[^']*'|[\w.]+)\s*,\s*\(",
        lambda m: f"concat_ws({m.group(1)}, array(",
        sql,
        flags=re.IGNORECASE,
    )
    return sql


def apply(sql: str) -> str:
    """All dialect passes in dependency order (called from rewriter.rewrite)."""
    sql = strip_byte_literals(sql)
    sql = normalize_numeric_underscores(sql)
    sql = strip_table_hints(sql)
    sql = rewrite_array_literals(sql)
    sql = rewrite_in_unnest(sql)
    sql = rewrite_unnest(sql)
    sql = rewrite_any_all(sql)
    sql = rewrite_array_agg_modifiers(sql)
    sql = rewrite_extract(sql)
    sql = expand_macros(sql)
    sql = map_cast_types(sql)
    sql = rewrite_misc_operators(sql)
    sql = rewrite_bitwise_filters(sql)
    sql = resolve_virtual_aliases(sql)
    return sql
