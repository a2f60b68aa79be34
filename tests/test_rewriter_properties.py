"""Property tests: the rewriter never crashes and preserves invariants."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from opteryx_spark import rewriter, sqltext

sqlish = st.text(
    alphabet=st.characters(
        whitelist_categories=("L", "N", "P", "Z"), whitelist_characters="\n'\";-$@>?()"
    ),
    max_size=200,
)


@given(sqlish)
@settings(max_examples=200, deadline=None)
def test_strip_comments_never_crashes(sql):
    out = rewriter.strip_comments(sql)
    assert isinstance(out, str)
    assert "/*" not in out or "'" in sql or '"' in sql


@given(sqlish)
@settings(max_examples=200, deadline=None)
def test_split_statements_never_crashes(sql):
    stmts = rewriter.split_statements(sql)
    assert all(s.strip() for s in stmts)


@given(sqlish)
@settings(max_examples=200, deadline=None)
def test_full_rewrite_never_crashes(sql):
    res = rewriter.rewrite(sql)
    assert isinstance(res.sql, str)


@given(st.dictionaries(st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True),
                       st.one_of(st.integers(), st.text(max_size=20), st.none(),
                                 st.floats(allow_nan=False, allow_infinity=False))))
@settings(max_examples=100, deadline=None)
def test_bind_params_escapes(params):
    sql = "SELECT 1 WHERE x = " + " AND ".join(f":{k}" for k in params) if params else "SELECT 1"
    out = rewriter.bind_params(sql, params)
    # no raw unescaped single quote sequences from injected strings
    assert isinstance(out, str)
    for v in params.values():
        if isinstance(v, str) and "'" in v:
            assert "''" in out or "'" not in v


@st.composite
def quoted_spans(draw):
    """A string literal or quoted identifier whose text holds quotes,
    backslashes, commas and parens, escaped as Spark reads them."""
    q = draw(st.sampled_from(["'", '"', "`"]))
    body = draw(st.text(alphabet="a '\"\\`,()", max_size=12))
    if q == "`":
        return "`" + body.replace("`", "``") + "`"
    escape = draw(st.sampled_from([q + q, "\\" + q]))
    return q + body.replace("\\", "\\\\").replace(q, escape) + q


@given(st.lists(quoted_spans(), min_size=1, max_size=6))
@settings(max_examples=300, deadline=None)
def test_quoted_spans_are_opaque(tokens):
    sql = f"f({', '.join(tokens)})"
    assert sqltext.split_top_level(sql[2:-1]) == tokens
    assert sqltext.balanced_end(sql, 1) == len(sql)
    assert sqltext.map_outside_literals(sql, str.upper) == f"F({', '.join(tokens)})"


@given(sqlish)
@settings(max_examples=300, deadline=None)
def test_json_arrow_rewrite_never_crashes_and_is_stable(sql):
    out = rewriter.rewrite_json_arrows(sql)
    assert isinstance(out, str)
    # no arrow operator in the input => identity
    if "->" not in sql and "@?" not in sql:
        assert out == sql


def test_json_arrow_chain_shapes():
    r = rewriter.rewrite_json_arrows
    assert r("SELECT a -> 'b' ->> 'c' FROM t") == (
        "SELECT get_json_object(get_json_object(a, '$.b'), '$.c') FROM t"
    )
    assert r("SELECT data[0]->'id' FROM t") == (
        "SELECT get_json_object(data[0], '$.id') FROM t"
    )
    assert r("SELECT fn(x) ->> 'k' FROM t") == (
        "SELECT get_json_object(fn(x), '$.k') FROM t"
    )
    assert r("SELECT x @? '$.a.b' FROM t") == (
        "SELECT __atq_exists(x, '$.a.b') FROM t"
    )
    assert rewriter.finalize_atq(r("SELECT x @? '$.a.b' FROM t")) == (
        "SELECT (get_json_object(x, '$.a.b') IS NOT NULL) FROM t"
    )
    # non-bare lhs keeps the direct string-JSON form
    assert r("SELECT fn(x) @? '$.a' FROM t") == (
        "SELECT (get_json_object(fn(x), '$.a') IS NOT NULL) FROM t"
    )
    # literal lhs kept; arrow inside a string untouched
    assert r("SELECT '{\"a\":1}' -> 'a'") == (
        "SELECT get_json_object('{\"a\":1}', '$.a')"
    )
    assert r("SELECT 'x -> y' AS s FROM t") == "SELECT 'x -> y' AS s FROM t"
