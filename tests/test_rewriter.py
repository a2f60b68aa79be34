"""Unit tests for the SQL dialect rewriter (pure string level, no Spark)."""

from __future__ import annotations

import datetime as dt

from opteryx_spark import rewriter

# a fixed statement time in the session time zone: Wednesday 2024-03-13
NOW = dt.datetime(2024, 3, 13, 15, 30, tzinfo=dt.timezone.utc)


def test_strip_comments():
    sql = "SELECT 1 -- trailing\n, 2 /* block */ FROM t -- end"
    out = rewriter.strip_comments(sql)
    assert "trailing" not in out and "block" not in out
    assert "SELECT 1" in out and "FROM t" in out


def test_comment_inside_string_preserved():
    out = rewriter.strip_comments("SELECT '--not a comment' FROM t")
    assert "--not a comment" in out


def test_split_statements():
    stmts = rewriter.split_statements("SELECT 1; SELECT ';'; SELECT 2;")
    assert len(stmts) == 3
    assert stmts[1] == "SELECT ';'"


def test_temporal_between():
    sql, filters = rewriter.extract_temporal(
        "SELECT * FROM events FOR DATES BETWEEN '2024-01-01' AND '2024-02-01' WHERE x=1"
    )
    assert "FOR" not in sql
    (table, spec), = filters.values()
    assert table == "events"
    start, end = rewriter.for_bounds(spec, NOW)
    assert start == dt.datetime(2024, 1, 1)
    # end bound covers the whole named day (exclusive start of next day)
    assert end == dt.datetime(2024, 2, 2)


def test_temporal_point_and_last_days():
    sql, f1 = rewriter.extract_temporal("SELECT * FROM events FOR '2024-01-05'")
    (t1, s1), = f1.values()
    assert t1 == "events"
    assert rewriter.for_bounds(s1, NOW) == (dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 6))
    # relative forms count whole days back from the statement's date
    sql, f2 = rewriter.extract_temporal("SELECT * FROM events FOR LAST 7 DAYS")
    (t2, s2), = f2.values()
    assert t2 == "events"
    assert rewriter.for_bounds(s2, NOW) == (dt.datetime(2024, 3, 6), None)
    sql, f3 = rewriter.extract_temporal("SELECT * FROM events FOR TODAY")
    (t3, s3), = f3.values()
    assert t3 == "events"
    assert rewriter.for_bounds(s3, NOW) == (dt.datetime(2024, 3, 13), dt.datetime(2024, 3, 14))


def test_json_operators():
    out = rewriter.rewrite_operators("SELECT props ->> 'k' FROM e WHERE props @? 'k'")
    assert "get_json_object(props, '$.k')" in out
    # bare-column @? defers to finalize_atq (variant route when the
    # relation preserves explicit JSON nulls, else the string fallback)
    assert "__atq_exists(props, '$.k')" in out
    assert "(get_json_object(props, '$.k') IS NOT NULL)" in rewriter.finalize_atq(out)
    variant = rewriter.finalize_atq(out, {"v": ["props", "__variant"]})
    # unqualified __variant: resolves through any FROM-clause alias, and
    # the single-view gate keeps it unambiguous
    assert "(variant_get(__variant, '$.props.k') IS NOT NULL)" in variant
    # two variant views in one statement: fall back (ambiguous __variant)
    both = rewriter.finalize_atq(
        out, {"v1": ["props", "__variant"], "v2": ["props", "__variant"]}
    )
    assert "(get_json_object(props, '$.k') IS NOT NULL)" in both
    # column not owned by the single view: fall back
    other = rewriter.finalize_atq(out, {"v": ["different_col", "__variant"]})
    assert "(get_json_object(props, '$.k') IS NOT NULL)" in other


def test_array_operators():
    out = rewriter.rewrite_operators("SELECT * FROM t WHERE tags @> ('a', 'b')")
    assert "arrays_overlap(tags, array('a', 'b'))" in out
    out = rewriter.rewrite_operators("SELECT * FROM t WHERE tags @>> ('a', 'b')")
    assert "forall(array('a', 'b')" in out and "array_contains(tags" in out


def test_dollar_datasets():
    assert rewriter.rewrite_virtual_datasets("SELECT * FROM $planets") == (
        "SELECT * FROM virtual_planets"
    )


def test_generate_series():
    out = rewriter.rewrite_generate_series("SELECT * FROM GENERATE_SERIES(1, 10) AS t(g)")
    assert "explode(sequence(1, 10))" in out and "AS g" in out


def test_path_tables():
    sql, paths = rewriter.extract_path_tables("SELECT * FROM 's3://b/k.parquet' WHERE x=1")
    assert list(paths.values()) == ["s3://b/k.parquet"]
    assert "FROM path_table_0" in sql


def test_distinct_on():
    out = rewriter.rewrite_distinct_on(
        "SELECT DISTINCT ON (a) a, b FROM t ORDER BY a, c DESC"
    )
    assert "row_number() OVER (PARTITION BY a ORDER BY a, c DESC)" in out
    assert "__rn = 1" in out


def test_bind_named_params():
    out = rewriter.bind_params("SELECT * FROM t WHERE x = :lo AND y = :lohi", {"lo": 5, "lohi": "a'b"})
    assert "x = 5" in out
    assert "y = 'a''b'" in out


def test_bind_positional_params():
    out = rewriter.bind_params("SELECT * FROM t WHERE x = ? AND y = ?", [1, None])
    assert "x = 1" in out and "y = NULL" in out


def test_full_rewrite_pipeline():
    res = rewriter.rewrite(
        "SELECT props ->> 'k' AS k FROM events FOR LAST 3 DAYS -- c\nWHERE x = :v",
        {"v": 7},
    )
    assert "get_json_object" in res.sql
    assert "x = 7" in res.sql
    assert any(t == "events" for t, _ in res.temporal_filters.values())


def test_temporal_on_join_clause():
    sql, filters = rewriter.extract_temporal(
        "SELECT * FROM orders o JOIN events FOR LAST 7 DAYS ON o.k = events.k"
    )
    assert "FOR LAST" not in sql
    assert any(t == "events" for t, _ in filters.values())


def test_dollar_not_rewritten_in_literals():
    res = rewriter.rewrite("SELECT props @? '$user', 'price $100' AS t FROM events")
    assert "virtual_" not in res.sql
    res2 = rewriter.rewrite("SELECT * FROM $planets WHERE note = '$planets'")
    assert "FROM virtual_planets" in res2.sql
    assert "'$planets'" in res2.sql


def test_bind_params_skip_literals():
    out = rewriter.bind_params("SELECT 'why?' AS q, ':n' AS t WHERE x = ? AND y = :n", [7])
    assert "'why?'" in out and "x = 7" in out
    out2 = rewriter.bind_params("SELECT ':n' AS t WHERE y = :n", {"n": 5})
    assert "':n'" in out2 and "y = 5" in out2


def test_backslash_escaped_quote_in_literal():
    out = rewriter.strip_comments("SELECT 'don\\'t -- keep' AS x -- drop\nFROM t")
    assert "don\\'t -- keep" in out
    assert "drop" not in out
    stmts = rewriter.split_statements("SELECT 'a\\';b' AS x; SELECT 2")
    assert len(stmts) == 2


def test_distinct_on_with_limit():
    out = rewriter.rewrite_distinct_on(
        "SELECT DISTINCT ON (a) a, b FROM t ORDER BY a, c DESC LIMIT 5"
    )
    assert "ORDER BY a, c DESC) AS __rn" in out
    assert out.rstrip().endswith("LIMIT 5")
    assert "LIMIT 5)" not in out  # limit not swallowed into the window
    assert "WHERE __rn = 1 ORDER BY a, c DESC" in out


def test_generate_series_nested_parens():
    out = rewriter.rewrite_generate_series("SELECT * FROM GENERATE_SERIES(1, power(2, 3)) AS g(n)")
    assert "sequence(1, power(2, 3))" in out and "AS n" in out


def test_generate_series_single_arg_defaults_start():
    out = rewriter.rewrite_generate_series("SELECT * FROM GENERATE_SERIES(5000) AS g")
    assert "sequence(1, 5000)" in out


def test_generate_series_dates_and_interval():
    out = rewriter.rewrite_generate_series(
        "SELECT * FROM generate_series('2022-01-01', '2022-12-31', '1 day') AS GS"
    )
    assert "CAST('2022-01-01' AS TIMESTAMP)" in out
    assert "CAST('2022-12-31' AS TIMESTAMP)" in out
    assert "INTERVAL 1 DAY" in out


def test_generate_series_compound_interval():
    out = rewriter.rewrite_generate_series(
        "SELECT * FROM generate_series('2022-01-01 12:00', '2022-01-01 12:15', '1m30s') AS GS"
    )
    assert "INTERVAL 1 MINUTE 30 SECOND" in out


def test_generate_series_no_alias_before_keyword():
    out = rewriter.rewrite_generate_series("SELECT * FROM GENERATE_SERIES(1, 3) WHERE 1 = 1")
    assert "WHERE 1 = 1" in out and ") series WHERE" in out


def test_temporal_and_plain_reference_stay_independent():
    sql, filters = rewriter.extract_temporal(
        "SELECT * FROM events FOR '2024-01-05' e JOIN events x ON e.k = x.k"
    )
    # only the FOR-qualified occurrence is rewritten to a marker view
    (marker, (table, _)), = filters.items()
    assert table == "events" and marker in sql
    assert " JOIN events x" in sql


def test_fake_alias_not_confused_with_join():
    out = rewriter.rewrite_fake_function(
        "SELECT * FROM FAKE(2, 2) JOIN (SELECT 1 AS a) x ON TRUE"
    )
    assert "JOIN (SELECT 1 AS a) x ON TRUE" in out


def test_temporal_for_inside_literal_untouched():
    sql = "SELECT * FROM logs WHERE message = 'shipped FROM paris FOR TODAY'"
    res = rewriter.extract_temporal(sql)
    out, filters = res if isinstance(res, tuple) else (res.sql, res.temporal_filters)
    assert filters == {}
    assert "shipped FROM paris FOR TODAY" in out


def test_array_ops_with_nested_calls():
    out = rewriter.rewrite_operators("SELECT * FROM t WHERE tags @> (lower('a'), 'b')")
    assert "arrays_overlap(tags, array(lower('a'), 'b'))" in out
    out2 = rewriter.rewrite_operators("SELECT * FROM t WHERE tags @>> (f(x, 1), g(y))")
    assert "forall(array(f(x, 1), g(y))" in out2


def test_positional_binding_skips_atq_operator():
    out = rewriter.bind_params("SELECT * FROM t WHERE d @? '$.a' AND id = ?", [7])
    assert "@? '$.a'" in out and "id = 7" in out


def test_distinct_on_with_extract_projection():
    """EXTRACT(... FROM ...) in the projection must not terminate the
    clause split (NOTES_r4 documented edge)."""
    from opteryx_spark.rewriter import rewrite_distinct_on

    out = rewrite_distinct_on(
        "SELECT DISTINCT ON (user_id) user_id, EXTRACT(year FROM ts) AS yr "
        "FROM events ORDER BY user_id, ts DESC"
    )
    assert "EXTRACT(year FROM ts) AS yr" in out
    assert "PARTITION BY user_id" in out
    assert out.count("FROM events") == 1
    # nested call in the key list (balanced-paren key scan)
    out2 = rewrite_distinct_on(
        "SELECT DISTINCT ON (EXTRACT(year FROM ts)) * FROM events"
    )
    assert "PARTITION BY EXTRACT(year FROM ts)" in out2
    # subquery ORDER BY stays inside; outer split finds the top-level one
    out3 = rewrite_distinct_on(
        "SELECT DISTINCT ON (k) k, v FROM (SELECT k, v FROM t ORDER BY v) s "
        "ORDER BY k, v"
    )
    assert "(SELECT k, v FROM t ORDER BY v) s" in out3


def test_table_function_heads_inside_literals_untouched():
    """GENERATE_SERIES / FAKE spelled inside a string literal are data,
    not table functions (NOTES_r4 documented edge)."""
    from opteryx_spark.rewriter import rewrite_fake_function, rewrite_generate_series

    sql = "SELECT * FROM docs WHERE note = 'pulled FROM GENERATE_SERIES(1, 10) today'"
    assert rewrite_generate_series(sql) == sql
    sql2 = "SELECT 'data FROM FAKE(5, 2) rows' AS lbl FROM docs"
    assert rewrite_fake_function(sql2) == sql2
    # ...while a real head after a literal still rewrites
    sql3 = "SELECT 'FROM FAKE(1,1)' AS lbl FROM GENERATE_SERIES(1, 3)"
    out3 = rewrite_generate_series(sql3)
    assert "explode(sequence(1, 3))" in out3 and "'FROM FAKE(1,1)'" in out3
