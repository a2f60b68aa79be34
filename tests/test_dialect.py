"""Unit tests for the dialect-parity layer (text-level, no Spark session)."""

from __future__ import annotations

from opteryx_spark import dialect, rewriter


def R(sql: str) -> str:
    return rewriter.rewrite(sql).sql


def test_macro_iif_and_nested_search():
    out = dialect.expand_macros("SELECT IIF(SEARCH(m, 'x'), 1, 0) FROM t")
    assert out == "SELECT IF(opx_search(m, 'x'), 1, 0) FROM t"


def test_macro_ifnotnull_keeps_null():
    out = dialect.expand_macros("SELECT IFNOTNULL(a, 'r') FROM t")
    assert out == "SELECT IF((a) IS NOT NULL, 'r', a) FROM t"


def test_macro_inside_string_untouched():
    out = dialect.expand_macros("SELECT 'IIF(a,b,c)' FROM t")
    assert out == "SELECT 'IIF(a,b,c)' FROM t"
    for sql in ("SELECT \"IIF(a,b,c)\" FROM t", "SELECT 'it\\'s IIF(a,b,c)' FROM t"):
        assert dialect.expand_macros(sql) == sql
    # a call after an escaped or double-quoted quote is outside the literal
    out = dialect.expand_macros("SELECT 'x\\'y', \"o'k\", IIF(a,b,c) FROM t")
    assert out == "SELECT 'x\\'y', \"o'k\", IF(a, b, c) FROM t"


def test_macro_qualified_name_untouched():
    out = dialect.expand_macros("SELECT s.sort(x) FROM t")
    assert out == "SELECT s.sort(x) FROM t"


def test_count_distinct_and_single_arg_greatest():
    assert dialect.expand_macros("SELECT COUNT_DISTINCT(x) FROM t") == (
        "SELECT COUNT(DISTINCT x) FROM t"
    )
    out = dialect.expand_macros("SELECT GREATEST(ARRAY_AGG(x)) FROM t")
    # ARRAY_AGG expands to the null-preserving struct-wrapped form
    assert out.startswith("SELECT array_max(transform(array_agg(")
    # multi-arg GREATEST is Spark's own
    assert dialect.expand_macros("SELECT GREATEST(a, b) FROM t") == (
        "SELECT GREATEST(a, b) FROM t"
    )


def test_any_all_quantified_comparisons():
    out = dialect.rewrite_any_all("SELECT * FROM t WHERE 'x' = ANY(arr)")
    assert "exists(arr, __v -> 'x' = __v)" in out
    out = dialect.rewrite_any_all("SELECT * FROM t WHERE 'x' != ALL(arr)")
    assert "forall(arr, __v -> 'x' != __v)" in out
    # ANSI quantified subquery left for Spark
    sql = "SELECT * FROM t WHERE x = ANY(SELECT id FROM u)"
    assert dialect.rewrite_any_all(sql) == sql


def test_byte_literals_and_numeric_underscores():
    assert dialect.strip_byte_literals("WHERE name = b'Earth'") == "WHERE name = 'Earth'"
    assert dialect.normalize_numeric_underscores("WHERE a > 1_00 AND b > 10.0_0") == (
        "WHERE a > 100 AND b > 10.00"
    )
    # underscores inside string literals survive
    assert dialect.normalize_numeric_underscores("WHERE s = '1_00'") == "WHERE s = '1_00'"


def test_cast_type_mapping():
    out = dialect.map_cast_types("CAST(CAST(id AS VARCHAR) AS INTEGER)")
    assert out == "CAST(CAST(id AS STRING) AS BIGINT)"
    assert dialect.map_cast_types("CAST(x AS BLOB)") == "CAST(x AS BINARY)"


def test_extract_dialect_fields():
    out = dialect.rewrite_extract("SELECT EXTRACT(DAYOFYEAR FROM d)")
    assert out == "SELECT EXTRACT(DOY FROM d)"
    out = dialect.rewrite_extract("SELECT EXTRACT(YEAR FROM '2022-02-02')")
    assert "CAST('2022-02-02' AS TIMESTAMP)" in out
    out = dialect.rewrite_extract("SELECT EXTRACT(millisecond FROM NOW())")
    assert "date_format" in out and "SSS" in out


def test_unnest_cross_join_becomes_lateral_view():
    out = dialect.rewrite_unnest("SELECT * FROM t CROSS JOIN UNNEST(m) AS mission WHERE x")
    assert "CROSS JOIN LATERAL (SELECT explode(m) AS mission)" in out and out.rstrip().endswith("WHERE x")


def test_unnest_tuple_relation():
    out = dialect.rewrite_unnest("SELECT * FROM UNNEST(('a', 'b')) AS el")
    assert out == "SELECT * FROM (SELECT explode(array('a', 'b')) AS el) AS el"


def test_table_hints_stripped():
    out = dialect.strip_table_hints("FROM $satellites WITH (NO_CACHE) INNER JOIN x")
    assert out == "FROM $satellites INNER JOIN x"


def test_virtual_alias_resolution_and_output_name():
    out = dialect.resolve_virtual_aliases("SELECT planet_id FROM $satellites")
    assert out == "SELECT planetId AS planet_id FROM $satellites"
    out = dialect.resolve_virtual_aliases("SELECT name FROM $satellites WHERE planet_id = 4")
    assert "WHERE planetId = 4" in out
    # no virtual table → untouched
    sql = "SELECT planet_id FROM other_table"
    assert dialect.resolve_virtual_aliases(sql) == sql


def test_generate_series_alias_names_column():
    out = R("SELECT * FROM generate_series(2,10,2) AS GS WHERE GS > 5")
    assert "AS GS) GS WHERE GS > 5" in out


def test_generate_series_fractional_step():
    out = R("SELECT * FROM generate_series(0.5, 10, 0.5) AS GS")
    assert "transform(sequence(0, CAST(FLOOR(((10)-(0.5))/(0.5)) AS BIGINT))" in out
    assert "__i -> (0.5) + __i*(0.5)" in out


def test_generate_series_month_interval():
    out = R("SELECT * FROM generate_series('2022-01-01', '2022-12-31', '1mo') AS GS")
    assert "INTERVAL 1 MONTH" in out


def test_arrow_inside_function_call():
    out = rewriter.rewrite_operators("IFNULL(details->'name', '')")
    assert out == "IFNULL(get_json_object(details, '$.name'), '')"


def test_extract_literal_not_a_path_table():
    res = rewriter.rewrite("SELECT EXTRACT(YEAR FROM '2022-02-02')")
    assert res.path_tables == {}


def test_path_tables_still_work():
    res = rewriter.rewrite("SELECT * FROM 'data/file.parquet'")
    assert list(res.path_tables.values()) == ["data/file.parquet"]


def test_datediff_unit_form():
    out = dialect.expand_macros("SELECT DATEDIFF('year', a, b)")
    assert out == "SELECT timestampdiff(YEAR, CAST(a AS TIMESTAMP), CAST(b AS TIMESTAMP))"
    # two-arg Spark form untouched
    assert dialect.expand_macros("SELECT DATEDIFF(a, b)") == "SELECT DATEDIFF(a, b)"


def test_time_bucket_year():
    out = dialect.expand_macros("SELECT time_bucket(d, 10, 'year')")
    assert "FLOOR(YEAR(d)/(10))*(10)" in out


def test_bitwise_filter_coercion():
    out = dialect.rewrite_bitwise_filters("SELECT name FROM t WHERE 12 | 22")
    assert out == "SELECT name FROM t WHERE (12 | 22) != 0"


def test_cast_types_do_not_touch_literal_contents():
    out = dialect.map_cast_types("SELECT CAST('keep AS INTEGER intact' AS VARCHAR)")
    assert "'keep AS INTEGER intact'" in out and "AS STRING)" in out
    out = dialect.map_cast_types("SELECT CAST('a\\'b AS INTEGER' AS VARCHAR)")
    assert out == "SELECT CAST('a\\'b AS INTEGER' AS STRING)"
    out = dialect.map_cast_types("SELECT CAST(\"o'k AS INTEGER\" AS VARCHAR)")
    assert out == "SELECT CAST(\"o'k AS INTEGER\" AS STRING)"


def test_alias_named_varchar_is_not_a_cast():
    out = dialect.map_cast_types("SELECT 'x' AS VARCHAR FROM t")
    assert out == "SELECT 'x' AS VARCHAR FROM t"


def test_case_insensitive_regex_ops_fold_into_pattern():
    out = dialect.rewrite_misc_operators("SELECT * FROM t WHERE name ~* '^SMITH'")
    assert "name RLIKE '(?i)^SMITH'" in out
    out = dialect.rewrite_misc_operators("SELECT * FROM t WHERE name !~* '^SMITH'")
    assert "name NOT RLIKE '(?i)^SMITH'" in out


def test_case_insensitive_regex_op_inside_literal_untouched():
    # ADVICE r3: a string literal containing "~* '" must not be corrupted
    sql = "SELECT 'a ~* ''b''' FROM t"
    assert dialect.rewrite_misc_operators(sql) == sql
    # operator outside a literal still rewrites, literal-adjacent
    out = dialect.rewrite_misc_operators(
        "SELECT 'keep ~* this' AS k FROM t WHERE name ~* '^x'"
    )
    assert "'keep ~* this'" in out and "name RLIKE '(?i)^x'" in out


def test_array_literal_after_keyword_or_whitespace():
    assert dialect.rewrite_array_literals("SELECT [1,2,3]") == "SELECT array(1,2,3)"
    assert dialect.rewrite_array_literals("WHERE x IN [1,2]") == "WHERE x IN array(1,2)"
    assert dialect.rewrite_array_literals("SELECT name[0]") == "SELECT name[0]"


def test_array_subscript_survives_whitespace():
    # ADVICE r3: the reference's sqlparser accepts space before a subscript
    assert dialect.rewrite_array_literals("SELECT arr [0] FROM t") == "SELECT arr [0] FROM t"
    assert dialect.rewrite_array_literals("SELECT arr [0] [1] FROM t") == "SELECT arr [0] [1] FROM t"
    # ...but keywords still introduce literals even without a comma
    assert dialect.rewrite_array_literals("WHERE x IN [1,2] AND [3] = y") == (
        "WHERE x IN array(1,2) AND array(3) = y"
    )
    assert dialect.rewrite_array_literals("SELECT a, [1,2] FROM t") == "SELECT a, array(1,2) FROM t"


def test_array_agg_orders_by_key_not_value():
    out = dialect.rewrite_array_agg_modifiers(
        "SELECT ARRAY_AGG(name ORDER BY id DESC LIMIT 3) FROM t"
    )
    assert "struct((id) AS __k, (name) AS __e)" in out
    assert out.startswith("SELECT slice(transform(reverse(array_sort(")
