"""Presto-dialect SQL through Engine.sql — the function-compat layer
(presto_db_spark/functions/presto.py; reference registration point
``pm/metadata/BuiltInFunctionNamespaceManager.java:433-700``)."""

from __future__ import annotations

import collections
import math
import re

import pytest

from presto_db_spark.engine import Engine
from presto_db_spark.functions import geosql, presto, scalars2
from presto_db_spark.functions.presto import mysql_to_java_pattern


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, sf_dir=sf_dir)


def test_each_sql_function_is_created_once():
    """Registration runs the statement lists in order, so a second CREATE
    of a name silently replaces the first; each name must appear once."""
    create = re.compile(r"CREATE\s+(?:OR\s+REPLACE\s+)?TEMPORARY\s+FUNCTION\s+(\w+)", re.I)
    stmts = [*presto._SQL_FUNCTIONS, *scalars2.SQL_FUNCTIONS_2, *geosql._GEO_FUNCTIONS]
    names = [create.match(s.strip()).group(1).lower() for s in stmts]
    assert [n for n, c in collections.Counter(names).items() if c > 1] == []


def test_strpos_one_based(engine):
    r = engine.sql("SELECT strpos('hello', 'l') a, strpos('hello', 'z') b").collect()[0]
    assert (r.a, r.b) == (3, 0)


def test_to_unixtime_double(engine):
    r = engine.sql(
        "SELECT to_unixtime(TIMESTAMP '2020-01-01 00:00:00.5') t"
    ).collect()[0]
    assert abs(r.t - 1577836800.5) < 1e-6


def test_from_unixtime_roundtrip(engine):
    r = engine.sql(
        "SELECT presto_from_unixtime(to_unixtime(TIMESTAMP '2021-06-01 12:34:56')) t"
    ).collect()[0]
    assert str(r.t) == "2021-06-01 12:34:56"


def test_url_functions(engine):
    r = engine.sql(
        "SELECT url_extract_host('https://a.example.com/p/q?x=1') h, "
        "url_extract_path('https://a.example.com/p/q?x=1') p, "
        "url_extract_query('https://a.example.com/p/q?x=1') q"
    ).collect()[0]
    assert (r.h, r.p, r.q) == ("a.example.com", "/p/q", "x=1")


def test_json_extract_scalar(engine):
    r = engine.sql(
        """SELECT json_extract_scalar('{"a": {"b": 7}}', '$.a.b') v,
                  json_array_get('[10, 20, 30]', 1) e"""
    ).collect()[0]
    assert (r.v, r.e) == ("7", "20")


def test_math_compat(engine):
    r = engine.sql(
        "SELECT is_finite(1.0) a, is_infinite(infinity()) b, "
        "presto_truncate(-2.7) c, normal_cdf(0.0, 1.0, 0.0) d"
    ).collect()[0]
    assert (r.a, r.b, r.c) == (True, True, -2.0)
    assert abs(r.d - 0.5) < 1e-12


def test_word_stem_and_hamming(engine):
    r = engine.sql(
        "SELECT word_stem('running') s, hamming_distance('abcde', 'abcdf') h"
    ).collect()[0]
    assert (r.s, r.h) == ("runn", 1)


def test_cosine_similarity_dense(engine):
    r = engine.sql(
        "SELECT cosine_similarity_dense(array(1.0d, 0.0d), array(0.0d, 1.0d)) o, "
        "cosine_similarity_dense(array(1.0d, 2.0d), array(2.0d, 4.0d)) s"
    ).collect()[0]
    assert abs(r.o - 0.0) < 1e-12 and abs(r.s - 1.0) < 1e-12


def test_mysql_pattern_translation():
    assert mysql_to_java_pattern("%Y-%m-%d") == "yyyy-MM-dd"
    assert mysql_to_java_pattern("%H:%i:%s") == "HH:mm:ss"
    assert mysql_to_java_pattern("%Y年%m月") == "yyyy'年'MM'月'"


def test_date_parse_udf(engine):
    r = engine.sql(
        "SELECT date_parse('2019-07-04 11:22:33', '%Y-%m-%d %H:%i:%s') t, "
        "date_format_mysql(TIMESTAMP '2019-07-04 11:22:33', '%d/%m/%Y') f"
    ).collect()[0]
    assert str(r.t) == "2019-07-04 11:22:33"
    assert r.f == "04/07/2019"


def test_presto_sql_over_tables(engine):
    # Presto `arbitrary` == Spark `any_value` (aggregate names translate in
    # query text; scalar temp functions cannot wrap aggregates).
    rows = engine.sql(
        """
        SELECT c_mktsegment,
               count_if(c_acctbal > 0) AS n_pos,
               any_value(c_mktsegment) AS seg_again
        FROM customer GROUP BY c_mktsegment
        """
    ).collect()
    assert all(r.c_mktsegment == r.seg_again for r in rows)
    assert math.fsum(r.n_pos for r in rows) > 0


# --- round-3 dialect widening (VERDICT r2 item 5) --------------------------

def test_dialect_approx_distinct_rename(engine):
    r = engine.sql(
        "SELECT approx_distinct(c_mktsegment) d FROM customer"
    ).collect()[0]
    assert r.d == 5  # 5 market segments, exact at this cardinality


def test_dialect_regexp_extract_all_full_match(engine):
    # Presto 2-arg form returns FULL matches; Spark's 2-arg default is group 1.
    r = engine.sql(
        "SELECT regexp_extract_all('a1b2c3', '[a-z][0-9]') xs, "
        "       regexp_extract_all('a1b2', '([a-z])([0-9])', 2) g2, "
        "       regexp_extract('x42y', '[0-9]+') m"
    ).collect()[0]
    assert r.xs == ["a1", "b2", "c3"] and r.g2 == ["1", "2"] and r.m == "42"


def test_dialect_never_rewrites_inside_literals(engine):
    r = engine.sql(
        "SELECT 'approx_distinct(x)' s, length('regexp_extract_all(a, b)') n"
    ).collect()[0]
    assert r.s == "approx_distinct(x)" and r.n == 24


def test_dialect_try_single_op_shapes(engine):
    """TRY(expr) rewrites automatically for the single-operation shapes
    (CAST / one top-level arithmetic op / element_at) and still raises
    guidance for compound expressions."""
    r = engine.sql(
        "SELECT TRY(1 / 0) a, TRY(CAST('xx' AS INTEGER)) b, "
        "TRY(9223372036854775807 + 1) c, TRY(CAST('7' AS INTEGER)) d, "
        "TRY(element_at(MAP(ARRAY['k'], ARRAY[1]), 'missing')) e, "
        "TRY(-1 / 0) f"
    ).collect()[0]
    assert (r.a, r.b, r.c, r.d, r.e, r.f) == (None, None, None, 7, None, None)
    with pytest.raises(ValueError, match="try_"):
        engine.sql("SELECT TRY(a + b + c) FROM nation")
    # the operation-specific forms remain available directly:
    r2 = engine.sql(
        "SELECT try_divide(1, 0) a, try_cast('xx' AS INT) b, "
        "try_add(9223372036854775807, 1) c"
    ).collect()[0]
    assert (r2.a, r2.b, r2.c) == (None, None, None)


def test_json_extract_format_size(engine):
    r = engine.sql(
        """SELECT json_extract('{"a": {"b": [1, 2]}}', '$.a') j,
                  json_format('{"a":  1, "b": [1, 2]}') f,
                  json_size('{"a": {"k1": 1, "k2": 2}}', '$.a') s_obj,
                  json_size('{"a": [1, 2, 3]}', '$.a') s_arr,
                  json_size('{"a": 7}', '$.a') s_scalar,
                  json_size('{"a": 7}', '$.missing') s_miss"""
    ).collect()[0]
    assert r.j == '{"b":[1,2]}'
    assert r.f == '{"a":1,"b":[1,2]}'
    assert (r.s_obj, r.s_arr, r.s_scalar, r.s_miss) == (2, 3, 0, None)


def test_json_extract_returns_json_text(engine):
    # Reference json_extract (JsonFunctions.java ObjectExtractor) returns
    # JSON *text*: string scalars stay quoted, JSON null is the text
    # 'null'; only json_extract_scalar unquotes. Missing path → SQL NULL.
    r = engine.sql(
        """SELECT json_extract('{"s": "b"}', '$.s') qs,
                  json_extract_scalar('{"s": "b"}', '$.s') us,
                  json_extract('{"n": null}', '$.n') jn,
                  json_extract('{"n": null}', '$.missing') miss,
                  json_format(json_extract('{"a": {"z": 1, "b": 2}}', '$.a')) comp,
                  json_array_get('["x", "y", "z"]', 1) ag,
                  json_array_get('["x", "y", "z"]', -1) neg"""
    ).collect()[0]
    assert (r.qs, r.us) == ('"b"', "b")
    assert r.jn == "null" and r.miss is None
    assert r.comp == '{"b":2,"z":1}'
    # json_array_get returns JSON text, negative = from the end
    assert (r.ag, r.neg) == ('"y"', '"z"')


def test_url_extract_parameter_and_encode(engine):
    r = engine.sql(
        "SELECT url_extract_parameter('http://h/p?k1=v1&k2=v2', 'k2') p, "
        "       url_extract_fragment('http://h/p#frag') g, "
        "       url_encode('a b&c') e, url_decode('a+b%26c') d"
    ).collect()[0]
    assert (r.p, r.g, r.e, r.d) == ("v2", "frag", "a+b%26c", "a b&c")


def test_parse_datetime_joda(engine):
    r = engine.sql(
        "SELECT parse_datetime('2019-07-04 11:22:33', 'yyyy-MM-dd HH:mm:ss') a, "
        "       parse_datetime('04/Jul/2019', 'dd/MMM/yyyy') b, "
        "       parse_datetime('2019-07-04T11:22:33', \"yyyy-MM-dd'T'HH:mm:ss\") c"
    ).collect()[0]
    assert str(r.a) == "2019-07-04 11:22:33"
    assert str(r.b) == "2019-07-04 00:00:00"
    assert str(r.c) == "2019-07-04 11:22:33"


def test_approx_percentile_native_name(engine):
    r = engine.sql(
        "SELECT approx_percentile(l_quantity, 0.5) m FROM lineitem"
    ).collect()[0]
    assert 1 <= r.m <= 50


def test_dialect_double_quoted_identifiers(engine):
    # Presto quotes identifiers with double quotes (reference SQL style:
    # "dt"."d_year"); Spark reads those as string literals. The rewriter
    # converts identifier-shaped quoted tokens only.
    rows = engine.sql(
        """
        SELECT "c"."c_mktsegment" AS seg, count(*) AS n
        FROM customer "c"
        WHERE "c"."c_acctbal" > 0
        GROUP BY "c"."c_mktsegment"
        ORDER BY "seg"
        """
    ).collect()
    assert len(rows) == 5 and all(r.n > 0 for r in rows)
    # non-identifier-shaped double-quoted strings stay string literals
    r = engine.sql("SELECT 'a' || \"-\" AS s").collect()[0]
    assert r.s == "a-"


def test_iso8601_and_week_fields(engine):
    r = engine.sql(
        "SELECT from_iso8601_timestamp('2026-08-13T01:02:03') a, "
        "       from_iso8601_date('2026-08-13') b, "
        "       to_iso8601(TIMESTAMP '2026-08-13 01:02:03') c, "
        "       day_of_week(TIMESTAMP '2026-08-13') dw, "   # Thursday
        "       day_of_year(TIMESTAMP '2026-02-01') dy, "
        "       year_of_week(TIMESTAMP '2021-01-01') yw"    # ISO: week of 2020
    ).collect()[0]
    assert str(r.a) == "2026-08-13 01:02:03"
    assert str(r.b) == "2026-08-13"
    assert r.c == "2026-08-13T01:02:03.000"
    assert (r.dw, r.dy, r.yw) == (4, 32, 2020)


def test_parse_duration(engine):
    r = engine.sql(
        "SELECT parse_duration('2.5m') a, parse_duration('500ms') b, "
        "       parse_duration('1.5h') c, parse_duration('3d') d, "
        "       parse_duration('42s') e"
    ).collect()[0]
    assert (r.a, r.b, r.c, r.d, r.e) == (150.0, 0.5, 5400.0, 259200.0, 42.0)
    # unknown / missing unit, exponents, or embedded digits raise
    # (reference: PrestoException via io.airlift.units.Duration — ns..d
    # only, strict full-string grammar), not silent NULL or a silent
    # prefix-parse ('1.5e2s' must NOT become 1.5 seconds)
    for bad in ("'2w'", "'42'", "'1.5e2s'", "'1x5s'", "'s5'"):
        with pytest.raises(Exception, match="invalid duration"):
            engine.sql(f"SELECT parse_duration({bad}) x").collect()
    # airlift allows whitespace between value and unit
    assert engine.sql("SELECT parse_duration('1.5 m') x").collect()[0].x == 90.0
    assert engine.sql("SELECT parse_duration(CAST(NULL AS STRING)) x").collect()[0].x is None


def test_string_binary_aliases(engine):
    r = engine.sql(
        "SELECT split_part('a|b|c', '|', 2) sp, "
        "       split_to_map('k1=v1,k2=v2', ',', '=')['k2'] sm, "
        "       codepoint('€') cp, "
        "       from_utf8(to_utf8('héllo')) rt, "
        "       bitwise_left_shift(5, 2) ls, "
        "       bitwise_arithmetic_shift_right(-8, 1) ars, "
        "       bitwise_logical_shift_right(-8, 1) lrs"
    ).collect()[0]
    assert (r.sp, r.sm, r.cp, r.rt) == ("b", "v2", 8364, "héllo")
    # logical shift is over the full 64-bit image (BIGINT operand)
    assert (r.ls, r.ars, r.lrs) == (20, -4, 9223372036854775804)


def test_json_classification(engine):
    r = engine.sql(
        """SELECT is_json_scalar('7') a, is_json_scalar('"txt"') b,
                  is_json_scalar('[1,2]') c, is_json_scalar('{"k":1}') d,
                  json_array_contains('["x","y"]', 'y') e,
                  json_array_contains('["x","y"]', 'z') f,
                  json_parse('{"b": 2,  "a":1}') g"""
    ).collect()[0]
    assert (r.a, r.b, r.c, r.d) == (True, True, False, False)
    assert (r.e, r.f) == (True, False)
    # json_parse canonicalizes with keys ORDERED — the reference's
    # SORTED_MAPPER contract (JsonUtil.java: "ordered by key is required
    # in Presto").
    assert r.g == '{"a":1,"b":2}'
    with pytest.raises(Exception, match="(?i)malformed|convert|json"):
        engine.sql("SELECT json_parse('not json') x").collect()


def test_strict_error_semantics(engine):
    # Presto ALWAYS fails on 1/0 and bad casts — and so does this engine by
    # default (Spark 4 ANSI mode), matching the reference; try_* keeps the
    # NULL-on-error contract (Presto TRY). strict_errors(False) opts into
    # legacy permissive NULLs.
    with pytest.raises(Exception, match="(?i)divide|division"):
        engine.sql("SELECT 1/0 AS x").collect()
    with pytest.raises(Exception, match="(?i)cast|overflow|invalid"):
        engine.sql("SELECT CAST('xx' AS INT) AS x").collect()
    r = engine.sql("SELECT try_divide(1, 0) a, try_cast('xx' AS INT) b").collect()[0]
    assert (r.a, r.b) == (None, None)
    engine.strict_errors(False)
    try:
        assert engine.sql("SELECT 1/0 AS x").collect()[0].x is None
    finally:
        engine.strict_errors(True)


def test_teradata_compat(engine):
    r = engine.sql(
        "SELECT index('hello', 'l') i, "
        "       char2hexint('AB') h, "
        "       to_char_td(TIMESTAMP '2026-08-13 14:05:09', 'YYYY-MM-DD HH24:MI:SS') c, "
        "       to_date_td('2026/08/13', 'YYYY/MM/DD') d, "
        "       to_timestamp_td('13.08.2026 14:05', 'DD.MM.YYYY HH24:MI') t"
    ).collect()[0]
    assert r.i == 3
    assert r.h == "00410042"  # UTF-16BE of 'AB'
    assert r.c == "2026-08-13 14:05:09"
    assert str(r.d) == "2026-08-13"
    assert str(r.t) == "2026-08-13 14:05:00"
    # Spark's native numeric to_char must stay resolvable (the Teradata
    # form is to_char_td precisely so it doesn't shadow the builtin)
    assert engine.sql("SELECT to_char(123.45, '999.99') x").collect()[0].x == "123.45"


def test_dialect_nested_call_arg_counting():
    from presto_db_spark.functions.dialect import rewrite_presto_sql as r

    # nested commas must not confuse the top-level arity count
    q = "SELECT regexp_extract_all(concat(a, regexp_extract(b, 'x', 1)), '[0-9]+')"
    assert r(q) == (
        "SELECT regexp_extract_all(concat(a, regexp_extract(b, 'x', 1)), '[0-9]+', 0)"
    )
    # already 3-arg forms are left alone
    q3 = "SELECT regexp_extract_all(s, p, 2)"
    assert r(q3) == q3


# --- round-4 dialect widening (VERDICT r3 items 1-2): verbatim spellings ----


def test_dialect_catalog_prefix_stripped():
    from presto_db_spark.functions.dialect import rewrite_presto_sql as r

    q = 'SELECT * FROM "tpch"."sf1"."lineitem" l WHERE l.x > 0'
    assert r(q) == "SELECT * FROM `lineitem` l WHERE l.x > 0"
    # unquoted three-part names too
    assert r("SELECT * FROM tpch.tiny.orders") == "SELECT * FROM orders"
    # a non-catalog alias keeps its struct-field access
    assert r("SELECT t.a.b FROM t") == "SELECT t.a.b FROM t"
    # two-part names are NOT stripped (schema-qualified, user-visible)
    assert r("SELECT * FROM tiny.orders") == "SELECT * FROM tiny.orders"


def test_dialect_array_row_constructors(engine):
    from presto_db_spark.functions.dialect import rewrite_presto_sql as r

    assert r("SELECT ARRAY[1, 2, 3]") == "SELECT ARRAY(1, 2, 3)"
    # Presto subscripts are 1-based → element_at (not Spark's 0-based [])
    assert r("SELECT a[1] FROM t") == "SELECT element_at(a, 1) FROM t"
    assert r("SELECT m['k'] FROM t") == "SELECT element_at(m, 'k') FROM t"
    row = engine.sql("SELECT ARRAY[1, 2][2] AS x, ROW('a', 1) AS s").collect()[0]
    assert row.x == 2
    assert tuple(row.s) == ("a", 1)


def test_dialect_at_time_zone(engine):
    from presto_db_spark.functions.dialect import rewrite_presto_sql as r

    assert (
        r("SELECT ts AT TIME ZONE 'America/New_York' FROM t")
        == "SELECT at_timezone(ts, 'America/New_York') FROM t"
    )
    row = engine.sql(
        "SELECT CAST(TIMESTAMP '2020-01-01 12:00:00' AT TIME ZONE "
        "'America/New_York' AS STRING) AS s"
    ).collect()[0]
    assert row.s == "2020-01-01 07:00:00"


def test_dialect_unnest_cross_join(engine):
    row = engine.sql(
        "SELECT t.w FROM (SELECT split('a b c', ' ') AS words) d "
        "CROSS JOIN UNNEST(d.words) AS t (w) ORDER BY t.w"
    ).collect()
    assert [r.w for r in row] == ["a", "b", "c"]


def test_dialect_unnest_with_ordinality(engine):
    rows = engine.sql(
        "SELECT t.w, t.i FROM (SELECT split('a b c', ' ') AS words) d "
        "CROSS JOIN UNNEST(d.words) WITH ORDINALITY AS t (w, i) ORDER BY t.i"
    ).collect()
    assert [(r.w, r.i) for r in rows] == [("a", 1), ("b", 2), ("c", 3)]


def test_dialect_unnest_multi_array_zip(engine):
    rows = engine.sql(
        "SELECT t.x, t.y FROM (SELECT array(1, 2, 3) AS a, array(10, 20) AS b) d "
        "CROSS JOIN UNNEST(d.a, d.b) AS t (x, y) ORDER BY t.x"
    ).collect()
    assert [(r.x, r.y) for r in rows] == [(1, 10), (2, 20), (3, None)]


def test_dialect_unnest_left_join_outer(engine):
    rows = engine.sql(
        "SELECT d.id, t.w FROM (SELECT 1 AS id, CAST(array() AS ARRAY<STRING>) "
        "AS words) d LEFT JOIN UNNEST(d.words) AS t (w) ON TRUE"
    ).collect()
    assert [(r.id, r.w) for r in rows] == [(1, None)]


def test_dialect_literal_format_date_parse_is_jvm():
    from presto_db_spark.functions.dialect import rewrite_presto_sql as r

    assert (
        r("SELECT date_parse(s, '%Y-%m-%d %H:%i:%s') FROM t")
        == "SELECT to_timestamp(s, 'yyyy-MM-dd HH:mm:ss') FROM t"
    )
    assert (
        r("SELECT parse_datetime(s, 'yyyy-MM-dd''T''HH:mm') FROM t")
        == "SELECT to_timestamp(s, 'yyyy-MM-dd''T''HH:mm') FROM t"
    )
    assert (
        r("SELECT date_format(ts, '%Y-%m') FROM t")
        == "SELECT date_format(ts, 'yyyy-MM') FROM t"
    )
    # non-literal format: left for the registered fallback UDF
    q = "SELECT date_parse(s, fmt) FROM t"
    assert r(q) == q
    # Java-pattern date_format literal (already Spark-compatible): untouched
    q2 = "SELECT date_format(ts, 'yyyy-MM') FROM t"
    assert r(q2) == q2


def test_dialect_literal_format_execution(engine):
    row = engine.sql(
        "SELECT CAST(date_parse('2026-08-13 14:05:09', '%Y-%m-%d %H:%i:%s') "
        "AS STRING) AS a, date_format(TIMESTAMP '2026-08-13 14:05:09', "
        "'%Y/%m/%d') AS b"
    ).collect()[0]
    assert row.a == "2026-08-13 14:05:09"
    assert row.b == "2026/08/13"


def test_joda_to_java_pattern_offsets():
    from presto_db_spark.functions.presto import joda_to_java_pattern as j

    assert j("yyyy-MM-dd'T'HH:mm:ssZZ") == "yyyy-MM-dd'T'HH:mm:ssXXX"
    assert j("yyyyMMdd Z") == "yyyyMMdd xx"
    # unknown alpha chars become quoted literals
    assert j("yyyyQ") == "yyyy'Q'"


def test_dialect_json_size_literal_path_jvm(engine):
    rows = engine.sql(
        "SELECT json_size('{\"a\": [1,2,3], \"b\": {\"x\": 1}}', '$.a') a, "
        "       json_size('{\"a\": [1,2,3], \"b\": {\"x\": 1}}', '$.b') b, "
        "       json_size('{\"a\": 7}', '$.a') c, "
        "       json_size('{\"a\": 7}', '$.missing') d"
    ).collect()[0]
    assert (rows.a, rows.b, rows.c, rows.d) == (3, 1, 0, None)


def test_function_surface_widening_r5(engine):
    """Round-5 SQL-surface additions (reference citations in
    functions/presto.py + dialect.py): levenshtein_distance,
    unit-literal date_add/date_diff, last_day_of_month, 2-arg bit_count,
    truncate, sparse-map cosine_similarity, zip, strrpos, format,
    nan/infinity/is_nan/is_finite/is_infinite."""
    r = engine.sql(
        "SELECT levenshtein_distance('kitten', 'sitting') AS lev, "
        "date_diff('day', DATE '2020-01-01', DATE '2020-02-01') AS dd, "
        "CAST(date_add('day', 5, DATE '2020-01-01') AS DATE) AS da, "
        "last_day_of_month(DATE '2020-02-10') AS ld, "
        "bit_count(9, 64) AS bc64, bit_count(-7, 8) AS bc8, "
        "truncate(8.91) AS tp, truncate(-8.91) AS tn, "
        "round(cosine_similarity(MAP(ARRAY['a','b'], ARRAY[1.0, 2.0]), "
        "      MAP(ARRAY['a'], ARRAY[2.0])), 4) AS cs, "
        "strrpos('ababa', 'a') AS rp, strrpos('hello', 'z') AS rp0, "
        "is_nan(nan()) AS nn, is_finite(infinity()) AS fin, "
        "is_infinite(infinity()) AS inf"
    ).collect()[0]
    import datetime
    assert r.lev == 3 and r.dd == 31
    assert r.da == datetime.date(2020, 1, 6)
    assert r.ld == datetime.date(2020, 2, 29)
    assert (r.bc64, r.bc8) == (2, 6)
    assert (float(r.tp), float(r.tn)) == (8.0, -8.0)
    assert r.cs == 0.4472
    assert (r.rp, r.rp0) == (5, 0)
    assert r.nn is True and r.fin is False and r.inf is True
    # zip → arrays_zip: positional struct access identical (element_at is
    # 1-based in both engines)
    z = engine.sql(
        "SELECT element_at(zip(ARRAY[1, 2], ARRAY['a', 'b']), 2) AS p"
    ).collect()[0].p
    assert tuple(z) == (2, "b")


def test_function_surface_widening_r5b(engine):
    """Second round-5 batch: ngrams, any/all/none_match, array_average/
    array_sum, array contains, week/day_of_month, millisecond,
    to_milliseconds, bare localtimestamp."""
    r = engine.sql(
        "SELECT ngrams(ARRAY['a','b','c'], 2) AS ng, "
        "ngrams(ARRAY['a','b'], 5) AS ngbig, "
        "any_match(ARRAY[1,2], x -> x > 1) AS am, "
        "all_match(ARRAY[1,2], x -> x > 0) AS alm, "
        "none_match(ARRAY[1,2], x -> x > 5) AS nm, "
        "array_average(ARRAY[1.0, 2.0, NULL]) AS avg_, "
        "array_sum(ARRAY[1, 2, NULL]) AS sum_, "
        "contains(ARRAY[1,2], 2) AS c, "
        "week(DATE '2020-03-05') AS wk, day_of_month(DATE '2020-03-05') AS dm, "
        "millisecond(TIMESTAMP '2020-01-01 00:00:00.123') AS ms, "
        "to_milliseconds(INTERVAL '2' DAY) AS tms, "
        "(localtimestamp IS NOT NULL) AS lt"
    ).collect()[0]
    assert [list(g) for g in r.ng] == [["a", "b"], ["b", "c"]]
    assert [list(g) for g in r.ngbig] == [["a", "b"]]
    assert (r.am, r.alm, r.nm) == (True, True, True)
    assert (r.avg_, r.sum_) == (1.5, 3.0)
    assert r.c is True and (r.wk, r.dm) == (10, 5)
    assert r.ms == 123 and r.tms == 172800000 and r.lt is True


def test_aggregate_surface_widening_r5(engine):
    """Round-5 aggregate spellings through Engine.sql (Presto aggregation
    names Spark lacks, expressed over collect_list — reference classes in
    functions/dialect.py): arbitrary, map_agg, multimap_agg, histogram,
    geometric_mean, bitwise_*_agg, checksum, entropy, reduce_agg,
    set_agg/set_union, 3-arg max_by/min_by."""
    r = engine.sql(
        "SELECT map_agg(t.k, t.v) AS m, multimap_agg(t.g, t.v) AS mm, "
        "histogram(t.g) AS h, round(geometric_mean(t.d), 4) AS gm, "
        "bitwise_and_agg(t.v) AS ba, bitwise_or_agg(t.v) AS bo, "
        "checksum(t.v) IS NOT NULL AS ck, "
        "reduce_agg(t.v, 0, (a, b) -> a + b, (a, b) -> a + b) AS ra, "
        "array_sort(set_agg(t.g)) AS sa, max_by(t.v, t.d, 2) AS m2, "
        "arbitrary(t.g2) AS arb "
        "FROM (VALUES (1, 10, 'a', 2.0, 'z'), (2, 12, 'b', 8.0, 'z'), "
        "(3, 14, 'a', 4.0, 'z')) t(k, v, g, d, g2)"
    ).collect()[0]
    assert r.m == {1: 10, 2: 12, 3: 14}
    assert sorted(r.mm["a"]) == [10, 14] and r.mm["b"] == [12]
    assert r.h == {"a": 2, "b": 1}
    assert float(r.gm) == 4.0
    assert (r.ba, r.bo) == (10 & 12 & 14, 10 | 12 | 14)
    assert r.ck is True and r.ra == 36
    assert r.sa == ["a", "b"] and r.m2 == [12, 14] and r.arb == "z"
    # entropy: log-2 entropy of count weights
    e = engine.sql(
        "SELECT round(entropy(t.c), 4) AS x FROM (VALUES (1), (1)) t(c)"
    ).collect()[0].x
    assert e == 1.0
    # checksum is order-independent and duplicate-sensitive
    r2 = engine.sql(
        "SELECT checksum(t.v) AS a FROM (VALUES (1), (2), (2)) t(v)"
    ).collect()[0].a
    r3 = engine.sql(
        "SELECT checksum(t.v) AS a FROM (VALUES (2), (2), (1)) t(v)"
    ).collect()[0].a
    r4 = engine.sql(
        "SELECT checksum(t.v) AS a FROM (VALUES (1), (2)) t(v)"
    ).collect()[0].a
    assert r2 == r3 and r2 != r4
