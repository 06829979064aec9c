"""Coercion kernel edge cases, mirroring the reference's helper semantics
(SURVEY.md §2.4; reference edge cases: 0->NULL, ''->NULL, >1e10->ms,
'yes'/'on'->True, NaN->False for MISA bools only)."""

import datetime

from e_commerce_etl_pipeline_spark.functions import (
    clean_numeric_string,
    epoch_to_ts,
    epoch_to_ts_zero_null,
    iso_to_ts,
    json_stringify,
    null_scrub,
    safe_bool,
    safe_bool_default_false,
    safe_decimal,
    safe_int,
    safe_string,
    to_vn_naive,
)


def one_col(spark, values, type_str):
    return spark.createDataFrame([(v,) for v in values], f"v {type_str}")


def test_safe_string_truncates(spark):
    df = one_col(spark, ["abcdef", None], "string")
    out = [r[0] for r in df.select(safe_string("v", 3)).collect()]
    assert out == ["abc", None]


def test_safe_decimal(spark):
    df = one_col(spark, ["12.3456", "", "x", None, "7"], "string")
    out = [r[0] for r in df.select(safe_decimal("v", 18, 4)).collect()]
    assert [str(v) if v is not None else None for v in out] == [
        "12.3456", None, None, None, "7.0000"]


def test_safe_int_via_float(spark):
    df = one_col(spark, ["3.0", "3.7", "", "x", None], "string")
    out = [r[0] for r in df.select(safe_int("v")).collect()]
    assert out == [3, 3, None, None, None]


def test_safe_bool_literals(spark):
    df = one_col(spark, ["true", "1", "YES", "on", "false", "0", "No", "off", "maybe", None], "string")
    out = [r[0] for r in df.select(safe_bool("v")).collect()]
    assert out == [True, True, True, True, False, False, False, False, None, None]


def test_safe_bool_default_false_misa_rule(spark):
    df = one_col(spark, ["true", None, "garbage"], "string")
    out = [r[0] for r in df.select(safe_bool_default_false("v")).collect()]
    assert out == [True, False, False]


def test_epoch_ms_heuristic(spark):
    # 1.7e9 s and the same instant in ms; threshold 1e10 separates them
    df = one_col(spark, [1700000000, 1700000000000], "long")
    out = [r[0] for r in df.select(epoch_to_ts("v")).collect()]
    assert out[0] == out[1] == datetime.datetime(2023, 11, 14, 22, 13, 20)


def test_epoch_zero_null_shopee_rule(spark):
    df = one_col(spark, [0, None, 1700000000], "long")
    out = [r[0] for r in df.select(epoch_to_ts_zero_null("v")).collect()]
    assert out[0] is None and out[1] is None and out[2] is not None


def test_iso_to_ts_coerce(spark):
    df = one_col(spark, ["2024-01-02T03:04:05+07:00", "2024-01-02 03:04:05", "junk", None], "string")
    out = [r[0] for r in df.select(iso_to_ts("v")).collect()]
    # +07 input is shifted to UTC (session tz = UTC)
    assert out[0] == datetime.datetime(2024, 1, 1, 20, 4, 5)
    assert out[1] == datetime.datetime(2024, 1, 2, 3, 4, 5)
    assert out[2] is None and out[3] is None


def test_to_vn_naive(spark):
    df = one_col(spark, [datetime.datetime(2024, 1, 1, 0, 0, 0)], "timestamp")
    out = df.select(to_vn_naive("v")).collect()[0][0]
    assert out == datetime.datetime(2024, 1, 1, 7, 0, 0)


def test_null_scrub(spark):
    df = one_col(spark, ["ok", "nan", "N/A", "null", "None", "", "  ", None], "string")
    out = [r[0] for r in df.select(null_scrub("v")).collect()]
    assert out == ["ok", None, None, None, None, None, None, None]


def test_clean_numeric_string(spark):
    df = one_col(spark, ["1,234.5", "12%", "x", None], "string")
    out = [r[0] for r in df.select(clean_numeric_string("v", 18, 2)).collect()]
    assert [str(v) if v is not None else None for v in out] == ["1234.50", "12.00", None, None]


def test_coercions_take_struct_field_paths(spark):
    df = spark.createDataFrame(
        [(("12.5", 1700000000000, "N/A", "yes", {"k": 1}),)],
        "s struct<m string, e long, t string, b string, j map<string,int>>")
    r = df.select(
        safe_decimal("s.m", 18, 2), epoch_to_ts("s.e"), null_scrub("s.t"),
        safe_bool("s.b"), safe_int("s.m"), json_stringify("s.j"),
    ).collect()[0]
    assert str(r[0]) == "12.50"
    assert r[1] == datetime.datetime(2023, 11, 14, 22, 13, 20)
    assert r[2] is None and r[3] is True and r[4] == 12
    assert r[5] == '{"k":1}'


def test_coercions_take_sql_expressions(spark):
    # the input is SQL text, not only a column name: an operator
    # expression is wrapped whole, so precedence stays the caller's
    df = one_col(spark, [1700000000, None], "long")
    out = df.select(
        epoch_to_ts("v * 1000"),
        safe_decimal("concat(v, '.25')", 18, 2),
        null_scrub("CASE WHEN v IS NULL THEN 'nan' ELSE 'x' END"),
        safe_int("v + 1"),
    ).collect()
    assert out[0][0] == datetime.datetime(2023, 11, 14, 22, 13, 20)
    assert str(out[0][1]) == "1700000000.25" and out[0][2] == "x"
    assert out[0][3] == 1700000001
    assert list(out[1]) == [None, None, None, None]
