"""Property-based checks (hypothesis) for the coercion kernel: each
Spark column builder is compared against a straight-Python model of the
reference's helper on generated inputs, run through Spark in one batch
per example set to keep the suite fast."""

from __future__ import annotations

import datetime
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from e_commerce_etl_pipeline_spark.functions.coercions import (
    MS_THRESHOLD_TRANSFORM,
    epoch_to_ts,
    null_scrub,
    safe_bool,
    safe_int,
    safe_string,
)

SETTINGS = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _run(spark, values, col_builder, in_type):
    df = spark.createDataFrame([(v,) for v in values], f"x {in_type}")
    return [r.y for r in df.select(col_builder("x").alias("y")).collect()]


# --- safe_int: int(float(str(v))) with null on failure -------------------
#
# The float() step is Spark's try_cast(string as double), which delegates
# to java.lang.Double.parseDouble — NOT Python float(). Hypothesis caught
# the divergences (r12, input '0\x1f'): Java trims ALL chars <= U+0020 at
# both ends (Python strips only Unicode whitespace), accepts an f/F/d/D
# suffix and hex floats ('1f' -> 1.0, '0x1p1' -> 2.0), and accepts ONLY
# ASCII digits (Python float() takes Unicode digits and '1_0'). Spark's
# special literals (inf/nan, any case) all become NULL at the long cast,
# so the model can ignore them. The long step truncates toward zero and
# nulls outside the long range (try_cast semantics).

_JAVA_DEC = re.compile(
    r"[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?[fFdD]?", re.ASCII
)
_JAVA_HEX = re.compile(
    r"[+-]?0[xX]([0-9a-fA-F]+\.?[0-9a-fA-F]*|\.[0-9a-fA-F]+)"
    r"[pP][+-]?[0-9]+[fFdD]?",
    re.ASCII,
)


def _java_trim(t):
    # String.trim(): drop leading/trailing chars <= U+0020
    i, j = 0, len(t)
    while i < j and t[i] <= "\x20":
        i += 1
    while j > i and t[j - 1] <= "\x20":
        j -= 1
    return t[i:j]


def model_safe_int(s):
    if s is None:
        return None
    t = _java_trim(str(s))
    if _JAVA_DEC.fullmatch(t):
        d = float(t.rstrip("fFdD"))
    elif _JAVA_HEX.fullmatch(t):
        d = float.fromhex(t.rstrip("fFdD"))
    else:
        return None
    i = int(d)  # double -> long truncates toward zero
    return i if -(2 ** 63) <= i <= 2 ** 63 - 1 else None


@SETTINGS
@given(st.lists(
    st.one_of(
        st.none(),
        st.integers(-10**17, 10**17).map(str),
        st.floats(-1e15, 1e15, allow_nan=False).map(str),
        st.text(max_size=8),
    ),
    min_size=1, max_size=30,
))
def test_safe_int_matches_model(spark, vals):
    got = _run(spark, vals, safe_int, "string")
    want = [model_safe_int(v) for v in vals]
    assert got == want


# --- safe_bool: literal sets, else NULL ----------------------------------

def model_safe_bool(s):
    if s is None:
        return None
    low = str(s).strip().lower()
    if low in ("true", "1", "yes", "on"):
        return True
    if low in ("false", "0", "no", "off"):
        return False
    return None


@SETTINGS
@given(st.lists(
    st.one_of(
        st.none(),
        st.sampled_from(["true", "FALSE", " Yes ", "on", "0", "1", "off",
                         "No", "2", "tru", "", "y"]),
        st.text(max_size=6),
    ),
    min_size=1, max_size=30,
))
def test_safe_bool_matches_model(spark, vals):
    got = _run(spark, vals, safe_bool, "string")
    want = [model_safe_bool(v) for v in vals]
    assert got == want


# --- epoch ms/s heuristic ------------------------------------------------

def model_epoch_to_ts(v, threshold=MS_THRESHOLD_TRANSFORM):
    # Spark's SecondsToTimestamp on DoubleType computes
    # (d * MICROS_PER_SECOND).toLong — double multiply, then truncation
    # toward zero (Scala .toLong), NOT rounding. Python fromtimestamp
    # rounds, so model the Spark semantics explicitly.
    if v is None:
        return None
    sec = v / 1000.0 if v > threshold else float(v)
    micros = int(sec * 1e6)
    return datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=micros)


@SETTINGS
@given(st.lists(
    st.one_of(
        st.none(),
        st.integers(0, 10**10),          # seconds territory (incl. boundary)
        st.integers(10**10 + 1, 10**13),  # ms territory
    ),
    min_size=1, max_size=30,
))
def test_epoch_heuristic_matches_model(spark, vals):
    got = _run(spark, vals, epoch_to_ts, "long")
    want = [model_epoch_to_ts(v) for v in vals]
    assert got == want


# --- null scrub ----------------------------------------------------------

def model_null_scrub(s):
    # the kernel trims before matching the null-literal set. Hypothesis
    # caught that Spark's trim() strips ONLY spaces (0x20) — unlike
    # Python str.strip(), which also removes \t\r\n — and DuckDB's trim()
    # agrees with Spark, so space-only is the cross-engine semantic.
    if s is None or s.strip(" ") in ("nan", "NaN", "N/A", "null", "None", "NULL", ""):
        return None
    return s


@SETTINGS
@given(st.lists(
    st.one_of(
        st.none(),
        st.sampled_from(["nan", "NaN", "N/A", "null", "None", "NULL", "",
                         "ok", " ", "0", "nAn"]),
        st.text(max_size=6),
    ),
    min_size=1, max_size=30,
))
def test_null_scrub_matches_model(spark, vals):
    got = _run(spark, vals, null_scrub, "string")
    want = [model_null_scrub(v) for v in vals]
    assert got == want


# --- safe_string truncation ---------------------------------------------

@SETTINGS
@given(st.lists(st.one_of(st.none(), st.text(max_size=30)),
                min_size=1, max_size=30))
def test_safe_string_truncates(spark, vals):
    got = _run(spark, vals, lambda c: safe_string(c, max_len=10), "string")
    want = [None if v is None else str(v)[:10] for v in vals]
    assert got == want
