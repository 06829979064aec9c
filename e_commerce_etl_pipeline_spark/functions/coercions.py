"""Null-safe coercion kernel (SQL-text builders, zero Python UDFs).

Re-expresses the reference's private scalar helpers as native Spark
expressions so every coercion stays inside whole-stage codegen. Parity map
(reference file:line -> builder here):

- ``_safe_string``      tiktok_shop_transformer.py:23-45        -> safe_string
- ``_safe_decimal``     tiktok_shop_transformer.py:379-390      -> safe_decimal
- ``_safe_int``         tiktok_shop_transformer.py:392-399      -> safe_int
- ``_safe_bool``        tiktok_shop_transformer.py:439-449      -> safe_bool
- bool NaN->False       misa_crm_transformer.py:184-195         -> safe_bool_default_false
- ``_unix_to_datetime`` shopee_orders_transformer.py:36-43      -> epoch_to_ts_zero_null
- ``_safe_timestamp_utc`` + ms/s heuristic
                        tiktok_shop_transformer.py:401-437      -> epoch_to_ts
- ISO8601 coerce        misa_crm_transformer.py:172-181         -> iso_to_ts
- UTC -> +07 tz-naive   tiktok_shop_staging_loader.py:224-253   -> to_vn_naive
- 'nan'/'N/A'/'' scrub  shopee_orders_loader.py:403-442         -> null_scrub
- '%'/',' strip         misa_crm_loader.py:920-925              -> clean_numeric_string
- json.dumps columns    tiktok_shop_transformer.py:152-156      -> json_stringify

Each coercion has one definition: a SQL template over its input, a
column name or SQL expression string (``"payment.sub_total"``,
``"a + b"``). Calling a builder returns ``F.expr(<text>)``, a Column;
``builder.sql(...)`` returns the text itself, for ``selectExpr`` lists
built without a round trip to the JVM. DataFrame calls and SQL text
build the same Catalyst plan, so both forms optimize identically.
"""

from __future__ import annotations

import functools
import inspect
from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# Epoch-unit heuristic thresholds. The reference uses >1e10 in the TikTok
# transformer (tiktok_shop_transformer.py:431) and >=1e12 in the loaders
# (tiktok_shop_staging_loader.py:244-253, shopee_orders_loader.py:120-129,
# misa_crm_loader.py:900-911). Both are preserved; call sites pick one.
MS_THRESHOLD_TRANSFORM = 1e10
MS_THRESHOLD_LOADER = 1e12

VN_TZ = "Asia/Ho_Chi_Minh"

_NULL_LITERALS = ("nan", "NaN", "N/A", "null", "None", "NULL", "")

_TRUE_LITERALS = ("true", "1", "yes", "on")
_FALSE_LITERALS = ("false", "0", "no", "off")


def _in_list(values: tuple[str, ...]) -> str:
    return ", ".join(f"'{v}'" for v in values)


def _double(v: float) -> str:
    """A DOUBLE literal: a bare ``1000.0`` in SQL is a DECIMAL."""
    return f"{float(v)!r}D"


def _sql_builder(template: Callable[..., str]) -> Callable[..., Column]:
    """The Column builder over ``template``, the coercion's one definition;
    ``builder.sql`` is the template itself."""

    @functools.wraps(template)
    def builder(c: str, *args, **kwargs) -> Column:
        return F.expr(template(c, *args, **kwargs))

    builder.__signature__ = inspect.signature(template).replace(return_annotation=Column)
    builder.sql = template
    return builder


@_sql_builder
def safe_string(c: str, max_len: int | None = None) -> str:
    """str(v) with optional truncation to ``max_len``; NULL stays NULL."""
    out = f"CAST(({c}) AS STRING)"
    return out if max_len is None else f"substring({out}, 1, {int(max_len)})"


def _blank_to_null_cast(s: str, type_name: str) -> str:
    return f"TRY_CAST(CASE WHEN {s} = '' THEN NULL ELSE {s} END AS {type_name})"


@_sql_builder
def safe_decimal(c: str, precision: int = 18, scale: int = 4) -> str:
    """Parse to decimal; ''/garbage -> NULL (try_cast semantics)."""
    return _blank_to_null_cast(f"trim(CAST(({c}) AS STRING))",
                               f"DECIMAL({int(precision)},{int(scale)})")


@_sql_builder
def safe_float(c: str) -> str:
    return _blank_to_null_cast(f"trim(CAST(({c}) AS STRING))", "DOUBLE")


@_sql_builder
def safe_int(c: str) -> str:
    """int(float(str(v))): '3.0' -> 3, 'x' -> NULL, NULL -> NULL."""
    return f"TRY_CAST({safe_float.sql(c)} AS BIGINT)"


@_sql_builder
def safe_bool(c: str) -> str:
    """true in {true,1,yes,on}; false in {false,0,no,off}; else NULL.

    Case-insensitive, like the reference's ``str(v).lower()``.
    """
    s = f"lower(trim(CAST(({c}) AS STRING)))"
    return (
        f"CASE WHEN ({c}) IS NULL THEN CAST(NULL AS BOOLEAN)"
        f" WHEN {s} IN ({_in_list(_TRUE_LITERALS)}) THEN true"
        f" WHEN {s} IN ({_in_list(_FALSE_LITERALS)}) THEN false"
        " ELSE CAST(NULL AS BOOLEAN) END"
    )


@_sql_builder
def safe_bool_default_false(c: str) -> str:
    """MISA rule: NaN/NULL -> False (misa_crm_transformer.py:192-195)."""
    return f"coalesce({safe_bool.sql(c)}, false)"


def _epoch_double(c: str) -> str:
    return f"TRY_CAST(CAST(({c}) AS STRING) AS DOUBLE)"


def _epoch_seconds(d: str, ms_threshold: float) -> str:
    return (f"CASE WHEN {d} > {_double(ms_threshold)} THEN {d} / {_double(1000)}"
            f" ELSE {d} END")


@_sql_builder
def epoch_to_ts(c: str, ms_threshold: float = MS_THRESHOLD_TRANSFORM) -> str:
    """Epoch seconds-or-milliseconds -> UTC timestamp; unparseable -> NULL.

    Values above ``ms_threshold`` are treated as milliseconds (reference
    heuristic, tiktok_shop_transformer.py:418-437).
    """
    return f"timestamp_seconds({_epoch_seconds(_epoch_double(c), ms_threshold)})"


@_sql_builder
def epoch_to_ts_zero_null(c: str, ms_threshold: float = MS_THRESHOLD_TRANSFORM) -> str:
    """Shopee rule: epoch 0 or NULL -> NULL (shopee_orders_transformer.py:36-43)."""
    d = _epoch_double(c)
    return (f"CASE WHEN ({d} IS NULL) OR ({d} = 0) THEN CAST(NULL AS TIMESTAMP)"
            f" ELSE timestamp_seconds({_epoch_seconds(d, ms_threshold)}) END")


@_sql_builder
def iso_to_ts(c: str) -> str:
    """ISO-8601 (tz-aware or naive) -> UTC timestamp; coerce errors to NULL.

    Matches ``pd.to_datetime(utc=True, errors='coerce')``
    (misa_crm_transformer.py:172-181). Session timezone must be UTC (we set
    it in session.py) so offset-less strings are read as UTC.
    """
    return f"TRY_CAST(CAST(({c}) AS STRING) AS TIMESTAMP)"


@_sql_builder
def to_vn_naive(c: str) -> str:
    """UTC timestamp -> Asia/Ho_Chi_Minh wall-clock, tz-naive (egress only).

    The warehouse convention: compute in UTC, store +07-naive
    (tiktok_shop_staging_loader.py:196-253, docs/TAI_LIEU_BAN_GIAO_ETL.txt).
    """
    return f"CAST(from_utc_timestamp(({c}), '{VN_TZ}') AS TIMESTAMP_NTZ)"


@_sql_builder
def null_scrub(c: str) -> str:
    """Map literal 'nan'/'N/A'/'null'/'None'/'' (trimmed) -> NULL.

    Reference: shopee_orders_loader.py:403-442, misa_crm_loader.py:956-958.
    """
    s = f"CAST(({c}) AS STRING)"
    return (f"CASE WHEN trim({s}) IN ({_in_list(_NULL_LITERALS)})"
            f" THEN CAST(NULL AS STRING) ELSE {s} END")


@_sql_builder
def clean_numeric_string(c: str, precision: int = 18, scale: int = 4) -> str:
    """Strip '%' and thousands ',' then numeric cast (misa_crm_loader.py:920-925)."""
    return _blank_to_null_cast(
        f"trim(regexp_replace(CAST(({c}) AS STRING), '[%,]', ''))",
        f"DECIMAL({int(precision)},{int(scale)})")


@_sql_builder
def json_stringify(c: str) -> str:
    """Struct/array column -> JSON string (NULL-safe), parity with json.dumps
    columns like payment_info_json (tiktok_shop_transformer.py:152-156)."""
    return f"CASE WHEN ({c}) IS NULL THEN CAST(NULL AS STRING) ELSE to_json({c}) END"
