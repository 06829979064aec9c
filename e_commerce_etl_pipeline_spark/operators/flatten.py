"""Generic nested->relational flatten helpers shared by the per-source
transforms (SURVEY.md §2.3 T1/T6/T8)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def explode_outer_prefixed(
    df: DataFrame,
    array_col: str,
    parent_cols: Sequence[Column | str],
    item_prefix: str = "item_",
    item_fields: Sequence[str] | None = None,
) -> DataFrame:
    """One row per array element, parents repeated; empty/NULL array emits one
    row with NULL item fields (explode_outer == the reference's itemless-order
    branch, tiktok_shop_transformer.py:126-129, misa_crm_transformer.py:341-366).

    Also derives the reference's per-order array stats without a shuffle:
    ``total_items_in_order = size(coalesce(arr, []))`` and
    ``has_multiple_items`` (misa_crm_transformer.py:347-366).
    """
    arr = F.col(array_col)
    n = F.size(F.coalesce(arr, F.array()))
    base = df.select(
        *parent_cols,
        n.alias("total_items_in_order"),
        (n > 1).alias("has_multiple_items"),
        F.explode_outer(arr).alias("__item"),
    )
    if item_fields is None:
        item_type = [f for f in df.schema[array_col].dataType.elementType.fields]
        item_fields = [f.name for f in item_type]
    item_cols = [F.col(f"__item.{f}").alias(f"{item_prefix}{f}") for f in item_fields]
    keep = [c for c in base.columns if c != "__item"]
    return base.select(*keep, *item_cols)
