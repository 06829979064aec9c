"""``user_value_median_pandas`` is total over NULL: a user whose every
value is NULL gets a NULL median, counts all its rows, warns nothing, and
hash-matches the DuckDB ``median`` oracle."""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from e_commerce_etl_pipeline_spark.extensions.grouped_pandas import (
    _median_fn,
    user_value_median_pandas,
)
from tools.check_oracle import run_checks

VALUES = {1: [1.0, None, 3.0, 2.0], 2: [None, None, None], 3: [5.0]}


def test_all_null_group_median_is_null_without_warning():
    pdf = pd.DataFrame({"user_id": [2, 2, 2], "value": [np.nan] * 3})
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = _median_fn(pdf)
    assert out["n_events"].tolist() == [3]
    assert out["median_value"].tolist() == [None]


def test_all_null_user_matches_duckdb(spark, tmp_path):
    users = [u for u, vals in VALUES.items() for _ in vals]
    values = [v for vals in VALUES.values() for v in vals]
    pq.write_table(pa.table({"user_id": pa.array(users, pa.int64()),
                             "value": pa.array(values, pa.float64())}),
                   tmp_path / "events.parquet")
    sf_dir = str(tmp_path)

    rows = {r.user_id: r for r in user_value_median_pandas(spark, sf_dir).collect()}
    assert rows[2].n_events == 3 and rows[2].median_value is None
    assert rows[1].median_value == 2.0 and rows[1].n_events == 4
    assert run_checks(sf_dir, only=["user_value_median_pandas"], spark=spark,
                      out=lambda *_: None) == []
