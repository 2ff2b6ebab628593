"""Sorted-run group batching (operators/_group_batch.py): a group that
straddles an Arrow batch boundary must still reach the kernel as ONE
group — null keys included, which form a single group like groupBy's."""

import pandas as pd
import pytest

from s2geometry_spark.operators._group_batch import group_bounds, sorted_run_map


def test_group_bounds_keeps_null_run_together():
    assert group_bounds([None, None, "a", "a", "b"]) == [(0, 2), (2, 4), (4, 5)]
    assert group_bounds([float("nan")] * 3 + [1.0]) == [(0, 3), (3, 4)]


@pytest.mark.parametrize("key_type, key", [("string", "a"), ("long", 7)])
def test_null_key_group_spans_arrow_batches(spark, key_type, key):
    rows = [(None, i) for i in range(7)] + [(key, i) for i in range(5)]
    df = spark.createDataFrame(rows, f"k {key_type}, v int")

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf["k"].to_numpy()
        b = group_bounds(keys)
        return pd.DataFrame({
            "k_null": [bool(pd.isna(keys[lo])) for lo, _ in b],
            "n": [hi - lo for lo, hi in b],
        })

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "3")  # the 7-row null group spans three batches
    try:
        got = sorted_run_map(
            df, "k", emit, "k_null boolean, n long", sort_cols=("v",)
        ).collect()
    finally:
        spark.conf.set(conf, prev)
    assert sorted((r.k_null, r.n) for r in got) == [(False, 5), (True, 7)]
