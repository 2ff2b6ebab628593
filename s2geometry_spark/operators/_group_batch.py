"""Sorted-run group batching for per-geometry Python kernels.

`groupBy(key).applyInPandas(fn)` invokes the Python function once per
GROUP; at lake scale (millions of small geometries) the per-group
invocation overhead (~2-4 ms of pandas/Arrow machinery) dwarfs the
kernel work — measured on 100k 20-vertex polylines: 19-22 s per-group
vs 6.7-7.4 s batched (448 executor-CPU-seconds, mostly machinery).

The fix: hash-repartition by the group key, sort within partitions so
groups are contiguous runs, and mapInPandas a runner that slices MANY
groups per Python call, carrying the tail group across Arrow batch
boundaries so per-task memory stays O(batch + largest group).  Null keys
form one group, like groupBy's.

The emit callback receives a pandas DataFrame holding one or more
COMPLETE groups (contiguous by key) and returns the output frame for
all of them.  Results are row-identical to the per-group form whenever
the kernel orders each group's rows itself (every caller here sorts by
chain/vertex indices internally), because only the grouping
granularity changes — never the rows a kernel sees for a group.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame


def sorted_run_map(
    df: DataFrame,
    key_col: str,
    emit: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
    sort_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One shuffle (repartition by key), groups contiguous via
    sortWithinPartitions, thousands of groups per Python call."""

    def run(batches):
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            keys = pdf[key_col]
            last = keys.iloc[-1]
            # `== None/NaN` is all-False: match a null tail with isna()
            mask = keys.isna() if pd.isna(last) else keys == last
            carry = pdf[mask]
            head = pdf[~mask]
            if len(head):
                yield emit(head)
        if carry is not None and len(carry):
            yield emit(carry)

    return (
        df.repartition(key_col)
        .sortWithinPartitions(key_col, *sort_cols)
        .mapInPandas(run, schema)
    )


def group_bounds(keys) -> list[tuple[int, int]]:
    """[lo, hi) row ranges of each contiguous key run in `keys`
    (a numpy array); the slicing companion to sorted_run_map."""
    import numpy as np

    keys = np.asarray(keys)
    n = len(keys)
    if n == 0:
        return []
    null = pd.isna(keys)
    change = np.flatnonzero((keys[1:] != keys[:-1]) & ~(null[1:] & null[:-1])) + 1
    bounds = np.concatenate([[0], change, [n]])
    return [(int(bounds[i]), int(bounds[i + 1])) for i in range(len(bounds) - 1)]
