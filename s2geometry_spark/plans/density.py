"""Density rollup + salted, skew-aware cell-bucket shuffle.

The S2DensityTree analog (s2density_tree.h:45-115): a multi-level
spatial histogram over the point table drives (a) index-level selection
and (b) hot-cell detection for join salting.

Why salting: a semantically single join key (one hot city cell) cannot
be split by AQE when the build side must ship every row for that key to
every split.  We split it *explicitly*: the point side appends
``salt = pmod(xxhash64(row_key), n_salt(cell))`` to the join key; the
polygon/covering side replicates its rows n_salt times.  The join stays
an equi join, now over (cell, salt) — hot keys fan out over n_salt
reducers.  (Used for the non-broadcastable-covering path; the broadcast
path in operators/spatial_join.py needs no salting since the fact table
never shuffles.)
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import columns as CC
from ..kernel import cellid as K
from ..kernel.cid import CID


def density_rollup(points: DataFrame, levels: list[int]) -> DataFrame:
    """(level, cell_id_s, weight) for each requested level — the
    S2DensityTree cell→weight map as one explode + one shuffle
    (map-side partial agg)."""
    lvl_cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(l).alias("level"),
                    CC.parent("cell_id_s", l).alias("cell_id_s"),
                )
                for l in levels
            ]
        )
    ).alias("lc")
    return (
        points.select(lvl_cells)
        .select("lc.level", "lc.cell_id_s")
        .groupBy("level", "cell_id_s")
        .agg(F.count("*").alias("weight"))
    )


def pick_index_level(
    density: DataFrame, target_rows_per_cell: int
) -> int:
    """Choose the finest level whose p99 cell weight stays under the
    target — bounds per-task work like the reference's ≤10-edges-per-cell
    refinement rule (mutable_s2shape_index.cc:75)."""
    rows = (
        density.groupBy("level")
        .agg(F.expr("percentile_approx(weight, 0.99)").alias("p99"))
        .collect()
    )
    best = None
    for r in sorted(rows, key=lambda r: r.level):
        if r.p99 <= target_rows_per_cell:
            best = r.level
            break
    return best if best is not None else max(r.level for r in rows)


def hot_cells(
    density: DataFrame, level: int, rows_per_salt: int, max_salt: int = 64
) -> dict[int, int]:
    """cell_id_s → n_salt for cells whose weight exceeds one salt's
    budget.  Driver-side dict (hot cells are few by definition)."""
    rows = (
        density.filter(
            (F.col("level") == level) & (F.col("weight") > rows_per_salt)
        )
        .select("cell_id_s", "weight")
        .collect()
    )
    return {
        int(r.cell_id_s): int(min(max_salt, (r.weight + rows_per_salt - 1) // rows_per_salt))
        for r in rows
    }


def salted_candidate_join(
    points: DataFrame,
    coverings: DataFrame,
    salt_map: dict[int, int],
    point_key: str = "url",
) -> DataFrame:
    """Skew-defused candidate equi join for the non-broadcast path.

    points must carry cell_id_s (leaf); coverings (polygon_id, cell_id_s,
    is_interior).  Output matches the unsalted join row-for-row.
    """
    spark = points.sparkSession
    if salt_map:
        salt_df = spark.createDataFrame(
            list(salt_map.items()), "cell_id_s long, n_salt int"
        )
    else:
        salt_df = spark.createDataFrame([], "cell_id_s long, n_salt int")

    cells = [r.cell_id_s for r in coverings.select("cell_id_s").distinct().collect()]
    levels = np.unique(K.level(K.unbias(np.array(cells, dtype=np.int64)))).tolist()
    terms = points.withColumn(
        "_term", F.explode(CC.ancestors_array("cell_id_s", levels))
    )
    # point side: salt from the row key, 0 for cold cells
    terms = terms.join(
        F.broadcast(salt_df.withColumnRenamed("cell_id_s", "_term")),
        "_term",
        "left",
    ).withColumn(
        "_salt",
        F.when(
            F.col("n_salt").isNotNull(),
            F.pmod(F.xxhash64(F.col(point_key)), F.col("n_salt")).cast("int"),
        ).otherwise(F.lit(0)),
    ).drop("n_salt")

    # covering side: replicate hot rows n_salt times
    cov_salted = (
        coverings.join(F.broadcast(salt_df), "cell_id_s", "left")
        .withColumn("n_salt", F.coalesce(F.col("n_salt"), F.lit(1)))
        .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.col("n_salt") - 1)))
        .drop("n_salt")
        .withColumnRenamed("cell_id_s", "_cov_cell")
    )
    out = terms.join(
        cov_salted,
        (F.col("_term") == F.col("_cov_cell")) & (terms["_salt"] == cov_salted["_salt"]),
        "inner",
    )
    return out.drop("_term", "_salt", "_cov_cell")


def density_tree(
    points: DataFrame, levels: list[int], split_weight: int
) -> DataFrame:
    """Distributed S2DensityTree build (s2density_tree.cc
    BreadthFirstTreeBuilder re-expressed relationally): a cell at
    level L is in the tree iff every coarser listed ancestor's weight
    exceeds `split_weight` — the subdivision rule, with a weight
    threshold standing in for the reference's encoded-size budget
    (the budget is a single-machine memory knob; a weight floor is the
    scale-out equivalent and keeps the tree size bounded by
    total_weight/split_weight).

    One explode+groupBy computes all level weights (map-side partial
    agg); the prune is a cascade of equi joins between ADJACENT level
    aggregates — each join input is an aggregate, never the fact
    table, so the cascade is cheap at any scale.
    Returns (level, cell_id_s, weight) sorted by the caller."""
    levels = sorted(levels)
    roll = density_rollup(points, levels).cache()
    frontier = roll.filter(F.col("level") == levels[0])
    out = frontier
    for prev, cur in zip(levels, levels[1:]):
        parents = (
            frontier.filter(F.col("weight") > split_weight)
            .select(F.col("cell_id_s").alias("p_cell"))
        )
        frontier = (
            roll.filter(F.col("level") == cur)
            .join(
                F.broadcast(parents),
                CC.parent("cell_id_s", prev) == F.col("p_cell"),
            )
            .drop("p_cell")
        )
        out = out.unionByName(frontier)
    return out


def equal_weight_partitions(
    tree_rows: list, max_weight: int
) -> list[tuple[int, int, int]]:
    """S2DensityTree::GetPartitioning over a collected (level,
    cell_id_s, weight) tree: returns (shard_id, range_min_s,
    range_max_s) rows ready to broadcast-range-join against any
    cell-keyed fact table.  The tree is small by construction
    (≤ total_weight/split_weight cells), so this runs on the driver
    like the reference; the fact table itself never moves."""
    from ..kernel.density_tree import DensityTree

    weights = {}
    for row in tree_rows:
        cid = CID((int(row["cell_id_s"]) + (1 << 63)) % (1 << 64))
        weights[cid.id] = int(row["weight"])
    # enforce the ancestors-present invariant for face gaps
    tree = DensityTree(weights)
    out = []
    for shard_id, cover in enumerate(tree.get_partitioning(max_weight)):
        for cid in cover:
            out.append(
                (
                    shard_id,
                    int(cid.range_min().id) - (1 << 63),
                    int(cid.range_max().id) - (1 << 63),
                )
            )
    return out
