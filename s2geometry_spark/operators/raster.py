"""Raster ↔ vector conversions on the S2 cell grid (north-rule item).

- rasterize (vector → raster): center-sampling rasterization — a cell at
  the target level is in the raster iff its center is inside the
  polygon.  The grid enumerates (face, i, j) with pure-JVM arithmetic;
  centers come from the trig-free tower st=(i+0.5)/2^level → st_to_uv →
  face_uv_to_xyz, so a DuckDB oracle recomputes them bit-for-bit.
- vectorize (raster → vector): the cell union's boundary polygon
  (kernel cellunion_to_polygon — normalize, boundary-edge extraction,
  staircase loop assembly).  Boundary edges can also be extracted
  distributively (cells whose neighbor is absent → left_anti join);
  loop assembly itself is driver-side on the (small) boundary.

The contract query runs the full round trip raster(vectorize(raster(P)))
and must equal raster(P) — the fixed-point property that makes the
conversion pair verifiable by the direct-rasterization SQL oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def cell_grid(spark: SparkSession, level: int, partitions: int = 32) -> DataFrame:
    """All 6·4^level cells at `level` as (face, i, j) rows — row ids
    decomposed with pure-JVM arithmetic (one `range`, no shuffle)."""
    n_side = 1 << level
    total = 6 * n_side * n_side
    base = spark.range(0, total, 1, partitions)
    return base.select(
        (F.col("id") / (n_side * n_side)).cast("int").alias("face"),
        ((F.col("id") / n_side) % n_side).cast("long").alias("i"),
        (F.col("id") % n_side).cast("long").alias("j"),
    )


def grid_centers(grid: DataFrame, level: int) -> DataFrame:
    """Cell centers as unit xyz via the trig-free coordinate tower."""

    @F.pandas_udf("cx double, cy double, cz double")
    def centers(face: pd.Series, i: pd.Series, j: pd.Series) -> pd.DataFrame:
        from ..kernel import coords as C

        n_side = float(1 << level)
        s = (i.to_numpy(np.float64) + 0.5) / n_side
        t = (j.to_numpy(np.float64) + 0.5) / n_side
        u = C.st_to_uv(s)
        v = C.st_to_uv(t)
        x, y, z = C.face_uv_to_xyz(face.to_numpy(np.int64), u, v)
        n = np.sqrt(x * x + y * y + z * z)
        return pd.DataFrame({"cx": x / n, "cy": y / n, "cz": z / n})

    return grid.withColumn("_c", centers("face", "i", "j")).select("*", "_c.*").drop("_c")


def rasterize_polygon(
    spark: SparkSession, polygon, level: int, partitions: int = 32
) -> DataFrame:
    """(face, i, j) cells whose centers lie inside the polygon."""
    grid = grid_centers(cell_grid(spark, level, partitions), level)

    @F.pandas_udf("boolean")
    def inside(cx: pd.Series, cy: pd.Series, cz: pd.Series) -> pd.Series:
        pts = np.stack(
            [cx.to_numpy(np.float64), cy.to_numpy(np.float64), cz.to_numpy(np.float64)],
            -1,
        )
        return pd.Series(polygon.contains(pts))

    return grid.filter(inside("cx", "cy", "cz")).select("face", "i", "j")


def _raster_cell_ids(raster: DataFrame, level: int) -> DataFrame:
    """(face, i, j) → biased cell ids at `level` (Arrow batch)."""

    @F.pandas_udf("long")
    def to_cell(face: pd.Series, i: pd.Series, j: pd.Series) -> pd.Series:
        from ..kernel import cellid as K
        from ..kernel.hilbert import from_face_ij

        shift = 30 - level
        leafs = from_face_ij(
            face.to_numpy(np.int64),
            i.to_numpy(np.int64) << shift,
            j.to_numpy(np.int64) << shift,
        )
        return pd.Series(K.bias(K.parent(leafs, level)))

    return raster.select(to_cell("face", "i", "j").alias("cell_id_s"))


def boundary_edges_df(raster: DataFrame, level: int) -> DataFrame:
    """Distributed boundary extraction: a cell edge is on the union
    boundary iff the edge-neighbor across it (face wraps included,
    s2cell_id.cc:499-512) is NOT in the raster.  One explode + one
    left_anti equi join — O(area) rows shuffle once, O(perimeter) rows
    survive.  Returns (cell_id_s, k) with k the CCW edge index
    (vertex k → k+1, s2cell.h:136-140)."""
    cells = _raster_cell_ids(raster, level)

    @F.pandas_udf("array<long>")
    def nbrs(cell_s: pd.Series) -> pd.Series:
        from ..kernel import cellid as K

        ids = K.unbias(cell_s.to_numpy(np.int64))
        nb = K.bias(K.edge_neighbors(ids).reshape(-1)).reshape(-1, 4)
        return pd.Series([r.tolist() for r in nb])

    edges = (
        cells.withColumn("_nb", nbrs("cell_id_s"))
        .select(
            "cell_id_s",
            F.posexplode("_nb").alias("k", "nbr_s"),
        )
    )
    return edges.join(
        cells.select(F.col("cell_id_s").alias("nbr_s")), "nbr_s", "left_anti"
    ).select("cell_id_s", "k")


def boundary_directed_edges_df(
    raster: DataFrame, level: int, seed_level: int
) -> DataFrame:
    """Boundary edges as directed vertex pairs in the sharded-assembly
    layout (arrangement.BOUNDARY_SCHEMA): vertices from the vectorized
    UV-corner tower (s2cell.h:136-140 CCW corners), shard = the cell's
    seed-level ancestor, walk-order key = (0, biased cell id, k) so the
    assembly is deterministic in Hilbert order."""
    from ..functions import columns as CC

    edges = boundary_edges_df(raster, level)

    @F.pandas_udf(
        "sax double, say double, saz double, sbx double, sby double, sbz double"
    )
    def verts(cell_s: pd.Series, k: pd.Series) -> pd.DataFrame:
        from ..kernel import cellid as K
        from ..kernel import coords as C

        ids = K.unbias(cell_s.to_numpy(np.int64))
        kk = k.to_numpy(np.int64)
        u_lo, u_hi, v_lo, v_hi = K.get_bound_uv(ids)
        face = K.face(ids)

        def corner(kv):
            kv = kv & 3
            j = (kv >> 1) & 1
            i = j ^ (kv & 1)
            u = np.where(i == 1, u_hi, u_lo)
            v = np.where(j == 1, v_hi, v_lo)
            x, y, z = C.face_uv_to_xyz(face, u, v)
            n = np.sqrt(x * x + y * y + z * z)
            return x / n, y / n, z / n

        ax, ay, az = corner(kk)
        bx, by, bz = corner(kk + 1)
        return pd.DataFrame(
            {"sax": ax, "say": ay, "saz": az, "sbx": bx, "sby": by, "sbz": bz}
        )

    out = edges.withColumn("_v", verts("cell_id_s", "k")).select(
        "_v.*",
        CC.parent("cell_id_s", seed_level).alias("seed_s"),
        F.lit(0).alias("k1"),
        F.col("cell_id_s").alias("k2"),
        F.col("k").cast("int").alias("k3"),
    )
    return out


def vectorize_cells(raster: DataFrame, level: int, seed_level: int | None = None):
    """raster (face, i, j) → boundary Polygon of the cell union.

    Scale shape (round-3 verdict item 7): the O(area) raster never
    reaches the driver — boundary edges are extracted distributively
    (boundary_edges_df: explode + left_anti join) — and loop assembly is
    SHARDED (operators/arrangement.assemble_boundary): each seed-level
    shard walks its own chains, so per-task work is bounded by the shard
    perimeter; the convenience Polygon return still collects every loop.
    Use vectorize_cells_df for the scale path where in-shard loops stay
    a DataFrame and only shard-crossing chains visit the driver — a
    coastline-fractal raster then costs O(shard crossings) driver
    memory, not O(total perimeter)."""
    from ..kernel.contains import Loop, Polygon
    from .arrangement import assemble_boundary

    if seed_level is None:
        seed_level = max(0, level - 6)
    bdf = boundary_directed_edges_df(raster, level, seed_level).persist()
    n_bnd = bdf.count()
    if n_bnd <= 200_000:
        # fixture-scale gate: one perimeter-sized collect + the kernel
        # walk beats the sharded pipeline's extra jobs below ~10⁵ edges
        from ..kernel.booleans import _assemble_loops

        pdf = bdf.toPandas().sort_values(["k1", "k2", "k3"])
        directed = list(
            zip(
                pdf[["sax", "say", "saz"]].to_numpy(np.float64),
                pdf[["sbx", "sby", "sbz"]].to_numpy(np.float64),
            )
        )
        bdf.unpersist()
        loops = _assemble_loops(directed) if directed else []
    else:
        loops = assemble_boundary(bdf)
        bdf.unpersist()
    return Polygon([Loop(v) for v in loops])


def vectorize_cells_df(
    raster: DataFrame, level: int, seed_level: int | None = None
):
    """Scale-path vectorize: returns (loops_df, stitched_loops) from
    arrangement.assemble_boundary_distributed — in-shard loops never
    leave the executors; the driver holds only shard-crossing chains."""
    from .arrangement import assemble_boundary_distributed

    if seed_level is None:
        seed_level = max(0, level - 6)
    bdf = boundary_directed_edges_df(raster, level, seed_level)
    return assemble_boundary_distributed(bdf)
