"""Point-in-polygon spatial join — the north-star operator.

Strategy (SURVEY.md §2.4, after S2RegionTermIndexer s2region_term_indexer.cc:27-72
and S2ContainsPointQuery s2contains_point_query.h:75-90):

 1. Driver side: cover each query polygon ONCE with the exact
    S2RegionCoverer port (levels DEFAULT_MIN_LEVEL..DEFAULT_MAX_LEVEL,
    at most DEFAULT_MAX_CELLS cells); rows ``(polygon_id, cell_id_s,
    is_interior)`` with ``is_interior = region.contains_cell(cell)``.
    Interior cells skip the exact PIP test.  Every cell of the interior
    covering that is also in this covering is contained, so a second
    (interior) coverer run would flag nothing more.
 2. Data plane: each point explodes to its ancestors at the covering
    levels — a pure-JVM Column expression — and equi-joins the
    (broadcast) covering table on the cell id.  Coverings of one polygon
    are disjoint and ancestors at distinct levels are distinct, so each
    (point, polygon) pair appears at most once: no dedup shuffle needed.
 3. Candidates in boundary cells run the vectorized crossing-parity PIP
    kernel (Arrow batches, polygons broadcast to executors).

At 100 TB the only shuffle is the explode→join, and the polygon side is
broadcast; skew from hot cells (cities) is handled by AQE skew-join plus
the fact that the broadcast join needs no repartition of the fact table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..functions import columns as CC
from ..kernel import cellid as K
from ..kernel.cell import Cell
from ..kernel.contains import Polygon
from ..kernel.coverer import RegionCoverer
from ..kernel.region import ShapeRegion

DEFAULT_MIN_LEVEL = 4
DEFAULT_MAX_LEVEL = 16
DEFAULT_MAX_CELLS = 32


def cover_polygons(
    polygons: list[tuple[str, Polygon]],
) -> list[tuple[str, int, bool]]:
    """(polygon_id, biased cell_id, is_interior) covering rows, driver-side."""
    rows: list[tuple[str, int, bool]] = []
    for pid, poly in polygons:
        region = ShapeRegion(polygon=poly)
        cov = RegionCoverer(
            max_cells=DEFAULT_MAX_CELLS,
            min_level=DEFAULT_MIN_LEVEL,
            max_level=DEFAULT_MAX_LEVEL,
        )
        for cid in cov.get_covering(region):
            is_int = bool(region.contains_cell(Cell(cid)))
            rows.append((pid, int(K.bias(cid.id)), is_int))
    return rows


def _covering_rows_df(spark: SparkSession, rows) -> DataFrame:
    """Covering rows → DataFrame via one Arrow batch: a plain python-list
    createDataFrame becomes a 32-slice pickled-row RDD whose broadcast
    collect pays a Python-worker task per slice (~8 CPU-s measured for a
    265-row covering)."""
    pdf = pd.DataFrame(
        rows, columns=["polygon_id", "cell_id_s", "is_interior"]
    ).astype({"polygon_id": str, "cell_id_s": "int64", "is_interior": bool})
    return spark.createDataFrame(
        pdf, "polygon_id string, cell_id_s long, is_interior boolean"
    ).coalesce(1)


def coverings_df(
    spark: SparkSession, polygons: list[tuple[str, Polygon]]
) -> DataFrame:
    return _covering_rows_df(spark, cover_polygons(polygons))


def make_pip_udf(polygons: list[tuple[str, Polygon]]):
    """Vectorized PIP filter: (polygon_id, lat, lng) → contained.

    The polygons are captured in the closure → shipped once per executor
    with the serialized UDF (the broadcast-small-side of the join).  Each
    Arrow batch groups rows by polygon and runs Polygon.contains (the
    einsum crossing-parity kernel) per group.
    """
    geom = dict(polygons)

    @F.pandas_udf(BooleanType())
    def pip(polygon_id: pd.Series, lat: pd.Series, lng: pd.Series) -> pd.Series:
        from ..kernel.coords import latlng_to_xyz

        out = np.zeros(len(polygon_id), dtype=bool)
        x, y, z = latlng_to_xyz(
            lat.to_numpy(np.float64), lng.to_numpy(np.float64)
        )
        pts = np.stack([x, y, z], axis=-1)
        pids = polygon_id.to_numpy()
        for pid in pd.unique(polygon_id):
            if pid in geom:
                mask = pids == pid
                out[mask] = geom[pid].contains(pts[mask])
        return pd.Series(out)

    return pip


def point_in_polygon_join(
    points: DataFrame,
    polygons: list[tuple[str, Polygon]],
    covering_rows: list[tuple[str, int, bool]] | None = None,
) -> DataFrame:
    """points(…, lat, lng, cell_id_s at leaf) ⋈ polygons → rows that fall
    inside; output = points columns + polygon_id + is_interior_cell.

    `covering_rows` are cover_polygons(polygons), when the caller has
    already computed them.  The point side explodes its ancestors only at
    the levels that actually occur in the coverings (collected
    driver-side — the term-indexer's level_mod trick,
    s2region_term_indexer.h:145-160, taken to its data-dependent limit),
    so the fact-table blow-up is #distinct-levels, not
    (max_level - min_level).
    """
    spark = points.sparkSession
    if covering_rows is None:
        covering_rows = cover_polygons(polygons)
    cov = _covering_rows_df(spark, covering_rows)
    raw = K.unbias(np.array([c for _, c, _ in covering_rows], dtype=np.int64))
    levels = np.unique(K.level(raw)).tolist() or [DEFAULT_MIN_LEVEL]
    # Coarse pre-filter BEFORE the ancestor explode: every covering cell
    # sits at level ≥ min(levels), so a point can only match if its
    # ancestor at that coarsest level is an ancestor of some covering
    # cell.  One InSet probe per point (codegen) drops the vast majority
    # of a planetary fact table before it is multiplied #levels× by the
    # explode — a pure superset reduction, result-identical.
    if covering_rows:
        l0 = levels[0]
        anc = np.unique(K.bias(K.parent(raw, l0)))
        points = points.filter(
            CC.parent("cell_id_s", l0).isin([int(v) for v in anc])
        )
    terms = points.withColumn(
        "_term", F.explode(CC.ancestors_array("cell_id_s", levels))
    )
    cand = terms.join(
        F.broadcast(cov), terms["_term"] == cov["cell_id_s"], "inner"
    ).drop(cov["cell_id_s"]).drop("_term")

    # Single pass: interior-cell candidates pass outright; boundary-cell
    # candidates need the exact PIP test.  One filter (no union) keeps the
    # explode+join upstream from being computed twice.
    pip = make_pip_udf(polygons)
    return (
        cand.filter(
            F.col("is_interior") | pip(F.col("polygon_id"), F.col("lat"), F.col("lng"))
        )
        .withColumnRenamed("is_interior", "is_interior_cell")
    )


def brute_force_pip_join(
    points_pdf: pd.DataFrame, polygons: list[tuple[str, Polygon]]
) -> pd.DataFrame:
    """O(N·M) oracle for tests: exact kernel PIP on every pair."""
    from ..kernel.coords import latlng_to_xyz

    x, y, z = latlng_to_xyz(
        points_pdf["lat"].to_numpy(), points_pdf["lng"].to_numpy()
    )
    pts = np.stack([x, y, z], axis=-1)
    out = []
    for pid, poly in polygons:
        inside = poly.contains(pts)
        sub = points_pdf[inside].copy()
        sub["polygon_id"] = pid
        out.append(sub)
    if not out:
        return points_pdf.iloc[0:0].assign(polygon_id=pd.Series(dtype=str))
    return pd.concat(out, ignore_index=True)
