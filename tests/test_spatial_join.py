"""End-to-end spatial join vs brute-force oracle (build plan phase 4 gate)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2geometry_spark.kernel.contains import parse_polygon
from s2geometry_spark.operators.indexing import index_points
from s2geometry_spark.operators.spatial_join import (
    brute_force_pip_join,
    cover_polygons,
    point_in_polygon_join,
)
from s2geometry_spark.sources.pages import extract_mentions, synthesize_pages

POLYGONS = [
    # city-scale boxes around three of the pages-source hotspots + shapes
    ("nyc", parse_polygon("40.2:-74.5, 40.2:-73.5, 41.2:-73.5, 41.2:-74.5")),
    ("london", parse_polygon("51.0:-0.7, 51.0:0.4, 52.0:0.4, 52.0:-0.7")),
    ("tokyo_w_hole", parse_polygon(
        "35.1:139.2, 35.1:140.2, 36.2:140.2, 36.2:139.2;"
        "35.5:139.5, 35.5:139.9, 35.9:139.9, 35.9:139.5"
    )),
    ("near0", parse_polygon("-1:0, 0:1, 1:0, 0:-1")),
    ("big_triangle", parse_polygon("-10:-30, -10:30, 45:0")),
]


@pytest.fixture(scope="module")
def points(spark):
    pages = synthesize_pages(spark, 800, partitions=4)
    return index_points(extract_mentions(pages), level=30).cache()


def test_pip_join_matches_brute_force(spark, points):
    got = (
        point_in_polygon_join(points, POLYGONS)
        .select("url", "mention_idx", "polygon_id")
        .toPandas()
        .sort_values(["url", "mention_idx", "polygon_id"])
        .reset_index(drop=True)
    )
    pts_pdf = points.select("url", "mention_idx", "lat", "lng").toPandas()
    want = (
        brute_force_pip_join(pts_pdf, POLYGONS)[["url", "mention_idx", "polygon_id"]]
        .sort_values(["url", "mention_idx", "polygon_id"])
        .reset_index(drop=True)
    )
    assert len(got) > 0, "test data must produce matches"
    assert got.equals(want), (
        f"mismatch: got {len(got)} rows, want {len(want)}"
    )


def test_candidates_unique_per_point_polygon(spark, points):
    out = point_in_polygon_join(points, POLYGONS)
    dup = (
        out.groupBy("url", "mention_idx", "polygon_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_coverings_disjoint_and_leveled():
    rows = cover_polygons(POLYGONS)
    from s2geometry_spark.kernel.cid import CID

    by_pid = {}
    for pid, cell_s, is_int in rows:
        by_pid.setdefault(pid, []).append(CID(cell_s + (1 << 63)))
    for pid, cells in by_pid.items():
        cells.sort()
        for a, b in zip(cells, cells[1:]):
            assert a.range_max().id < b.range_min().id, pid
        for c in cells:
            assert 4 <= c.level() <= 16


def _fractal_polygons(seeds):
    """Seeded 192-edge kernel.fractal loops of 1° radius."""
    import math

    from s2geometry_spark.kernel.contains import Polygon
    from s2geometry_spark.kernel.coords import latlng_to_xyz
    from s2geometry_spark.kernel.fractal import Fractal, frame_at

    out = []
    for seed in seeds:
        rs = np.random.RandomState(seed)
        fractal = Fractal(rs)
        fractal.set_level_for_approx_max_edges(192)
        fractal.set_level_for_approx_min_edges(192)
        fractal.set_fractal_dimension(1.3)
        center = np.array(
            latlng_to_xyz(rs.uniform(-60, 60), rs.uniform(-180, 180)),
            dtype=np.float64,
        )
        loop = fractal.make_loop(frame_at(rs, center), math.radians(1.0))
        out.append((f"fractal_{seed}", Polygon([loop])))
    return out


def test_interior_covering_cells_are_flagged_interior():
    """Every cell both in the interior covering and in cover_polygons'
    covering is flagged is_interior by contains_cell alone — the fact
    that makes a second (interior) coverer run per polygon redundant."""
    import __spark_entry__ as E
    from s2geometry_spark.kernel import cellid as K
    from s2geometry_spark.kernel.coverer import RegionCoverer
    from s2geometry_spark.kernel.region import ShapeRegion
    from s2geometry_spark.operators import spatial_join as SJ

    polygons = E._continental_polygons() + _fractal_polygons([11, 12, 13])
    flagged = {(pid, c): is_int for pid, c, is_int in cover_polygons(polygons)}
    shared = 0
    for pid, poly in polygons:
        cov = RegionCoverer(
            max_cells=SJ.DEFAULT_MAX_CELLS,
            min_level=SJ.DEFAULT_MIN_LEVEL,
            max_level=SJ.DEFAULT_MAX_LEVEL,
        )
        for cid in cov.get_interior_covering(ShapeRegion(polygon=poly)):
            key = (pid, int(K.bias(cid.id)))
            if key in flagged:
                shared += 1
                assert flagged[key], key
    assert shared > 0, "the property must be exercised"


def test_interior_cells_skip_pip_correctly(spark, points):
    # every interior-cell candidate must really be inside the polygon
    out = point_in_polygon_join(points, POLYGONS).filter(F.col("is_interior_cell"))
    pdf = out.select("lat", "lng", "polygon_id").toPandas()
    from s2geometry_spark.kernel.coords import latlng_to_xyz

    for pid, poly in POLYGONS:
        sub = pdf[pdf.polygon_id == pid]
        if not len(sub):
            continue
        x, y, z = latlng_to_xyz(sub.lat.to_numpy(), sub.lng.to_numpy())
        assert poly.contains(np.stack([x, y, z], -1)).all()


def test_plan_uses_broadcast_join(spark, points):
    plan = point_in_polygon_join(points, POLYGONS)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan
