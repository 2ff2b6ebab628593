"""The benchmark workloads.

Each workload has four phases, called in this order by ``run.py``:

- ``generate(seed)``: build its inputs from the seed and write them to
  the scratch directory, then compute the expected outputs with the
  engine's brute-force oracles.  Runs before the session starts; timed
  apart from set-up.
- ``prepare(spark)``: per-run state a user would build once (coverings
  of a known polygon table, cached indexed points).  Part of set-up.
- ``run_pass(spark)``: one unit of measured work; returns its output.
  Unless ``warm_up`` is False, set-up ends with one unchecked warm-up
  pass, which pays the one-off costs (code generation, JIT, Python
  worker start, first file scans).
- ``check(output)``: compares a pass output with the expected output.

Calls into the engine go through ``self.tr.span(<layer>)`` so a traced
run attributes time and Spark jobs to layers.  Input sizes and their
reasons are in README.md.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from inputs import (
    FLAGSHIP_POLYGONS,
    make_fractal_polygons,
    make_pages,
    make_query_grid,
    make_spiral,
)

CELL_LEVEL_TILE = 8   # (polygon, level-8 tile) rollup of the flagship query
WEB_ZOOM = 10         # web-tile histogram zoom


def _flagship_polygons():
    from s2geometry_spark.kernel.contains import parse_polygon

    return [(pid, parse_polygon(text)) for pid, text in FLAGSHIP_POLYGONS]


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _brute_pip(mentions_pdf: pd.DataFrame, polygons) -> pd.DataFrame:
    """``spatial_join.brute_force_pip_join`` over the points that can be
    inside: a point outside the smallest cap (< hemisphere) around a
    polygon's vertices is outside the polygon, so the exact oracle only
    runs on the points inside the cap."""
    from s2geometry_spark.kernel.coords import latlng_to_xyz
    from s2geometry_spark.operators.spatial_join import brute_force_pip_join

    x, y, z = latlng_to_xyz(mentions_pdf["lat"].to_numpy(), mentions_pdf["lng"].to_numpy())
    pts = np.stack([x, y, z], -1)
    parts = []
    for pid, poly in polygons:
        verts = np.concatenate([lp.vertices for lp in poly.loops])
        c = verts.sum(0)
        c /= np.linalg.norm(c)
        cos_r = float((verts @ c).min())
        if cos_r > 0.1:  # cap smaller than a hemisphere: prefilter is exact
            near = pts @ c >= cos_r - 1e-9
        else:
            near = np.ones(len(pts), dtype=bool)
        parts.append(brute_force_pip_join(mentions_pdf[near], [(pid, poly)]))
    return pd.concat(parts, ignore_index=True)


class Workload:
    name = ""
    row_unit = ""
    warm_up = True

    def __init__(self, scratch: str, tracer, corrupt: bool = False, small: bool = False):
        self.scratch = scratch
        self.tr = tracer
        self.corrupt = corrupt  # self-test hook: drop one output row
        self.small = small      # self-test hook: tiny inputs
        self.rows_per_pass = 0
        self.extra: dict[str, list[float]] = {}  # workload-only metrics, per pass

    def _drop_one(self, rows: list) -> list:
        return rows[1:] if self.corrupt else rows

    def note(self, key: str, value: float) -> None:
        self.extra.setdefault(key, []).append(value)


# ------------------------------------------------------------ pip_hotspot
class PipHotspot(Workload):
    """Flagship path: pages → extract_mentions → index_points (Arrow
    leaf-cell encode) → point_in_polygon_join against the 5 flagship
    polygons → (polygon, level-8 tile) counts + web-tile histogram."""

    name = "pip_hotspot"
    row_unit = "mentions"
    N_PAGES = 80_000

    def generate(self, seed: int) -> dict:
        from s2geometry_spark.kernel import cellid as K
        from s2geometry_spark.operators.tiling import web_tile

        n_pages = 2_000 if self.small else self.N_PAGES
        self.pages_dir = f"{self.scratch}/pages"
        mentions, nbytes = make_pages(seed, n_pages, self.pages_dir)
        self.rows_per_pass = len(mentions)
        self.polygons = _flagship_polygons()
        m = mentions.frame()
        inside = _brute_pip(m, self.polygons)
        tile8 = K.bias(K.parent(K.from_latlng(inside["lat"].to_numpy(),
                                              inside["lng"].to_numpy()),
                                CELL_LEVEL_TILE))
        self.expect_counts = (
            pd.DataFrame({"p": inside["polygon_id"].to_numpy(), "t": tile8})
            .groupby(["p", "t"]).size().to_dict()
        )
        tx, ty = web_tile(m["lat"].to_numpy(), m["lng"].to_numpy(), WEB_ZOOM)
        self.expect_hist = (
            pd.DataFrame({"x": tx, "y": ty}).groupby(["x", "y"]).size().to_dict()
        )
        return {"input_rows": len(mentions), "input_bytes": nbytes}

    def prepare(self, spark) -> None:
        from s2geometry_spark.operators.spatial_join import cover_polygons

        with self.tr.span("spatial_join.cover") as sp:
            self.cov_rows = cover_polygons(self.polygons)
            sp.count("cells", len(self.cov_rows))

    def run_pass(self, spark):
        from s2geometry_spark.functions import columns as CC
        from s2geometry_spark.operators.indexing import index_points
        from s2geometry_spark.operators.spatial_join import point_in_polygon_join
        from s2geometry_spark.operators.tiling import tile_histogram
        from s2geometry_spark.sources.pages import extract_mentions

        tr = self.tr
        pages = spark.read.parquet(self.pages_dir)
        with tr.span("sources.extract_mentions") as sp:
            mentions = tr.materialize(sp, extract_mentions(pages))
        with tr.span("functions.udfs.cell_encode") as sp:
            # both the join and the histogram read the points: cache them
            # as a user would, so extraction and encode run once per pass
            points = index_points(mentions, level=30).persist()
            tr.materialize(sp, points)
        with tr.span("spatial_join.join") as sp:
            joined = tr.materialize(sp, point_in_polygon_join(
                points, self.polygons, covering_rows=self.cov_rows))
        with tr.span("pip.rollup"):
            counts = (
                joined.groupBy("polygon_id", CC.parent("cell_id_s", CELL_LEVEL_TILE).alias("t"))
                .agg(F.count("*").alias("n"),
                     F.sum(F.col("is_interior_cell").cast("int")).alias("n_int"))
                .collect()
            )
        with tr.span("tiling.tile_histogram"):
            hist = tile_histogram(points, WEB_ZOOM).collect()
        spark.catalog.clearCache()
        n = sum(r.n for r in counts)
        self.note("spatial_join.interior_ratio", sum(r.n_int for r in counts) / max(n, 1))
        return counts, hist

    def check(self, out) -> bool:
        counts, hist = out
        got_counts = {(r.polygon_id, r.t): r.n for r in self._drop_one(counts)}
        got_hist = {(r.tile_x, r.tile_y): r.n_points for r in hist}
        return got_counts == self.expect_counts and got_hist == self.expect_hist


# ------------------------------------------------------------ complex_resume
STAGES = ("pages", "mentions", "points", "pip_join")


class ComplexResume(Workload):
    """The engine's heavier operators over a committed checkpoint.

    Set-up runs the run_geo_pipeline stages (pages → mentions → points →
    pip_join) through CheckpointedPipeline once.  Each pass then:
    - invalidates pip_join and resumes, as a user with new polygons
      would: three stages are resumed, the many-edged fractal polygons
      are re-covered (driver-serial coverer) and re-joined (PIP parity
      kernel in boundary cells), and pip_join is written again;
    - rasterizes one fractal polygon at a fixed level;
    - runs a kNN join of a fixed query grid over the resumed points;
    - builds a shape index over a spiral polyline and runs the
      radius-bounded closest-edge join of the resumed points against it.
    """

    name = "complex_resume"
    row_unit = "mentions"
    # set-up already runs the whole pipeline once (prepare); a warm-up pass
    # on top would add 20-30 s to every run, so the timed pass makes the
    # raster/kNN/shape-index calls for the first time, as a freshly
    # resumed job does
    warm_up = False
    N_PAGES = 15_000
    N_POLYGONS = 4
    EDGES = 192
    RADIUS_DEG = 0.6
    RASTER_LEVEL = 6
    RASTER_RADIUS_DEG = 6.0
    GRID = (8, 8)
    K = 10
    SPIRAL_EDGES = 6_000
    EDGE_RADIUS = 0.001
    N_CHECKED_QUERIES = 16

    def generate(self, seed: int) -> dict:
        n_pages = 2_000 if self.small else self.N_PAGES
        self.pages_dir = f"{self.scratch}/pages"
        mentions, nbytes = make_pages(seed, n_pages, self.pages_dir)
        self.input_bytes = nbytes
        self.rows_per_pass = len(mentions)
        self.root = f"{self.scratch}/ckpt"
        self.polygons = make_fractal_polygons(
            seed, self.N_POLYGONS, self.EDGES, self.RADIUS_DEG)
        (_, self.raster_polygon), = make_fractal_polygons(
            seed + 7919, 1, self.EDGES, self.RASTER_RADIUS_DEG)
        self.queries = make_query_grid(seed, *self.GRID)
        self.spiral = make_spiral(seed, 2_000 if self.small else self.SPIRAL_EDGES)
        m = mentions.frame()
        inside = _brute_pip(m, self.polygons)
        self.expect_counts = inside.groupby("polygon_id").size().to_dict()
        self.expect_raster = self._raster_oracle()
        self._knn_oracle(seed, m)
        self.expect_edges = self._closest_edge_oracle(m)
        return {"input_rows": len(mentions), "input_bytes": nbytes}

    def _raster_oracle(self) -> set:
        """Every level-L cell centre near the polygon through the exact
        PIP test."""
        from s2geometry_spark.kernel import coords as C

        side = 1 << self.RASTER_LEVEL
        face, i, j = np.meshgrid(np.arange(6), np.arange(side), np.arange(side), indexing="ij")
        face, i, j = face.ravel(), i.ravel(), j.ravel()
        u = C.st_to_uv((i + 0.5) / side)
        v = C.st_to_uv((j + 0.5) / side)
        x, y, z = C.face_uv_to_xyz(face, u, v)
        nrm = np.sqrt(x * x + y * y + z * z)
        xyz = np.stack([x / nrm, y / nrm, z / nrm], -1)
        c = self.raster_polygon.loops[0].vertices.mean(0)
        near = np.nonzero(xyz @ (c / np.linalg.norm(c)) > math.cos(math.radians(30)))[0]
        hit = near[self.raster_polygon.contains(xyz[near])]
        return set(zip(face[hit].tolist(), i[hit].tolist(), j[hit].tolist()))

    def _knn_oracle(self, seed: int, points: pd.DataFrame) -> None:
        """``knn.brute_force_knn`` on a seeded subset of the queries, over
        every point within the k-th smallest distance (ties included)."""
        from s2geometry_spark.kernel.coords import latlng_to_xyz
        from s2geometry_spark.operators.knn import brute_force_knn

        rng = np.random.default_rng([seed, 5])
        pick = rng.choice(len(self.queries), self.N_CHECKED_QUERIES, replace=False)
        sub = self.queries.iloc[np.sort(pick)]
        P = np.stack(latlng_to_xyz(points["lat"].to_numpy(), points["lng"].to_numpy()), -1)
        expect = []
        for _, q in sub.iterrows():
            d2 = ((P - np.array(latlng_to_xyz(q.lat, q.lng))) ** 2).sum(-1)
            kth = np.partition(d2, self.K - 1)[self.K - 1]
            expect.append(brute_force_knn(sub.loc[[q.name]], points[d2 <= kth], self.K))
        ex = pd.concat(expect, ignore_index=True)
        self.expect_knn = {
            qid: [(r.url, r.mention_idx, r.chord2) for r in g.itertuples()]
            for qid, g in ex.groupby("query_id")
        }

    def _closest_edge_oracle(self, points: pd.DataFrame) -> tuple[int, int]:
        """(points with an edge within EDGE_RADIUS, sum of their closest
        edge ids), by brute force over every spiral edge with the
        engine's own distance kernel, ties to the lower edge id.  Only
        points in the spiral's bounding cap widened by the radius can
        have such an edge."""
        from s2geometry_spark.kernel.coords import latlng_to_xyz
        from s2geometry_spark.kernel.distance import (
            point_edge_dist2,
            point_edge_dist2_rowwise,
        )

        A, B = self.spiral.edges_c, self.spiral.edges_d
        c = A.sum(0)
        c /= np.linalg.norm(c)
        reach = math.acos(min(1.0, float((np.concatenate([A, B]) @ c).min()))) + self.EDGE_RADIUS
        P = np.stack(latlng_to_xyz(points["lat"].to_numpy(), points["lng"].to_numpy()), -1)
        P = P[P @ c >= math.cos(reach) - 1e-9]
        limit2 = (2 * math.sin(0.5 * self.EDGE_RADIUS)) ** 2
        hits = edge_sum = 0
        for lo in range(0, len(P), 512):
            X = P[lo:lo + 512]
            # candidates from the cross product, exact distances from the
            # row-paired kernel the engine's join evaluates
            i, e = np.nonzero(point_edge_dist2(X, A, B) < limit2 * (1 + 1e-6))
            d2 = point_edge_dist2_rowwise(X[i], A[e], B[e])
            keep = d2 < limit2
            i, e, d2 = i[keep], e[keep], d2[keep]
            order = np.lexsort((e, d2, i))
            first = np.unique(i[order], return_index=True)[1]
            hits += len(first)
            edge_sum += int(e[order][first].sum())
        return hits, edge_sum

    def _pipeline(self, spark, polygons):
        """The run_geo_pipeline stages over the seeded pages; a stage's
        build only runs when the stage is not already committed."""
        from s2geometry_spark.operators.indexing import index_points
        from s2geometry_spark.operators.spatial_join import (
            cover_polygons,
            point_in_polygon_join,
        )
        from s2geometry_spark.sources.checkpoint import CheckpointedPipeline
        from s2geometry_spark.sources.pages import extract_mentions

        tr = self.tr

        def layer(name, build):
            def run():
                with tr.span(name) as sp:
                    return tr.materialize(sp, build())
            return run

        def join(points):
            with tr.span("spatial_join.cover") as sp:
                rows = cover_polygons(polygons)
                sp.count("cells", len(rows))
            self.note("kernel.coverer.cells", len(rows))
            return point_in_polygon_join(points, polygons, covering_rows=rows)

        pipe = CheckpointedPipeline(spark, self.root)
        with tr.span("sources.checkpoint.run_stage"):
            pages = pipe.run_stage("pages", lambda: spark.read.parquet(self.pages_dir))
        with tr.span("sources.checkpoint.run_stage"):
            mentions = pipe.run_stage(
                "mentions", layer("sources.extract_mentions", lambda: extract_mentions(pages)))
        with tr.span("sources.checkpoint.run_stage"):
            points = pipe.run_stage(
                "points", layer("functions.udfs.cell_encode",
                                lambda: index_points(mentions, level=30)))
        with tr.span("sources.checkpoint.run_stage"):
            joined = pipe.run_stage(
                "pip_join", layer("spatial_join.join", lambda: join(points)))
        return points, joined, pipe

    @staticmethod
    def _summary(joined) -> list:
        return (
            joined.groupBy("polygon_id")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("is_interior_cell").cast("int")).alias("n_int"),
                 F.bit_xor(F.xxhash64("url", "mention_idx")).alias("h"))
            .orderBy("polygon_id").collect()
        )

    def prepare(self, spark) -> None:
        with self.tr.span("ckpt.fresh"):
            _, joined, _ = self._pipeline(spark, self.polygons)
            self.fresh = self._summary(joined)
        spark.catalog.clearCache()
        self.queries_df = spark.createDataFrame(self.queries)

    def _operators(self, spark, points):
        """The raster, kNN and shape-index calls of a pass."""
        from s2geometry_spark.operators.knn import knn_join
        from s2geometry_spark.operators.raster import rasterize_polygon
        from s2geometry_spark.operators.shape_index import (
            build_shape_index,
            edges_to_df,
            indexed_closest_edges_join,
        )

        tr = self.tr
        with tr.span("raster.rasterize") as sp:
            cells = rasterize_polygon(spark, self.raster_polygon, self.RASTER_LEVEL,
                                      partitions=16).collect()
            sp.count("cells_in", len(cells))
        with tr.span("knn.join"):
            # fact_rows lets knn_join pick the start level at which one
            # round of ring expansion converges
            knn = knn_join(self.queries_df, points, k=self.K,
                           fact_rows=self.rows_per_pass) \
                .select("query_id", "url", "mention_idx", "chord2").collect()
        with tr.span("shape_index.build") as sp:
            index = build_shape_index(edges_to_df(spark, [self.spiral], partitions=8),
                                      max_edges_per_cell=10).persist()
            n_index = index.count()
            sp.count("index_rows", n_index)
        with tr.span("shape_index.join"):
            keyed = points.withColumn("key", F.xxhash64("url", "mention_idx"))
            near = indexed_closest_edges_join(
                keyed, index, k=1, max_distance_rad=self.EDGE_RADIUS) \
                .agg(F.count("*").alias("n"), F.sum("edge_id").alias("s")).collect()[0]
        index.unpersist()
        return cells, knn, (near.n, near.s, n_index)

    def run_pass(self, spark):
        import time

        from s2geometry_spark.sources.checkpoint import CheckpointedPipeline

        tr = self.tr
        t0 = time.perf_counter()
        with tr.span("ckpt.resume"):
            CheckpointedPipeline(spark, self.root).invalidate("pip_join")
            points, joined, pipe = self._pipeline(spark, self.polygons)
        self.note("sources.checkpoint.resume_s", time.perf_counter() - t0)
        with tr.span("pip.rollup"):
            summary = self._summary(joined)
        with tr.span("sources.checkpoint.is_complete"):
            complete = [pipe.is_complete(s) for s in STAGES]
        resumed = [pipe.metrics[s]["resumed"] for s in STAGES]
        cells, knn, edges = self._operators(spark, points)
        spark.catalog.clearCache()  # layers a traced pass materialized
        written = _dir_bytes(self.root)
        n = sum(r.n for r in summary)
        self.note("spatial_join.interior_ratio", sum(r.n_int for r in summary) / max(n, 1))
        self.note("sources.checkpoint.bytes_written", written)
        self.note("sources.checkpoint.write_bytes_per_input_byte", written / self.input_bytes)
        self.note("raster.cells_in", len(cells))
        self.note("shape_index.index_rows", edges[2])
        return summary, resumed, complete, cells, knn, edges

    def check(self, out) -> bool:
        summary, resumed, complete, cells, knn, edges = out
        summary = self._drop_one(summary)
        ok = (
            summary == self.fresh
            and {r.polygon_id: r.n for r in summary} == self.expect_counts
            and resumed == [True, True, True, False]
            and all(complete)
            and {(r.face, r.i, r.j) for r in cells} == self.expect_raster
        )
        got: dict[str, list] = {}
        for r in knn:
            got.setdefault(r.query_id, []).append(r)
        ok = ok and len(got) == len(self.queries) and all(len(v) == self.K for v in got.values())
        for qid, want in self.expect_knn.items():
            rows = sorted(got.get(qid, []), key=lambda r: (r.chord2, r.url, r.mention_idx))
            ok = (ok and [(r.url, r.mention_idx) for r in rows] == [w[:2] for w in want]
                  and np.allclose([r.chord2 for r in rows], [w[2] for w in want],
                                  rtol=1e-9, atol=1e-18))
        return ok and edges[:2] == self.expect_edges and edges[0] > 0 and edges[2] > 0


WORKLOADS = {w.name: w for w in (PipHotspot, ComplexResume)}
