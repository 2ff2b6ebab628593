"""Seeded input generators for the benchmark workloads.

Every generator draws from ``numpy.random.default_rng(seed)`` (or the
``RandomState`` the fractal port expects), so the same seed always gives
byte-identical inputs.  Inputs are written as parquet into the run's
scratch directory before any timed step; the engine only ever sees those
files plus the in-memory geometry built here.

Coordinates are drawn as whole micro-degrees.  A micro-degree ``m``
prints as ``"%.6f" % (m / 1e6)`` and parses back (Spark's string → double
cast) to exactly ``m / 1e6``, so the NumPy oracles below see the very
doubles the engine extracts from the page text.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The five polygons of the engine's flagship query (nyc, london, a Tokyo
# square with a hole, a diamond at (0,0) and a large triangle), as
# lat:lng text.  Frozen here so the workload does not drift when the
# engine's own fixtures change.
FLAGSHIP_POLYGONS = [
    ("nyc", "40.2:-74.5, 40.2:-73.5, 41.2:-73.5, 41.2:-74.5"),
    ("london", "51.0:-0.7, 51.0:0.4, 52.0:0.4, 52.0:-0.7"),
    ("tokyo_w_hole",
     "35.1:139.2, 35.1:140.2, 36.2:140.2, 36.2:139.2;"
     "35.5:139.5, 35.5:139.9, 35.9:139.9, 35.9:139.5"),
    ("near0", "-1:0, 0:1, 1:0, 0:-1"),
    ("big_triangle", "-10:-30, -10:30, 45:0"),
]

_FILLER = (
    "the quick brown fox jumps over the lazy dog while crawling the web "
    "for pages mentioning places and coordinates in plain text "
)


@dataclass
class Mentions:
    """The ground truth behind a pages table: one row per GEO marker."""

    url: np.ndarray          # object array of str
    mention_idx: np.ndarray  # int32, position of the marker in its page
    lat: np.ndarray          # float64 degrees (exactly micro / 1e6)
    lng: np.ndarray

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame({
            "url": self.url, "mention_idx": self.mention_idx,
            "lat": self.lat, "lng": self.lng,
        })

    def __len__(self) -> int:
        return len(self.lat)


def hotspot_micro_degrees(rng: np.random.Generator, n: int):
    """The ``sources.pages`` skew: 80% of points within ±0.5° of one of
    its 24 hotspot cities, 20% uniform over lat∈[-88,88), lng∈[-180,180)."""
    from s2geometry_spark.sources.pages import CITIES

    cities = np.round(np.asarray(CITIES) * 1e6).astype(np.int64)
    is_city = rng.random(n) < 0.8
    which = rng.integers(0, len(cities), n)
    jlat = rng.integers(-500_000, 500_000, n)
    jlng = rng.integers(-500_000, 500_000, n)
    ulat = rng.integers(-88_000_000, 88_000_000, n)
    ulng = rng.integers(-180_000_000, 180_000_000, n)
    lat = np.where(is_city, cities[which, 0] + jlat, ulat)
    lng = np.where(is_city, cities[which, 1] + jlng, ulng)
    return lat, lng


def _write_parts(table: pa.Table, out_dir: str, n_files: int) -> int:
    """Write `table` as `n_files` parquet files; returns total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    total = 0
    for k in range(n_files):
        path = os.path.join(out_dir, f"part-{k:03d}.parquet")
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]), path)
        total += os.path.getsize(path)
    return total


def make_pages(seed: int, n_pages: int, out_dir: str, n_files: int = 8):
    """Pages in the ``sources.pages`` schema (url, warc_ts, html, text,
    lang) with 1-3 ``GEO(lat,lng)`` markers each.  Returns the ground
    truth mentions and the bytes written."""
    from s2geometry_spark.sources.pages import LANGS

    rng = np.random.default_rng([seed, 1])
    per_page = rng.integers(1, 4, n_pages)
    n = int(per_page.sum())
    lat_m, lng_m = hotspot_micro_degrees(rng, n)
    page_of = np.repeat(np.arange(n_pages), per_page)
    starts = np.concatenate([[0], np.cumsum(per_page)[:-1]])
    mention_idx = (np.arange(n) - np.repeat(starts, per_page)).astype(np.int32)

    lat = lat_m / 1e6
    lng = lng_m / 1e6
    markers = [f"GEO({a:.6f},{b:.6f}) " for a, b in zip(lat.tolist(), lng.tolist())]
    urls = [f"https://example.org/p/{seed}/{i}" for i in range(n_pages)]
    texts = [
        f"Page {i}. {_FILLER}{''.join(markers[s:s + c])}{_FILLER}"
        for i, (s, c) in enumerate(zip(starts.tolist(), per_page.tolist()))
    ]
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(
            np.datetime64("2026-01-01T00:00:00", "us")
            + (np.arange(n_pages) % 86400).astype("timedelta64[s]"),
            pa.timestamp("us", tz="UTC"),
        ),
        "html": pa.array([f"<html>{t}</html>".encode() for t in texts], pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), n_pages)],
                         pa.string()),
    })
    nbytes = _write_parts(table, out_dir, n_files)
    url_arr = np.asarray(urls, dtype=object)[page_of]
    return Mentions(url_arr, mention_idx, lat, lng), nbytes


def make_fractal_polygons(seed: int, count: int, edges: int, radius_deg: float,
                          dimension: float = 1.3):
    """`count` seeded ``kernel.fractal`` loops (Koch-like, 3·4^n edges),
    each centred near a hotspot city picked by the seed so the dense
    point clusters straddle their boundaries.  Edge count and fractal
    dimension are fixed, so the work per polygon does not vary with the
    seed; the seed picks the shapes and places.  Returns
    [(polygon_id, Polygon)]."""
    from s2geometry_spark.kernel.contains import Polygon
    from s2geometry_spark.kernel.coords import latlng_to_xyz
    from s2geometry_spark.kernel.fractal import Fractal, frame_at
    from s2geometry_spark.sources.pages import CITIES

    rs = np.random.RandomState(seed % (2**32))
    out = []
    for k in range(count):
        c_lat, c_lng = CITIES[rs.randint(len(CITIES))]
        c_lat += rs.uniform(-0.2, 0.2)
        c_lng += rs.uniform(-0.2, 0.2)
        fractal = Fractal(rs)
        fractal.set_level_for_approx_max_edges(edges)
        fractal.set_level_for_approx_min_edges(edges)
        fractal.set_fractal_dimension(dimension)
        center = np.array(latlng_to_xyz(c_lat, c_lng), dtype=np.float64)
        loop = fractal.make_loop(frame_at(rs, center), math.radians(radius_deg))
        out.append((f"fractal_{k}", Polygon([loop])))
    return out


def make_query_grid(seed: int, n_lat: int, n_lng: int) -> pd.DataFrame:
    """A fixed n_lat × n_lng grid of kNN queries over lat∈[-60,60], whole
    longitude circle, shifted by a seeded sub-cell offset so each seed
    probes different neighbourhoods with the same query count."""
    rng = np.random.default_rng([seed, 3])
    dlat = 120.0 / n_lat
    dlng = 360.0 / n_lng
    off_lat, off_lng = rng.random(2)
    lat = -60.0 + (np.arange(n_lat) + off_lat) * dlat
    lng = -180.0 + (np.arange(n_lng) + off_lng) * dlng
    glat, glng = np.meshgrid(lat, lng, indexing="ij")
    n = glat.size
    return pd.DataFrame({
        "query_id": [f"q{i:05d}" for i in range(n)],
        "lat": glat.ravel(),
        "lng": glng.ravel(),
    })


def make_spiral(seed: int, n_edges: int):
    """A seeded Archimedean spiral polyline of `n_edges` edges and 8°
    radius around a hotspot city: the shape-index input (one
    ``closest_edge.Shape`` of dimension 1)."""
    from s2geometry_spark.kernel.closest_edge import Shape
    from s2geometry_spark.kernel.coords import latlng_to_xyz
    from s2geometry_spark.sources.pages import CITIES

    rng = np.random.default_rng([seed, 4])
    c_lat, c_lng = CITIES[int(rng.integers(len(CITIES)))]
    phase = rng.uniform(0, 2 * math.pi)
    t = np.arange(n_edges + 1) / n_edges
    lat = np.clip(c_lat + 8 * t * np.cos(14 * math.pi * t + phase), -89.0, 89.0)
    lng = c_lng + 8 * t * np.sin(14 * math.pi * t + phase)
    x, y, z = latlng_to_xyz(lat, lng)
    v = np.stack([x, y, z], -1)
    return Shape(0, 1, v[:-1], v[1:])
