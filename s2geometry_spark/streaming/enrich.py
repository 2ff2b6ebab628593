"""Streaming spatial enrichment: the flagship point-in-polygon join as
an incremental pipeline.

The batch flagship (operators/spatial_join.point_in_polygon_join) is
built from stream-legal pieces only — a per-level ancestor explode, a
broadcast stream-static join against the (static) covering table, and
one Arrow-batched PIP filter — so the SAME operator runs unchanged on a
pages stream.  This module is the thin composition plus the windowed
per-polygon rollup; there is deliberately no second implementation to
drift from the batch one (the matching test pins stream == batch on
identical input).

Scale shape: the page/mention side never shuffles (the covering table
broadcasts, the PIP filter is a map); the only stateful operator is the
windowed count, keyed by (window, polygon_id) with a watermark bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.contains import Polygon
from ..operators.spatial_join import point_in_polygon_join
from .ingest import index_stream, parse_pages_stream


def enrich_mentions_stream(
    pages_stream: DataFrame,
    polygons: list[tuple[str, Polygon]],
) -> DataFrame:
    """pages stream → geotagged mentions → leaf cells → stream-static
    PIP join.  Output rows are the batch flagship's: mention columns +
    polygon_id + is_interior_cell."""
    mentions = index_stream(parse_pages_stream(pages_stream), level=30)
    return point_in_polygon_join(mentions, polygons)


def polygon_mention_counts_stream(
    enriched_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-polygon tumbling-window mention counts over the enriched
    stream (the incremental form of the flagship's analytics rollup)."""
    return (
        enriched_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("polygon_id"))
        .agg(F.count("*").alias("n_mentions"))
        .select(F.col("w.start").alias("w_start"), "polygon_id", "n_mentions")
    )
