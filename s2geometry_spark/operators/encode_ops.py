"""Distributed region encoding: serialize a lake of geometries to the
reference wire format (s2region Encode; s2loop.cc:640-651,
s2polygon.cc:731-805, s2polyline.cc:425-536).

Spark shape: geometries arrive exploded as
(geom_id, kind, chain_id, depth, vertex_idx, x, y, z) — one row per
vertex (vertex_idx -1 marks an intentionally empty geometry).  Encoding
couples all chains of one geometry but nothing across geometries, so
the plan is ONE shuffle — groupBy(geom_id) — with the byte-exact kernel
encoders running per geometry inside applyInPandas.  Per-task memory is
one geometry's vertex count, never the table's: the plan for exporting
millions of geometries from Parquet to the reference wire format.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def _encode_one(pdf: pd.DataFrame) -> bytes:
    from ..kernel import encodings as E

    kind = pdf["kind"].iloc[0]
    chains = []
    for cid, cg in sorted(pdf.groupby("chain_id"), key=lambda kv: kv[0]):
        depth = int(cg["depth"].iloc[0])
        if (cg["vertex_idx"] < 0).any():
            chains.append((np.zeros((0, 3)), depth))
            continue
        v = cg.sort_values("vertex_idx")[["x", "y", "z"]].to_numpy(np.float64)
        chains.append((v, depth))

    if kind == "loop":
        return bytes(E.encode_loop(chains[0][0], chains[0][1]).buf)
    if kind == "polyline":
        v = chains[0][0] if chains else np.zeros((0, 3))
        return bytes(E.encode_polyline(v).buf)
    if kind == "polyline_compact":
        v = chains[0][0] if chains else np.zeros((0, 3))
        return bytes(E.encode_polyline_compact(v).buf)
    if kind == "polygon":
        loops = [(v, d) for v, d in chains if len(v)]
        return bytes(E.encode_polygon_uncompressed(loops).buf)
    if kind == "polygon_compact":
        loops = [(v, d) for v, d in chains if len(v)]
        return bytes(E.encode_polygon(loops).buf)
    raise ValueError(f"unknown geometry kind {kind!r}")


def encode_geometries(geoms: DataFrame) -> DataFrame:
    """Per geometry: (geom_id, encoding_hex, n_bytes).

    Sorted-run batched (operators/_group_batch.py — the encode_vectors
    idiom): one Python call encodes thousands of geometries instead of
    paying the per-group applyInPandas invocation overhead per geometry.
    `_encode_one` orders chains/vertices itself, so results are
    row-identical to the per-group form."""
    from ._group_batch import group_bounds, sorted_run_map

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        gid = pdf["geom_id"].to_numpy()
        ids, hexes, nbytes = [], [], []
        for lo, hi in group_bounds(gid):
            raw = _encode_one(pdf.iloc[lo:hi])
            ids.append(gid[lo])
            hexes.append(raw.hex().upper())
            nbytes.append(len(raw))
        return pd.DataFrame(
            {"geom_id": ids, "encoding_hex": hexes, "n_bytes": nbytes}
        )

    return sorted_run_map(
        geoms, "geom_id", emit,
        "geom_id string, encoding_hex string, n_bytes int",
    )


_MASK64 = (1 << 64) - 1


def _encode_vector_one(pdf: pd.DataFrame) -> bytes:
    from ..kernel import encoded_vectors as EV
    from ..kernel.encodings import Encoder

    kind = pdf["kind"].iloc[0]
    g = pdf.sort_values("idx")
    enc = Encoder()
    if kind == "cellid_vector":
        # cell ids travel as signed int64 columns; mask back to uint64
        EV.encode_s2cellid_vector(
            [int(v) & _MASK64 for v in g["cell_id"]], enc)
    elif kind == "uint_vector":
        EV.encode_uint_vector(
            [int(v) & _MASK64 for v in g["cell_id"]], 8, enc)
    elif kind == "string_vector":
        EV.StringVectorEncoder.encode_all(g["s"].tolist(), enc)
    elif kind in ("point_vector_fast", "point_vector_compact"):
        pts = g[["x", "y", "z"]].to_numpy(np.float64)
        EV.encode_s2point_vector(pts, enc, hint=kind.rsplit("_", 1)[1])
    else:
        raise ValueError(f"unknown vector kind {kind!r}")
    return bytes(enc.buf)


def encode_vectors(vectors: DataFrame) -> DataFrame:
    """Distributed encoded-vector export (EncodeS2CellIdVector /
    EncodeS2PointVector / EncodeUintVector / StringVectorEncoder —
    encoded_s2cell_id_vector.cc:61, encoded_s2point_vector.cc:108,
    encoded_uint_vector.h:205, encoded_string_vector.cc:51).

    Input: one row per element (vec_id, kind, idx, cell_id, x, y, z, s);
    output: (vec_id, encoding_hex, n_bytes).  Same single-shuffle plan
    as encode_geometries — groupBy(vec_id), per-task memory is one
    vector's elements: the plan for snapshotting millions of per-key
    coverings / point sets to the reference's lazy-decode wire format.
    """
    from ._group_batch import group_bounds, sorted_run_map

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        vid = pdf["vec_id"].to_numpy()
        ids, hexes, nbytes = [], [], []
        for lo, hi in group_bounds(vid):
            raw = _encode_vector_one(pdf.iloc[lo:hi])
            ids.append(vid[lo])
            hexes.append(raw.hex().upper())
            nbytes.append(len(raw))
        return pd.DataFrame({"vec_id": ids, "encoding_hex": hexes,
                             "n_bytes": nbytes})

    return sorted_run_map(
        vectors, "vec_id", emit,
        "vec_id string, encoding_hex string, n_bytes int",
        sort_cols=("idx",),
    )


def _build_index_one(pdf: pd.DataFrame):
    """One index group → (n_cells, encoded bytes) via the exact
    MutableS2ShapeIndex kernel."""
    from ..kernel.encodings import Encoder
    from ..kernel.mutable_index import MutableIndex
    from ..kernel.shape_index_coding import encode_shape_index
    from ..kernel.shapeutil import LaxPolygon, LaxPolyline

    index = MutableIndex()
    for sid, sg in sorted(pdf.groupby("shape_id"), key=lambda kv: kv[0]):
        kind = sg["kind"].iloc[0]
        if kind == "released":
            index.add(None)
            continue
        chains = []
        for _cid, cg in sorted(sg.groupby("chain_id"),
                               key=lambda kv: kv[0]):
            chains.append(cg.sort_values("vertex_idx")[["x", "y", "z"]]
                          .to_numpy(np.float64))
        if kind == "polyline":
            index.add(LaxPolyline(chains[0]))
        elif kind == "polygon":
            index.add(LaxPolygon(chains))
        else:
            raise ValueError(f"unknown shape kind {kind!r}")
    cells = index.cells()
    enc = Encoder()
    encode_shape_index(cells, index.num_shape_ids(), enc)
    return len(cells), bytes(enc.buf)


def encode_shape_indexes(shapes: DataFrame) -> DataFrame:
    """Distributed exact-index snapshot export (MutableS2ShapeIndex
    build, mutable_s2shape_index.cc:1380-1925, + its wire format,
    cc:1988-2008): one groupBy(index_id) shuffle; each task builds the
    reference-exact index for one geometry group and emits the
    byte-exact snapshot.  The plan for snapshotting millions of per-key
    feature sets to the reference's lazy-decode EncodedS2ShapeIndex
    format — per-task memory is one group's geometry.

    Input: (index_id, shape_id, kind, chain_id, vertex_idx, x, y, z);
    output: (index_id, n_cells, encoding_hex, n_bytes).
    """
    from ._group_batch import group_bounds, sorted_run_map

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..kernel.encodings import Encoder
        from ..kernel.mutable_index import MutableIndex
        from ..kernel.shape_index_coding import encode_shape_index
        from ..kernel.shapeutil import LaxPolygon, LaxPolyline

        # rows arrive sorted by (index_id, shape_id, chain_id,
        # vertex_idx): slice contiguous runs with numpy instead of
        # nested pandas groupbys (which dominated at small group sizes)
        iid = pdf["index_id"].to_numpy()
        sid = pdf["shape_id"].to_numpy()
        kind = pdf["kind"].to_numpy()
        cid = pdf["chain_id"].to_numpy()
        xyz = pdf[["x", "y", "z"]].to_numpy(np.float64)
        ids, cells, hexes, nbytes = [], [], [], []
        for lo, hi in group_bounds(iid):
            index = MutableIndex()
            for slo, shi in group_bounds(sid[lo:hi]):
                slo, shi = lo + slo, lo + shi
                k = kind[slo]
                if k == "released":
                    index.add(None)
                    continue
                chains = [xyz[slo + clo:slo + chi]
                          for clo, chi in group_bounds(cid[slo:shi])]
                if k == "polyline":
                    index.add(LaxPolyline(chains[0]))
                elif k == "polygon":
                    index.add(LaxPolygon(chains))
                else:
                    raise ValueError(f"unknown shape kind {k!r}")
            idx_cells = index.cells()
            enc = Encoder()
            encode_shape_index(idx_cells, index.num_shape_ids(), enc)
            raw = bytes(enc.buf)
            ids.append(iid[lo])
            cells.append(len(idx_cells))
            hexes.append(raw.hex().upper())
            nbytes.append(len(raw))
        return pd.DataFrame({"index_id": ids, "n_cells": cells,
                             "encoding_hex": hexes, "n_bytes": nbytes})

    return sorted_run_map(
        shapes, "index_id", emit,
        "index_id string, n_cells int, encoding_hex string, n_bytes int",
        sort_cols=("shape_id", "chain_id", "vertex_idx"),
    )
