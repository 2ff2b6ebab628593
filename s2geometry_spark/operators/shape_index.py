"""Distributed shape index — the MutableS2ShapeIndex analog.

The reference's index maps each S2CellId to the edges that intersect it,
subdividing until a cell holds at most ~10 edges
(mutable_s2shape_index.h:59-140, kMaxEdgesPerCell default,
mutable_s2shape_index.cc:75); that is what lets distance/containment
queries over "hundreds of millions of edges" touch only a neighborhood.

Spark re-expression:
  1. seed (map side): each edge row emits the seed-level cells it
     intersects — a recursive descent from the 6 faces using the exact
     edge-clipping test (kernel/clipping.py, ClipToPaddedFace +
     IntersectsRect with the reference's padding);
  2. refine (one shuffle): groupBy(seed_cell) + applyInPandas runs the
     purely-local subdivision — a cell's split redistributes only its
     own edges, so the reduce is embarrassingly parallel; hot seed cells
     are the only skew axis and `seed_level` moves it.

Index rows carry the edge endpoints, so queries never join back to the
edge table (the reference's clipped-shape storage, s2shape_index.h).

`indexed_closest_edges_join` then routes a radius-bounded closest-edge
query through the index: every index cell is expanded by the radius
(ring-1 at a level whose kMinWidth ≥ radius — the S2Cap covering bound,
s2metrics.h:42-63), the fact table explodes ancestors at the distinct
probe levels (the PIP-join trick), and one equi-join + exact distance
kernel + window top-k finishes it.  The fact table is never shuffled;
the probe side is broadcast.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import columns as CC
from ..kernel import cellid as K
from ..kernel import metrics
from ..kernel.cid import CID

# kCellPadding (mutable_s2shape_index.cc:66): conservative UV padding so
# clipped edges stay clipped under perturbation.
from ..kernel.clipping import (
    FACE_CLIP_ERROR_UV_COORD,
    INTERSECTS_RECT_ERROR_UV_DIST,
    clip_to_padded_face,
    intersects_rect,
    segs_intersect_rect,
)

CELL_PADDING = 2 * (FACE_CLIP_ERROR_UV_COORD + INTERSECTS_RECT_ERROR_UV_DIST)

EDGE_SCHEMA = (
    "shape_id int, edge_id int, ax double, ay double, az double,"
    " bx double, by double, bz double"
)

INDEX_SCHEMA = (
    "cell_id_s long, level int, shape_id int, edge_id int,"
    " ax double, ay double, az double, bx double, by double, bz double"
)


def edges_to_df(spark: SparkSession, shapes, partitions: int = 8) -> DataFrame:
    """Explode kernel Shape objects into an edge DataFrame (Arrow path —
    a 10⁵-edge shape ships as columnar batches, not 10⁵ pickled tuples)."""
    frames = []
    for shape in shapes:
        C = np.asarray(shape.edges_c, dtype=np.float64).reshape(-1, 3)
        D = np.asarray(shape.edges_d, dtype=np.float64).reshape(-1, 3)
        n = len(C)
        frames.append(
            pd.DataFrame(
                {
                    "shape_id": np.full(n, shape.shape_id, dtype=np.int32),
                    "edge_id": np.arange(n, dtype=np.int32),
                    "ax": C[:, 0], "ay": C[:, 1], "az": C[:, 2],
                    "bx": D[:, 0], "by": D[:, 1], "bz": D[:, 2],
                }
            )
        )
    pdf = (
        pd.concat(frames, ignore_index=True)
        if frames
        else pd.DataFrame(
            columns=["shape_id", "edge_id", "ax", "ay", "az", "bx", "by", "bz"]
        )
    )
    return spark.createDataFrame(pdf, EDGE_SCHEMA).repartition(partitions)


def _edge_intersects_cell(a: np.ndarray, b: np.ndarray, cid: CID) -> bool:
    """Exact MayIntersect(cell) test for one edge (the reference's
    S2ShapeIndexRegion::AnyEdgeIntersects path)."""
    face = int(cid.face())
    arr = np.array([cid.id], dtype=np.uint64)
    u_lo, u_hi, v_lo, v_hi = (float(v[0]) for v in K.get_bound_uv(arr))
    clipped = clip_to_padded_face(a, b, face, CELL_PADDING)
    if clipped is None:
        return False
    rect = (
        u_lo - CELL_PADDING,
        u_hi + CELL_PADDING,
        v_lo - CELL_PADDING,
        v_hi + CELL_PADDING,
    )
    return intersects_rect(clipped[0], clipped[1], rect)


# Long edges are pre-split into geodesic pieces so the straight UV chord
# of each piece deviates from the projected great-circle curve by at most
# ~θ²/4; that deviation is applied as a PER-PIECE padding (a constant pad
# sized for the worst piece would dwarf deep cells and blow up the
# refinement fan-out).  The reference gets the same effect from
# hierarchical interpolated clipping (s2edge_clipping.h).
MAX_PIECE_RAD = 0.02


def _piece_pad(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Per-piece UV padding: kCellPadding + θ²/4 chord-deviation bound."""
    d2 = ((np.asarray(a) - np.asarray(b)) ** 2).sum(-1)
    return CELL_PADDING + 0.25 * d2  # chord² ≥ θ² bound is conservative


def _uv_bounds(i_lo, j_lo, level: int):
    """Unpadded UV rect of the cell(s) at (i_lo, j_lo) — scalars or
    arrays."""
    from ..kernel import coords as C

    size = 1 << (30 - level)
    u0 = C.st_to_uv(C.ij_to_st_min(i_lo))
    u1 = C.st_to_uv(C.ij_to_st_min(np.asarray(i_lo) + size))
    v0 = C.st_to_uv(C.ij_to_st_min(j_lo))
    v1 = C.st_to_uv(C.ij_to_st_min(np.asarray(j_lo) + size))
    return (u0, u1, v0, v1)


# vectorized IntersectsRect moved to the kernel (clipping.py) in round 6
# so region probes can share it; re-exported under the historical name
_segs_intersect_rect = segs_intersect_rect


def _split_geodesic(a: np.ndarray, b: np.ndarray) -> list[tuple[np.ndarray, np.ndarray]]:
    d = a - b
    chord = math.sqrt(float((d * d).sum()))
    ang = 2 * math.asin(min(1.0, 0.5 * chord))
    n = max(1, int(math.ceil(ang / MAX_PIECE_RAD)))
    if n == 1:
        return [(a, b)]
    omega = ang
    so = math.sin(omega)
    pts = [a]
    for k in range(1, n):
        t = k / n
        p = (math.sin((1 - t) * omega) * a + math.sin(t * omega) * b) / so
        pts.append(p / np.linalg.norm(p))
    pts.append(b)
    return [(pts[k], pts[k + 1]) for k in range(n)]


def _piece_faces_uv(a: np.ndarray, b: np.ndarray):
    """(face, a_uv, b_uv) tuples for one short geodesic piece."""
    from ..kernel import coords as C

    fa = int(C.get_face(a[0], a[1], a[2]))
    fb = int(C.get_face(b[0], b[1], b[2]))
    if fa == fb:
        ua, va = (float(x) for x in C.valid_face_xyz_to_uv(fa, a[0], a[1], a[2]))
        ub, vb = (float(x) for x in C.valid_face_xyz_to_uv(fa, b[0], b[1], b[2]))
        return [(fa, (ua, va), (ub, vb))]
    out = []
    for f in range(6):
        clipped = clip_to_padded_face(a, b, f, CELL_PADDING)
        if clipped is not None:
            out.append((f, tuple(clipped[0]), tuple(clipped[1])))
    return out


def _seed_assignments(
    A2: np.ndarray, B2: np.ndarray, pad: np.ndarray, seed_level: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized frontier expansion: all (piece_idx, i_lo, j_lo) pairs
    at seed_level whose padded chord touches the cell — one face at a
    time (inputs are all on one face)."""
    pi = np.arange(len(A2), dtype=np.int64)
    il = np.zeros(len(A2), dtype=np.int64)
    jl = np.zeros(len(A2), dtype=np.int64)
    for level in range(seed_level):
        half = 1 << (30 - level - 1)
        keep_pi, keep_i, keep_j = [], [], []
        for di, dj in ((0, 0), (half, 0), (0, half), (half, half)):
            ci, cj = il + di, jl + dj
            rect = _uv_bounds(ci, cj, level + 1)
            m = _segs_intersect_rect(A2[pi], B2[pi], rect, pad[pi])
            keep_pi.append(pi[m])
            keep_i.append(ci[m])
            keep_j.append(cj[m])
        pi = np.concatenate(keep_pi)
        il = np.concatenate(keep_i)
        jl = np.concatenate(keep_j)
    return pi, il, jl


def build_shape_index(
    edges: DataFrame,
    max_edges_per_cell: int = 10,
    max_level: int = 20,
    seed_level: int = 6,
) -> DataFrame:
    """edges(EDGE_SCHEMA) → index rows (INDEX_SCHEMA): each cell holds at
    most `max_edges_per_cell` distinct edges unless already at
    `max_level`.  The cell set is a conservative superset of the exact
    MayIntersect cells (padded UV chords), which is what distance and
    containment queries require; `seed_level` (default 6, ~1.3° cells)
    bounds the size of any one refine group — the skew knob."""
    from ..kernel.hilbert import from_face_ij

    seed_schema = (
        "cell_id_s long, shape_id int, edge_id int,"
        " au double, av double, bu double, bv double, pad double,"
        " ax double, ay double, az double, bx double, by double, bz double"
    )
    seed_cols = [
        "cell_id_s", "shape_id", "edge_id",
        "au", "av", "bu", "bv", "pad",
        "ax", "ay", "az", "bx", "by", "bz",
    ]

    def seed(batches):
        from ..kernel import coords as C

        for pdf in batches:
            A = pdf[["ax", "ay", "az"]].to_numpy(np.float64)
            B = pdf[["bx", "by", "bz"]].to_numpy(np.float64)
            sid = pdf["shape_id"].to_numpy(np.int64)
            eid = pdf["edge_id"].to_numpy(np.int64)
            # pieces: (orig_row, pa, pb); most edges are one piece — keep
            # those fully vectorized and loop only the rare long edges
            d = A - B
            chord = np.sqrt((d * d).sum(-1))
            ang = 2.0 * np.arcsin(np.minimum(1.0, 0.5 * chord))
            n_pieces = np.maximum(1, np.ceil(ang / MAX_PIECE_RAD).astype(np.int64))
            multi = np.nonzero(n_pieces > 1)[0]
            single = np.nonzero(n_pieces <= 1)[0]
            rows_l, PA_l, PB_l = [single], [A[single]], [B[single]]
            for r in multi:
                pieces = _split_geodesic(A[r], B[r])
                rows_l.append(np.full(len(pieces), r, dtype=np.int64))
                PA_l.append(np.array([p[0] for p in pieces]))
                PB_l.append(np.array([p[1] for p in pieces]))
            rows = np.concatenate(rows_l)
            PA = np.concatenate(PA_l).reshape(-1, 3)
            PB = np.concatenate(PB_l).reshape(-1, 3)
            pad = _piece_pad(PA, PB)
            fa = C.get_face(PA[:, 0], PA[:, 1], PA[:, 2])
            fb = C.get_face(PB[:, 0], PB[:, 1], PB[:, 2])
            same = fa == fb
            frames = []
            # fast path: same-face pieces, vectorized per face
            for f in np.unique(fa[same]):
                m = same & (fa == f)
                ua, va = C.valid_face_xyz_to_uv(f, PA[m, 0], PA[m, 1], PA[m, 2])
                ub, vb = C.valid_face_xyz_to_uv(f, PB[m, 0], PB[m, 1], PB[m, 2])
                A2 = np.stack([ua, va], -1)
                B2 = np.stack([ub, vb], -1)
                sub = np.nonzero(m)[0]
                pi, il, jl = _seed_assignments(A2, B2, pad[m], seed_level)
                if not len(pi):
                    continue
                leafs = from_face_ij(np.full(len(pi), f), il, jl)
                # K.bias (uint64 XOR + view), NOT `astype(int64) - 2**63`:
                # the Python int 2**63 does not fit int64, so NumPy
                # promotes the subtraction to float64 — silently
                # corrupting face-4/5 cell ids (caught by the
                # incremental-update fixture on face 4)
                cells = K.bias(K.parent(leafs, seed_level))
                src = rows[sub[pi]]
                frames.append(
                    pd.DataFrame(
                        {
                            "cell_id_s": cells,
                            "shape_id": sid[src].astype(np.int32),
                            "edge_id": eid[src].astype(np.int32),
                            "au": A2[pi, 0], "av": A2[pi, 1],
                            "bu": B2[pi, 0], "bv": B2[pi, 1],
                            "pad": pad[sub[pi]],
                            "ax": A[src, 0], "ay": A[src, 1], "az": A[src, 2],
                            "bx": B[src, 0], "by": B[src, 1], "bz": B[src, 2],
                        }
                    )
                )
            # slow path: face-crossing pieces (rare), scalar clipping
            cross = np.nonzero(~same)[0]
            out = []
            for p in cross:
                r = int(rows[p])
                for f, auv, buv in _piece_faces_uv(PA[p], PB[p]):
                    A2 = np.array([auv])
                    B2 = np.array([buv])
                    pi, il, jl = _seed_assignments(
                        A2, B2, pad[p : p + 1], seed_level
                    )
                    for k in range(len(pi)):
                        leaf = from_face_ij(
                            np.array([f]), il[k : k + 1], jl[k : k + 1]
                        )
                        cell = int(K.parent(leaf, seed_level)[0]) - (1 << 63)
                        out.append(
                            (
                                cell, int(sid[r]), int(eid[r]),
                                auv[0], auv[1], buv[0], buv[1], float(pad[p]),
                                A[r][0], A[r][1], A[r][2],
                                B[r][0], B[r][1], B[r][2],
                            )
                        )
            if out:
                frames.append(pd.DataFrame(out, columns=seed_cols))
            # dtype-exact even for EMPTY batches/frames: pandas gives
            # object/float64 columns to empties, which Arrow refuses to
            # safe-cast to the int64/int32 schema (hit by rebuilt edge
            # tables with empty partitions, update_shape_index)
            seed_dtypes = {
                "cell_id_s": "int64", "shape_id": "int32", "edge_id": "int32",
                "au": "float64", "av": "float64", "bu": "float64",
                "bv": "float64", "pad": "float64",
                "ax": "float64", "ay": "float64", "az": "float64",
                "bx": "float64", "by": "float64", "bz": "float64",
            }
            yield (
                pd.concat(frames, ignore_index=True)
                if frames
                else pd.DataFrame(columns=seed_cols)
            ).astype(seed_dtypes)

    seeded = edges.mapInPandas(seed, seed_schema)

    def refine(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from ..kernel.hilbert import to_face_ij_orientation

        root_raw = np.array([int(key[0]) + (1 << 63)], dtype=np.uint64)
        root_level = int(K.level(root_raw)[0])
        face, i, j, _ = to_face_ij_orientation(root_raw)
        face = int(face[0])
        size = 1 << (30 - root_level)
        i0, j0 = int(i[0]) & -size, int(j[0]) & -size

        A2 = pdf[["au", "av"]].to_numpy(np.float64)
        B2 = pdf[["bu", "bv"]].to_numpy(np.float64)
        pad = pdf["pad"].to_numpy(np.float64)
        A3 = pdf[["ax", "ay", "az"]].to_numpy(np.float64)
        B3 = pdf[["bx", "by", "bz"]].to_numpy(np.float64)
        ekey = (
            pdf["shape_id"].to_numpy(np.int64) << 32
        ) | pdf["edge_id"].to_numpy(np.int64)
        # GetEdgeMaxLevel (mutable_s2shape_index.cc:1199-1211): the first
        # level at which the edge counts as "long" — kAvgEdge
        # GetLevelForMaxValue(|v0-v1| * cell_size_to_long_edge_ratio),
        # ratio 1.0.  Long edges never force subdivision (below), which
        # keeps the index linear in edge count: without this rule, N
        # identical face-diagonal edges subdivide every cell on their
        # path to max_level — O(N * 4^max_level) rows at continental
        # scale (the reference's ManyIdenticalEdges regression).
        elen = np.sqrt(((A3 - B3) ** 2).sum(axis=1))
        with np.errstate(divide="ignore"):
            expo = np.frexp(elen / 1.459213746386106062)[1] - 1
        edge_max_level = np.where(
            elen > 0, np.clip(-expo, 0, 30), 30
        ).astype(np.int64)
        # Breadth-first vectorized descent: the recursion is flattened so
        # every numpy call operates on the WHOLE level frontier (all live
        # cells × their pairs) instead of one quadtree node at a time —
        # the per-node call overhead was most of the refine CPU.  Emitted
        # cells accumulate as arrays; the cell-id encode, key unpack and
        # endpoint gather run vectorized once at the end.
        em_i: list[np.ndarray] = []
        em_j: list[np.ndarray] = []
        em_lvl: list[int] = []
        em_rows: list[np.ndarray] = []
        em_counts: list[np.ndarray] = []

        cells_i = np.array([i0], dtype=np.int64)
        cells_j = np.array([j0], dtype=np.int64)
        pair_cell = np.zeros(len(pdf), dtype=np.int64)
        pair_row = np.arange(len(pdf), dtype=np.int64)
        level = root_level
        while len(cells_i):
            order = np.lexsort((ekey[pair_row], pair_cell))
            pc = pair_cell[order]
            pr = pair_row[order]
            ek = ekey[pr]
            first = np.ones(len(pc), dtype=bool)
            first[1:] = (pc[1:] != pc[:-1]) | (ek[1:] != ek[:-1])
            n_cells = len(cells_i)
            n_edges = np.bincount(pc[first], minlength=n_cells)
            # Short-edge rule (mutable_s2shape_index.cc:1816-1833):
            # subdivide only when the count of edges SHORT relative to
            # this cell (cell level < edge max level) exceeds
            # max(max_edges_per_cell, f * n_edges) with
            # f = s2shape_index_min_short_edge_fraction = 0.2.
            n_short = np.bincount(
                pc[first & (edge_max_level[pr] > level)], minlength=n_cells
            )
            stop = (
                (n_edges <= max_edges_per_cell)
                | (level >= max_level)
                | (n_short <= np.maximum(
                    max_edges_per_cell, (0.2 * n_edges).astype(np.int64)
                ))
            )
            if stop.any():
                sel = first & stop[pc]
                em_i.append(cells_i[stop])
                em_j.append(cells_j[stop])
                em_lvl.append(level)
                em_rows.append(pr[sel])
                em_counts.append(n_edges[stop])
            live = np.nonzero(~stop)[0]
            if not len(live):
                break
            remap = np.full(n_cells, -1, dtype=np.int64)
            remap[live] = np.arange(len(live))
            keep = ~stop[pc]
            ppar = remap[pc[keep]]
            prow = pr[keep]
            half = 1 << (30 - level - 1)
            li, lj = cells_i[live], cells_j[live]
            nc_list, ni_list, nj_list, np_list, nr_list = [], [], [], [], []
            base = 0
            for k, (di, dj) in enumerate(
                ((0, 0), (half, 0), (0, half), (half, half))
            ):
                ci = li[ppar] + di
                cj = lj[ppar] + dj
                mask = _segs_intersect_rect(
                    A2[prow], B2[prow],
                    _uv_bounds(ci, cj, level + 1), pad[prow],
                )
                np_list.append(ppar[mask] * 4 + k)
                nr_list.append(prow[mask])
            pair_cell = np.concatenate(np_list)
            pair_row = np.concatenate(nr_list)
            # child cell table in (parent, k) layout; prune empty children
            occ = np.bincount(pair_cell, minlength=4 * len(live)) > 0
            remap2 = np.cumsum(occ) - 1
            pair_cell = remap2[pair_cell]
            kk = np.arange(4 * len(live), dtype=np.int64)
            par = kk >> 2
            child = kk & 3
            ci_all = li[par] + np.where((child == 1) | (child == 3), half, 0)
            cj_all = lj[par] + np.where((child == 2) | (child == 3), half, 0)
            cells_i = ci_all[occ]
            cells_j = cj_all[occ]
            level += 1
        dtypes = {
            "cell_id_s": "int64", "level": "int32",
            "shape_id": "int32", "edge_id": "int32",
            "ax": "float64", "ay": "float64", "az": "float64",
            "bx": "float64", "by": "float64", "bz": "float64",
        }
        if not em_rows:
            return pd.DataFrame(
                {c: pd.Series(dtype=t) for c, t in dtypes.items()}
            )
        counts = np.concatenate(em_counts)
        rows_cat = np.concatenate(em_rows)
        lv = np.concatenate(
            [np.full(len(a), l, dtype=np.int64) for a, l in zip(em_i, em_lvl)]
        )
        leafs = from_face_ij(
            np.full(sum(len(a) for a in em_i), face, dtype=np.int64),
            np.concatenate(em_i),
            np.concatenate(em_j),
        )
        cells = np.empty(len(leafs), dtype=np.uint64)
        for l in np.unique(lv):
            m = lv == l
            cells[m] = K.parent(leafs[m], int(l))
        keys = ekey[rows_cat]
        return pd.DataFrame(
            {
                "cell_id_s": np.repeat(K.bias(cells), counts),
                "level": np.repeat(lv, counts).astype(np.int32),
                "shape_id": (keys >> 32).astype(np.int32),
                "edge_id": (keys & 0xFFFFFFFF).astype(np.int32),
                "ax": A3[rows_cat, 0], "ay": A3[rows_cat, 1],
                "az": A3[rows_cat, 2],
                "bx": B3[rows_cat, 0], "by": B3[rows_cat, 1],
                "bz": B3[rows_cat, 2],
            }
        ).astype(dtypes)

    # Explicit hash repartition before the group map: the refine stage is
    # CPU-heavy Python over few bytes, and AQE's size-based partition
    # coalescing was collapsing its 64 shuffle partitions to 8 (~12 MB
    # total), capping parallelism at 8 cores.  A user repartition by the
    # group key satisfies the groupBy clustering (no extra exchange) and
    # is exempt from AQE coalescing.
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "64"))
    return (
        seeded.repartition(n_part, "cell_id_s")
        .groupBy("cell_id_s")
        .applyInPandas(refine, INDEX_SCHEMA)
    )


def _probe_level_for(max_distance_rad: float, deepest: int = 30) -> int:
    """Deepest level whose kMinWidth ≥ the radius: a ring-1 neighborhood
    at that level covers everything within the radius of a cell."""
    lvl = 0
    while lvl < deepest and metrics.MIN_WIDTH.get_value(lvl + 1) >= max_distance_rad:
        lvl += 1
    return lvl


def _descend_cells(cells: np.ndarray, from_level: int, to_level: int) -> np.ndarray:
    """All descendants of `cells` (uint64, at from_level) at `to_level`
    (s2cell_id.h child_begin/next algebra, vectorized).  from==to → cells."""
    if to_level <= from_level:
        return cells
    lsb_f = np.uint64(1) << np.uint64(2 * (30 - from_level))
    lsb_t = np.uint64(1) << np.uint64(2 * (30 - to_level))
    nk = 4 ** (to_level - from_level)
    # k-th descendant = range_min - 1 + (2k+1)*lsb_t = id - lsb_f + (2k+1)*lsb_t
    start = cells - lsb_f + lsb_t
    steps = (np.uint64(2) * np.arange(nk, dtype=np.uint64)) * lsb_t
    return (start[:, None] + steps[None, :]).ravel()


def probe_cells_df(index: DataFrame, max_distance_rad: float) -> DataFrame:
    """Expand each index cell by the radius: lift deep cells to the probe
    level, ring-1 all-neighbors + self, one probe row per (cell, edge).
    Rings are computed once per *unique* lifted cell (many index rows
    share one), then broadcast back over the rows."""
    l_d = _probe_level_for(max_distance_rad)

    @F.pandas_udf("array<long>")
    def probes(cell_s: pd.Series, level: pd.Series) -> pd.Series:
        ids = K.unbias(cell_s.to_numpy(np.int64))
        lvls = np.minimum(level.to_numpy(np.int64), l_d)
        out = [None] * len(ids)
        for pl in np.unique(lvls):
            sel = np.nonzero(lvls == pl)[0]
            lifted = K.parent(ids[sel], int(pl))
            uniq, inv = np.unique(lifted, return_inverse=True)
            rings = K.all_neighbors(uniq, int(pl))
            cell_lists = [
                sorted(
                    {int(u) - (1 << 63)}
                    | {int(v) - (1 << 63) for v in r.tolist()}
                )
                for u, r in zip(uniq.tolist(), rings)
            ]
            for k, row in enumerate(sel.tolist()):
                out[row] = cell_lists[inv[k]]
        return pd.Series(out)

    probe = (
        index.withColumn("probe_cell_s", F.explode(probes("cell_id_s", "level")))
        .select(
            "probe_cell_s", "shape_id", "edge_id",
            "ax", "ay", "az", "bx", "by", "bz",
        )
    )
    return probe.dropDuplicates(["probe_cell_s", "shape_id", "edge_id"])


def indexed_closest_edges_join(
    points: DataFrame,
    index: DataFrame,
    k: int = 1,
    max_distance_rad: float = 0.1,
    point_key: tuple[str, ...] = ("key",),
) -> DataFrame:
    """points(lat, lng, cell_id_s leaf, …) ⋈ shape index → per point the
    k closest edges within the radius: (point cols, shape_id, edge_id,
    dist2, dist_rad).  The fact table is scanned once, never shuffled
    (broadcast probe join); candidates are O(edges within radius)."""
    spark = points.sparkSession
    # ring-1 at level 0 covers 5 of 6 faces (the opposite face is not
    # adjacent), so the ring-1 construction is only valid while a level
    # exists whose cells are at least as wide as the radius
    if max_distance_rad > metrics.MIN_WIDTH.get_value(0):
        raise ValueError(
            "indexed_closest_edges_join supports radii up to kMinWidth(0) "
            f"({metrics.MIN_WIDTH.get_value(0):.3f} rad); use "
            "closest_edges_join for near-global radii"
        )
    # probe derives from the (small, usually cached) index; it is NOT
    # persisted — holding it pins executor memory long after the join and
    # degrades later queries' GC profile.  Probe levels and the broadcast
    # decision come from the index itself, so the probe table is
    # evaluated exactly once (inside the join).
    l_d = _probe_level_for(max_distance_rad)
    limit2 = float((2 * math.sin(0.5 * min(math.pi, max_distance_rad))) ** 2)

    def _lift_select():
        return index.select(
            F.when(
                F.col("level") >= l_d, CC.parent("cell_id_s", l_d)
            ).otherwise(F.col("cell_id_s")).alias("lcell"),
            F.least(F.col("level"), F.lit(l_d)).alias("llevel"),
            "shape_id", "edge_id", "ax", "ay", "az", "bx", "by", "bz",
        )

    # A materialized cached index carries an exact row count in its plan
    # statistics — read it without running a job; when it is broadcast-
    # sized, collect the lifted index directly and derive the gate from
    # the collected rows (skipping the separate stats aggregation job).
    def _cached_rowcount(df) -> int | None:
        try:
            rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
            return None if rc.isEmpty() else int(str(rc.get()))
        except Exception:
            return None

    n_rows = _cached_rowcount(index)
    lift_pdf = None
    stats = None
    if n_rows is not None and n_rows <= 2_000_000:
        lift_pdf = _lift_select().toPandas()
        llev_all = lift_pdf["llevel"].to_numpy(np.int64)
        # fast-path broadcast = index rows lifted to the probe level, with
        # coarser-than-probe cells descended 4^(l_d - level)× each
        if int((4 ** (l_d - llev_all)).sum()) > 2_000_000:
            lift_pdf = None
    if lift_pdf is None:
        stats = index.select(
            F.least(F.col("level"), F.lit(l_d)).alias("l")
        ).groupBy("l").count().collect()
        desc_bound = sum(
            int(r["count"]) * 4 ** (l_d - int(r.l)) for r in stats
        )
        if desc_bound <= 2_000_000:
            lift_pdf = _lift_select().toPandas()

    if lift_pdf is not None:
        # Fast path — the probe geometry is inverted relative to the
        # fallback (ring-1 adjacency is symmetric): instead of ring-
        # expanding every INDEX row 9× and broadcasting ~9·|index| probe
        # rows, broadcast the index itself lifted to the probe level
        # (pure-JVM parent(); the rare coarser-than-probe cells descend
        # into their probe-level children — identical region), and
        # ring-explode the POINT side — but only the few points that
        # survive a broadcast semi join against the distinct ring-cell
        # set (a set of longs, tiny).  The xyz conversion (the only
        # Python) runs per MATCHED point, the chord distance is a
        # whole-stage-codegen op-for-op IEEE mirror of
        # kernel.distance.point_edge_dist2_rowwise (bit-identical), and
        # the candidate dedup shuffles only the small matched set.
        # one fused Python pass per matched point: xyz trig + self+ring-1
        # cell list (two separate UDFs would pay the per-task Python
        # worker handshake twice)
        @F.pandas_udf(
            "struct<x:double,y:double,z:double,cells:array<long>>"
        )
        def prep(lat: pd.Series, lng: pd.Series, term: pd.Series) -> pd.DataFrame:
            from ..kernel.coords import latlng_to_xyz

            x, y, z = latlng_to_xyz(
                lat.to_numpy(np.float64), lng.to_numpy(np.float64)
            )
            ids = K.unbias(term.to_numpy(np.int64))
            rings = K.all_neighbors(ids, l_d)
            cells = [
                [int(c) - (1 << 63)] + K.bias(r).tolist()
                for c, r in zip(ids.tolist(), rings)
            ]
            return pd.DataFrame({"x": x, "y": y, "z": z, "cells": cells})

        # The gate above certifies the lifted index is broadcast-sized
        # (lift_pdf was pulled to the driver ONCE — Arrow, one cache-scan
        # job, no UDFs) and both broadcast sides derive from local data:
        # running these as distributed broadcast subtrees instead costs
        # two more full index scans plus a per-task Python handshake for
        # every ring/descend UDF task (measured: 37 CPU-seconds of pure
        # overhead).  Driver memory here is the same order as the
        # broadcast the driver must hold anyway.
        llev = lift_pdf["llevel"].to_numpy(np.int64)
        if (llev < l_d).any():  # rare coarser-than-probe cells: descend
            parts = [lift_pdf[llev == l_d]]
            for pl in np.unique(llev[llev < l_d]):
                sub = lift_pdf[llev == pl]
                nk = 4 ** (l_d - int(pl))
                desc = _descend_cells(
                    K.unbias(sub["lcell"].to_numpy(np.int64)), int(pl), l_d
                )
                rep = sub.loc[sub.index.repeat(nk)].reset_index(drop=True)
                rep["lcell"] = K.bias(desc)
                parts.append(rep)
            lift_pdf = pd.concat(parts, ignore_index=True)
        uniq = np.unique(K.unbias(lift_pdf["lcell"].to_numpy(np.int64)))
        rings = K.all_neighbors(uniq, l_d)
        ring_cells = np.unique(
            np.concatenate([uniq] + [r.astype(np.uint64) for r in rings])
        )
        spark = points.sparkSession
        ring_set = spark.createDataFrame(
            pd.DataFrame({"rcell": K.bias(ring_cells)}), "rcell long"
        )
        idx_l = spark.createDataFrame(
            lift_pdf.drop(columns=["llevel"]).astype({"lcell": "int64"}),
            "lcell long, shape_id int, edge_id int, ax double, ay double,"
            " az double, bx double, by double, bz double",
        )
        pts_t = points.withColumn("_term", CC.parent("cell_id_s", l_d))
        matched = pts_t.join(
            F.broadcast(ring_set),
            pts_t["_term"] == ring_set["rcell"],
            "left_semi",
        )
        # Decide with small rows, attach heavy rows once (guide §8): only
        # (point_key, xyz, ring cell) flows through the pair join —
        # materializing every point column per candidate pair cost ~90
        # CPU-seconds of row copying at a 6.6M-pair radius.  The full
        # point row re-attaches to the tiny top-k result at the end.
        # The fused prep UDF runs pipelined INSIDE the scan stage (no
        # exchange), keeping the Python work as parallel as the scan —
        # a repartition here let AQE coalesce the matched set to ONE
        # python task by bytes, a measured multi-second serial wall.
        narrow = matched.select(*point_key, "lat", "lng", "_term")
        prepped = narrow.withColumn(
            "_pt", prep(F.col("lat"), F.col("lng"), F.col("_term"))
        )
        flat = prepped.select(
            *point_key,
            F.col("_pt.x").alias("_px"),
            F.col("_pt.y").alias("_py"),
            F.col("_pt.z").alias("_pz"),
            F.explode(F.col("_pt.cells")).alias("_rc"),
        )
        cand = flat.join(
            F.broadcast(idx_l), flat["_rc"] == idx_l["lcell"], "inner"
        ).drop("_rc", "lcell")
        # The exact chord distance is THE kernel itself (NumPy, one
        # vectorized ArrowEval over the narrow candidate rows — 9 doubles
        # in, 1 out; bit-identity is definitional).  A whole-stage-codegen
        # mirror was tried and abandoned: the expression tree re-expands
        # every shared subterm, the generated consume method blew past
        # HotSpot's JIT size limit and the hot loop ran bytecode-
        # interpreted at ~16 µs/row (thread-dump evidence); staging it
        # through intermediate projections was slower still.
        @F.pandas_udf("double")
        def dist2_xyz(
            px: pd.Series, py: pd.Series, pz: pd.Series,
            ax: pd.Series, ay: pd.Series, az: pd.Series,
            bx: pd.Series, by: pd.Series, bz: pd.Series,
        ) -> pd.Series:
            from ..kernel.distance import point_edge_dist2_rowwise

            X = np.stack([px, py, pz], -1).astype(np.float64)
            A = np.stack([ax, ay, az], -1).astype(np.float64)
            B = np.stack([bx, by, bz], -1).astype(np.float64)
            return pd.Series(point_edge_dist2_rowwise(X, A, B))

        # non-deterministic marker: single ArrowEval (guide §4.4 — the
        # pushed radius filter would otherwise evaluate the UDF twice)
        dist2_fast = dist2_xyz.asNondeterministic()
        scored = (
            cand.withColumn(
                "dist2",
                dist2_fast(
                    F.col("_px"), F.col("_py"), F.col("_pz"),
                    F.col("ax"), F.col("ay"), F.col("az"),
                    F.col("bx"), F.col("by"), F.col("bz"),
                ),
            )
            .filter(F.col("dist2") < F.lit(limit2))
            # an edge reachable through two different lifted cells of one
            # point's ring yields the pair twice — dedupe the (narrow,
            # already distance-filtered) pair rows before the top-k
            .dropDuplicates([*point_key, "shape_id", "edge_id"])
        )
        w = Window.partitionBy(*point_key).orderBy(
            F.col("dist2").asc(), F.col("shape_id").asc(), F.col("edge_id").asc()
        )
        topk = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select(*point_key, "shape_id", "edge_id", "dist2")
        )
        return (
            topk.join(matched.drop("_term"), list(point_key), "inner")
            .select(*points.columns, "shape_id", "edge_id", "dist2")
            .withColumn(
                "dist_rad",
                2 * F.asin(0.5 * F.sqrt(F.least(F.col("dist2"), F.lit(4.0)))),
            )
        )
    else:
        # Huge/coarse index fallback: multi-level ancestor explode +
        # per-pair dedup; above the broadcast bound the fact table
        # shuffles on the probe cell, which AQE skew-splits.
        levels = sorted(int(r.l) for r in stats)
        # ring-1 expansion ⇒ ≤ 9 probe rows per index row (before dedupe)
        n_probe_bound = 9 * sum(int(r["count"]) for r in stats)
        probe = probe_cells_df(index, max_distance_rad)
        probe_side = F.broadcast(probe) if n_probe_bound <= 2_000_000 else probe
        terms = points.withColumn(
            "_term", F.explode(CC.ancestors_array("cell_id_s", levels))
        )
        cand = terms.join(
            probe_side, terms["_term"] == probe["probe_cell_s"], "inner"
        ).drop("_term", "probe_cell_s")
        # With a single probe level, a point has exactly one ancestor term
        # and probe rows are distinct on (cell, edge) → each (point, edge)
        # pair appears at most once, so no dedup shuffle is needed.  Mixed
        # probe levels can duplicate a pair across levels → dedupe then.
        if len(levels) > 1:
            cand = cand.dropDuplicates([*point_key, "shape_id", "edge_id"])

        @F.pandas_udf("double")
        def dist2(
            lat: pd.Series, lng: pd.Series,
            ax: pd.Series, ay: pd.Series, az: pd.Series,
            bx: pd.Series, by: pd.Series, bz: pd.Series,
        ) -> pd.Series:
            from ..kernel.coords import latlng_to_xyz
            from ..kernel.distance import point_edge_dist2_rowwise

            x, y, z = latlng_to_xyz(
                lat.to_numpy(np.float64), lng.to_numpy(np.float64)
            )
            X = np.stack([x, y, z], -1)
            A = np.stack([ax, ay, az], -1).astype(np.float64)
            B = np.stack([bx, by, bz], -1).astype(np.float64)
            return pd.Series(point_edge_dist2_rowwise(X, A, B))

        # non-deterministic marker: stops Catalyst pushing the filter
        # below the UDF projection and evaluating the UDF twice (guide
        # §4.4 — the before-plan had two ArrowEvalPython nodes)
        dist2_nd = dist2.asNondeterministic()
        scored = cand.withColumn(
            "dist2",
            dist2_nd(
                F.col("lat"), F.col("lng"),
                F.col("ax"), F.col("ay"), F.col("az"),
                F.col("bx"), F.col("by"), F.col("bz"),
            ),
        ).filter(F.col("dist2") < F.lit(limit2))
    w = Window.partitionBy(*point_key).orderBy(
        F.col("dist2").asc(), F.col("shape_id").asc(), F.col("edge_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "ax", "ay", "az", "bx", "by", "bz")
        .withColumn(
            "dist_rad",
            2 * F.asin(0.5 * F.sqrt(F.least(F.col("dist2"), F.lit(4.0)))),
        )
    )


EDGE_COLS = ["shape_id", "edge_id", "ax", "ay", "az", "bx", "by", "bz"]


def update_shape_index(
    index: DataFrame,
    added_edges: DataFrame | None = None,
    removed_shape_ids: tuple[int, ...] = (),
    max_edges_per_cell: int = 10,
    max_level: int = 20,
    seed_level: int = 6,
) -> DataFrame:
    """Incremental index update — the MutableS2ShapeIndex lazy batched
    update (mutable_s2shape_index.cc:200+) re-expressed as merge-on-read
    over seed groups.

    The index is, by construction, the union over seed-level cells of a
    purely LOCAL refinement of the edges intersecting each cell
    (build_shape_index), so an edge change can only affect the seed
    groups its edges touch:

      1. changed = seed cells of the added edges (found by indexing just
         the additions) ∪ seed cells holding rows of removed shapes;
      2. untouched rows (seed ∉ changed) are reused verbatim — no
         recompute, no shuffle of their edges;
      3. the changed region rebuilds from its surviving edges (recovered
         from the old index rows, which carry full edge endpoints —
         no join back to an edge table) plus the additions.

    The result is row-identical to rebuilding from scratch (`refine` is
    deterministic per (seed cell, edge set)).  Pass the same
    max_edges_per_cell / max_level / seed_level the index was built
    with."""
    from functools import reduce

    removed = [int(s) for s in removed_shape_ids]
    seed_parent = CC.parent(F.col("cell_id_s"), seed_level)
    changed_parts = []
    if removed:
        changed_parts.append(
            index.filter(F.col("shape_id").isin(removed))
            .select(seed_parent.alias("seed_s"))
        )
    if added_edges is not None:
        added_idx = build_shape_index(
            added_edges, max_edges_per_cell, max_level, seed_level
        )
        changed_parts.append(added_idx.select(seed_parent.alias("seed_s")))
    if not changed_parts:
        return index
    changed = reduce(DataFrame.unionByName, changed_parts).distinct()

    keyed = index.withColumn("seed_s", seed_parent)
    untouched = keyed.join(changed, "seed_s", "left_anti").drop("seed_s")
    old_region = keyed.join(changed, "seed_s", "left_semi")
    surviving = (
        old_region.filter(~F.col("shape_id").isin(removed))
        if removed
        else old_region
    ).select(*EDGE_COLS).distinct()
    rebuild_edges = (
        surviving.unionByName(added_edges.select(*EDGE_COLS))
        if added_edges is not None
        else surviving
    )
    rebuilt = (
        build_shape_index(
            rebuild_edges, max_edges_per_cell, max_level, seed_level
        )
        .withColumn("seed_s", seed_parent)
        .join(changed, "seed_s", "left_semi")
        .drop("seed_s")
    )
    return untouched.unionByName(rebuilt)
