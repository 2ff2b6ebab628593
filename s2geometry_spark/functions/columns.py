"""JVM-side S2CellId hierarchy algebra as Spark Column expressions.

Cell ids are stored **biased**: ``cell_id_s = int64(uint64_id - 2**63)``
(MSB flipped), which makes signed ordering equal unsigned cell-id ordering
(SURVEY.md §1.2).  Because the bias only flips bit 63 and every valid cell
id has its lowest set bit at position ≤ 60 (s2cell_id.h:57-76), all the
bit-trick hierarchy operations of the reference (s2cell_id.h:630-746) work
*directly on the biased signed value*:

- ``lsb = id & -id``          touches only low bits → identical
- ``parent = (id & -lsb_l) | lsb_l``  the mask keeps bit 63 intact
- ``range_min/max = id ∓ (lsb-1)``    never borrows/carries across bit 60

These therefore run entirely inside whole-stage codegen — no Python, no
Arrow transfer — which is what makes containment/range joins on cell ids
pure JVM equi/range joins at 100 TB scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_LEVEL = 30
_BIAS_LIT = -(2**63)  # XOR with this literal flips bit 63 (bias <-> raw bits)


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def lsb_for_level(level: int) -> int:
    """1 << (2*(30-level)) — constant per level (s2cell_id.h:502)."""
    return 1 << (2 * (MAX_LEVEL - level))


def lsb(cell: Column | str) -> Column:
    cell = _c(cell)
    return cell.bitwiseAND(-cell)


def level(cell: Column | str) -> Column:
    """level = 30 - trailing_zeros/2; log2 of a power of two is exact."""
    return (
        F.lit(MAX_LEVEL) - (F.log2(lsb(cell).cast("double")) / 2).cast("int")
    ).cast("int")


def parent(cell: Column | str, lvl: int) -> Column:
    """parent(l) = (id & -lsb(l)) | lsb(l)  (s2cell_id.h:662-668)."""
    nlsb = lsb_for_level(lvl)
    return _c(cell).bitwiseAND(F.lit(-nlsb)).bitwiseOR(F.lit(nlsb))


def range_min(cell: Column | str) -> Column:
    cell = _c(cell)
    return cell - (lsb(cell) - 1)


def range_max(cell: Column | str) -> Column:
    cell = _c(cell)
    return cell + (lsb(cell) - 1)


def range_min_at(cell: Column | str, lvl: int) -> Column:
    """range_min for a cell known to be at level `lvl` (cheaper: constant lsb)."""
    return _c(cell) - F.lit(lsb_for_level(lvl) - 1)


def range_max_at(cell: Column | str, lvl: int) -> Column:
    return _c(cell) + F.lit(lsb_for_level(lvl) - 1)


def contains(a: Column | str, b: Column | str) -> Column:
    """Cell a contains cell b (s2cell_id.h:650-654) — a join predicate."""
    b = _c(b)
    return (b >= range_min(a)) & (b <= range_max(a))


def intersects(a: Column | str, b: Column | str) -> Column:
    return (range_min(b) <= range_max(a)) & (range_max(b) >= range_min(a))


def is_leaf(cell: Column | str) -> Column:
    return _c(cell).bitwiseAND(F.lit(1)) != 0


def is_valid(cell: Column | str) -> Column:
    """face < 6 and lsb in the valid-position mask (s2cell_id.h:583-585).

    Face lives in the top 3 raw bits; on the biased value face = raw_face ^ 4.
    """
    cell = _c(cell)
    raw_face = F.shiftrightunsigned(cell.bitwiseXOR(F.lit(_BIAS_LIT)), 61)
    return (raw_face < 6) & (lsb(cell).bitwiseAND(F.lit(0x1555555555555555)) != 0)


def face(cell: Column | str) -> Column:
    return F.shiftrightunsigned(_c(cell).bitwiseXOR(F.lit(_BIAS_LIT)), 61).cast("int")


def token(cell: Column | str) -> Column:
    """Order-preserving hex token (s2cell_id.cc:217-233), JVM-side:
    hex of the raw uint64 bits, lower-cased, trailing zeros stripped."""
    raw = _c(cell).bitwiseXOR(F.lit(_BIAS_LIT))
    hx = F.lower(F.lpad(F.hex(raw), 16, "0"))
    return F.when(raw == 0, F.lit("X")).otherwise(F.rtrim(F.regexp_replace(hx, "0+$", "")))


def child_position(cell: Column | str, lvl: int) -> Column:
    """(raw >> (2*(30-l)+1)) & 3 (s2cell_id.h:635-640); bias bit is above."""
    shift = 2 * (MAX_LEVEL - lvl) + 1
    raw = _c(cell).bitwiseXOR(F.lit(_BIAS_LIT))
    return F.shiftrightunsigned(raw, shift).bitwiseAND(F.lit(3)).cast("int")


def ancestors_array(cell: Column | str, levels) -> Column:
    """Array of parents of `cell` at each of `levels` — the ANCESTOR term
    set of the S2RegionTermIndexer join algebra
    (s2region_term_indexer.cc:121-269).  Pure Column expression: the
    explode of this array is the point side of the containment equi join."""
    return F.array(*[parent(cell, l) for l in levels])
