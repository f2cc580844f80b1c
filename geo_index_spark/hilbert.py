"""Hilbert d-value kernel, twice.

Semantics follow the flatbush/geo-index convention (reference
src/rtree/sort/hilbert.rs:14-56,122-177, itself the public-domain
hilbert_curves bit-twiddle): box centers are mapped onto a
``2^16 x 2^16`` grid over the dataset's global bounds and a 32-bit
Hilbert d-value is computed with pure u32 bit operations.

Two implementations with identical outputs (tested against each other
and against the flatbush-JS golden buffer):

* :func:`hilbert_u32`   — vectorized numpy (used inside local index
  kernels and for goldens).
* :func:`with_hilbert_key` — staged Catalyst projections over longs.
  This is the hot path at 100 TB: the key is computed JVM-side inside
  whole-stage codegen, so Hilbert partitioning of a trillion rows never
  touches Python.

Divergence note: the reference does not guard ``width == 0`` (an
all-identical-x dataset maps centers to ``inf`` and Rust's saturating
cast makes garbage-but-deterministic keys). We clamp the grid coord into
``[0, 65535]`` and treat zero width as "everything in cell 0" — the sort
order on such degenerate data is unspecified in both engines, and query
results (the parity contract, SURVEY.md §2.3) are unaffected.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

HILBERT_MAX = float((1 << 16) - 1)


# ---------------------------------------------------------------------------
# numpy implementation
# ---------------------------------------------------------------------------

def hilbert_u32(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """32-bit Hilbert d-value for integer grid coords in [0, 2^16).

    Vectorized port of the public-domain hilbert_curves algorithm as
    used by flatbush (reference src/rtree/sort/hilbert.rs:122-177).
    """
    x = np.asarray(x, dtype=np.uint32)
    y = np.asarray(y, dtype=np.uint32)

    a1 = x ^ y
    b1 = np.uint32(0xFFFF) ^ a1
    c1 = np.uint32(0xFFFF) ^ (x | y)
    d1 = x & (y ^ np.uint32(0xFFFF))

    a2 = a1 | (b1 >> 1)
    b2 = (a1 >> 1) ^ a1
    c2 = ((c1 >> 1) ^ (b1 & (d1 >> 1))) ^ c1
    d2 = ((a1 & (c1 >> 1)) ^ (d1 >> 1)) ^ d1

    a1, b1, c1, d1 = a2, b2, c2, d2
    a2 = (a1 & (a1 >> 2)) ^ (b1 & (b1 >> 2))
    b2 = (a1 & (b1 >> 2)) ^ (b1 & ((a1 ^ b1) >> 2))
    c2 = c2 ^ ((a1 & (c1 >> 2)) ^ (b1 & (d1 >> 2)))
    d2 = d2 ^ ((b1 & (c1 >> 2)) ^ ((a1 ^ b1) & (d1 >> 2)))

    a1, b1, c1, d1 = a2, b2, c2, d2
    a2 = (a1 & (a1 >> 4)) ^ (b1 & (b1 >> 4))
    b2 = (a1 & (b1 >> 4)) ^ (b1 & ((a1 ^ b1) >> 4))
    c2 = c2 ^ ((a1 & (c1 >> 4)) ^ (b1 & (d1 >> 4)))
    d2 = d2 ^ ((b1 & (c1 >> 4)) ^ ((a1 ^ b1) & (d1 >> 4)))

    a1, b1, c1, d1 = a2, b2, c2, d2
    c2 = c2 ^ ((a1 & (c1 >> 8)) ^ (b1 & (d1 >> 8)))
    d2 = d2 ^ ((b1 & (c1 >> 8)) ^ ((a1 ^ b1) & (d1 >> 8)))

    a1 = c2 ^ (c2 >> 1)
    b1 = d2 ^ (d2 >> 1)

    i0 = x ^ y
    i1 = b1 | (np.uint32(0xFFFF) ^ (i0 | a1))

    i0 = (i0 | (i0 << 8)) & np.uint32(0x00FF00FF)
    i0 = (i0 | (i0 << 4)) & np.uint32(0x0F0F0F0F)
    i0 = (i0 | (i0 << 2)) & np.uint32(0x33333333)
    i0 = (i0 | (i0 << 1)) & np.uint32(0x55555555)

    i1 = (i1 | (i1 << 8)) & np.uint32(0x00FF00FF)
    i1 = (i1 | (i1 << 4)) & np.uint32(0x0F0F0F0F)
    i1 = (i1 | (i1 << 2)) & np.uint32(0x33333333)
    i1 = (i1 | (i1 << 1)) & np.uint32(0x55555555)

    return (i1 << 1) | i0


def grid_coord(v: np.ndarray, lo: float, extent: float) -> np.ndarray:
    """Map coordinate values onto the [0, 65535] Hilbert grid."""
    v = np.asarray(v, dtype=np.float64)
    if extent <= 0:
        return np.zeros(v.shape, dtype=np.uint32)
    g = np.floor(HILBERT_MAX * (v - lo) / extent)
    return np.clip(g, 0.0, HILBERT_MAX).astype(np.uint32)


def hilbert_of_boxes(
    minx: np.ndarray,
    miny: np.ndarray,
    maxx: np.ndarray,
    maxy: np.ndarray,
    bounds: tuple[float, float, float, float],
) -> np.ndarray:
    """Hilbert value of box centers over global ``bounds`` (reference
    src/rtree/sort/hilbert.rs:22-44)."""
    lo_x, lo_y, hi_x, hi_y = bounds
    cx = (np.asarray(minx, np.float64) + np.asarray(maxx, np.float64)) / 2.0
    cy = (np.asarray(miny, np.float64) + np.asarray(maxy, np.float64)) / 2.0
    gx = grid_coord(cx, lo_x, hi_x - lo_x)
    gy = grid_coord(cy, lo_y, hi_y - lo_y)
    return hilbert_u32(gx, gy)


# ---------------------------------------------------------------------------
# Catalyst implementation (JVM-side, codegen'd)
# ---------------------------------------------------------------------------
#
# IMPORTANT: the algorithm references each intermediate several times per
# round. Composing it as ONE Column would inline every reference and the
# expression tree would grow exponentially (the analyzer then takes
# minutes — measured). `with_hilbert_key` therefore stages the rounds as
# separate projections with named intermediate columns; Catalyst keeps
# multi-referenced non-cheap aliases un-collapsed, so the plan stays
# linear and fully inside whole-stage codegen.

def _u32(c: Column) -> Column:
    # keep a long-typed column in u32 range after left shifts
    return c.bitwiseAND(F.lit(0xFFFFFFFF))


def with_hilbert_key(df, gx: str, gy: str, out: str = "hilbert"):
    """Add column ``out`` = hilbert_u32(df[gx], df[gy]) (grid coords in
    [0, 65535], LongType). Staged Catalyst projections — the 100 TB hot
    path; ~40 integer ops per row, zero Python."""
    x, y = F.col(gx), F.col(gy)
    m16 = F.lit(0xFFFF)

    def stage(frame, cols: dict):
        return frame.withColumns(cols)

    df = stage(
        df,
        {
            "_ha": x.bitwiseXOR(y),
            "_hc0": m16.bitwiseXOR(x.bitwiseOR(y)),
            "_hd0": x.bitwiseAND(y.bitwiseXOR(m16)),
        },
    )
    df = stage(df, {"_hb": m16.bitwiseXOR(F.col("_ha"))})
    a, b, c, d = F.col("_ha"), F.col("_hb"), F.col("_hc0"), F.col("_hd0")
    df = stage(
        df,
        {
            "_ha1": a.bitwiseOR(F.shiftright(b, 1)),
            "_hb1": F.shiftright(a, 1).bitwiseXOR(a),
            "_hc1": F.shiftright(c, 1).bitwiseXOR(b.bitwiseAND(F.shiftright(d, 1))).bitwiseXOR(c),
            "_hd1": a.bitwiseAND(F.shiftright(c, 1)).bitwiseXOR(F.shiftright(d, 1)).bitwiseXOR(d),
        },
    )
    for r, sh in ((2, 2), (3, 4)):
        a, b, c, d = (F.col(f"_h{n}{r - 1}") for n in ("a", "b", "c", "d"))
        df = stage(
            df,
            {
                f"_ha{r}": a.bitwiseAND(F.shiftright(a, sh)).bitwiseXOR(
                    b.bitwiseAND(F.shiftright(b, sh))
                ),
                f"_hb{r}": a.bitwiseAND(F.shiftright(b, sh)).bitwiseXOR(
                    b.bitwiseAND(F.shiftright(a.bitwiseXOR(b), sh))
                ),
                f"_hc{r}": c.bitwiseXOR(
                    a.bitwiseAND(F.shiftright(c, sh)).bitwiseXOR(b.bitwiseAND(F.shiftright(d, sh)))
                ),
                f"_hd{r}": d.bitwiseXOR(
                    b.bitwiseAND(F.shiftright(c, sh)).bitwiseXOR(
                        a.bitwiseXOR(b).bitwiseAND(F.shiftright(d, sh))
                    )
                ),
            },
        )
    a, b, c, d = (F.col(f"_h{n}3") for n in ("a", "b", "c", "d"))
    df = stage(
        df,
        {
            "_hC": c.bitwiseXOR(
                a.bitwiseAND(F.shiftright(c, 8)).bitwiseXOR(b.bitwiseAND(F.shiftright(d, 8)))
            ),
            "_hD": d.bitwiseXOR(
                b.bitwiseAND(F.shiftright(c, 8)).bitwiseXOR(
                    a.bitwiseXOR(b).bitwiseAND(F.shiftright(d, 8))
                )
            ),
        },
    )
    C, D = F.col("_hC"), F.col("_hD")
    df = stage(
        df,
        {
            "_hA": C.bitwiseXOR(F.shiftright(C, 1)),
            "_hB": D.bitwiseXOR(F.shiftright(D, 1)),
            "_hi0": x.bitwiseXOR(y),
        },
    )
    df = stage(
        df,
        {"_hi1": F.col("_hB").bitwiseOR(m16.bitwiseXOR(F.col("_hi0").bitwiseOR(F.col("_hA"))))},
    )
    for sh, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        df = stage(
            df,
            {
                "_hi0": _u32(F.col("_hi0").bitwiseOR(F.shiftleft(F.col("_hi0"), sh))).bitwiseAND(
                    F.lit(mask)
                ),
                "_hi1": _u32(F.col("_hi1").bitwiseOR(F.shiftleft(F.col("_hi1"), sh))).bitwiseAND(
                    F.lit(mask)
                ),
            },
        )
    df = df.withColumn(out, _u32(F.shiftleft(F.col("_hi1"), 1)).bitwiseOR(F.col("_hi0")))
    drop = [c for c in df.columns if c.startswith("_h") and c != out]
    return df.drop(*drop)


def grid_coord_col(v: Column, lo: Column | float, extent: Column | float) -> Column:
    """Catalyst version of :func:`grid_coord` → LongType in [0, 65535]."""
    lo = lo if isinstance(lo, Column) else F.lit(float(lo))
    extent = extent if isinstance(extent, Column) else F.lit(float(extent))
    g = F.floor(F.lit(HILBERT_MAX) * (v - lo) / extent)
    g = F.when(extent <= F.lit(0.0), F.lit(0)).otherwise(
        F.greatest(F.lit(0), F.least(F.lit(65535), g))
    )
    return g.cast("long")

