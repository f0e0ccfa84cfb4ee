"""Canonical cell algebra on the packed int64 form ``(bits << 6) | nbits``.

Hierarchy semantics per ``/root/reference/README.md:51,77`` (recursive 4-way
Morton partition; one appended bit = a half-cell split, two = a quadtree
child).  Mixed-precision covers in ``/root/reference/data/citycover.csv``
motivate the interval view: a cell at depth d is the half-open integer range
``[bits << (MAXB-d), (bits+1) << (MAXB-d))`` at a fixed maximum depth MAXB, so
*containment* is a range test and cover joins become prefix equi-joins
(SURVEY.md §2.B8).

All ops are vectorized numpy on int64/uint64 and are also mirrored as native
Spark Column expressions in co_new_spark.functions.cells_sql (shift/mask ops
participate in whole-stage codegen — no UDF needed for hierarchy traversal).
"""

from __future__ import annotations

import numpy as np

from . import grids, morton

U = np.uint64
MAXB = 57  # max bit depth storable: (bits << 6) | nbits fits in int64


def pack(bits, nbits) -> np.ndarray:
    """(bits, nbits) -> canonical signed int64 cell id."""
    bits = np.asarray(bits, dtype=U)
    nbits = np.asarray(nbits, dtype=np.int64)
    out = ((bits << U(6)) | nbits.astype(U)).astype(np.int64)
    return np.where(nbits >= 0, out, np.int64(-1))


def unpack(cell) -> tuple[np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    return (cell.astype(U) >> U(6)), (cell & np.int64(63))


def depth(cell) -> np.ndarray:
    return np.asarray(cell, dtype=np.int64) & np.int64(63)


def parent(cell, k=1) -> np.ndarray:
    """Drop k trailing bits (k=2 = quadtree parent, k=1 = half-cell merge)."""
    bits, nb = unpack(cell)
    k = np.asarray(k, dtype=np.int64)
    nk = np.minimum(np.broadcast_to(k, nb.shape), nb)
    return pack(bits >> nk.astype(U), nb - nk)


def children(cell, k=2) -> np.ndarray:
    """All 2^k children of each cell -> shape (n, 2^k) int64."""
    bits, nb = unpack(cell)
    offs = np.arange(1 << k, dtype=U)
    ch_bits = (bits[:, None] << U(k)) | offs[None, :]
    return pack(ch_bits, (nb + k)[:, None] * np.ones((1, 1 << k), dtype=np.int64))


def contains(anc, desc) -> np.ndarray:
    """True where anc is an ancestor-or-equal of desc (prefix test)."""
    ab, an = unpack(anc)
    db, dn = unpack(desc)
    dk = dn - an
    ok = dk >= 0
    shifted = db >> np.maximum(dk, 0).astype(U)
    return ok & (shifted == ab)


def interval(cell, maxb: int = MAXB) -> tuple[np.ndarray, np.ndarray]:
    """Cell -> half-open [lo, hi) integer range at fixed depth ``maxb``."""
    bits, nb = unpack(cell)
    shift = (maxb - nb).astype(U)
    lo = (bits << shift).astype(np.int64)
    hi = ((bits + U(1)) << shift).astype(np.int64)
    return lo, hi


# ---------------------------------------------------------------------------
# Grid-B global lattice coordinates (for neighbors / ring expansion / boxes)
# ---------------------------------------------------------------------------

def cell_b_to_global_ji(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Grid B cell -> (gy, gx, ny, nx): global row/col at the cell's own y/x depth.

    gy = j_l0 * 2^ny + iy_refine (ny = ceil(rbits/2), y-first), similarly gx.
    Returns gy = gx = -1 (ny = nx = 0) for invalid cells, any negative cell
    included.
    """
    cell = np.asarray(cell, dtype=np.int64)
    bits, nb = unpack(cell)
    r = np.where(cell >= 0, nb - 4, -1)
    gy = np.full(bits.shape, -1, dtype=np.int64)
    gx = np.full(bits.shape, -1, dtype=np.int64)
    nyv = np.zeros(bits.shape, dtype=np.int64)
    nxv = np.zeros(bits.shape, dtype=np.int64)
    for rv in np.unique(r):
        if rv < 0:
            continue
        m = r == rv
        gy[m], gx[m] = grids.grid_b_to_lattice(bits[m], int(rv))
        nyv[m], nxv[m] = morton.n_first(int(rv)), morton.n_second(int(rv))
    return gy, gx, nyv, nxv


def cell_b_from_global_ji(gy, gx, rbits: int) -> np.ndarray:
    """(global row, global col, refinement depth) -> Grid B cell (or -1 off-cover)."""
    bits, valid = grids.grid_b_from_lattice(gy, gx, rbits)
    return np.where(valid, pack(bits, 4 + rbits), np.int64(-1))


def cell_b_from_xy(x, y, rbits: int) -> np.ndarray:
    """EPSG:9377 (x, y) -> Grid B cell at ``rbits`` refinement; -1 where x or y
    is non-finite or off-grid.  The one Grid B encode behind every geocode UDF."""
    bits, valid = grids.grid_b_encode_xy(x, y, rbits)
    return np.where(valid, pack(bits, 4 + rbits), np.int64(-1))


def neighbors_b(cell, ring: int = 1) -> np.ndarray:
    """Grid B king-move neighbors at ring r -> (n, (2r+1)^2 - 1) int64, -1 = off-grid.

    Requires even refinement (square cells).  Used by kNN cell-ring expansion
    (SURVEY.md §2.A17).
    """
    gy, gx, nyv, nxv = cell_b_to_global_ji(cell)
    _, nb = unpack(cell)
    r = nb - 4
    side = 2 * ring + 1
    offs = [(dy, dx) for dy in range(-ring, ring + 1) for dx in range(-ring, ring + 1)
            if not (dy == 0 and dx == 0)]
    out = np.full((gy.shape[0], len(offs)), -1, dtype=np.int64)
    for rv in np.unique(r):
        if rv < 0 or rv % 2 != 0:
            continue
        m = np.asarray(r == rv)
        for c, (dy, dx) in enumerate(offs):
            out[m, c] = cell_b_from_global_ji(gy[m] + dy, gx[m] + dx, int(rv))
    valid_input = (gy >= 0)
    out[~valid_input, :] = -1
    return out


def cell_b_box(cell) -> tuple[np.ndarray, ...]:
    """Grid B cell -> EPSG:9377 (xmin, ymin, xmax, ymax); NaN for invalid cells.

    Lattice coordinates times the cell side (exact: sides are powers of two).
    Vectorized over mixed depths (mixed-precision covers are the norm in
    ``citycover.csv`` — 3-hex cells next to 4-hex+suffix cells).
    """
    gy, gx, ny, nx = cell_b_to_global_ji(cell)
    ok = gy >= 0
    dx = grids.L0_SIDE / (1 << nx)
    dy = grids.L0_SIDE / (1 << ny)
    x0 = np.where(ok, grids.L0_ORIGIN_X + gx * dx, np.nan)
    y0 = np.where(ok, grids.L0_ORIGIN_Y + gy * dy, np.nan)
    return x0, y0, x0 + dx, y0 + dy


def cell_b_center(cell) -> tuple[np.ndarray, np.ndarray]:
    x0, y0, x1, y1 = cell_b_box(cell)
    return (x0 + x1) / 2.0, (y0 + y1) / 2.0


def area_m2(cell) -> np.ndarray:
    """Exact cell area in m^2 (dx*dy) — st_area for grid cells (SURVEY.md §2.A24)."""
    x0, y0, x1, y1 = cell_b_box(cell)
    return (x1 - x0) * (y1 - y0)


# ---------------------------------------------------------------------------
# String <-> canonical conversions (Grid B / base16h)
# ---------------------------------------------------------------------------

def cell_b_from_code(codes) -> np.ndarray:
    """base16h strings (incl. suffix letters) -> canonical int64; -1 invalid."""
    from .codec import b16h_decode

    bits, nbits = b16h_decode(np.asarray(codes))
    return pack(bits, nbits)


def cell_b_to_code(cell) -> np.ndarray:
    """canonical int64 -> base16h string; '' for invalid (-1)."""
    from .codec import b16h_encode

    cell = np.asarray(cell, dtype=np.int64)
    bits, nb = unpack(np.maximum(cell, 0))
    out = b16h_encode(bits, nb)
    out[cell < 0] = ""
    return out
