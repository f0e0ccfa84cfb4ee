"""Grid configurations + encode/decode kernels for the CO hierarchical grid.

The reference carries two grid parameterizations (both reverse-engineered and
verified against the reference's own fixtures — see SURVEY.md §1.3):

* **GRID_A** — the ``gridLib.sql`` trial grid: the encode asserts at
  ``/root/reference/src/assert/gridLib.sql:6-11`` (base32nvu codes).  bbox in
  EPSG:9377 ``x in [3932160, 6029312]`` (2^21 m wide), ``y in [1048576,
  2097152]`` (2^20 m tall); MSB-first bit stream with bit 0 an **x** bit and
  strict x/y alternation; 5 bits per base32nvu digit.
* **GRID_B** — the official ``conf.yaml`` grid used by ``citycover.csv`` and
  the grid256*.geojson products: origin ``(3678500, 970000)``
  (``/root/reference/conf.yaml:22``), L0 cell side 524288 m
  (``conf.yaml:23``), 4-col x 5-row matrix with a configured ji -> base16h
  digit lookup (``conf.yaml:24-26``); **y-first** Morton refinement below L0.

A cell's canonical engine representation is one signed int64 ("cell long"):
``(bits << 6) | nbits`` — see cells.py.  For GRID_B the leading 4 bits of
``bits`` are the L0 digit value, so prefix algebra (parent / child / contains)
works uniformly across both grids.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from . import morton, proj

U = np.uint64


@dataclass(frozen=True)
class GridConfig:
    name: str
    xmin: float
    ymin: float
    width: float   # bbox extent in x (first-axis extent need not equal second)
    height: float
    first_axis: str  # 'x' or 'y' — which axis owns stream bit 0


# --- Grid A: gridLib trial grid (bit-exact vs the 5 encode asserts) ---------
GRID_A = GridConfig(
    name="A",
    xmin=3_932_160.0,   # 15 * 2^18
    ymin=1_048_576.0,   # 4 * 2^18
    width=float(2**21),
    height=float(2**20),
    first_axis="x",
)

# --- Grid B: official conf.yaml grid ----------------------------------------
L0_ORIGIN_X = 3_678_500.0
L0_ORIGIN_Y = 970_000.0
L0_SIDE = 524_288.0  # 2^19 m
L0_NI = 4  # columns (i)
L0_NJ = 5  # rows (j)

# ji -> base16h digit value (conf.yaml:24-26); -1 = cell outside the 16-cell cover
_L0_JI_TO_DIGIT = {
    (0, 2): 0x8, (0, 3): 0xA,
    (1, 0): 0x1, (1, 1): 0x3, (1, 2): 0x9, (1, 3): 0xB,
    (2, 0): 0x4, (2, 1): 0x6, (2, 2): 0xC, (2, 3): 0xE,
    (3, 0): 0x5, (3, 1): 0x7, (3, 2): 0xD,
    (4, 0): 0x0, (4, 1): 0x2, (4, 2): 0xF,
}
L0_DIGIT_BY_JI = np.full((L0_NJ, L0_NI), -1, dtype=np.int64)
L0_J_BY_DIGIT = np.full(16, -1, dtype=np.int64)
L0_I_BY_DIGIT = np.full(16, -1, dtype=np.int64)
for (_j, _i), _d in _L0_JI_TO_DIGIT.items():
    L0_DIGIT_BY_JI[_j, _i] = _d
    L0_J_BY_DIGIT[_d] = _j
    L0_I_BY_DIGIT[_d] = _i


def _axis_bits(nbits: int, first_axis: str) -> tuple[int, int]:
    """(n_x_bits, n_y_bits) for an nbits-deep cell."""
    nf, ns = morton.n_first(nbits), morton.n_second(nbits)
    return (nf, ns) if first_axis == "x" else (ns, nf)


# =============================================================================
# Grid A kernels (single bbox, x-first)
# =============================================================================

def grid_a_encode_xy(x: np.ndarray, y: np.ndarray, nbits: int) -> tuple[np.ndarray, np.ndarray]:
    """EPSG:9377 (x, y) -> (morton bits uint64, valid bool) for Grid A."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    nx, ny = _axis_bits(nbits, GRID_A.first_axis)
    fx = (x - GRID_A.xmin) / GRID_A.width
    fy = (y - GRID_A.ymin) / GRID_A.height
    valid = (fx >= 0) & (fx < 1) & (fy >= 0) & (fy < 1)
    ix = np.floor(np.where(valid, fx, 0) * (1 << nx)).astype(np.int64)
    iy = np.floor(np.where(valid, fy, 0) * (1 << ny)).astype(np.int64)
    ix = np.clip(ix, 0, (1 << nx) - 1).astype(np.uint64)
    iy = np.clip(iy, 0, (1 << ny) - 1).astype(np.uint64)
    bits = morton.interleave(ix, iy, nbits)
    return bits, valid


def grid_a_decode_box(bits: np.ndarray, nbits: int) -> tuple[np.ndarray, ...]:
    """Grid A morton bits -> cell box (xmin, ymin, xmax, ymax) in EPSG:9377."""
    nx, ny = _axis_bits(nbits, GRID_A.first_axis)
    ix, iy = morton.deinterleave(np.asarray(bits, dtype=np.uint64), nbits)
    dx = GRID_A.width / (1 << nx)
    dy = GRID_A.height / (1 << ny)
    x0 = GRID_A.xmin + ix.astype(np.float64) * dx
    y0 = GRID_A.ymin + iy.astype(np.float64) * dy
    return x0, y0, x0 + dx, y0 + dy


# =============================================================================
# Grid B kernels (L0 lookup + y-first refinement)
# =============================================================================

def grid_b_from_lattice(gy, gx, rbits: int) -> tuple[np.ndarray, np.ndarray]:
    """Global lattice (gy, gx) at ``rbits`` -> (cell bits uint64, valid bool).

    The lattice is the 4x5 L0 matrix split into 2^ceil(rbits/2) rows and
    2^floor(rbits/2) columns per L0 cell (y-first refinement), so
    ``gy >> ny`` is the L0 row j and the low bits are the Morton refinement.
    Coordinates off the 16-cell cover (negative included) are invalid; their
    bits are unspecified.
    """
    gy = np.asarray(gy, dtype=np.int64)
    gx = np.asarray(gx, dtype=np.int64)
    ny, nx = morton.n_first(rbits), morton.n_second(rbits)
    j, i = gy >> ny, gx >> nx
    inb = (j >= 0) & (j < L0_NJ) & (i >= 0) & (i < L0_NI)
    digit = np.where(inb, L0_DIGIT_BY_JI[np.clip(j, 0, L0_NJ - 1), np.clip(i, 0, L0_NI - 1)], -1)
    ref = morton.interleave((gy & ((1 << ny) - 1)).astype(U), (gx & ((1 << nx) - 1)).astype(U), rbits)
    bits = (np.maximum(digit, 0).astype(U) << U(rbits)) | ref
    return bits, digit >= 0


def grid_b_to_lattice(bits, rbits: int) -> tuple[np.ndarray, np.ndarray]:
    """Grid B cell bits at ``rbits`` -> global lattice (gy, gx); -1 where the
    bits are too wide for ``rbits`` (leading digit >= 16).  Every digit 0..15
    names one of the 16 cover cells.  Inverse of grid_b_from_lattice."""
    bits = np.asarray(bits, dtype=U)
    digit = bits >> U(rbits)
    ok = digit < U(16)
    digit = np.where(ok, digit, U(0)).astype(np.int64)
    ny, nx = morton.n_first(rbits), morton.n_second(rbits)
    iy, ix = morton.deinterleave(bits & ((U(1) << U(rbits)) - U(1)), rbits)
    gy = np.where(ok, (L0_J_BY_DIGIT[digit] << ny) | iy.astype(np.int64), -1)
    gx = np.where(ok, (L0_I_BY_DIGIT[digit] << nx) | ix.astype(np.int64), -1)
    return gy, gx


def grid_b_encode_xy(x: np.ndarray, y: np.ndarray, rbits: int) -> tuple[np.ndarray, np.ndarray]:
    """EPSG:9377 (x, y) -> (cell bits uint64, valid bool) for Grid B.

    ``rbits`` = refinement bits below L0; total bit length = 4 + rbits
    (leading 4 bits = L0 digit).  Non-finite points and points off the
    16-cell cover are invalid.  The range check runs on the float L0
    coordinates, before any int cast.
    """
    fi = (np.asarray(x, dtype=np.float64) - L0_ORIGIN_X) / L0_SIDE
    fj = (np.asarray(y, dtype=np.float64) - L0_ORIGIN_Y) / L0_SIDE
    inb = (fi >= 0) & (fi < L0_NI) & (fj >= 0) & (fj < L0_NJ)
    ny, nx = morton.n_first(rbits), morton.n_second(rbits)
    gy = np.floor(np.where(inb, fj, -1.0) * (1 << ny)).astype(np.int64)
    gx = np.floor(np.where(inb, fi, -1.0) * (1 << nx)).astype(np.int64)
    return grid_b_from_lattice(gy, gx, rbits)


# =============================================================================
# Full point -> code composition (A1 o A2 o A4 o A6/A7 of SURVEY.md §2.A)
# =============================================================================

def osmcode_encode_a(lat, lon, ndigits: int = 9) -> np.ndarray:
    """(lat, lon) -> Grid A base32nvu code; '' where out of grid / NaN.

    Bit-exact against ``/root/reference/src/assert/gridLib.sql:6-11``.
    """
    from .codec import b32nvu_encode

    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    x, y = proj.forward(lat, lon)
    finite = np.isfinite(x) & np.isfinite(y)
    bits, valid = grid_a_encode_xy(np.where(finite, x, 0), np.where(finite, y, 0), 5 * ndigits)
    codes = b32nvu_encode(bits, 5 * ndigits)
    codes[~(valid & finite)] = ""
    return codes


def osmcode_encode_b(lat, lon, rbits: int) -> np.ndarray:
    """(lat, lon) -> Grid B base16h code at ``rbits`` refinement; '' if off-grid."""
    from .codec import b16h_encode

    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    bits, valid = grid_b_encode_xy(*proj.forward(lat, lon), rbits)
    codes = b16h_encode(bits, 4 + rbits)
    codes[~valid] = ""
    return codes


def osmcode_decode_a(codes) -> tuple[np.ndarray, np.ndarray]:
    """Grid A base32nvu code -> (lat, lon) of the cell center; NaN if invalid."""
    from .codec import b32nvu_decode

    bits, nbits = b32nvu_decode(np.asarray(codes))
    lat = np.full(bits.shape, np.nan)
    lon = np.full(bits.shape, np.nan)
    for nb in np.unique(nbits):
        if nb <= 0:
            continue
        m = nbits == nb
        x0, y0, x1, y1 = grid_a_decode_box(bits[m], int(nb))
        la, lo = proj.inverse((x0 + x1) / 2, (y0 + y1) / 2)
        lat[m] = la
        lon[m] = lo
    return lat, lon
