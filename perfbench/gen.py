"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` (numpy ``default_rng`` plus a
splitmix64 hash for the lattice jitter), so the same seed always yields the
same tables.  The program under test only ever sees the tables these
functions return; the truth columns (``lat``/``lon`` as written into the
text, the seat that owns a cover cell) stay with the benchmark's oracles.

* ``cover`` — a synthetic mixed-depth jurisdiction cover shaped like the
  reference's municipality cover (~1.1k jurisdictions, ~14k cells, five or
  six distinct depths, ~4% of cells listed under two jurisdictions).  Jurisdictions are the cells of a jittered-lattice Voronoi
  partition drawn in a warped plane that is stretched around Bogotá, so seats
  are ~25x denser there, as real municipalities are.
* ``pages`` — web pages with the coordinate and anchor mix of
  ``co_new_spark.sources.pages``: 10% near Bogotá, 25% in L0 cell ``c``, 5%
  offshore (L0 cell ``2``), 2% off-grid, the rest uniform over a random L0
  cell; anchors 70% ``geo:`` URI, 20% plain decimal pair, 10% none.
* ``points`` / ``query_points`` — the same coordinate mix without the
  off-grid share, for the stored point table and the lookup stream.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from co_new_spark.grid import cells, grids, proj

# Cover shape.  Depth = total bit length of a Grid B cell (4 L0 bits + the
# refinement bits).  Cells shallower than COVER_MIN_DEPTH are always split;
# cells still straddling a border at COVER_MAX_DEPTH are emitted as border
# cells.  SEAT_SPACING_M and WARP_* were tuned so every seed gives
# ~1.1k jurisdictions and ~14k cells (see perfbench/README.md).
COVER_MIN_DEPTH = 9
COVER_MAX_DEPTH = 15
COVER_COARSE_MAX_DEPTH = 14  # border depth beyond FINE_RADIUS_M of Bogotá
FINE_RADIUS_M = 480_000.0
SEAT_SPACING_M = 78_000.0
WARP_GAIN = 4.0          # seat density at Bogotá = (1 + WARP_GAIN)^2 x base
WARP_WIDTH_M = 40_000.0
SHARED_BORDER_SHARE = 0.06  # of border cells, also listed under a neighbour
UNCOVERED_DIGITS = (0x0, 0x2)  # Caribbean L0 cells: sea, no jurisdiction

BOGOTA = (4.711111, -74.072222)
_BOGOTA_BOX = 0.25  # +- degrees
_IBERIA = (38.0, 50.0, -10.0, -2.0)  # off-grid box (lat0, lat1, lon0, lon1)
_L0_INSET_M = 12_000.0

_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Stateless 64-bit hash (splitmix64 finaliser) on a uint64 array."""
    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)) & _MASK64
        z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK64
        z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK64
        return z ^ (z >> np.uint64(31))


def _unit(a: np.ndarray, b: np.ndarray, seed: int, salt: int) -> np.ndarray:
    """Deterministic uniform in [0, 1) per lattice cell (a, b)."""
    key = ((a.astype(np.int64) + 4096).astype(np.uint64) << np.uint64(20)) \
        ^ (b.astype(np.int64) + 4096).astype(np.uint64) \
        ^ (np.uint64(seed & 0xFFFFFFFF) << np.uint64(40)) \
        ^ np.uint64(salt)
    return (_splitmix64(key) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


_BOGOTA_XY = tuple(float(v[0]) for v in proj.forward(np.array([BOGOTA[0]]),
                                                      np.array([BOGOTA[1]])))


def _warp(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Monotone per-axis stretch around Bogotá (planar metres -> warped)."""
    bx, by = _BOGOTA_XY
    a = WARP_GAIN * WARP_WIDTH_M
    return (x + a * np.arctan((x - bx) / WARP_WIDTH_M),
            y + a * np.arctan((y - by) / WARP_WIDTH_M))


def seat_owner(x: np.ndarray, y: np.ndarray, seed: int) -> np.ndarray:
    """Owning seat of planar points: nearest jittered-lattice seat in the
    warped plane, searched over the 3x3 lattice neighbourhood.  Returns an
    int64 seat key ``a * 4096 + b`` (lattice column a, row b, both >= 0)."""
    u, v = _warp(np.asarray(x, np.float64), np.asarray(y, np.float64))
    s = SEAT_SPACING_M
    a0 = np.floor(u / s).astype(np.int64)
    b0 = np.floor(v / s).astype(np.int64)
    best_d = np.full(u.shape, np.inf)
    best = np.zeros(u.shape, dtype=np.int64)
    for da in (-1, 0, 1):
        for db in (-1, 0, 1):
            a, b = a0 + da, b0 + db
            sx = (a + 0.1 + 0.8 * _unit(a, b, seed, 1)) * s
            sy = (b + 0.1 + 0.8 * _unit(a, b, seed, 2)) * s
            d = (u - sx) ** 2 + (v - sy) ** 2
            key = a * 4096 + b
            better = (d < best_d) | ((d == best_d) & (key < best))
            best_d = np.where(better, d, best_d)
            best = np.where(better, key, best)
    return best


def seat_label(key: np.ndarray) -> np.ndarray:
    """Seat key -> ``isolabel_ext``-style label (zero padded, so string
    order = key order and min(isolabel_ext) is well defined)."""
    return np.array([f"CO-{int(k) // 4096:03d}-{int(k) % 4096:04d}"
                     for k in key], dtype=object)


def cover(seed: int) -> pd.DataFrame:
    """Synthetic jurisdiction cover: DataFrame(isolabel_ext, cell, depth)."""
    rng = np.random.default_rng([seed, 17])
    digits = np.array([d for d in range(16) if d not in UNCOVERED_DIGITS],
                      dtype=np.uint64)
    frontier = cells.pack(digits, np.full(digits.shape, 4))
    out_cell, out_owner = [], []
    for depth in range(4, COVER_MAX_DEPTH + 1):
        x0, y0, x1, y1 = cells.cell_b_box(frontier)
        # centre first, then a 3x3 lattice pulled 1% inside the cell
        fx = np.array([0.5, 0.01, 0.5, 0.99, 0.01, 0.99, 0.01, 0.5, 0.99])
        fy = np.array([0.5, 0.01, 0.01, 0.01, 0.5, 0.5, 0.99, 0.99, 0.99])
        xs = x0[:, None] + fx[None, :] * (x1 - x0)[:, None]
        ys = y0[:, None] + fy[None, :] * (y1 - y0)[:, None]
        own = seat_owner(xs.ravel(), ys.ravel(), seed).reshape(xs.shape)
        uniform = (own == own[:, :1]).all(axis=1)
        if depth >= COVER_MIN_DEPTH:
            out_cell.append(frontier[uniform])
            out_owner.append(own[uniform, 0])
        # small jurisdictions near Bogotá get one level finer border cells
        far = np.hypot(xs[:, 0] - _BOGOTA_XY[0], ys[:, 0] - _BOGOTA_XY[1]) \
            > FINE_RADIUS_M
        last = ~uniform & ((depth == COVER_MAX_DEPTH)
                           | (far & (depth == COVER_COARSE_MAX_DEPTH)))
        if last.any():
            border = frontier[last]
            b_own = own[last]
            out_cell.append(border)
            out_owner.append(b_own[:, 0])
            # a seeded share of border cells is also listed under the first
            # sample point owner that differs from the centre owner
            share = rng.random(len(border)) < SHARED_BORDER_SHARE
            other = b_own[np.arange(len(border)),
                          np.argmax(b_own != b_own[:, :1], axis=1)]
            out_cell.append(border[share])
            out_owner.append(other[share])
        keep = frontier if depth < COVER_MIN_DEPTH else frontier[~uniform & ~last]
        if not len(keep):
            break
        frontier = cells.children(keep, k=1).ravel()
    cell = np.concatenate(out_cell)
    owner = np.concatenate(out_owner)
    keys, inv = np.unique(owner, return_inverse=True)
    labels = seat_label(keys)
    return pd.DataFrame({"isolabel_ext": labels[inv], "cell": cell,
                         "depth": cells.depth(cell)})


def cover_shape(cov: pd.DataFrame) -> dict:
    """Shape statistics of a cover (recorded in perfbench/README.md)."""
    per_cell = cov.groupby("cell")["isolabel_ext"].nunique()
    return {
        "jurisdictions": int(cov["isolabel_ext"].nunique()),
        "cells": int(len(cov)),
        "distinct_cells": int(len(per_cell)),
        "depths": sorted(int(d) for d in cov["depth"].unique()),
        "shared_cell_share": round(float((per_cell > 1).mean()), 4),
    }


def _l0_uniform(rng, digit: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Uniform planar points strictly inside the given L0 cells -> lat, lon."""
    i = grids.L0_I_BY_DIGIT[digit].astype(np.float64)
    j = grids.L0_J_BY_DIGIT[digit].astype(np.float64)
    span = grids.L0_SIDE - 2 * _L0_INSET_M
    x = grids.L0_ORIGIN_X + i * grids.L0_SIDE + _L0_INSET_M + rng.random(len(digit)) * span
    y = grids.L0_ORIGIN_Y + j * grids.L0_SIDE + _L0_INSET_M + rng.random(len(digit)) * span
    return proj.inverse(x, y)


def _coords(rng, n: int, offgrid: bool) -> tuple[np.ndarray, np.ndarray]:
    """The page coordinate mix, rounded to the 7 decimals written in text."""
    u = rng.random(n)
    if not offgrid:  # stored points: redistribute the off-grid 2% uniformly
        u = u * 0.98
    lat = np.empty(n)
    lon = np.empty(n)
    bog = u < 0.10
    lat[bog] = BOGOTA[0] + (rng.random(bog.sum()) * 2 - 1) * _BOGOTA_BOX
    lon[bog] = BOGOTA[1] + (rng.random(bog.sum()) * 2 - 1) * _BOGOTA_BOX
    digit = np.where(u < 0.35, 0xC, np.where(u < 0.40, 0x2,
                                               rng.integers(0, 16, n)))
    l0 = (u >= 0.10) & (u < 0.98)
    lat[l0], lon[l0] = _l0_uniform(rng, digit[l0])
    off = u >= 0.98
    lat[off] = _IBERIA[0] + rng.random(off.sum()) * (_IBERIA[1] - _IBERIA[0])
    lon[off] = _IBERIA[2] + rng.random(off.sum()) * (_IBERIA[3] - _IBERIA[2])
    # the nearest double to each 7-decimal string written into the text
    return (np.array([float(f"{v:.7f}") for v in lat.tolist()]),
            np.array([float(f"{v:.7f}") for v in lon.tolist()]))


_HOSTS = 200


def _page_text(uid: np.ndarray, lat: np.ndarray, lon: np.ndarray,
               anchor: np.ndarray, rev: int) -> tuple[list, list]:
    """(html, text) for each page.  ``anchor``: 0 geo: URI, 1 plain pair,
    2 none.  ``text`` is what ``functions.text.extract_text`` must return."""
    html, text = [], []
    for k, la, lo, an in zip(uid.tolist(), lat.tolist(), lon.tolist(),
                             anchor.tolist()):
        host = f"site{k % _HOSTS}.example.co"
        if an == 0:
            a = f"Ubicación registrada en geo:{la:.7f},{lo:.7f} dentro del territorio."
        elif an == 1:
            a = f"Las coordenadas {la:.7f}, {lo:.7f} fueron verificadas en campo."
        else:
            a = "Sin coordenadas disponibles para este registro."
        body = f"Resumen {rev} del sitio {host} con código &amp; datos n.º {k % 9973}."
        html.append(f"<html><head><title>Informe {k}</title></head><body>\n"
                    f"<p>{a}</p>\n<p>{body}</p>\n</body></html>")
        text.append(f"Informe {k} {a} {body.replace('&amp;', '&')}")
    return html, text


_BASE_EPOCH = 1_735_689_600  # 2025-01-01T00:00:00Z


def pages(seed: int, n: int, first_id: int = 0, rev: int = 0,
          ts_offset_s: int = 0, rng=None) -> dict:
    """``n`` pages with ids ``first_id ..``.  Returns a dict with the table
    columns (url, warc_ts, html, text, lang) and the truth columns
    (uid, lat, lon, anchor) the oracles use."""
    rng = rng if rng is not None else np.random.default_rng([seed, 1, first_id])
    uid = np.arange(first_id, first_id + n, dtype=np.int64)
    lat, lon = _coords(rng, n, offgrid=True)
    anchor = np.searchsorted([0.70, 0.90], rng.random(n), side="right")
    return _assemble(rng, uid, lat, lon, anchor, rev, ts_offset_s)


def _assemble(rng, uid, lat, lon, anchor, rev, ts_offset_s) -> dict:
    html, text = _page_text(uid, lat, lon, anchor, rev)
    lang = np.array(["es", "en", "pt"], dtype=object)[
        np.searchsorted([0.80, 0.95], rng.random(len(uid)), side="right")]
    ts = (_BASE_EPOCH + ts_offset_s
          + rng.integers(0, 30 * 86_400, len(uid))).astype("datetime64[s]")
    return {
        "url": np.array([f"https://site{k % _HOSTS}.example.co/page{k}"
                         for k in uid.tolist()], dtype=object),
        "warc_ts": ts.astype("datetime64[us]"),
        "html": np.array([h.encode("utf-8") for h in html], dtype=object),
        "text": np.array(text, dtype=object),
        "lang": lang,
        "uid": uid, "lat": lat, "lon": lon, "anchor": anchor,
    }


def recrawl(seed: int, base: dict, n_recrawl: int, n_new: int) -> dict:
    """Upsert delta: ``n_recrawl`` re-crawled urls of ``base`` (same place,
    new body, strictly newer warc_ts) followed by ``n_new`` new urls."""
    rng = np.random.default_rng([seed, 2])
    pick = np.sort(rng.choice(len(base["uid"]), n_recrawl, replace=False))
    old = _assemble(rng, base["uid"][pick], base["lat"][pick],
                    base["lon"][pick], base["anchor"][pick], rev=1,
                    ts_offset_s=60 * 86_400)
    new = pages(seed, n_new, first_id=int(base["uid"].max()) + 1, rev=1,
                ts_offset_s=60 * 86_400, rng=rng)
    return {k: np.concatenate([old[k], new[k]]) for k in old}


TABLE_COLUMNS = ("url", "warc_ts", "html", "text", "lang")


def table(d: dict, columns=TABLE_COLUMNS) -> pd.DataFrame:
    return pd.DataFrame({c: d[c] for c in columns})


def points(seed: int, n: int) -> pd.DataFrame:
    """Stored point table input: DataFrame(cid, lat, lon), all on the grid."""
    rng = np.random.default_rng([seed, 3])
    lat, lon = _coords(rng, n, offgrid=False)
    return pd.DataFrame({"cid": np.arange(n, dtype=np.int64),
                         "lat": lat, "lon": lon})


def query_points(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Lookup-stream points: same mix as the stored points, another stream."""
    return _coords(np.random.default_rng([seed, 4]), n, offgrid=False)
