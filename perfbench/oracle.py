"""Numpy oracles for the benchmark's workloads.

Each oracle starts from generator truth and recomputes the expected answer
without Spark: the grid kernels (``proj.forward`` + ``grids.grid_b_encode_xy``
+ ``cells.pack``) give each point's cell, a sorted-array prefix match gives
its jurisdiction, brute force gives kNN, ``np.bincount`` gives rollups, and a
dictionary of latest versions checks the upserted ledger.  A mismatch marks
the operation failed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from co_new_spark.grid import cells, grids, proj


def truth_cells(lat, lon, rbits: int) -> np.ndarray:
    """Generator (lat, lon) -> Grid B cell at ``rbits``; -1 for NaN/off-grid."""
    lat = np.asarray(lat, np.float64)
    lon = np.asarray(lon, np.float64)
    ok = np.isfinite(lat) & np.isfinite(lon)
    x, y = proj.forward(np.where(ok, lat, 0.0), np.where(ok, lon, 0.0))
    ok &= np.isfinite(x) & np.isfinite(y)
    bits, valid = grids.grid_b_encode_xy(np.where(ok, x, 0.0),
                                         np.where(ok, y, 0.0), rbits)
    cell = cells.pack(bits, np.full(bits.shape, 4 + rbits, dtype=np.int64))
    return np.where(valid & ok, cell, np.int64(-1))


def ancestor(cell, depth: int) -> np.ndarray:
    """Ancestor of each cell at absolute bit depth; -1 where shallower."""
    cell = np.asarray(cell, np.int64)
    nb = cell & 63
    up = ((cell >> 6) >> np.maximum(nb - depth, 0)) << 6 | depth
    return np.where((cell >= 0) & (nb >= depth), up, np.int64(-1))


class CoverIndex:
    """Prefix matcher over a cover: point cell -> min isolabel_ext among all
    cover cells that are ancestors-or-equal of the point's cell."""

    def __init__(self, cover: pd.DataFrame):
        self.labels = np.array(sorted(cover["isolabel_ext"].unique()), dtype=object)
        rank = np.searchsorted(self.labels, cover["isolabel_ext"].to_numpy(object))
        self.by_depth = {}
        for d in sorted(int(v) for v in cover["depth"].unique()):
            m = cover["depth"].to_numpy() == d
            c = cover["cell"].to_numpy(np.int64)[m]
            order = np.lexsort((rank[m], c))
            c, r = c[order], rank[m][order]
            first = np.r_[True, c[1:] != c[:-1]]  # min rank per cell
            self.by_depth[d] = (c[first], r[first])

    def best(self, cell) -> np.ndarray:
        """Label rank per point (-1 = no jurisdiction)."""
        cell = np.asarray(cell, np.int64)
        best = np.full(cell.shape, len(self.labels), dtype=np.int64)
        for d, (cov_cells, cov_rank) in self.by_depth.items():
            anc = ancestor(cell, d)
            pos = np.clip(np.searchsorted(cov_cells, anc), 0, len(cov_cells) - 1)
            hit = (anc >= 0) & (cov_cells[pos] == anc)
            best = np.where(hit, np.minimum(best, cov_rank[pos]), best)
        return np.where(best < len(self.labels), best, -1)

    def counts(self, cell) -> dict:
        """Per-jurisdiction point counts (the geocode_join result)."""
        b = self.best(cell)
        n = np.bincount(b[b >= 0], minlength=len(self.labels))
        return {self.labels[i]: int(n[i]) for i in np.nonzero(n)[0]}

    def lookup(self, ids, cell) -> dict:
        """id -> label for matched points (the cover-probe result)."""
        b = self.best(cell)
        return {int(i): self.labels[r] for i, r in zip(ids, b) if r >= 0}


def lattice(x, y, rbits: int) -> tuple[np.ndarray, np.ndarray]:
    """Global Grid B lattice (gx, gy) at an even ``rbits`` from planar x, y."""
    side = grids.L0_SIDE / (1 << (rbits // 2))
    return (np.floor((np.asarray(x) - grids.L0_ORIGIN_X) / side).astype(np.int64),
            np.floor((np.asarray(y) - grids.L0_ORIGIN_Y) / side).astype(np.int64))


class KnnOracle:
    """Brute-force kNN with ``knn_ring``'s candidate rule: candidates whose
    lattice cell is within Chebyshev distance ``ring`` of the query's cell;
    queries with fewer than k candidates there use ``fallback_ring``."""

    def __init__(self, cid, x, y, rbits: int):
        self.cid = np.asarray(cid, np.int64)
        self.x = np.asarray(x, np.float64)
        self.y = np.asarray(y, np.float64)
        self.rbits = rbits
        self.gx, self.gy = lattice(self.x, self.y, rbits)

    def query(self, qx: float, qy: float, k: int, ring: int,
              fallback_ring: int) -> tuple[np.ndarray, np.ndarray, bool]:
        """-> (cids, dists, used_fallback) ordered by (dist, cid)."""
        qgx, qgy = lattice(np.array([qx]), np.array([qy]), self.rbits)
        cheb = np.maximum(np.abs(self.gx - qgx[0]), np.abs(self.gy - qgy[0]))
        used = False
        m = cheb <= ring
        if m.sum() < k:
            m, used = cheb <= fallback_ring, True
        d = np.sqrt((self.x[m] - qx) ** 2 + (self.y[m] - qy) ** 2)
        order = np.lexsort((self.cid[m], d))[:k]
        return self.cid[m][order], d[order], used


def knn_matches(got: list, cids: np.ndarray, dists: np.ndarray) -> bool:
    """Spark rows (cid, dist rounded to 3 places, rn) vs the oracle."""
    got = sorted(got, key=lambda r: r[2])
    if len(got) != len(cids):
        return False
    if sorted(int(r[0]) for r in got) != sorted(int(c) for c in cids):
        return False
    return all(abs(float(r[1]) - float(d)) <= 1.5e-3 for r, d in zip(got, dists))


def rollup(cell, anchor: int, anchor_depth: int, up_bits: int) -> dict:
    """Counts of the anchor's subtree points per ancestor ``up_bits`` above
    each point's own depth (``cells_sql.cell_parent(cell, up_bits)``)."""
    cell = np.asarray(cell, np.int64)
    sub = cell[ancestor(cell, anchor_depth) == anchor]
    nb = sub & 63
    parent = ((sub >> 6) >> up_bits) << 6 | (nb - up_bits)
    keys, inv = np.unique(parent, return_inverse=True)
    n = np.bincount(inv, minlength=len(keys))
    return {int(k): int(c) for k, c in zip(keys, n)}


def latest(frames: list) -> pd.DataFrame:
    """Latest version per url over ledger inputs (later frames win ties)."""
    allf = pd.concat([f.assign(__src=i) for i, f in enumerate(frames)],
                     ignore_index=True)
    allf = allf.sort_values(["url", "warc_ts", "__src"])
    return allf.drop_duplicates("url", keep="last").drop(columns="__src") \
        .set_index("url").sort_index()


def ledger_matches(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Read-back (url, warc_ts, text, cell) equals the latest-version table."""
    if len(got) != len(want) or got["url"].duplicated().any():
        return False
    g = got.set_index("url").sort_index()
    if not g.index.equals(want.index):
        return False
    ts_g = pd.to_datetime(g["warc_ts"]).dt.tz_localize(None).astype("datetime64[us]")
    ts_w = pd.to_datetime(want["warc_ts"]).astype("datetime64[us]")
    return bool((ts_g.to_numpy() == ts_w.to_numpy()).all()
                and (g["text"].to_numpy(object) == want["text"].to_numpy(object)).all()
                and (g["cell"].to_numpy(np.int64) == want["cell"].to_numpy(np.int64)).all())
