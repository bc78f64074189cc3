"""Independent NumPy answers the benchmark checks the program against.

Nothing here imports the program. Each function restates one rule the
program documents -- the doc_id geocode (sources/corpus.py), the
nation/region rectangles (sources/layers.py), buffered tile membership
(operators/tiling.py), exact kNN ranked by (dist_sq, id) -- in plain
NumPy, so a later change that alters an answer fails the benchmark's
per-op check instead of silently timing different work.
"""

from __future__ import annotations

import math

import numpy as np

BUFFER_FRAC = 64 / 4096
NATION_KEYS = np.arange(25, dtype=np.int64)
REGION_KEYS = np.arange(5, dtype=np.int64)


def lonlat(doc_id: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    doc_id = doc_id.astype(np.int64)
    lon = ((doc_id * 7919) % 360000).astype(np.float64) / 1000.0 - 180.0 + 0.0005
    lat = ((doc_id * 104729) % 170000).astype(np.float64) / 1000.0 - 85.0 + 0.0005
    return lon, lat


def nation_rects() -> np.ndarray:
    k = NATION_KEYS
    minx = (k * 37) % 340 - 170
    miny = (k * 23) % 160 - 80
    return np.stack([k, minx, miny, minx + 6 + k % 7, miny + 4 + k % 5], 1)


def region_rects() -> np.ndarray:
    k = REGION_KEYS
    minx = k * 72 - 180
    miny = (k * 13) % 20 - 70
    return np.stack([k, minx, miny, minx + 72, miny + 100], 1)


def _world(lon: np.ndarray, lat: np.ndarray, z: int):
    n = float(1 << z)
    wx = (lon + 180.0) / 360.0 * n
    phi = lat * (math.pi / 180.0)
    wy = (0.5 - np.log(np.tan(math.pi / 4.0 + phi / 2.0)) / (2.0 * math.pi)) * n
    return wx, wy


def point_tiles(lon: np.ndarray, lat: np.ndarray, z: int):
    """(point index, x, y) for every tile at ``z`` whose buffered extent
    holds the point -- the 3x3 neighbour test of assign_point_tiles."""
    wx, wy = _world(lon, lat, z)
    n = 1 << z
    fx, fy = np.floor(wx), np.floor(wy)
    idx, xs, ys = [], [], []
    b = BUFFER_FRAC
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            x = fx + dx
            y = fy + dy
            keep = ((x >= 0) & (x < n) & (y >= 0) & (y < n)
                    & (wx >= x - b) & (wx <= x + 1 + b)
                    & (wy >= y - b) & (wy <= y + 1 + b))
            sel = np.nonzero(keep)[0]
            idx.append(sel)
            xs.append(x[sel].astype(np.int64))
            ys.append(y[sel].astype(np.int64))
    return np.concatenate(idx), np.concatenate(xs), np.concatenate(ys)


def bbox_tiles(rects: np.ndarray, z: int) -> set:
    """Tiles at ``z`` whose buffered extent meets each rectangle's bbox."""
    out = set()
    n = 1 << z
    b = BUFFER_FRAC
    for _, minx, miny, maxx, maxy in rects.astype(np.float64):
        x0 = math.floor((minx + 180.0) / 360.0 * n - b)
        x1 = math.floor((maxx + 180.0) / 360.0 * n + b)
        _, y_top = _world(np.array([0.0]), np.array([maxy]), z)
        _, y_bot = _world(np.array([0.0]), np.array([miny]), z)
        y0 = math.floor(y_top[0] - b)
        y1 = math.floor(y_bot[0] + b)
        for x in range(max(x0, 0), min(x1, n - 1) + 1):
            for y in range(max(y0, 0), min(y1, n - 1) + 1):
                out.add((z, x, y))
    return out


def tile_keys(doc_id: np.ndarray, zooms, with_polygons: bool = True) -> set:
    """Every (z, x, y) a build over these documents must emit."""
    lon, lat = lonlat(doc_id)
    keys = set()
    for z in zooms:
        _, x, y = point_tiles(lon, lat, z)
        keys.update(zip([z] * len(x), x.tolist(), y.tolist()))
        if with_polygons:
            keys |= bbox_tiles(nation_rects(), z)
            keys |= bbox_tiles(region_rects(), z)
    return keys


def points_per_tile(doc_id: np.ndarray, z: int) -> dict:
    """{(x, y): number of documents whose buffered tile it is} at ``z``."""
    lon, lat = lonlat(doc_id)
    _, x, y = point_tiles(lon, lat, z)
    key = x * (1 << z) + y
    u, c = np.unique(key, return_counts=True)
    n = 1 << z
    return {(int(k // n), int(k % n)): int(v) for k, v in zip(u, c)}


def join_digest(doc_id: np.ndarray, rects: np.ndarray) -> list:
    """[matches, sum(doc_id), sum(doc_id * feature_id)] of the point x
    rectangle join. Point coordinates sit 0.0005 off the integer grid
    and rectangle edges on it, so no point lies on an edge."""
    lon, lat = lonlat(doc_id)
    n = s1 = s2 = 0
    for fid, minx, miny, maxx, maxy in rects:
        hit = (lon > minx) & (lon < maxx) & (lat > miny) & (lat < maxy)
        ids = doc_id[hit].astype(np.int64)
        n += int(hit.sum())
        s1 += int(ids.sum())
        s2 += int(ids.sum()) * int(fid)
    return [n, s1, s2]


def knn_digest(doc_id: np.ndarray, qid: np.ndarray, qlon: np.ndarray,
               qlat: np.ndarray, k: int, chunk: int = 32) -> list:
    """[rows, sum(doc_id), sum(doc_id * rank), sum(query_id)] of exact
    kNN, neighbours ranked by (dist_sq, doc_id)."""
    lon, lat = lonlat(doc_id)
    ids = doc_id.astype(np.int64)
    rows = s_id = s_rank = s_q = 0
    for c0 in range(0, len(qid), chunk):
        dlon = lon[None, :] - qlon[c0:c0 + chunk, None]
        dlat = lat[None, :] - qlat[c0:c0 + chunk, None]
        d = dlon * dlon + dlat * dlat
        kth = np.partition(d, k - 1, axis=1)[:, k - 1]
        for i, q in enumerate(qid[c0:c0 + chunk]):
            cand = np.nonzero(d[i] <= kth[i])[0]
            order = np.lexsort((ids[cand], d[i][cand]))[:k]
            top = ids[cand[order]]
            rows += len(top)
            s_id += int(top.sum())
            s_rank += int((top * np.arange(1, len(top) + 1)).sum())
            s_q += int(q) * len(top)
    return [rows, s_id, s_rank, s_q]


def z8_digest(doc_id: np.ndarray) -> list:
    """[tiles, memberships, sum(count * (x * 256 + y))] of the z8 point
    tile histogram."""
    counts = points_per_tile(doc_id, 8)
    return [len(counts), sum(counts.values()),
            sum(c * (x * 256 + y) for (x, y), c in counts.items())]
