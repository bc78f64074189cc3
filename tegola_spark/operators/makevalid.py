"""Polygon make-valid via x-column trapezoid sweep (reference G3).

From-scratch implementation of tegola's makevalid pipeline
(maths/makevalid/main.go:157-311 destructure5 + plyg ring assembly),
with the reference's exact point arithmetic so outputs are
vertex-comparable to the golden table in makevalid_test.go:

  1. effective clipbox = extent INTERSECT geometry bbox
     (main.go:162-169; geom/bbox.go:347-380, strict: empty if
     minx >= maxx)
  2. dedup segments to canonical direction + add clipbox edges
     (destructure2, main.go:72-98)
  3. split every segment at pairwise intersections; intersection points
     are computed with the reference's branchy slope-intercept formula
     (maths/maths.go:160-234) and ROUNDED with the reference's quirky
     round — trunc plus 1 only when the fractional part exceeds 0.5,
     so negatives always truncate toward zero (maths/maths.go:44-59);
     a rounded point must still fall in BOTH segments' bboxes or the
     split is skipped (splitPoints, makevalid.go:44-85); segments
     sharing an endpoint never split each other
  4. drop sub-segments not fully inside the clipbox (splitSegments,
     makevalid.go:87-106; ContainsLine geom/bbox.go:278-283)
  5. xs = sorted unique x of the surviving endpoints; add a vertical
     column line per x; re-split everything (same rounding rules)
     so every non-vertical sub-segment spans exactly one column
     (main.go:196-211)
  6. between vertically-consecutive spanning sub-segments in each
     column, label the trapezoid by the hitmap at its centroid
     (hitmap labels: per-polygon ring 0 Inside, later rings Outside,
     LAST containing ring wins — maths/hitmap/hitmap.go:256-294);
     keep Inside trapezoids (plyg.BuildRingCol analog)
  7. assemble kept trapezoids into rings: shared edges cancel (non-
     vertical exactly, vertical by signed interval sweep), remaining
     directed edges stitch into loops taking the leftmost turn at
     pinch points (plyg/ring.go equivalent); exactly-collinear
     vertices drop, rounded near-collinear column crossings stay —
     matching the golden outputs
  8. canonicalize to the reference's form: each ring rotated to start
     at its lexicographically-smallest (x, y) vertex, shells CCW in
     y-up (holes CW), polygons ordered by shell start vertex

CALLING CONVENTION: make_valid's contract is INTEGER-GRID coordinates —
split points round to integers (like the reference's MakeValid), so
sub-integer-scale features distort by design (a clip-edge crossing at
(257.4, 189) becomes the vertex (257, 189), exactly as Pt.Round would
produce). The always-on clean path (validate.go:101-127) provides the
grid by wrapping the call in the x10 fixed-point scale-up / x0.1
scale-down — see geometry.clean_geometry — bounding boundary
distortion to 0.05 pixel units. Randomized coverage-robustness tests
in tests/test_makevalid_golden.py pin both conventions.

The reference parallelizes columns with NumCPU workers
(makevalid/main.go:19-23); here Spark task parallelism replaces that
(R8 in SURVEY.md §4) and the kernel stays single-threaded but
NumPy-vectorized over segment pairs.
"""

from __future__ import annotations

import math as _math
from collections import defaultdict

import numpy as np

from . import geometry as G

_EPS = 1e-9
_QUANT = 1e7  # dict-key quantization grid for edge cancellation
_PAIR_BLOCK = 512  # row block for the vectorized pairwise gate


class _RingEvents:
    """Exact port of hitmap segEvents (maths/hitmap/hitmap.go:61-180):
    a leftward ray cast in FIXED-POINT y (int64 of y*100, truncated
    toward zero like Go's conversion), with the reference's vertex,
    on-line, vertical and horizontal special cases. The fixed-point
    quantization decides borderline sliver trapezoids exactly as the
    reference does — a float even-odd test diverges on golden case 1."""

    def __init__(self, ring: np.ndarray):
        ring = np.asarray(ring, dtype=np.float64)
        a = np.roll(ring, 1, axis=0)  # NewSegmentFromRing: line j->i, j=last
        b = ring
        keep = ~((a[:, 0] == b[:, 0]) & (a[:, 1] == b[:, 1]))
        a, b = a[keep], b[keep]
        self.bbox = (ring[:, 0].min(), ring[:, 1].min(),
                     ring[:, 0].max(), ring[:, 1].max())
        # canonical event direction (segEvents.Add, hitmap.go:82-105):
        # keep order when x descending is false... i.e. swap unless
        # (x0 == x1 and y0 > y1) or x0 < x1
        keep_order = ((a[:, 0] == b[:, 0]) & (a[:, 1] > b[:, 1])) | (a[:, 0] < b[:, 0])
        p1 = np.where(keep_order[:, None], a, b)
        p2 = np.where(keep_order[:, None], b, a)
        self.x1 = p1[:, 0]
        self.y1 = np.trunc(p1[:, 1] * 100).astype(np.int64)
        self.x2 = p2[:, 0]
        self.y2 = np.trunc(p2[:, 1] * 100).astype(np.int64)
        # SlopeIntercept on the ORIGINAL line order (orientation-free)
        dx = b[:, 0] - a[:, 0]
        dy = b[:, 1] - a[:, 1]
        axis = (dx == 0) | (dy == 0)
        with np.errstate(divide="ignore", invalid="ignore"):
            m = np.where(axis, 0.0, dy / np.where(dx == 0, 1.0, dx))
        self.m = m
        self.b = np.where(axis, a[:, 1], a[:, 1] - m * a[:, 0])
        self.mdef = dx != 0

    def contains(self, pts: np.ndarray) -> np.ndarray:
        """Vectorized over pts for one ring; one pass per event."""
        px = pts[:, 0]
        y100 = np.trunc(pts[:, 1] * 100).astype(np.int64)
        n = len(pts)
        done = np.zeros(n, dtype=bool)   # returned true (on boundary)
        count = np.zeros(n, dtype=np.int64)
        bx0, by0, bx1, by1 = self.bbox
        inbb = (px >= bx0) & (pts[:, 1] >= by0) & (px <= bx1) & (pts[:, 1] <= by1)
        for i in range(len(self.x1)):
            x1, x2 = self.x1[i], self.x2[i]
            ey1, ey2 = self.y1[i], self.y2[i]
            uy, ly = (ey1, ey2) if ey1 <= ey2 else (ey2, ey1)
            act = inbb & ~done & (x1 <= px) & (y100 >= uy) & (y100 <= ly)
            if not act.any():
                continue
            if ey1 == ey2:  # horizontal: on-line check only
                on = act & (y100 == ey1) & (x1 <= px) & (px <= x2)
                done |= on
                continue
            rem = act
            # vertex crossings (hitmap.go:140-153)
            v1 = rem & (y100 == ey1) & (x1 < px)
            count += (v1 & (ey2 <= ey1)).astype(np.int64)
            rem &= ~v1
            v2 = rem & (y100 == ey2) & (x2 < px)
            count += (v2 & (ey1 <= ey2)).astype(np.int64)
            rem &= ~v2
            if not self.mdef[i]:  # vertical
                onv = rem & (px == x1)
                done |= onv
                rem &= ~onv
            left = rem & (px > x2)
            count += left.astype(np.int64)
            rem &= ~left
            if rem.any():
                y = np.trunc((self.m[i] * px + self.b[i]) * 100).astype(np.int64)
                on = rem & (y == y100)
                done |= on
                rem &= ~on
                cross = rem & (((self.m[i] < 0) & (y < y100))
                               | ((self.m[i] > 0) & (y > y100)))
                count += cross.astype(np.int64)
        return done | ((count % 2) != 0)


class HitMap:
    """maths/hitmap/hitmap.go:256-340. ``rings`` with per-ring labels
    (True=Inside, False=Outside); LabelFor scans LAST ring to FIRST and
    returns the label of the first containing ring, else Outside.

    Default labels (ring 0 Inside, rest Outside) match NewFromPolygon /
    NewFromLines; pass explicit labels for the NewFromMultiPolygon
    concatenation (each polygon's ring 0 Inside)."""

    def __init__(self, rings, labels=None):
        rings = [np.asarray(r, dtype=np.float64) for r in rings]
        if labels is None:
            labels = [i == 0 for i in range(len(rings))]
        # degenerate rings (< 1 segment) contribute no events and are
        # dropped with their labels — NewFromPolygon accepts nil/empty
        # polygons and empty lines without panicking (hitmap_test.go:
        # 131-199); an empty hitmap labels everything Outside
        kept = [(r, l) for r, l in zip(rings, labels) if len(r) >= 2]
        self.rings = [r for r, _ in kept]
        self.labels = [l for _, l in kept]
        self._events = [_RingEvents(r) for r in self.rings]

    def inside(self, pts: np.ndarray) -> np.ndarray:
        pts = np.asarray(pts, dtype=np.float64).reshape(-1, 2)
        label = np.zeros(len(pts), dtype=bool)  # default Outside
        decided = np.zeros(len(pts), dtype=bool)
        for i in range(len(self.rings) - 1, -1, -1):
            contains = self._events[i].contains(pts)
            newly = contains & ~decided
            label[newly] = self.labels[i]
            decided |= contains
        return label


# ---------------------------------------------------------------------------
# reference point arithmetic
# ---------------------------------------------------------------------------

def round_ref(v):
    """maths.go:44-59 Pt.Round: trunc + 1 only when frac > 0.5.
    Exactly 0.5 rounds DOWN; negative fractions never exceed 0.5 so
    negatives truncate toward zero. Vectorized."""
    t = np.trunc(v)
    return t + ((v - t) > 0.5)


def _intersect_gate(segs: np.ndarray) -> list:
    """Pairs (i, j) i<j whose segments pass DoesIntersect
    (line_intersect.go:123-156, saddle method — the two cross-product
    products are endpoint-order invariant) and do NOT share an endpoint
    (splitPoints's IsEqual skip, makevalid.go:62-68). Vectorized in row
    blocks to bound the O(n^2) memory."""
    n = len(segs)
    if n < 2:
        return []
    x0, y0, x1, y1 = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    out = []
    for lo in range(0, n, _PAIR_BLOCK):
        hi = min(lo + _PAIR_BLOCK, n)
        a0x = x0[lo:hi, None]; a0y = y0[lo:hi, None]
        a1x = x1[lo:hi, None]; a1y = y1[lo:hi, None]
        b0x = x0[None, :]; b0y = y0[None, :]
        b1x = x1[None, :]; b1y = y1[None, :]
        dax = a1x - a0x; day = a1y - a0y
        dbx = b1x - b0x; dby = b1y - b0y
        p1 = ((dax * (b0y - a0y) - day * (b0x - a0x))
              * (dax * (b1y - a0y) - day * (b1x - a0x)))
        p2 = ((dbx * (a0y - b0y) - dby * (a0x - b0x))
              * (dbx * (a1y - b0y) - dby * (a1x - b0x)))
        hit = ~((p1 > 0) | (p2 > 0))
        shared = (((a0x == b0x) & (a0y == b0y)) | ((a0x == b1x) & (a0y == b1y))
                  | ((a1x == b0x) & (a1y == b0y)) | ((a1x == b1x) & (a1y == b1y)))
        hit &= ~shared
        # upper triangle only (i < j), i = lo + row
        ii, jj = np.nonzero(hit)
        for r, j in zip(ii, jj):
            i = lo + int(r)
            if i < j:
                out.append((i, int(j)))
    return out


def _split_points(segs: np.ndarray) -> list:
    """splitPoints (makevalid.go:44-85): per segment, the sorted-unique
    (x-then-y) list of its endpoints plus every gated pairwise
    intersection point, ROUNDED, that lands in both bboxes."""
    n = len(segs)
    pts = [[(segs[i, 0], segs[i, 1]), (segs[i, 2], segs[i, 3])]
           for i in range(n)]

    def in_bbox(i, p):
        lx, gx = (segs[i, 0], segs[i, 2]) if segs[i, 0] <= segs[i, 2] \
            else (segs[i, 2], segs[i, 0])
        ly, gy = (segs[i, 1], segs[i, 3]) if segs[i, 1] <= segs[i, 3] \
            else (segs[i, 3], segs[i, 1])
        return lx <= p[0] <= gx and ly <= p[1] <= gy

    for i, j in _intersect_gate(segs):
        pt = G.intersect_infinite(
            ((segs[i, 0], segs[i, 1]), (segs[i, 2], segs[i, 3])),
            ((segs[j, 0], segs[j, 1]), (segs[j, 2], segs[j, 3])))
        if pt is None:
            pt = (0.0, 0.0)  # Go zero-value Pt for parallel overlap
        rp = (float(round_ref(np.float64(pt[0]))),
              float(round_ref(np.float64(pt[1]))))
        if not (in_bbox(i, rp) and in_bbox(j, rp)):
            continue
        pts[i].append(rp)
        pts[j].append(rp)
    out = []
    for lst in pts:
        lst = sorted(set((float(a), float(b)) for a, b in lst))
        out.append(lst)
    return out


def _split_segments(segs: np.ndarray, clipbox) -> np.ndarray:
    """splitSegments (makevalid.go:87-106): cut each segment at its
    split points; keep only sub-segments fully inside the clipbox."""
    pts = _split_points(segs)
    lns = []
    for lst in pts:
        for k in range(1, len(lst)):
            a, b = lst[k - 1], lst[k]
            if a == b:
                continue
            if clipbox is not None:
                cminx, cminy, cmaxx, cmaxy = clipbox
                if not (cminx <= a[0] <= cmaxx and cminy <= a[1] <= cmaxy
                        and cminx <= b[0] <= cmaxx and cminy <= b[1] <= cmaxy):
                    continue
            lns.append((a[0], a[1], b[0], b[1]))
    if not lns:
        return np.empty((0, 4), dtype=np.float64)
    return np.asarray(lns, dtype=np.float64)


def _segments_of(rings) -> np.ndarray:
    """destructure2 (main.go:72-98): unique segments in canonical
    (left-right-most) direction; zero-length dropped."""
    seen = set()
    out = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if len(r) < 2:
            continue
        closed = np.vstack([r, r[:1]]) if (r[0] != r[-1]).any() else r
        for i in range(len(closed) - 1):
            a = (float(closed[i, 0]), float(closed[i, 1]))
            b = (float(closed[i + 1, 0]), float(closed[i + 1, 1]))
            if a == b:
                continue
            key = (a, b) if a <= b else (b, a)
            if key in seen:
                continue
            seen.add(key)
            out.append((key[0][0], key[0][1], key[1][0], key[1][1]))
    if not out:
        return np.empty((0, 4), dtype=np.float64)
    return np.asarray(out, dtype=np.float64)


def make_valid(rings, clip_ext=None, labels=None):
    """MakeValid (main.go:304-311 -> destructure5): rings (+ per-ring
    hitmap labels) -> list of polygons [[shell, hole...], ...].
    Output rings are in the reference's canonical form (module doc)."""
    rings = [np.asarray(r, dtype=np.float64) for r in rings if len(r) >= 3]
    if not rings:
        return []
    hm = HitMap(rings, labels=labels)

    # effective clipbox = clip INTERSECT geometry bbox (main.go:162-169)
    allpts = np.vstack([np.asarray(r) for r in rings])
    gminx, gminy = allpts.min(axis=0)
    gmaxx, gmaxy = allpts.max(axis=0)
    if clip_ext is None:
        clipbox = (float(gminx), float(gminy), float(gmaxx), float(gmaxy))
    else:
        cminx = max(clip_ext[0], gminx)
        cmaxx = min(clip_ext[2], gmaxx)
        cminy = max(clip_ext[1], gminy)
        cmaxy = min(clip_ext[3], gmaxy)
        if cminx >= cmaxx or cminy >= cmaxy:
            return []
        clipbox = (float(cminx), float(cminy), float(cmaxx), float(cmaxy))

    segs = _segments_of(rings)
    if len(segs) <= 1:
        return []
    # add clipbox edges as segments (destructure2, main.go:84-90)
    cminx, cminy, cmaxx, cmaxy = clipbox
    edges = np.array([
        (cminx, cminy, cmaxx, cminy),
        (cminx, cmaxy, cmaxx, cmaxy),
        (cminx, cminy, cminx, cmaxy),
        (cmaxx, cminy, cmaxx, cmaxy),
    ], dtype=np.float64)
    segs = np.vstack([segs, edges])

    # phase 1: split at intersections, clip-filter (main.go:188-191)
    flines = _split_segments(segs, clipbox)
    if not len(flines):
        return []

    # phase 2: column lines at each unique x, re-split (main.go:197-211)
    xs = np.unique(np.concatenate([flines[:, 0], flines[:, 2]]))
    cols = np.column_stack([xs, np.full_like(xs, cminy),
                            xs, np.full_like(xs, cmaxy)])
    lines = np.vstack([flines, cols])
    pts2 = _split_points(lines)
    finals = []
    for lst in pts2:
        for k in range(1, len(lst)):
            a, b = lst[k - 1], lst[k]
            if a != b:
                finals.append((a[0], a[1], b[0], b[1]))
    if not finals:
        return []
    fin = np.asarray(finals, dtype=np.float64)

    # colptmap (colptmap.go:56-78): column point lists from consecutive
    # split pairs + Pt2MaxY (max y*100 a point's lines reach on the NEXT
    # column, capped at the clip top)
    cmax_y100 = int(np.trunc(cmaxy * 100))
    x2pt: dict = defaultdict(set)
    pt2maxy: dict = {}
    for lst in pts2:
        for p in lst:
            x2pt[p[0]].add(p)
        for k in range(1, len(lst)):
            p1, p2 = lst[k - 1], lst[k]
            if p1[0] == p2[0]:
                continue
            # p1 is left of p2 (SortAndUnique is x-then-y ascending)
            y100 = min(int(np.trunc(p2[1] * 100)), cmax_y100)
            old = pt2maxy.get(p1)
            if old is None or old < y100:
                pt2maxy[p1] = y100
    cols_pts = {x: sorted(v) for x, v in x2pt.items()}

    # per adjacent column pair, triangulate between the point lists
    # (plyg.BuildRingCol -> _getTrianglesForCol, ring.go:509-553) and
    # label each triangle's centroid with the hitmap (ring.go:168-172);
    # a column that errors is dropped, as the reference worker does
    # (main.go:264-276)
    xs_list = [float(v) for v in xs]
    tris_pts = []
    cents = []
    for ci in range(len(xs_list) - 1):
        x0, x1 = xs_list[ci], xs_list[ci + 1]
        if x0 < cminx or x0 > cmaxx or x1 > cmaxx:
            continue  # worker skip, main.go:246-254
        col1 = cols_pts.get(x0)
        col2 = cols_pts.get(x1)
        if not col1 or not col2:
            continue
        try:
            tris = _triangles_for_col(pt2maxy, col1, col2)
        except _ColError:
            continue
        for (a, n1, b, n2) in tris:
            pts = list(col1[a:a + n1]) + list(col2[b:b + n2])
            if len(pts) != 3:
                continue
            tris_pts.append(pts)
            cents.append(((pts[0][0] + pts[1][0] + pts[2][0]) / 3.0,
                          (pts[0][1] + pts[1][1] + pts[2][1]) / 3.0))
    if not tris_pts:
        return []
    keep = hm.inside(np.asarray(cents, dtype=np.float64))
    tris_pts = [t for t, k in zip(tris_pts, keep) if k]
    if not tris_pts:
        return []

    return _assemble(tris_pts)


class _ColError(Exception):
    """plyg.ColLenghtErr / the Go panic-on-overrun — the reference
    worker logs and leaves the column empty (main.go:264-276)."""


def _trunc100(y: float) -> int:
    return int(np.trunc(np.float64(y) * 100))


def _get_triangles(pt2maxy, col1, col2):
    """getTriangles (plyg/ring.go:429-508) exact port: triangulate the
    head of two column point lists; a line from col1[0] descending below
    col2[0] (Pt2MaxY) forces a fan instead of the simple diagonal.
    Returns (tris, col1_advance, col2_advance); tris entries are
    (i, n1, j, n2) slices into col1/col2."""
    c1, c2 = len(col1), len(col2)
    if c1 == 0 or c2 == 0:
        raise _ColError
    if c1 < 2 and c2 < 2:
        raise _ColError
    if c1 == 1:
        return [(0, 1, 0, 2)], 0, 1
    if c2 == 1:
        return [(0, 2, 0, 1)], 1, 0
    maxy = pt2maxy.get(col1[0])
    if maxy is None or maxy <= _trunc100(col2[0][1]):
        tris = [(0, 2, 0, 1)]
        idx = 0
        if _trunc100(col2[1][1]) <= _trunc100(col1[1][1]):
            idx = 1
            tris.append((1, 1, 0, 2))
        return tris, 1, idx
    tris = []
    idx = 1
    while idx < c2 and _trunc100(col2[idx][1]) < maxy:
        tris.append((0, 1, idx - 1, 2))
        idx += 1
    if idx >= c2:
        raise _ColError  # Go would panic indexing col2[idx]
    tris.append((0, 1, idx - 1, 2))
    tris.append((0, 2, idx, 1))
    return tris, 1, idx


def _triangles_for_col(pt2maxy, col1, col2):
    """_getTrianglesForCol (plyg/ring.go:509-532)."""
    tris = []
    i = j = 0
    guard = 4 * (len(col1) + len(col2)) + 16
    while j < len(col2):
        guard -= 1
        if guard < 0:
            raise _ColError
        ts, i1, j1 = _get_triangles(pt2maxy, col1[i:], col2[j:])
        for (a, n1, b, n2) in ts:
            tris.append((a + i, n1, b + j, n2))
        i += i1
        j += j1
        if i == len(col1) - 1 and j == len(col2) - 1:
            break
    return tris


def _assemble(tris):
    """plyg ring assembly analog: orient every kept (Inside) triangle
    CCW, cancel shared edges, stitch the remaining directed boundary
    into rings, canonicalize."""
    edge_count: dict = defaultdict(int)  # directed non-vertical edges
    vert: dict = defaultdict(list)       # x -> [(ylo, yhi, sign)]

    def q(v: float) -> int:
        return int(round(v * _QUANT))

    for pts in tris:
        (ax, ay), (bx, by), (cx, cy) = pts
        area2 = (bx - ax) * (cy - ay) - (cx - ax) * (by - ay)
        if area2 < 0:
            pts = pts[::-1]
        ring = [(q(p[0]), q(p[1])) for p in pts]
        for k in range(3):
            a, b = ring[k], ring[(k + 1) % 3]
            if a == b:
                continue
            if a[0] == b[0]:  # vertical: signed interval
                if b[1] > a[1]:
                    vert[a[0]].append((a[1], b[1], +1))
                else:
                    vert[a[0]].append((b[1], a[1], -1))
            else:
                edge_count[(a, b)] += 1

    edges = []  # directed ((x,y),(x,y)) in quantized ints
    for e, c in list(edge_count.items()):
        rev = (e[1], e[0])
        net = c - edge_count.get(rev, 0)
        if net > 0 and e[0] != e[1]:
            edges.extend([e] * net)
            edge_count[rev] = 0
            edge_count[e] = 0
    for x, intervals in vert.items():
        breaks = sorted({y for (a, b, _) in intervals for y in (a, b)})
        for bi in range(len(breaks) - 1):
            ylo, yhi = breaks[bi], breaks[bi + 1]
            if yhi <= ylo:
                continue
            net = sum(s for (a, b, s) in intervals if a <= ylo and b >= yhi)
            if net > 0:    # boundary going up (right side of interior)
                edges.append(((x, ylo), (x, yhi)))
            elif net < 0:  # going down
                edges.append(((x, yhi), (x, ylo)))

    # stitch directed edges into loops; at pinch points (several
    # outgoing edges) take the LEFTMOST turn relative to the incoming
    # direction — each pinch pairing hugs the interior, which both
    # separates side-by-side lobes into distinct polygons AND joins an
    # outer boundary to its inner slit through the pinch vertex,
    # exactly reproducing the golden pairings at (2763,946), (2787,955)
    # and (2851,978) in makevalid_test.go case 1. Loops must START at a
    # single-out-edge vertex: a traversal born at a pinch has no
    # incoming direction and would pair arbitrarily.
    out_adj = defaultdict(list)
    for a, b in edges:
        out_adj[a].append(b)
    loops = []
    while True:
        avail = [k for k, v in out_adj.items() if v]
        if not avail:
            break
        singles = [k for k in avail if len(out_adj[k]) == 1]
        start = min(singles) if singles else min(avail)
        loop = [start]
        prev = None
        cur = start
        for _ in range(len(edges) + 1):
            nxts = out_adj[cur]
            if not nxts:
                break
            if len(nxts) == 1:
                nxt = nxts.pop()
            elif prev is None:
                nxt = min(nxts)  # deterministic fallback (pinch-only loop)
                nxts.remove(nxt)
            else:
                din = _math.atan2(cur[1] - prev[1], cur[0] - prev[0])

                def turn(cand):
                    dout = _math.atan2(cand[1] - cur[1], cand[0] - cur[0])
                    # CCW turn angle in (0, 2pi]; largest = leftmost
                    t = (dout - din - _math.pi) % (2 * _math.pi)
                    return t if t > 1e-12 else 2 * _math.pi

                nxt = max(nxts, key=turn)
                nxts.remove(nxt)
            loop.append(nxt)
            prev, cur = cur, nxt
            if cur == start:
                break
        if len(loop) > 3 and loop[0] == loop[-1]:
            loops.append(loop[:-1])

    # de-quantize, drop exactly-collinear points, orient + canonicalize
    polys = []
    holes = []
    for loop in loops:
        arr = np.array(loop, dtype=np.float64) / _QUANT
        keep = []
        n = len(arr)
        for i in range(n):
            a, b, c = arr[i - 1], arr[i], arr[(i + 1) % n]
            cross = (b[0] - a[0]) * (c[1] - a[1]) - (c[0] - a[0]) * (b[1] - a[1])
            if abs(cross) > _EPS:
                keep.append(arr[i])
        if len(keep) < 3:
            continue
        ring = np.array(keep)
        area2 = float(np.dot(ring[:, 0], np.roll(ring[:, 1], -1))
                      - np.dot(np.roll(ring[:, 0], -1), ring[:, 1]))
        ring = _canonical_ring(ring, ccw=True)
        if area2 > 0:  # CCW in y-up = shell
            polys.append([ring])
        else:
            holes.append(_canonical_ring(ring, ccw=False))
    for h in holes:
        pt = h[0:1]
        for p in polys:
            if G.points_in_rings(pt, [p[0]])[0]:
                p.append(h)
                break
    # polygon order: by shell start vertex (x then y) — matches the
    # golden tables' left-to-right column emission
    polys.sort(key=lambda p: (p[0][0, 0], p[0][0, 1]))
    return polys


def _canonical_ring(ring: np.ndarray, ccw: bool) -> np.ndarray:
    """Rotate to start at the lexicographically smallest (x, y) vertex;
    orient CCW (shells) or CW (holes) in y-up coordinates."""
    area2 = float(np.dot(ring[:, 0], np.roll(ring[:, 1], -1))
                  - np.dot(np.roll(ring[:, 0], -1), ring[:, 1]))
    if (area2 > 0) != ccw:
        ring = ring[::-1]
    k = int(np.lexsort((ring[:, 1], ring[:, 0]))[0])
    return np.roll(ring, -k, axis=0)
