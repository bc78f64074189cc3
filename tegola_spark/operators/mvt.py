"""Mapbox Vector Tile encoding (reference operators P9, E1-E8, G4).

From-scratch implementation of the MVT 2.1 wire format with the exact
semantics of the reference encoder:

  * PrepareGeo quantization: pixel affine w/ Y flip, consecutive-point
    dedup at 1e-9, ring de-closing, degenerate drop, pre-rectify winding
    (vendor/.../geom/encoding/mvt/prepare.go:21-150)
  * command encoding  cmd = (id & 0x7) | (count << 3); MoveTo=1,
    LineTo=2, ClosePath=7 (vendor/.../mvt/feature.go:93-117)
  * zigzag  uint32((i << 1) ^ (i >> 31)) on int64 — note the 31 (not
    63): ported exactly (vendor/.../mvt/feature.go:133-135)
  * delta cursor from (0,0), coords truncated to int64 BEFORE deltas,
    accumulating across rings/lines within a feature
    (vendor/.../mvt/feature.go:139-244)
  * winding re-check AFTER int truncation, reverse in place; collinear
    rings emit nothing; <2-pt first ring aborts the polygon
    (vendor/.../mvt/feature.go:195-354; winding.go:130-241)
  * tag dictionaries in first-appearance order, typed value variants
    (vendor/.../mvt/feature.go:360-702, layer.go:133-192)
  * protobuf wire format of vector_tile.proto (Tile.layers=3;
    Layer: name=1, features=2, keys=3, values=4, extent=5, version=15;
    Feature: id=1, tags=2 packed, type=3, geometry=4 packed;
    Value: string=1, float=2, double=3, int=4, uint=5, sint=6, bool=7)
    — hand-rolled varint writer; the protobuf package is not available
    in this environment and the format is tiny.

The per-(z,x,y,layer) grouped encode itself is wired to Spark in
plans/pipeline.py via applyInPandas (SURVEY.md §2.10).
"""

from __future__ import annotations

import struct

import numpy as np

GEOM_UNKNOWN = 0
GEOM_POINT = 1
GEOM_LINESTRING = 2
GEOM_POLYGON = 3

CMD_MOVETO = 1
CMD_LINETO = 2
CMD_CLOSEPATH = 7

MVT_VERSION = 2
DEFAULT_EXTENT = 4096

# 1e-9 comparator used by prepare's dedup — vendor/.../geom/cmp/default_compare.go:10-13
HI_CMP_TOL = 1e-9


# ---------------------------------------------------------------------------
# P9: PrepareGeo — projected coords -> tile pixel coords
# ---------------------------------------------------------------------------

def prepare_point(arr: np.ndarray, minx, miny, maxx, maxy):
    """Affine to pixel space with Y flip — prepare.go:81-87.

    px = (x - minx) / xspan * extent ;  py = (maxy - y) / yspan * extent
    """
    arr = np.asarray(arr, dtype=np.float64).reshape(-1, 2)
    xspan = maxx - minx
    yspan = maxy - miny
    out = np.empty_like(arr)
    out[:, 0] = (arr[:, 0] - minx) / xspan * DEFAULT_EXTENT
    out[:, 1] = (maxy - arr[:, 1]) / yspan * DEFAULT_EXTENT
    return out


def _dedup_consecutive(arr: np.ndarray) -> np.ndarray:
    """Drop consecutive points equal under 1e-9 — prepare.go:101-104."""
    if len(arr) < 2:
        return arr
    d = np.abs(np.diff(arr, axis=0))
    keep = np.concatenate([[True], (d > HI_CMP_TOL).any(axis=1)])
    return arr[keep]


def prepare_geo(geom, tile_extent):
    """PrepareGeo — prepare.go:21-150. ``tile_extent`` is the tile's
    projected (minx, miny, maxx, maxy). Returns a prepared geometry
    tuple or None (nil/empty geometries are skipped — atlas/map.go:232-236)."""
    minx, miny, maxx, maxy = tile_extent
    gtype, data = geom

    def pp(a):
        return prepare_point(a, minx, miny, maxx, maxy)

    if gtype == "Point":
        return ("Point", pp(np.asarray(data).reshape(1, 2)).reshape(2))

    if gtype == "LineString":
        ls = _prepare_linestring(np.asarray(data), pp)
        return None if ls is None else ("LineString", ls)

    if gtype == "MultiLineString":
        out = []
        for line in data:
            nl = _prepare_linestring(np.asarray(line), pp)
            if nl is not None:
                out.append(nl)
        return ("MultiLineString", out) if out else None

    if gtype == "Polygon":
        p = _prepare_polygon(data, pp)
        return ("Polygon", p) if p else None

    if gtype == "MultiPolygon":
        out = []
        for rings in data:
            p = _prepare_polygon(rings, pp)
            if p:
                out.append(p)
        return ("MultiPolygon", out) if out else None

    return None


def _prepare_linestring(pts: np.ndarray, pp):
    # prepare.go:89-112: <2 points -> nil; dedup; re-check length
    if len(pts) < 2:
        return None
    ls = _dedup_consecutive(pp(pts))
    if len(ls) < 2:
        return None
    return ls


def _prepare_polygon(rings, pp):
    # prepare.go:114-150: per ring: <2 pts skip; dedup; de-close if
    # first == last; <2 after -> skip; then rectify winding Y-up.
    out = []
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
        if len(ring) < 2:
            continue
        ln = _dedup_consecutive(pp(ring))
        if len(ln) >= 2 and np.all(np.abs(ln[0] - ln[-1]) <= HI_CMP_TOL):
            ln = ln[:-1]
        if len(ln) < 2:
            continue
        out.append(ln)
    # RectifyPolygon with YPositiveDown=false — prepare.go:146-149
    return rectify_polygon(out, y_positive_down=False)


# ---------------------------------------------------------------------------
# G4 / A5: winding order (surveyor's formula)
# ---------------------------------------------------------------------------

def _xprod_sum(pts: np.ndarray) -> float:
    """winding.go:108-127: sum over edges of cross products (shoelace *2),
    computed on points translated so pts[0] is the origin
    (winding.go:160-168)."""
    pts = np.asarray(pts, dtype=np.float64)
    adj = pts - pts[0]
    rolled = np.roll(adj, 1, axis=0)  # pts[li] with li starting at last
    return float(np.sum(rolled[:, 0] * adj[:, 1] - adj[:, 0] * rolled[:, 1]))


CLOCKWISE = -1
COUNTER_CLOCKWISE = 1
COLINEAR = 0


def winding(pts: np.ndarray, y_positive_down: bool) -> int:
    """Reference constants: Clockwise=-1, CounterClockwise=1, Colinear=0
    (winding.go:15-28). Orient = sign of the shoelace sum (1 if
    positive), negated when y is down (winding.go:130-168)."""
    pts = np.asarray(pts, dtype=np.float64)
    if len(pts) < 3:
        return COLINEAR
    s = _xprod_sum(pts)
    if s == 0.0:
        return COLINEAR
    orient = -1 if np.signbit(s) else 1
    return -orient if y_positive_down else orient


def rectify_polygon(rings, y_positive_down: bool):
    """RectifyPolygon — winding.go:203-241. Ring 0 must be CW, others
    CCW (in the given y convention); wrong-way rings are reversed;
    collinear rings dropped; collinear ring 0 drops the polygon."""
    out = []
    for i, ring in enumerate(rings):
        wo = winding(ring, y_positive_down)
        if wo == COLINEAR:
            if i == 0:
                return []
            continue
        want = CLOCKWISE if i == 0 else COUNTER_CLOCKWISE
        out.append(ring[::-1] if wo != want else ring)
    return out


# ---------------------------------------------------------------------------
# E1-E4: geometry command stream
# ---------------------------------------------------------------------------

def command(cmd_id: int, count: int) -> int:
    """E1 — feature.go:104-107."""
    return (cmd_id & 0x7) | (count << 3)


def zigzag(deltas) -> np.ndarray:
    """E2 — feature.go:133-135: uint32((i << 1) ^ (i >> 31)) on int64.

    The shift by 31 (not 63) is a quirk of the reference; ported
    exactly, with int64 wraparound on the left shift.
    """
    d = np.asarray(deltas, dtype=np.int64)
    with np.errstate(over="ignore"):
        v = (d << 1) ^ (d >> 31)
    return (v & 0xFFFFFFFF).astype(np.uint32)


class Cursor:
    """E3 delta cursor — feature.go:139-174. Starts at (0,0); persists
    across rings/lines within one feature; operates on int64 coords."""

    __slots__ = ("x", "y")

    def __init__(self):
        self.x = 0
        self.y = 0

    def deltas(self, ipts: np.ndarray) -> np.ndarray:
        """ipts: (n,2) int64 points -> (n,2) int64 deltas, cursor updated."""
        ipts = np.asarray(ipts, dtype=np.int64).reshape(-1, 2)
        prev = np.empty_like(ipts)
        prev[0] = (self.x, self.y)
        prev[1:] = ipts[:-1]
        if len(ipts):
            self.x = int(ipts[-1, 0])
            self.y = int(ipts[-1, 1])
        return ipts - prev


def _trunc_i64(arr: np.ndarray) -> np.ndarray:
    # Go int64(float64) truncates toward zero — feature.go:197-201
    return np.asarray(arr, dtype=np.float64).astype(np.int64)


def _encode_moveto_lineto(cur: Cursor, pts: np.ndarray, out: list):
    ipts = _trunc_i64(pts)
    d = cur.deltas(ipts)
    zz = zigzag(d.ravel())
    out.append(np.array([command(CMD_MOVETO, 1)], dtype=np.uint32))
    out.append(zz[:2])
    out.append(np.array([command(CMD_LINETO, len(ipts) - 1)], dtype=np.uint32))
    out.append(zz[2:])


def _encode_ring(cur: Cursor, ring: np.ndarray, want_cw: bool, out: list):
    """encodeLinearRing — feature.go:195-244: truncate, re-check winding
    on the INT points (truncation can flip it), reverse if needed,
    MoveTo(1) + LineTo(n-1) + ClosePath(1)."""
    ipts = _trunc_i64(ring)
    wo = winding(ipts.astype(np.float64), y_positive_down=True)
    if wo == COLINEAR:
        return
    want = CLOCKWISE if want_cw else COUNTER_CLOCKWISE
    if wo != want:
        ipts = ipts[::-1]
    d = cur.deltas(ipts)
    zz = zigzag(d.ravel())
    out.append(np.array([command(CMD_MOVETO, 1)], dtype=np.uint32))
    out.append(zz[:2])
    out.append(np.array([command(CMD_LINETO, len(ipts) - 1)], dtype=np.uint32))
    out.append(zz[2:])
    out.append(np.array([command(CMD_CLOSEPATH, 1)], dtype=np.uint32))


def _encode_polygon(cur: Cursor, rings, out: list):
    # feature.go:246-276: <2-pt ring: skip unless ring 0 which aborts.
    for i, ring in enumerate(rings):
        if len(ring) < 2:
            if i != 0:
                continue
            return
        _encode_ring(cur, np.asarray(ring), want_cw=(i == 0), out=out)


def encode_geometry(geom):
    """E4 — feature.go:293-354. Returns (uint32 ndarray, geom_type)."""
    gtype, data = geom
    cur = Cursor()
    out: list = []

    if gtype == "Point" or gtype == "MultiPoint":
        pts = _trunc_i64(np.asarray(data).reshape(-1, 2))
        d = cur.deltas(pts)
        out.append(np.array([command(CMD_MOVETO, len(pts))], dtype=np.uint32))
        out.append(zigzag(d.ravel()))
        vt = GEOM_POINT

    elif gtype == "LineString":
        _encode_moveto_lineto(cur, np.asarray(data), out)
        vt = GEOM_LINESTRING

    elif gtype == "MultiLineString":
        for line in data:
            _encode_moveto_lineto(cur, np.asarray(line), out)
        vt = GEOM_LINESTRING

    elif gtype == "Polygon":
        _encode_polygon(cur, data, out)
        vt = GEOM_POLYGON

    elif gtype == "MultiPolygon":
        for rings in data:
            _encode_polygon(cur, rings, out)
        vt = GEOM_POLYGON

    else:
        return np.array([], dtype=np.uint32), GEOM_UNKNOWN

    if out:
        return np.concatenate(out), vt
    return np.array([], dtype=np.uint32), vt


# ---------------------------------------------------------------------------
# A1/A2 + E5/E6: layer assembly with tag dictionaries
# ---------------------------------------------------------------------------

class _TypedKey:
    """Type-sensitive value identity (int 7 != float 7.0 != "7") —
    feature.go:360-573 keeps per-type maps."""

    __slots__ = ("k",)

    def __init__(self, v):
        self.k = (type(v).__name__, v)

    def __hash__(self):
        return hash(self.k)

    def __eq__(self, other):
        return self.k == other.k


def build_dictionaries(features):
    """A1: first-appearance key/value dictionaries over a feature list.

    ``features`` is a list of dicts with a 'tags' entry (ordered dict of
    key -> typed value). The reference's Go-map iteration makes its
    order nondeterministic and its own tests compare order-insensitively
    (atlas/map_test.go:280-285); we strengthen to deterministic
    first-appearance order (SURVEY.md §5.2).
    """
    keys: list = []
    kidx: dict = {}
    vals: list = []
    vidx: dict = {}
    for f in features:
        for k, v in f.get("tags", {}).items():
            if v is None:  # nil tags skipped — feature.go:603-607
                continue
            if k not in kidx:
                kidx[k] = len(keys)
                keys.append(k)
            tk = _TypedKey(v)
            if tk not in vidx:
                vidx[tk] = len(vals)
                vals.append(v)
    return keys, kidx, vals, vidx


# ---------------------------------------------------------------------------
# protobuf wire format (hand-rolled; vector_tile.proto field numbers)
# ---------------------------------------------------------------------------

def _varint(value: int) -> bytes:
    out = bytearray()
    v = value & 0xFFFFFFFFFFFFFFFF
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _packed_u32(field: int, values) -> bytes:
    payload = b"".join(_varint(int(v)) for v in np.asarray(values, dtype=np.uint64))
    return _len_delim(field, payload)


def encode_value(v) -> bytes:
    """E6 — layer.go:133-192 type mapping. Python types: str->string(1),
    bool->bool(7), int in int64 range->int_value(4), int beyond
    int64->uint_value(5) (the Go uint64 arm, layer.go:180-181),
    float->double(3), np.float32->float(2). bool checked before int
    (bool is an int in Python)."""
    if isinstance(v, str):
        b = v.encode("utf-8")
        return _len_delim(1, b)
    if isinstance(v, (bool, np.bool_)):
        return _tag(7, 0) + _varint(1 if v else 0)
    if isinstance(v, np.float32):
        return _tag(2, 5) + struct.pack("<f", float(v))
    if isinstance(v, (float, np.floating)):
        return _tag(3, 1) + struct.pack("<d", float(v))
    if isinstance(v, (int, np.integer)):
        iv = int(v)
        if iv > 0x7FFFFFFFFFFFFFFF:
            return _tag(5, 0) + _varint(iv & 0xFFFFFFFFFFFFFFFF)
        if iv < -0x8000000000000000:
            # Go can never hold such a value (layer.go covers int64/uint64
            # only) — masking would silently wrap to a wrong positive
            raise ValueError(f"tag int below int64 range: {iv}")
        return _tag(4, 0) + _varint(iv & 0xFFFFFFFFFFFFFFFF)
    raise TypeError(f"unsupported tag value type {type(v)!r}")


def _varint_array(vals: np.ndarray):
    """Vectorized protobuf varint encoding of a uint64 array: returns
    (bytes_buffer, per_value_byte_lengths, per_value_offsets). Up to 10
    masked passes over the array instead of one Python loop per value —
    the emission hot path (profiled: _varint was 24M calls per 200k-row
    bucket before this)."""
    v = np.asarray(vals).astype(np.uint64)
    n = len(v)
    if n == 0:
        return np.zeros(0, np.uint8), np.zeros(0, np.int64), np.zeros(0, np.int64)
    nb = np.select(
        [v < (1 << 7), v < (1 << 14), v < (1 << 21), v < (1 << 28),
         v < (1 << 35), v < (1 << 42), v < (1 << 49), v < (1 << 56),
         v < (1 << 63)],
        [1, 2, 3, 4, 5, 6, 7, 8, 9], default=10).astype(np.int64)
    offs = np.zeros(n, np.int64)
    np.cumsum(nb[:-1], out=offs[1:])
    out = np.zeros(int(nb.sum()), np.uint8)
    rem = v.copy()
    for k in range(10):
        mask = nb > k
        if not mask.any():
            break
        cont = (nb[mask] > k + 1).astype(np.uint8) << 7
        out[offs[mask] + k] = (rem[mask] & np.uint64(0x7F)).astype(np.uint8) | cont
        rem[mask] >>= np.uint64(7)
    return out, nb, offs


def _scatter(out: np.ndarray, dst_starts: np.ndarray, buf: np.ndarray,
             lens: np.ndarray, src_offs: np.ndarray) -> None:
    """Copy piece i (buf[src_offs[i] : +lens[i]]) to out[dst_starts[i]:]
    for all i. Byte k of every still-active piece moves per pass —
    pieces here are varints/short payloads (<= ~10 bytes), so a handful
    of passes with n-sized index arrays. The per-byte alternative
    (np.repeat piece ids + intra offsets) costs ~25x the output bytes
    in ancillary int64 traffic and LOSES under 32-way memory-bandwidth
    contention on the bench host (measured end-to-end both ways)."""
    n = len(lens)
    if n == 0:
        return
    kmax = int(lens.max())
    active = np.nonzero(lens > 0)[0]
    for k in range(kmax):
        if len(active) == 0:
            break
        out[dst_starts[active] + k] = buf[src_offs[active] + k]
        active = active[lens[active] > k + 1]


def encode_point_features_block(fids: np.ndarray, tag_flat: np.ndarray,
                                tag_counts: np.ndarray,
                                cmds: np.ndarray) -> bytes:
    """Vectorized emission of the layer's feature records for an
    ALL-POINT layer: every feature is (id, packed tag indexes, type=1,
    packed 3-element command stream), each wrapped as layer field 2.
    Byte-identical to the per-feature path (differentially tested).

    fids: (n,) int64; tag_flat: flattened per-feature tag-index pairs
    (uint32) with tag_counts: (n,) entries per feature; cmds: (n, 3)
    uint32 command stream [MoveTo(1), zx, zy].
    """
    n = len(fids)
    if n == 0:
        return b""
    id_buf, id_nb, id_offs = _varint_array(fids)
    tg_buf, tg_nb, tg_offs = _varint_array(tag_flat)
    # per-feature tag-payload byte length (sum of member varint lens)
    bound = np.zeros(n + 1, np.int64)
    np.cumsum(tag_counts, out=bound[1:])
    csum = np.zeros(len(tg_nb) + 1, np.int64)
    np.cumsum(tg_nb, out=csum[1:])
    tagpay = csum[bound[1:]] - csum[bound[:-1]]
    tl_buf, tl_nb, tl_offs = _varint_array(tagpay)
    gm_buf, gm_nb, gm_offs = _varint_array(cmds.astype(np.uint64).ravel())
    gm_nb3 = gm_nb.reshape(n, 3)
    geompay = gm_nb3.sum(axis=1)
    gl_buf, gl_nb, gl_offs = _varint_array(geompay)
    has_tags = tag_counts > 0

    # inner feature length: id(1+len) + tags(1+len+pay) + type(2) +
    # geom(1+len+pay)
    flen = (1 + id_nb) + np.where(has_tags, 1 + tl_nb + tagpay, 0) \
        + 2 + (1 + gl_nb + geompay)
    fl_buf, fl_nb, fl_offs = _varint_array(flen)
    rec = 1 + fl_nb + flen           # 0x12 + varint(flen) + feature
    starts = np.zeros(n, np.int64)
    np.cumsum(rec[:-1], out=starts[1:])
    out = np.zeros(int(rec.sum()), np.uint8)

    pos = starts
    out[pos] = 0x12                                       # layer field 2
    _scatter(out, pos + 1, fl_buf, fl_nb, fl_offs)        # feature len
    pos = pos + 1 + fl_nb
    out[pos] = 0x08                                       # id field
    _scatter(out, pos + 1, id_buf, id_nb, id_offs)
    pos = pos + 1 + id_nb
    # tags field (only where present)
    t = has_tags
    if t.any():
        out[pos[t]] = 0x12
        _scatter(out, pos[t] + 1, tl_buf[...], tl_nb[t], tl_offs[t])
        # tag payload: one piece per FEATURE spanning its members
        member_start = tg_offs[bound[:-1][t]] if len(tg_offs) else np.zeros(0, np.int64)
        _scatter(out, pos[t] + 1 + tl_nb[t], tg_buf, tagpay[t], member_start)
        pos = pos + np.where(t, 1 + tl_nb + tagpay, 0)
    out[pos] = 0x18                                       # type field
    out[pos + 1] = GEOM_POINT
    pos = pos + 2
    out[pos] = 0x22                                       # geometry field
    _scatter(out, pos + 1, gl_buf, gl_nb, gl_offs)
    # geometry payload: one piece per feature spanning its 3 members
    _scatter(out, pos + 1 + gl_nb, gm_buf, geompay, gm_offs[0::3])
    return out.tobytes()


def encode_str_values_block(vals) -> bytes:
    """Vectorized emission of an all-string value dictionary: each
    value is Tile_Value{string_value=1} wrapped as layer field 4.
    Byte-identical to the per-value path (tag(1,2) + varint + utf8,
    len-delimited twice)."""
    n = len(vals)
    if n == 0:
        return b""
    enc = [v.encode("utf-8") for v in vals]
    plen = np.fromiter((len(e) for e in enc), np.int64, count=n)
    pl_buf, pl_nb, pl_offs = _varint_array(plen)
    inner = 1 + pl_nb + plen                    # 0x0A + varint(len) + utf8
    il_buf, il_nb, il_offs = _varint_array(inner)
    # per-value HEADER (0x22 + varint(inner) + 0x0A + varint(plen)) is
    # tiny — assemble headers with the byte scatter, then interleave
    # with the (arbitrarily long) utf8 payloads via one C-level join:
    # scattering payload bytes through fancy indexing costs ~5 ops/byte
    # and LOSES to join for long strings (measured)
    hlen = 1 + il_nb + 1 + pl_nb
    h_offs = np.zeros(n, np.int64)
    np.cumsum(hlen[:-1], out=h_offs[1:])
    hdr = np.zeros(int(hlen.sum()), np.uint8)
    hdr[h_offs] = 0x22                          # layer field 4, wire 2
    _scatter(hdr, h_offs + 1, il_buf, il_nb, il_offs)
    hdr[h_offs + 1 + il_nb] = 0x0A              # value field 1, wire 2
    _scatter(hdr, h_offs + 2 + il_nb, pl_buf, pl_nb, pl_offs)
    hb = memoryview(hdr.tobytes())
    pieces = [None] * (2 * n)
    ho = h_offs.tolist()
    hl = hlen.tolist()
    for i in range(n):
        o = ho[i]
        pieces[2 * i] = hb[o:o + hl[i]]
        pieces[2 * i + 1] = enc[i]
    return b"".join(pieces)


def encode_feature(fid, tags_idx, geom_type: int, geometry: np.ndarray) -> bytes:
    """Feature message: id=1, tags=2 (packed), type=3, geometry=4 (packed)."""
    parts = []
    if fid is not None:
        parts.append(_tag(1, 0) + _varint(int(fid)))
    if len(tags_idx):
        parts.append(_packed_u32(2, tags_idx))
    parts.append(_tag(3, 0) + _varint(geom_type))
    if len(geometry):
        parts.append(_packed_u32(4, geometry))
    return b"".join(parts)


def encode_point_layer_arrays(name: str, fids: np.ndarray, zz: np.ndarray,
                              tag_cols) -> bytes:
    """Array-direct emission of a pure-point layer: equivalent to
    building per-feature dicts + encode_layer, but the dictionaries
    come from ONE pd.factorize over the masked row-major value matrix
    and the features from encode_point_features_block — no per-feature
    Python objects at all. Byte-identical (differentially tested).

    fids: (n,) int64 feature ids, already in emission order.
    zz: (n, 2) uint32 zigzagged pixel coords.
    tag_cols: ordered [(key, object-array of str-or-None)] — COLUMN
    order defines per-feature tag insertion order, exactly like
    _tag_dicts; only all-string values are supported (the pipeline's
    TAG_COLS are string-typed), other types must go through
    encode_layer.
    """
    import pandas as pd

    n = len(fids)
    move1 = command(CMD_MOVETO, 1)
    cmds = np.empty((n, 3), np.uint32)
    cmds[:, 0] = move1
    cmds[:, 1:] = zz

    present = []
    for k, col in tag_cols:
        col = np.asarray(col, dtype=object)
        m = pd.notna(col)
        if m.any():
            present.append((k, col, m))
    if present:
        ncols = len(present)
        maskmat = np.column_stack([m for _, _, m in present])
        valmat = np.column_stack([c for _, c, _ in present])
        mflat = maskmat.ravel()
        # value dictionary: first appearance in feature-major,
        # column-minor order == build_dictionaries' iteration order
        codes, uniques = pd.factorize(valmat.ravel()[mflat])
        # key dictionary: first appearance = first row where the key's
        # column is non-null; ties broken by column order (stable)
        first_rows = np.array([int(np.argmax(m)) for _, _, m in present])
        korder = np.argsort(first_rows, kind="stable")
        keys = [present[i][0] for i in korder]
        col2kidx = np.empty(ncols, np.int64)
        col2kidx[korder] = np.arange(ncols)
        kidx_flat = np.broadcast_to(col2kidx, (n, ncols)).ravel()[mflat]
        tag_flat = np.empty(2 * len(codes), np.uint64)
        tag_flat[0::2] = kidx_flat.astype(np.uint64)
        tag_flat[1::2] = codes.astype(np.uint64)
        tag_counts = 2 * maskmat.sum(axis=1).astype(np.int64)
        vals = list(uniques)
    else:
        keys, vals = [], []
        tag_flat = np.zeros(0, np.uint64)
        tag_counts = np.zeros(n, np.int64)

    parts = [_len_delim(1, name.encode("utf-8"))]
    parts.append(encode_point_features_block(fids, tag_flat, tag_counts, cmds))
    for k in keys:
        parts.append(_len_delim(3, k.encode("utf-8")))
    if vals:
        parts.append(encode_str_values_block(vals))
    parts.append(_tag(5, 0) + _varint(DEFAULT_EXTENT))
    parts.append(_tag(15, 0) + _varint(MVT_VERSION))
    return b"".join(parts)


def encode_layer(name: str, features) -> bytes:
    """E5: one Tile_Layer message body.

    ``features`` is a list of dicts:
       {"id": int|None, "tags": {k: typed v}, "geom": geometry tuple
        (already in pixel coords)}
    Features whose geometry encodes to nothing are dropped
    (feature.go:83-85). Empty layers are still emitted
    (vendor/.../mvt/tile.go:42-63 encodes whatever layers exist).
    Features and values are encoded one at a time. Pure lon/lat point
    layers with string tags skip this function:
    encode_point_layer_arrays builds them from arrays.
    """
    keys, kidx, vals, vidx = build_dictionaries(features)
    parts = [_len_delim(1, name.encode("utf-8"))]
    for f in features:
        geom_arr, gtype = encode_geometry(f["geom"])
        if len(geom_arr) == 0:
            continue
        tag_idx = []
        for k, v in f.get("tags", {}).items():
            if v is None:
                continue
            tag_idx.append(kidx[k])
            tag_idx.append(vidx[_TypedKey(v)])
        parts.append(_len_delim(2, encode_feature(f.get("id"), tag_idx,
                                                  gtype, geom_arr)))
    for k in keys:
        parts.append(_len_delim(3, k.encode("utf-8")))
    for v in vals:
        parts.append(_len_delim(4, encode_value(v)))
    parts.append(_tag(5, 0) + _varint(DEFAULT_EXTENT))
    parts.append(_tag(15, 0) + _varint(MVT_VERSION))
    return b"".join(parts)


class DuplicateLayerName(ValueError):
    """Tile.AddLayers rejects layers whose name is already present
    (vendor/.../encoding/mvt/tile.go:16-35)."""


def _layer_name_from_bytes(layer_bytes: bytes) -> str | None:
    """Extract field 1 (name, string) from an encoded Tile_Layer body."""
    pos = 0
    n = len(layer_bytes)
    while pos < n:
        tag, pos = _read_varint(layer_bytes, pos)
        field, wire = tag >> 3, tag & 0x7
        if wire == 0:
            _, pos = _read_varint(layer_bytes, pos)
        elif wire == 2:
            ln, pos = _read_varint(layer_bytes, pos)
            if field == 1:
                return layer_bytes[pos:pos + ln].decode("utf-8")
            pos += ln
        elif wire == 5:
            pos += 4
        elif wire == 1:
            pos += 8
        else:
            return None
    return None


def encode_tile(layers) -> bytes:
    """Tile message: repeated Layer = field 3. ``layers`` is a list of
    encoded layer bodies (encode_layer / encode_point_layer_arrays).
    MVT layer concatenation is byte concatenation of the
    length-delimited field (S6 pushdown concat `||` —
    provider/postgis/postgis.go:398-400).

    Duplicate layer names are rejected, matching Tile.AddLayers
    (vendor/.../encoding/mvt/tile.go:16-35)."""
    parts = []
    seen: set[str] = set()
    for body in layers:
        body = bytes(body)
        name = _layer_name_from_bytes(body)
        parts.append(_len_delim(3, body))
        if name is not None:
            if name in seen:
                raise DuplicateLayerName(
                    f"layer already is named {name}, new layer not added")
            seen.add(name)
    return b"".join(parts)


# ---------------------------------------------------------------------------
# E8: decoder (for tests / round-trip oracles)
# ---------------------------------------------------------------------------

def _read_varint(buf, pos):
    shift = 0
    val = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7


def _decode_message(buf):
    """Generic wire decode -> list of (field, wire, value)."""
    pos = 0
    out = []
    n = len(buf)
    while pos < n:
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 0x7
        if wire == 0:
            v, pos = _read_varint(buf, pos)
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            v = buf[pos:pos + ln]
            pos += ln
        elif wire == 5:
            v = buf[pos:pos + 4]
            pos += 4
        elif wire == 1:
            v = buf[pos:pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")
        out.append((field, wire, v))
    return out


def _unpack_u32(payload):
    vals = []
    pos = 0
    while pos < len(payload):
        v, pos = _read_varint(payload, pos)
        vals.append(v)
    return vals


def decode_tile(buf: bytes):
    """Decode a tile into {layer_name: {"version", "extent", "keys",
    "values", "features": [{"id","tags","type","geometry"}]}}."""
    tiles = {}
    for field, _, v in _decode_message(buf):
        if field != 3:
            continue
        layer = {"keys": [], "values": [], "features": [], "version": 1,
                 "extent": DEFAULT_EXTENT, "name": None}
        for f2, w2, v2 in _decode_message(v):
            if f2 == 1:
                layer["name"] = v2.decode("utf-8")
            elif f2 == 2:
                feat = {"id": None, "tags": [], "type": GEOM_UNKNOWN, "geometry": []}
                for f3, w3, v3 in _decode_message(v2):
                    if f3 == 1:
                        feat["id"] = v3
                    elif f3 == 2:
                        feat["tags"] = _unpack_u32(v3) if w3 == 2 else feat["tags"] + [v3]
                    elif f3 == 3:
                        feat["type"] = v3
                    elif f3 == 4:
                        feat["geometry"] = _unpack_u32(v3) if w3 == 2 else feat["geometry"] + [v3]
                layer["features"].append(feat)
            elif f2 == 15:
                layer["version"] = v2
            elif f2 == 5:
                layer["extent"] = v2
            elif f2 == 3:
                layer["keys"].append(v2.decode("utf-8"))
            elif f2 == 4:
                val = None
                for f4, w4, v4 in _decode_message(v2):
                    if f4 == 1:
                        val = v4.decode("utf-8")
                    elif f4 == 2:
                        val = struct.unpack("<f", v4)[0]
                    elif f4 == 3:
                        val = struct.unpack("<d", v4)[0]
                    elif f4 == 4:  # int_value: two's-complement int64 varint
                        val = v4 - (1 << 64) if v4 >= (1 << 63) else v4
                    elif f4 == 5:
                        val = v4
                    elif f4 == 6:
                        val = (v4 >> 1) ^ -(v4 & 1)
                    elif f4 == 7:
                        val = bool(v4)
                layer["values"].append(val)
        tiles[layer["name"]] = layer
    return tiles


def decode_geometry_commands(geometry):
    """Expand a command stream back to (geom_type-agnostic) move/line/
    close ops with absolute cursor coords — for golden tests."""
    ops = []
    pos = 0
    x = y = 0
    g = list(geometry)
    while pos < len(g):
        cmd = g[pos]
        cid, cnt = cmd & 0x7, cmd >> 3
        pos += 1
        if cid == CMD_CLOSEPATH:
            ops.append(("close", None))
            continue
        pts = []
        for _ in range(cnt):
            dx, dy = g[pos], g[pos + 1]
            pos += 2
            x += (dx >> 1) ^ -(dx & 1)
            y += (dy >> 1) ^ -(dy & 1)
            pts.append((x, y))
        ops.append(("move" if cid == CMD_MOVETO else "line", pts))
    return ops
