"""Mapbox Vector Tile (MVT 2.1) codec — pure stdlib.

Completes the tiling story (SURVEY J5): ``clip_layer_to_tiles`` /
``vector_tile_pyramid`` produce per-tile clipped geometry as WKT; this
module packs those pieces (plus point layers) into the protobuf tile
bytes every web-map client consumes, and decodes them back for
verification. The wire format is the public Mapbox Vector Tile 2.1
spec (protobuf: Tile{layers=3}, Layer{version=15(=2), name=1,
features=2, keys=3, values=4, extent=5}, Feature{id=1, tags=2packed,
type=3, geometry=4packed}, Value{string=1,float=2,double=3,int=4,
uint=5,sint=6,bool=7}) hand-rolled with varints — no protobuf
dependency.

Geometry encoding: MoveTo(1)/LineTo(2)/ClosePath(7) command integers
``(id & 7) | (count << 3)`` with zigzag-delta parameters; the cursor
persists across rings and parts within one feature. Ring winding
follows the spec's surveyor's-formula rule in tile coordinates
(y down): exterior rings positive area, interior rings negative.

The decoder is deliberately independent of the encoder (it parses the
raw wire format, not a mirror of the writer's state) so the round-trip
tests are meaningful.
"""

from __future__ import annotations

import struct
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

GEOM_UNKNOWN, GEOM_POINT, GEOM_LINESTRING, GEOM_POLYGON = 0, 1, 2, 3

_CMD_MOVETO, _CMD_LINETO, _CMD_CLOSEPATH = 1, 2, 7


# ---------------------------------------------------------------------------
# varint / zigzag / protobuf primitives
# ---------------------------------------------------------------------------


def _varint(n: int) -> bytes:
    if n < 0:
        n &= (1 << 64) - 1  # two's-complement 64-bit, per protobuf
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n < 0 else n << 1


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _field_varint(field: int, n: int) -> bytes:
    return _tag(field, 0) + _varint(n)


# ---------------------------------------------------------------------------
# Value messages (feature properties)
# ---------------------------------------------------------------------------


def _encode_value(v) -> bytes:
    if type(v).__module__ == "numpy":
        # pandas itertuples / to_numpy hand back np.int64 / np.bool_ /
        # np.float32 scalars, none of which subclass the Python types
        # below (np.float64 does, by accident) — unwrap them all
        v = v.item()
    if isinstance(v, bool):
        return _field_varint(7, int(v))
    if isinstance(v, int):
        if v >= 0:
            return _field_varint(4, v)
        return _field_varint(6, _zigzag(v))
    if isinstance(v, float):
        return _tag(3, 1) + struct.pack("<d", v)
    if isinstance(v, str):
        return _len_delim(1, v.encode("utf-8"))
    raise TypeError("unsupported MVT property type: %r" % (type(v),))


# ---------------------------------------------------------------------------
# geometry encoding
# ---------------------------------------------------------------------------


def _ring_area2(pts: Sequence[Tuple[int, int]]) -> int:
    """Twice the signed area (surveyor's formula) of an open ring in
    tile coordinates. Positive = exterior per MVT 2.1 (y down)."""
    s = 0
    n = len(pts)
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return s


def _dedup_consecutive(
    pts: Sequence[Tuple[int, int]]
) -> List[Tuple[int, int]]:
    out: List[Tuple[int, int]] = []
    for p in pts:
        if not out or out[-1] != p:
            out.append(p)
    return out


def _zigzag_arr(d):
    """Vectorized :func:`_zigzag` over an int64 numpy array."""
    import numpy as np

    return (d.astype(np.int64) << 1) ^ (d.astype(np.int64) >> 63)


def _ring_ints(ring):
    """Ring coords -> deduplicated OPEN int64 (n, 2) array, applying
    exactly the scalar path's steps: int() truncation, drop a closing
    vertex, consecutive-dedup, drop a re-exposed closing vertex."""
    import numpy as np

    pts = np.asarray(ring, dtype=np.float64).astype(np.int64)
    if len(pts) > 1 and (pts[0] == pts[-1]).all():
        pts = pts[:-1]  # drop WKT closing vertex
    if len(pts) > 1:
        keep = np.empty(len(pts), dtype=bool)
        keep[0] = True
        keep[1:] = (pts[1:] != pts[:-1]).any(axis=1)
        pts = pts[keep]
    if len(pts) > 1 and (pts[0] == pts[-1]).all():
        pts = pts[:-1]
    return pts


def _ring_area2_arr(pts) -> int:
    """Twice the signed area of an open int ring — numpy twin of
    :func:`_ring_area2`, exact. Tile-space coords (|v| <= 2^20) take
    the int64 shoelace (cross terms <= 2^40, safe for rings up to 2^21
    vertices); adversarial coords fall back to Python big ints."""
    import numpy as np

    n = len(pts)
    if n and np.abs(pts).max() <= (1 << 20) and n <= (1 << 21):
        x = pts[:, 0]
        y = pts[:, 1]
        xn = np.roll(x, -1)
        yn = np.roll(y, -1)
        return int((x * yn - xn * y).sum())
    return _ring_area2([(int(a), int(b)) for a, b in pts])


def _run_cmds(pts, cursor, closepath: bool):
    """Command-int array for one MoveTo(1)+LineTo(n-1)[+ClosePath] run
    starting at ``cursor``; returns (cmds int64 array, new cursor)."""
    import numpy as np

    n = len(pts)
    d = np.empty((n, 2), dtype=np.int64)
    d[0, 0] = pts[0, 0] - cursor[0]
    d[0, 1] = pts[0, 1] - cursor[1]
    d[1:] = pts[1:] - pts[:-1]
    zz = _zigzag_arr(d)
    ln = 3 + (1 + 2 * (n - 1) if n > 1 else 0) + (1 if closepath else 0)
    out = np.empty(ln, dtype=np.int64)
    out[0] = (_CMD_MOVETO & 7) | (1 << 3)
    out[1] = zz[0, 0]
    out[2] = zz[0, 1]
    pos = 3
    if n > 1:
        out[pos] = (_CMD_LINETO & 7) | ((n - 1) << 3)
        out[pos + 1:pos + 1 + (n - 1) * 2] = zz[1:].ravel()
        pos += 1 + (n - 1) * 2
    if closepath:
        out[pos] = _CMD_CLOSEPATH & 7 | (1 << 3)
    return out, (int(pts[-1, 0]), int(pts[-1, 1]))


def encode_geometry_arr(
    geom_type: int,
    parts: Sequence[Sequence[Tuple[int, int]]],
    exterior: Optional[Sequence[bool]] = None,
):
    """Vectorized :func:`encode_geometry` returning an int64 numpy
    array of command integers (None when nothing survives pruning).
    Per-vertex work (truncation, dedup, shoelace, zigzag deltas) runs
    in numpy; the per-RING control flow (winding, degeneracy, orphan
    holes) stays explicit and identical to the scalar derivation.
    ``encode_geometry`` wraps this and is pinned equal to the original
    scalar implementation by the fuzz tests."""
    import numpy as np

    if geom_type == GEOM_POINT:
        pts = np.asarray(parts[0], dtype=np.float64).astype(np.int64)
        if not len(pts):
            return None
        d = np.empty_like(pts)
        d[0] = pts[0]
        d[1:] = pts[1:] - pts[:-1]
        zz = _zigzag_arr(d)
        out = np.empty(1 + 2 * len(pts), dtype=np.int64)
        out[0] = (_CMD_MOVETO & 7) | (len(pts) << 3)
        out[1:] = zz.ravel()
        return out

    if geom_type == GEOM_LINESTRING:
        runs = []
        cursor = (0, 0)
        for line in parts:
            pts = np.asarray(line, dtype=np.float64).astype(np.int64)
            if len(pts) > 1:
                keep = np.empty(len(pts), dtype=bool)
                keep[0] = True
                keep[1:] = (pts[1:] != pts[:-1]).any(axis=1)
                pts = pts[keep]
            if len(pts) < 2:
                continue
            cmds, cursor = _run_cmds(pts, cursor, closepath=False)
            runs.append(cmds)
        return np.concatenate(runs) if runs else None

    if geom_type == GEOM_POLYGON:
        flags = (list(exterior) if exterior is not None
                 else [i == 0 for i in range(len(parts))])
        if len(flags) != len(parts):
            raise ValueError("exterior flags must match parts")
        runs = []
        cursor = (0, 0)
        ext_alive = False  # current polygon's exterior survived pruning
        for ring, is_ext in zip(parts, flags):
            pts = _ring_ints(ring)
            degenerate = len(pts) < 3 or _ring_area2_arr(pts) == 0
            if is_ext:
                ext_alive = not degenerate
            if degenerate or (not is_ext and not ext_alive):
                continue  # degenerate ring / orphan hole: spec-droppable
            if (_ring_area2_arr(pts) > 0) != bool(is_ext):
                pts = np.concatenate([pts[:1], pts[:0:-1]])  # reverse
            cmds, cursor = _run_cmds(pts, cursor, closepath=True)
            runs.append(cmds)
        return np.concatenate(runs) if runs else None

    raise ValueError("unknown geometry type %r" % (geom_type,))


# numpy wins past this many vertices per feature (measured crossover
# ~200: fixed per-call array overhead vs per-vertex Python cost);
# below it the scalar path is up to 8x faster
_VECTORIZE_MIN_VERTICES = 192


def _encode_geometry_scalar(
    geom_type: int,
    parts: Sequence[Sequence[Tuple[int, int]]],
    exterior: Optional[Sequence[bool]] = None,
) -> Optional[List[int]]:
    """Scalar twin of :func:`encode_geometry_arr` — faster for the
    SMALL features that dominate per-tile clipped output; pinned
    byte-equal to the array path by the fuzz tests."""
    cx = cy = 0
    out: List[int] = []

    def _moveto(pts):
        nonlocal cx, cy
        out.append((_CMD_MOVETO & 7) | (len(pts) << 3))
        for x, y in pts:
            out.append(_zigzag(x - cx))
            out.append(_zigzag(y - cy))
            cx, cy = x, y

    def _lineto(pts):
        nonlocal cx, cy
        out.append((_CMD_LINETO & 7) | (len(pts) << 3))
        for x, y in pts:
            out.append(_zigzag(x - cx))
            out.append(_zigzag(y - cy))
            cx, cy = x, y

    if geom_type == GEOM_POINT:
        pts = [(int(x), int(y)) for x, y in parts[0]]
        if not pts:
            return None
        _moveto(pts)
        return out

    if geom_type == GEOM_LINESTRING:
        wrote = False
        for line in parts:
            pts = _dedup_consecutive(
                [(int(x), int(y)) for x, y in line]
            )
            if len(pts) < 2:
                continue
            _moveto(pts[:1])
            _lineto(pts[1:])
            wrote = True
        return out if wrote else None

    if geom_type == GEOM_POLYGON:
        flags = (list(exterior) if exterior is not None
                 else [i == 0 for i in range(len(parts))])
        if len(flags) != len(parts):
            raise ValueError("exterior flags must match parts")
        wrote_any = False
        ext_alive = False  # current polygon's exterior survived pruning
        for ring, is_ext in zip(parts, flags):
            pts = [(int(x), int(y)) for x, y in ring]
            if len(pts) > 1 and pts[0] == pts[-1]:
                pts = pts[:-1]  # drop WKT closing vertex
            pts = _dedup_consecutive(pts)
            if len(pts) > 1 and pts[0] == pts[-1]:
                pts = pts[:-1]
            degenerate = len(pts) < 3 or _ring_area2(pts) == 0
            if is_ext:
                ext_alive = not degenerate
            if degenerate or (not is_ext and not ext_alive):
                continue  # degenerate ring / orphan hole: spec-droppable
            area2 = _ring_area2(pts)
            if (area2 > 0) != bool(is_ext):
                pts = [pts[0]] + pts[:0:-1]  # reverse, keep start point
            _moveto(pts[:1])
            _lineto(pts[1:])
            out.append(_CMD_CLOSEPATH & 7 | (1 << 3))
            wrote_any = True
        return out if wrote_any else None

    raise ValueError("unknown geometry type %r" % (geom_type,))


def encode_geometry(
    geom_type: int,
    parts: Sequence[Sequence[Tuple[int, int]]],
    exterior: Optional[Sequence[bool]] = None,
) -> Optional[List[int]]:
    """Command-integer sequence for a feature.

    ``parts``: for POINT one sequence of points; for LINESTRING one
    sequence per line; for POLYGON one sequence per ring (winding is
    enforced here; pass rings OPEN or closed — a closing vertex equal
    to the first is dropped). ``exterior`` marks which polygon rings
    are exterior (default: only ring 0 — the single-Polygon layout);
    MultiPolygon features pass one True per member polygon, and the
    spec encodes polygon boundaries as the winding flips. Holes whose
    owning exterior collapsed are dropped with it. Returns None when
    nothing survives degeneracy pruning (the spec allows discarding
    such features).

    Dispatches between a scalar and a vectorized implementation on
    feature size (both byte-equal; see ``_VECTORIZE_MIN_VERTICES``).
    """
    if sum(len(p) for p in parts) >= _VECTORIZE_MIN_VERTICES:
        arr = encode_geometry_arr(geom_type, parts, exterior)
        return None if arr is None else [int(v) for v in arr]
    return _encode_geometry_scalar(geom_type, parts, exterior)


# ---------------------------------------------------------------------------
# layer / tile encoding
# ---------------------------------------------------------------------------


def _leb128_rows(vals):
    """uint64 numpy array -> (bytes_matrix (n, 10), lengths): LEB128
    encoding of each value, vectorized across the array."""
    import numpy as np

    vals = np.asarray(vals).astype(np.uint64)
    out = np.zeros((len(vals), 10), dtype=np.uint8)
    lens = np.zeros(len(vals), dtype=np.int64)
    rem = vals.copy()
    alive = np.ones(len(vals), dtype=bool)
    for byte_i in range(10):
        cur = (rem & np.uint64(0x7F)).astype(np.uint8)
        rem = rem >> np.uint64(7)
        more = (rem != 0) & alive
        col = cur | (more.astype(np.uint8) << 7)
        out[alive, byte_i] = col[alive]
        lens[alive] = byte_i + 1
        alive = more
        if not alive.any():
            break
    return out, lens


def _varints_bytes(vals) -> bytes:
    """Packed-varint payload of a non-negative int array — the
    vectorized equivalent of ``b"".join(_varint(v) for v in vals)``."""
    import numpy as np

    if not len(vals):
        return b""
    b, lens = _leb128_rows(vals)
    mask = np.arange(10)[None, :] < lens[:, None]
    return b[mask].tobytes()


def encode_layer(
    name: str,
    features: Iterable[dict],
    extent: int = 4096,
) -> bytes:
    """One MVT layer. Each feature dict: ``{"id": int|None, "type":
    GEOM_*, "parts": [[(x, y), ...], ...], "properties": {str: val}}``
    with tile-local integer coordinates. Features whose geometry is
    fully degenerate are skipped. Key/value tables are deduplicated in
    first-seen order (the spec's layout)."""
    keys: List[str] = []
    key_idx: Dict[str, int] = {}
    values: List[bytes] = []
    val_idx: Dict[bytes, int] = {}

    feat_bufs: List[bytes] = []
    for f in features:
        # size-dispatched like encode_geometry: numpy for big features,
        # scalar below the crossover — bytes identical either way
        if sum(len(p) for p in f["parts"]) >= _VECTORIZE_MIN_VERTICES:
            arr = encode_geometry_arr(f["type"], f["parts"],
                                      exterior=f.get("exterior"))
            if arr is None:
                continue
            geom_payload = _varints_bytes(arr)
        else:
            geom = _encode_geometry_scalar(f["type"], f["parts"],
                                           exterior=f.get("exterior"))
            if geom is None:
                continue
            geom_payload = b"".join(_varint(g) for g in geom)
        buf = bytearray()
        if f.get("id") is not None:
            buf += _field_varint(1, int(f["id"]))
        tags: List[int] = []
        for k, v in (f.get("properties") or {}).items():
            if v is None:
                continue
            if k not in key_idx:
                key_idx[k] = len(keys)
                keys.append(k)
            vb = _encode_value(v)
            if vb not in val_idx:
                val_idx[vb] = len(values)
                values.append(vb)
            tags.append(key_idx[k])
            tags.append(val_idx[vb])
        if tags:
            payload = b"".join(_varint(t) for t in tags)
            buf += _len_delim(2, payload)
        buf += _field_varint(3, f["type"])
        buf += _len_delim(4, geom_payload)
        feat_bufs.append(bytes(buf))

    out = bytearray()
    out += _field_varint(15, 2)  # version, required first per spec
    out += _len_delim(1, name.encode("utf-8"))
    for fb in feat_bufs:
        out += _len_delim(2, fb)
    for k in keys:
        out += _len_delim(3, k.encode("utf-8"))
    for vb in values:
        out += _len_delim(4, vb)
    out += _field_varint(5, int(extent))
    return bytes(out)


def encode_tile(layers: Iterable[bytes]) -> bytes:
    return b"".join(_len_delim(3, lb) for lb in layers)


def encode_point_layer_fast(ids, us, vs, name: str,
                            extent: int = 4096) -> bytes:
    """Vectorized fast path for the common fact-scale case — a layer of
    property-less single-POINT features (one per id) — producing bytes
    IDENTICAL to :func:`encode_layer` (asserted by tests). The per-row
    Python cost of the generic writer (feature dicts + one call per
    varint) dominates tile packing at millions of points; here the
    varints for ids and zigzag deltas are emitted by a numpy LEB128
    kernel and the per-feature framing is assembled from byte slices.
    """
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    u = np.asarray(us, dtype=np.int64)
    v = np.asarray(vs, dtype=np.int64)
    n = len(ids)
    if not (len(u) == len(v) == n):
        raise ValueError("ids/us/vs must align")

    _leb128 = _leb128_rows

    # geometry of a single-point feature: [9, zz(u), zz(v)] (cursor
    # starts at the tile origin for every feature)
    zz_u = (u << 1) ^ (u >> 63)
    zz_v = (v << 1) ^ (v >> 63)
    id_b, id_l = _leb128(ids)
    u_b, u_l = _leb128(zz_u)
    v_b, v_l = _leb128(zz_v)
    geom_len = 1 + u_l + v_l          # the 0x09 command + two params
    # feature body: 0x08 id | 0x18 0x01 | 0x22 len geom  (tags absent)
    body_len = 1 + id_l + 2 + 1 + 1 + geom_len
    fl_b, fl_l = _leb128(body_len.astype(np.uint64))

    parts = [
        _field_varint(15, 2),
        _len_delim(1, name.encode("utf-8")),
    ]
    for k in range(n):
        parts.append(b"\x12")                         # Layer.features
        parts.append(fl_b[k, :fl_l[k]].tobytes())
        parts.append(b"\x08")                         # Feature.id
        parts.append(id_b[k, :id_l[k]].tobytes())
        parts.append(b"\x18\x01")                     # type=POINT
        parts.append(b"\x22")                         # geometry
        parts.append(bytes([geom_len[k]]))            # < 128 always
        parts.append(b"\x09")                         # MoveTo count=1
        parts.append(u_b[k, :u_l[k]].tobytes())
        parts.append(v_b[k, :v_l[k]].tobytes())
    parts.append(_field_varint(5, int(extent)))
    return b"".join(parts)


# ---------------------------------------------------------------------------
# decoder (independent wire-format parser, for verification)
# ---------------------------------------------------------------------------


def _read_varint(buf: bytes, pos: int) -> Tuple[int, int]:
    out = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _walk_fields(buf: bytes):
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            val, pos = _read_varint(buf, pos)
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            val = buf[pos:pos + ln]
            pos += ln
        elif wire == 5:
            val = buf[pos:pos + 4]
            pos += 4
        elif wire == 1:
            val = buf[pos:pos + 8]
            pos += 8
        else:
            raise ValueError("unsupported wire type %d" % wire)
        yield field, wire, val


def _decode_value(buf: bytes):
    for field, _wire, val in _walk_fields(buf):
        if field == 1:
            return val.decode("utf-8")
        if field == 2:
            return struct.unpack("<f", val)[0]
        if field == 3:
            return struct.unpack("<d", val)[0]
        if field == 4:
            v = val
            return v - (1 << 64) if v >= 1 << 63 else v
        if field == 5:
            return val
        if field == 6:
            return _unzigzag(val)
        if field == 7:
            return bool(val)
    return None


def decode_geometry(
    cmds: Sequence[int],
) -> List[Tuple[str, List[Tuple[int, int]]]]:
    """Command integers -> [(op, [(x, y), ...])] with ABSOLUTE coords;
    op in {"moveto", "lineto", "closepath"}."""
    out: List[Tuple[str, List[Tuple[int, int]]]] = []
    cx = cy = 0
    i = 0
    while i < len(cmds):
        cmd = cmds[i]
        i += 1
        op_id, count = cmd & 7, cmd >> 3
        if op_id == _CMD_CLOSEPATH:
            out.append(("closepath", []))
            continue
        pts = []
        for _ in range(count):
            cx += _unzigzag(cmds[i])
            cy += _unzigzag(cmds[i + 1])
            i += 2
            pts.append((cx, cy))
        op = "moveto" if op_id == _CMD_MOVETO else "lineto"
        out.append((op, pts))
    return out


def geometry_parts(
    ops: Sequence[Tuple[str, List[Tuple[int, int]]]]
) -> List[List[Tuple[int, int]]]:
    """Group decoded ops back into coordinate parts (rings / lines /
    point runs). ClosePath terminates a ring WITHOUT repeating the
    first vertex (the encoder's open-ring convention)."""
    parts: List[List[Tuple[int, int]]] = []
    cur: List[Tuple[int, int]] = []
    for op, pts in ops:
        if op == "moveto":
            if cur:
                parts.append(cur)
            cur = list(pts)
        elif op == "lineto":
            cur.extend(pts)
        else:  # closepath
            parts.append(cur)
            cur = []
    if cur:
        parts.append(cur)
    return parts


def decode_geometry_arrays(cmds):
    """Command integers -> coordinate parts as int64 ``(n, 2)`` numpy
    arrays — the array-API twin of
    ``geometry_parts(decode_geometry(cmds))``.

    The scalar list-of-pair API caps numpy gains (the round-5
    vectorization attempt was reverted for exactly that reason: the
    tuple materialization dominated); returning arrays moves the
    per-vertex work (unzigzag + cursor cumsum) into three numpy passes
    over ALL vertices of the feature at once, with only the command
    headers (one per ring/run, not one per vertex) walked in Python.
    The cursor persisting across runs is what makes the single cumsum
    valid: every parameter pair is a delta from the previous absolute
    position regardless of which command carried it.

    Part grouping mirrors :func:`geometry_parts` exactly: MoveTo
    starts a part (flushing any non-empty open one), LineTo extends
    it, ClosePath terminates a ring WITHOUT repeating the first
    vertex. Iterating a returned array yields ``(x, y)`` rows, so
    consumers written against the list API keep working.

    Crossover (BENCH/BASELINE.md, "MVT geometry decode: scalar vs
    array API"): 1.6x faster at >= 2000 vertices/feature, ~1.3x at
    200, but ~2x SLOWER on point runs (per-feature numpy setup
    dominates 1-vertex features) — so this
    stays opt-in; polygon/line consumers should pass
    ``decode_tile(..., arrays=True)``, point consumers should not.
    """
    import numpy as np

    c = np.asarray(cmds, dtype=np.int64)
    n = len(c)
    runs = []  # (op_id, coord_start_in_c, vertex_count)
    i = 0
    while i < n:
        cmd = int(c[i])
        i += 1
        op_id, count = cmd & 7, cmd >> 3
        if op_id == _CMD_CLOSEPATH:
            runs.append((op_id, i, 0))
            continue
        runs.append((op_id, i, count))
        i += 2 * count
    if i > n:
        raise ValueError("truncated geometry")
    xs = ys = None
    coord_runs = [c[s:s + 2 * cnt] for _op, s, cnt in runs if cnt]
    if coord_runs:
        d = (np.concatenate(coord_runs)
             if len(coord_runs) > 1 else coord_runs[0])
        d = (d >> 1) ^ -(d & 1)  # vectorized unzigzag
        xs = np.cumsum(d[0::2])
        ys = np.cumsum(d[1::2])
    spans = []  # (vertex_start, vertex_len) per part
    vpos = 0
    cur = None
    for op, _s, cnt in runs:
        if op == _CMD_MOVETO:
            if cur is not None and cur[1]:
                spans.append(cur)
            cur = (vpos, cnt)
            vpos += cnt
        elif op != _CMD_CLOSEPATH:  # lineto (unknown ids mirror the
            if cur is None:         # scalar decoder: treated as lineto)
                cur = (vpos, cnt)
            else:
                cur = (cur[0], cur[1] + cnt)
            vpos += cnt
        else:
            spans.append(cur if cur is not None else (vpos, 0))
            cur = None
    if cur is not None and cur[1]:
        spans.append(cur)
    empty = np.empty((0, 2), dtype=np.int64)
    return [np.stack([xs[s:s + ln], ys[s:s + ln]], axis=1)
            if ln else empty for s, ln in spans]


def decode_tile(buf: bytes, arrays: bool = False) -> dict:
    layers = []
    for field, _wire, val in _walk_fields(buf):
        if field != 3:
            continue
        layer = {
            "name": None, "version": None, "extent": 4096,
            "keys": [], "values": [], "features": [],
        }
        for lf, _lw, lv in _walk_fields(val):
            if lf == 15:
                layer["version"] = lv
            elif lf == 1:
                layer["name"] = lv.decode("utf-8")
            elif lf == 3:
                layer["keys"].append(lv.decode("utf-8"))
            elif lf == 4:
                layer["values"].append(_decode_value(lv))
            elif lf == 5:
                layer["extent"] = lv
            elif lf == 2:
                feat = {"id": None, "type": GEOM_UNKNOWN, "tags": [],
                        "geometry": []}
                for ff, fw, fv in _walk_fields(lv):
                    if ff == 1:
                        feat["id"] = fv
                    elif ff == 3:
                        feat["type"] = fv
                    elif ff == 2:
                        if fw == 2:
                            pos = 0
                            while pos < len(fv):
                                t, pos = _read_varint(fv, pos)
                                feat["tags"].append(t)
                        else:
                            feat["tags"].append(fv)
                    elif ff == 4:
                        if fw == 2:
                            pos = 0
                            while pos < len(fv):
                                g, pos = _read_varint(fv, pos)
                                feat["geometry"].append(g)
                        else:
                            feat["geometry"].append(fv)
                layer["features"].append(feat)
        for feat in layer["features"]:
            feat["parts"] = (
                decode_geometry_arrays(feat["geometry"]) if arrays
                else geometry_parts(decode_geometry(feat["geometry"]))
            )
            props = {}
            tags = feat["tags"]
            for j in range(0, len(tags) - 1, 2):
                props[layer["keys"][tags[j]]] = (
                    layer["values"][tags[j + 1]]
                )
            feat["properties"] = props
        layers.append(layer)
    return {"layers": layers}
