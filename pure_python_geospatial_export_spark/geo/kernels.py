"""Vectorized geometry kernels (numpy) — the engine's batch compute core.

Each kernel reproduces the observable semantics of a reference routine
(cited per function) but is re-derived as an array program: points are
processed in whole Arrow batches inside pandas UDFs, never row-at-a-time.

The ray-cast point-in-ring kernel preserves the reference's exact crossing
rules (>= comparisons, MacMartin above/below discard) so that join outputs
match the reference row-for-row — including points exactly on edges.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

import numpy as np

Bbox = Tuple[float, float, float, float]

#: chunk size for the points axis of the (points x edges) crossing matrix;
#: bounds kernel working memory to ~chunk * n_edges * 8B per temp array,
#: independent of Arrow batch size.
_PIP_CHUNK = 4096

#: cap on TOTAL CELLS (points x edges) per chunk: a 4096-point chunk
#: against an 8000-vertex admin boundary is a 262MB float64 temporary
#: (x several live at once) — memory-bandwidth-bound, and concurrent
#: refine workers then thrash each other (measured: a salted spatial
#: join's reduce stage did 20x the single-worker wall on 9 workers).
#: 2M cells keeps temps ~16MB — cache-resident, compute-bound, and
#: parallel-friendly. Chunking never changes results, only locality.
_PIP_CELL_BUDGET = 2_000_000


def signed_area(ring: np.ndarray, fast: bool = False) -> float:
    """Signed ring area, >= 0 for counter-clockwise orientation.

    Semantics of ref ppge/pyshp/__init__.py:201-214 (closed-ring shoelace,
    2x area when ``fast``); z/m ordinates beyond the first two are ignored.
    """
    ring = np.asarray(ring, dtype=np.float64)
    x = ring[:, 0]
    y = ring[:, 1]
    # closed ring: wrap with the second vertex like the reference does
    x_ext = np.concatenate([x, x[1:2]])
    y_ext = np.concatenate([y, y[1:2]])
    i = np.arange(1, len(ring))
    area2 = float(np.sum(x_ext[i] * (y_ext[i + 1] - y_ext[i - 1])))
    return area2 if fast else area2 / 2.0


def is_cw(ring) -> bool:
    """True for clockwise (negatively signed area); ref :217-222."""
    return signed_area(ring, fast=True) < 0


def rewind(ring):
    """Reverse vertex order; ref :225-227."""
    return list(reversed(list(ring)))


def ring_bbox(ring) -> Bbox:
    """(xmin, ymin, xmax, ymax) of a ring; ref :230-234."""
    arr = np.asarray(ring, dtype=np.float64)
    return (
        float(arr[:, 0].min()),
        float(arr[:, 1].min()),
        float(arr[:, 0].max()),
        float(arr[:, 1].max()),
    )


def bbox_overlap(b1: Bbox, b2: Bbox) -> bool:
    """Axis-aligned rectangle intersection; ref :237-242."""
    return (
        b1[0] <= b2[2] and b1[2] >= b2[0] and b1[1] <= b2[3] and b1[3] >= b2[1]
    )


def bbox_contains(b1: Bbox, b2: Bbox) -> bool:
    """Strict containment of b2 in b1; ref :245-250."""
    return b1[0] < b2[0] and b1[2] > b2[2] and b1[1] < b2[1] and b1[3] > b2[3]


def bbox_overlap_mask(
    px_min, py_min, px_max, py_max, bbox: Bbox
) -> np.ndarray:
    """Vectorized bbox-overlap of N boxes against one box -> bool[N]."""
    return (
        (px_min <= bbox[2])
        & (px_max >= bbox[0])
        & (py_min <= bbox[3])
        & (py_max >= bbox[1])
    )


def points_in_ring(
    points_x: np.ndarray, points_y: np.ndarray, ring: np.ndarray
) -> np.ndarray:
    """Ray-cast crossing-parity containment of N points in one ring.

    Vectorized re-derivation of the reference's scalar MacMartin kernel
    (ref ppge/pyshp/__init__.py:253-295): shoot a +X ray per point, count
    edge crossings, preserving the exact >= comparison rules so boundary
    behavior matches the reference bit-for-bit. Edges whose endpoints lie
    on the same side of the test Y are discarded by a boolean mask (the
    MacMartin shortcut expressed as vectorized selection).

    :returns: bool[N] inside flags.
    """
    ring = np.asarray(ring, dtype=np.float64)
    x0 = ring[:-1, 0]  # edge start vertices (ring is closed)
    y0 = ring[:-1, 1]
    x1 = ring[1:, 0]
    y1 = ring[1:, 1]

    px = np.asarray(points_x, dtype=np.float64)
    py = np.asarray(points_y, dtype=np.float64)
    inside = np.zeros(len(px), dtype=bool)

    chunk = max(16, min(_PIP_CHUNK,
                        _PIP_CELL_BUDGET // max(1, len(x0))))
    for lo in range(0, len(px), chunk):
        hi = min(lo + chunk, len(px))
        tx = px[lo:hi, None]  # (n, 1)
        ty = py[lo:hi, None]

        yflag0 = y0[None, :] >= ty  # (n, m)
        yflag1 = y1[None, :] >= ty
        straddle = yflag0 != yflag1

        xflag0 = x0[None, :] >= tx
        xflag1 = x1[None, :] >= tx
        same_x_side = xflag0 == xflag1

        # both endpoints right of the point -> certain hit
        certain = straddle & same_x_side & xflag0

        # endpoints on opposite X sides -> compute ray intersection.
        # denominator y0-y1 is nonzero wherever straddle holds.
        denom = y0[None, :] - y1[None, :]
        denom = np.where(denom == 0.0, 1.0, denom)
        # lanes where straddle is False can overflow (tiny denom under
        # a huge dx) — they're masked out below, so suppress only
        # those warnings here rather than training readers to ignore
        # numpy warnings globally
        with np.errstate(over="ignore", invalid="ignore"):
            crossing_x = x1[None, :] - (y1[None, :] - ty) * (
                x0[None, :] - x1[None, :]
            ) / denom
        computed = straddle & ~same_x_side & (crossing_x >= tx)

        crossings = (certain | computed).sum(axis=1)
        inside[lo:hi] = (crossings % 2).astype(bool)
    return inside


def ring_contains_point(ring, point) -> bool:
    """Scalar convenience wrapper over :func:`points_in_ring`; ref :253-295."""
    res = points_in_ring(
        np.array([point[0]]), np.array([point[1]]), np.asarray(ring)
    )
    return bool(res[0])


def ring_contains_ring(ring1, ring2) -> bool:
    """All vertices of ring2 inside ring1; ref :346-348."""
    arr = np.asarray(ring2, dtype=np.float64)
    return bool(points_in_ring(arr[:, 0], arr[:, 1], np.asarray(ring1)).all())


def ring_crosses_antimeridian(ring) -> bool:
    """True when any edge jumps more than 180 degrees in longitude — the
    standard convention (RFC 7946 §3.1.9) that such an edge takes the
    short way around, i.e. crosses the +-180 seam. Alaska/Fiji-style
    rings digitized in [-180, 180] hit this; a deliberate planar edge
    wider than a hemisphere does not round-trip this convention and must
    be pre-split by the caller."""
    lon = np.asarray(ring, dtype=np.float64)[:, 0]
    return bool((np.abs(np.diff(lon)) > 180.0).any())


def _clip_ring_halfplane(
    ring: np.ndarray, line_x: float, keep_left: bool
) -> Optional[np.ndarray]:
    """Sutherland-Hodgman clip of a closed ring against the half-plane
    x <= line_x (or x >= line_x). Driver-side, per-polygon — not a hot
    path. Returns a closed ring or None when nothing remains.
    Delegates to the two-axis generalization :func:`_clip_ring_axis`
    (one clipper, one set of degenerate-case rules)."""
    return _clip_ring_axis(
        np.asarray(ring, dtype=np.float64), line_x, 0, keep_left
    )


def _clip_ring_axis(
    ring: np.ndarray, line: float, axis: int, keep_low: bool
) -> Optional[np.ndarray]:
    """Sutherland-Hodgman clip against ``coord[axis] <= line`` (or >=).
    Generalizes :func:`_clip_ring_halfplane` to both axes (tile/bbox
    clipping needs y cuts too). Returns a closed ring or None."""
    out: List[List[float]] = []
    for i in range(len(ring) - 1):
        p, q = ring[i], ring[i + 1]
        pin = p[axis] <= line if keep_low else p[axis] >= line
        qin = q[axis] <= line if keep_low else q[axis] >= line
        if pin:
            out.append([p[0], p[1]])
            if not qin:
                t = (line - p[axis]) / (q[axis] - p[axis])
                v = [0.0, 0.0]
                v[axis] = line
                v[1 - axis] = p[1 - axis] + t * (q[1 - axis]
                                                 - p[1 - axis])
                out.append(v)
        elif qin:
            t = (line - p[axis]) / (q[axis] - p[axis])
            v = [0.0, 0.0]
            v[axis] = line
            v[1 - axis] = p[1 - axis] + t * (q[1 - axis] - p[1 - axis])
            out.append(v)
    if len(out) < 3:
        return None
    out.append(list(out[0]))
    return np.asarray(out, dtype=np.float64)


def clip_ring_bbox(ring, bbox) -> Optional[np.ndarray]:
    """Clip a closed ring to a bbox (four successive half-plane cuts).
    Returns the clipped closed ring or None when nothing remains.
    Concave rings crossing a side multiple times come back as one ring
    joined by zero-width bridges along the cut line — crossing-parity
    tests and signed areas are unaffected (same convention as the
    antimeridian seam split)."""
    x0, y0, x1, y1 = (float(v) for v in bbox)
    arr = np.asarray(ring, dtype=np.float64)[:, :2]
    for line, axis, keep_low in (
        (x0, 0, False),
        (x1, 0, True),
        (y0, 1, False),
        (y1, 1, True),
    ):
        arr = _clip_ring_axis(arr, line, axis, keep_low)
        if arr is None:
            return None
    return arr


def _seg_pairs_hit(a1, a2, b1, b2, touch: bool = True) -> np.ndarray:
    """Per-PAIR segment intersection over equal-length segment arrays
    (a1[i]->a2[i] vs b1[i]->b2[i]) -> bool[i]; each endpoint argument
    is an (x, y) pair of 1-D arrays (an (n, 2) array's ``.T`` unpacks
    to one). ``touch=False`` restricts to proper crossings. The
    gathered-pair form of :func:`segments_intersect_any`'s math, used by
    the chunked kernels so candidate pairs selected by a bbox prefilter
    never materialize a dense edge-pair matrix."""
    (a1x, a1y), (a2x, a2y), (b1x, b1y), (b2x, b2y) = a1, a2, b1, b2
    dax, day = a2x - a1x, a2y - a1y
    dbx, dby = b2x - b1x, b2y - b1y
    d1 = dax * (b1y - a1y) - day * (b1x - a1x)
    d2 = dax * (b2y - a1y) - day * (b2x - a1x)
    d3 = dbx * (a1y - b1y) - dby * (a1x - b1x)
    d4 = dbx * (a2y - b1y) - dby * (a2x - b1x)
    hit = (
        (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0)))
        & (((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0)))
    )
    if not touch:
        return hit
    # a touch needs a zero orientation: only those segments test one
    z = np.flatnonzero((d1 == 0) | (d2 == 0) | (d3 == 0) | (d4 == 0))
    if not len(z):
        return hit

    def on_seg(s1x, s1y, s2x, s2y, px, py, d):
        s1x, s1y, s2x, s2y = s1x[z], s1y[z], s2x[z], s2y[z]
        px, py = px[z], py[z]
        return (
            (d[z] == 0)
            & (px >= np.minimum(s1x, s2x)) & (px <= np.maximum(s1x, s2x))
            & (py >= np.minimum(s1y, s2y)) & (py <= np.maximum(s1y, s2y))
        )

    hit[z] |= (
        on_seg(a1x, a1y, a2x, a2y, b1x, b1y, d1)
        | on_seg(a1x, a1y, a2x, a2y, b2x, b2y, d2)
        | on_seg(b1x, b1y, b2x, b2y, a1x, a1y, d3)
        | on_seg(b1x, b1y, b2x, b2y, a2x, a2y, d4)
    )
    return hit


def _edge_bboxes(arr: np.ndarray):
    p1, p2 = arr[:-1], arr[1:]
    return (
        np.minimum(p1[:, 0], p2[:, 0]), np.minimum(p1[:, 1], p2[:, 1]),
        np.maximum(p1[:, 0], p2[:, 0]), np.maximum(p1[:, 1], p2[:, 1]),
    )


def ring_self_intersects(ring) -> bool:
    """True when a CLOSED ring's boundary is not simple: any pair of
    NON-adjacent edges crosses or touches (adjacent edges legitimately
    share their common endpoint; the first and last edge are adjacent
    through the closure point). Zero-length edges and spikes are
    separate validity checks — this detects crossings only.

    Memory-bounded for QA-gate use on arbitrary layers: the edge-pair
    candidate mask is evaluated in row blocks under
    ``_PIP_CELL_BUDGET`` cells with an edge-bbox prefilter, and only
    surviving pairs run the exact orientation math — a 50k-vertex ring
    peaks at a few MB instead of a multi-GB dense matrix."""
    arr = np.asarray(ring, dtype=np.float64)[:, :2]
    n = len(arr) - 1  # edge count
    if n < 3:
        return False
    p1, p2 = arr[:-1], arr[1:]
    ex0, ey0, ex1, ey1 = _edge_bboxes(arr)
    idx = np.arange(n)
    chunk = max(64, _PIP_CELL_BUDGET // max(1, n))
    for lo in range(0, n, chunk):
        hi = min(lo + chunk, n)
        m = (
            (ex0[lo:hi, None] <= ex1[None, :])
            & (ex0[None, :] <= ex1[lo:hi, None])
            & (ey0[lo:hi, None] <= ey1[None, :])
            & (ey0[None, :] <= ey1[lo:hi, None])
        )
        # each unordered pair once (j > i + 1 skips self and forward
        # adjacency; the closure pair (0, n-1) is adjacent too)
        ii_g = idx[lo:hi, None]
        jj_g = idx[None, :]
        m &= (jj_g - ii_g > 1) & ~((ii_g == 0) & (jj_g == n - 1))
        ii, jj = np.nonzero(m)
        if not len(ii):
            continue
        ii = ii + lo
        if _seg_pairs_hit(p1[ii].T, p2[ii].T, p1[jj].T,
                          p2[jj].T).any():
            return True
    return False


def rings_properly_cross(a: np.ndarray, b: np.ndarray) -> bool:
    """True when any edge of closed ring ``a`` PROPERLY crosses any
    edge of closed ring ``b`` (boundary touches allowed — the OGC
    shell/hole contact rule). Chunked + bbox-prefiltered like
    :func:`ring_self_intersects`."""
    a = np.asarray(a, dtype=np.float64)[:, :2]
    b = np.asarray(b, dtype=np.float64)[:, :2]
    if len(a) < 2 or len(b) < 2:
        return False
    a1, a2 = a[:-1], a[1:]
    b1, b2 = b[:-1], b[1:]
    ax0, ay0, ax1, ay1 = _edge_bboxes(a)
    bx0, by0, bx1, by1 = _edge_bboxes(b)
    n = len(b1)
    chunk = max(64, _PIP_CELL_BUDGET // max(1, n))
    for lo in range(0, len(a1), chunk):
        hi = min(lo + chunk, len(a1))
        m = (
            (ax0[lo:hi, None] <= bx1[None, :])
            & (bx0[None, :] <= ax1[lo:hi, None])
            & (ay0[lo:hi, None] <= by1[None, :])
            & (by0[None, :] <= ay1[lo:hi, None])
        )
        ii, jj = np.nonzero(m)
        if not len(ii):
            continue
        ii = ii + lo
        if _seg_pairs_hit(a1[ii].T, a2[ii].T, b1[jj].T, b2[jj].T,
                          touch=False).any():
            return True
    return False


def segments_intersect_any(a: np.ndarray, b: np.ndarray) -> bool:
    """True when ANY edge of closed ring ``a`` intersects any edge of
    closed ring ``b`` (proper crossings, collinear overlaps, and
    endpoint touches all count). Vectorized (|a| x |b|) orientation
    tests — both rings are small-polygon sized, so the dense matrix is
    the fast path."""
    p = np.asarray(a, dtype=np.float64)
    q = np.asarray(b, dtype=np.float64)
    p1, p2 = p[:-1], p[1:]
    q1, q2 = q[:-1], q[1:]

    def cross(o, d, pts):
        # orientation of pts relative to segment (o -> o+d), broadcast
        return (d[..., 0] * (pts[..., 1] - o[..., 1])
                - d[..., 1] * (pts[..., 0] - o[..., 0]))

    dp = p2 - p1
    dq = q2 - q1
    P1, P2 = p1[:, None, :], p2[:, None, :]
    Q1, Q2 = q1[None, :, :], q2[None, :, :]
    DP, DQ = dp[:, None, :], dq[None, :, :]
    d1 = cross(P1, DP, Q1)
    d2 = cross(P1, DP, Q2)
    d3 = cross(Q1, DQ, P1)
    d4 = cross(Q1, DQ, P2)
    proper = (
        ((d1 > 0) & (d2 < 0) | (d1 < 0) & (d2 > 0))
        & ((d3 > 0) & (d4 < 0) | (d3 < 0) & (d4 > 0))
    )
    if bool(proper.any()):
        return True

    def on_seg(s1, s2, pts, d):
        return (
            (d == 0)
            & (pts[..., 0] >= np.minimum(s1[..., 0], s2[..., 0]))
            & (pts[..., 0] <= np.maximum(s1[..., 0], s2[..., 0]))
            & (pts[..., 1] >= np.minimum(s1[..., 1], s2[..., 1]))
            & (pts[..., 1] <= np.maximum(s1[..., 1], s2[..., 1]))
        )
    touch = (
        on_seg(P1, P2, Q1, d1) | on_seg(P1, P2, Q2, d2)
        | on_seg(Q1, Q2, P1, d3) | on_seg(Q1, Q2, P2, d4)
    )
    return bool(touch.any())


def polygons_intersect(rings_a, rings_b) -> bool:
    """Exact "intersects" predicate between two even-odd polygons given
    as GeoJSON ring lists (boundary contact counts): the one-pair call
    of :func:`polygons_intersect_pairs`. Raises ValueError when either
    polygon cannot be read."""
    return _one_pair(GeomSet([rings_a]), GeomSet([rings_b]))


def lines_intersect_polygon(lines, rings_b) -> bool:
    """Exact "intersects" between a set of polylines (open; no
    interior) and an even-odd polygon, the one-pair call of
    :func:`polygons_intersect_pairs`. Raises ValueError when either
    side cannot be read."""
    return _one_pair(GeomSet([lines], areal=False), GeomSet([rings_b]))


def _one_pair(a: "GeomSet", b: "GeomSet") -> bool:
    hit, bad = polygons_intersect_pairs(a, [0], b, [0])
    if bad[0]:
        raise ValueError("unreadable geometry")
    return bool(hit[0])


def _reduce_bbox(xy: np.ndarray, starts: np.ndarray,
                 lens: np.ndarray) -> np.ndarray:
    """(k, 4) ``ring_bbox`` of each contiguous run ``xy[s:s + n]``; NaN
    for an empty run. Runs must tile ``xy`` in order (empty ones
    included), so ``reduceat`` over the non-empty starts sees each whole
    run; a NaN ordinate propagates into the bbox as in ``ring_bbox``."""
    out = np.full((len(lens), 4), np.nan)
    nz = lens > 0
    if nz.any():
        at = starts[nz]
        out[nz, :2] = np.minimum.reduceat(xy, at, axis=0)
        out[nz, 2:] = np.maximum.reduceat(xy, at, axis=0)
    return out


def _ranges(starts, counts) -> np.ndarray:
    """Concatenated ``arange(s, s + c)`` over (starts, counts)."""
    counts = np.asarray(counts, dtype=np.int64)
    if not len(counts):
        return np.empty(0, dtype=np.int64)
    ends = np.cumsum(counts)
    return (np.repeat(np.asarray(starts, dtype=np.int64) - ends + counts,
                      counts) + np.arange(ends[-1], dtype=np.int64))


def _first_index(counts) -> np.ndarray:
    """Start offset of each run in a concatenation of runs of ``counts``."""
    counts = np.asarray(counts, dtype=np.int64)
    return np.cumsum(counts) - counts


#: elements per chunk of the pair kernel's (vertex, edge) and (edge,
#: edge) work: each element gathers its coordinates (up to 64 B), so a
#: quarter of ``_PIP_CELL_BUDGET`` keeps a chunk's temporaries near the
#: dense kernels' ~16 MB per array.
_PAIR_CHUNK = _PIP_CELL_BUDGET // 4


def _element_chunks(counts):
    """(item, offset) arrays over the elements of items holding
    ``counts`` elements each, at most ``_PAIR_CHUNK`` elements per chunk
    (an item larger than that spans several chunks)."""
    counts = np.asarray(counts, dtype=np.int64)
    ends = np.cumsum(counts)
    starts = ends - counts
    total = int(ends[-1]) if len(ends) else 0
    for lo in range(0, total, _PAIR_CHUNK):
        hi = min(lo + _PAIR_CHUNK, total)
        i0 = int(np.searchsorted(ends, lo, "right"))
        i1 = int(np.searchsorted(ends, hi - 1, "right")) + 1
        s = np.maximum(starts[i0:i1], lo)
        n = np.minimum(ends[i0:i1], hi) - s
        yield (np.repeat(np.arange(i0, i1), n),
               _ranges(s - starts[i0:i1], n))


class GeomSet:
    """Linear and areal geometries flattened once into concatenated
    arrays, the operand of :func:`polygons_intersect_pairs`.

    ``geoms`` holds one part list per geometry (``wkt.vertex_parts``:
    the rings of a (multi)polygon, the lines of a (multi)linestring),
    or None for one that could not be read; ``areal`` (one flag, or one
    per geometry) says whether the parts are rings. A geometry with no
    parts, or a part that is not an (n, >= 2) vertex array, is
    unreadable (``ok`` False). Per part: its raw vertices (the segment
    test's edges), the vertices it offers to a vertex-in-polygon test
    (a ring minus its closing vertex, all of a line) and its bbox. Per
    areal geometry: its rings after ``expand_antimeridian_rings``, each
    with its bbox; ``poly_err`` marks a geometry whose rings cannot be
    expanded (or that holds an empty ring), which fails any test that
    uses it as a polygon."""

    def __init__(self, geoms: Sequence, areal=True):
        n = len(geoms)
        self.areal = np.zeros(n, dtype=bool)
        self.areal[:] = areal
        self.ok = np.zeros(n, dtype=bool)
        arrs: List[np.ndarray] = []
        pcount = [0] * n
        for g, parts in enumerate(geoms):
            try:
                got = [np.asarray(p, dtype=np.float64)[:, :2]
                       for p in parts]
            except (TypeError, ValueError, IndexError):
                continue
            if got and all(a.ndim == 2 and a.shape[1] == 2 for a in got):
                arrs.extend(got)
                pcount[g] = len(got)
                self.ok[g] = True
        self.pcount = np.array(pcount, dtype=np.int64)
        self.pstart = _first_index(self.pcount)
        self.plen = plen = np.array([len(a) for a in arrs], dtype=np.int64)
        self.part_start = _first_index(plen)
        xy = np.concatenate(arrs) if arrs else np.empty((0, 2))
        self.x, self.y = xy.T.copy()
        self.part_bbox = _reduce_bbox(xy, self.part_start, plen)
        part_geom = np.repeat(np.arange(n), self.pcount)
        ring_part = self.areal[part_geom]
        empty = plen == 0
        # the first empty part of a geometry: a line's segment test
        # stops there, and any empty ring fails a polygon outright
        self.empty_at = np.full(n, np.iinfo(np.int64).max)
        self.poly_err = np.zeros(n, dtype=bool)
        if empty.any():
            local = np.arange(len(plen)) - self.pstart[part_geom]
            np.minimum.at(self.empty_at, part_geom[empty], local[empty])
            self.poly_err[part_geom[ring_part & empty]] = True
        # probe vertices: all but each ring's closing vertex
        closing = ring_part & ~empty
        keep = np.ones(len(xy), dtype=bool)
        keep[(self.part_start + plen - 1)[closing]] = False
        self.vidx = np.flatnonzero(keep)
        self.vcount = np.bincount(part_geom, weights=plen - closing,
                                  minlength=n).astype(np.int64)
        self.vstart = _first_index(self.vcount)
        self._rings(xy, part_geom, ring_part)

    def _rings(self, xy: np.ndarray, part_geom: np.ndarray,
               ring_part: np.ndarray):
        """The expanded rings of the areal geometries, contiguous in
        geometry order: a ring with an edge spanning more than 180
        degrees of longitude becomes its ``split_ring_antimeridian``
        lobes, every other ring is its raw part."""
        crossing = np.zeros(len(self.plen), dtype=bool)
        jump = np.flatnonzero(np.abs(np.diff(self.x)) > 180.0)
        if len(jump):
            owner = np.repeat(np.arange(len(self.plen)), self.plen)
            jump = jump[owner[jump] == owner[jump + 1]]
            crossing[owner[jump]] = True
            crossing &= ring_part
        if ring_part.all() and not crossing.any():
            # every part is a ring of its own: the parts are the rings
            self.rx, self.ry, self.ring_len = self.x, self.y, self.plen
            self.ring_start, self.ring_bbox = self.part_start, \
                self.part_bbox
            self.rcount, self.rstart = self.pcount, self.pstart
            return
        plain = np.flatnonzero(ring_part & ~crossing)
        ring_geom = [part_geom[plain]]
        ring_xy = [xy[_ranges(self.part_start[plain], self.plen[plain])]]
        ring_len = [self.plen[plain]]
        for k in np.flatnonzero(crossing):
            g = part_geom[k]
            s = self.part_start[k]
            try:
                lobes = split_ring_antimeridian(xy[s:s + self.plen[k]])
            except Exception:
                # any failure to split leaves the polygon unanswerable,
                # as the raise did for one pair at a time
                self.poly_err[g] = True
                continue
            ring_geom.append(np.full(len(lobes), g))
            ring_xy.extend(lobes)
            ring_len.append(np.array([len(r) for r in lobes],
                                     dtype=np.int64))
        rg = np.concatenate(ring_geom)
        rl = np.concatenate(ring_len)
        order = np.argsort(rg, kind="stable")
        self.ring_len = rl[order]
        rxy = np.concatenate(ring_xy)[
            _ranges(_first_index(rl)[order], self.ring_len)]
        self.rx, self.ry = rxy.T.copy()
        self.ring_start = _first_index(self.ring_len)
        self.ring_bbox = _reduce_bbox(rxy, self.ring_start, self.ring_len)
        self.rcount = np.bincount(rg, minlength=len(self.ok)).astype(
            np.int64)
        self.rstart = _first_index(self.rcount)


def _ray_hits(px, py, p, rx, ry, e) -> np.ndarray:
    """:func:`points_in_ring`'s crossing test of point ``p[i]`` against
    the edge from ring vertex ``e[i]`` to ``e[i] + 1``, in the same
    float expressions; the x work runs only where the edge straddles
    the point's y."""
    ty, y0, y1 = py[p], ry[e], ry[e + 1]
    s = np.flatnonzero((y0 >= ty) != (y1 >= ty))
    hit = np.zeros(len(p), dtype=bool)
    if not len(s):
        return hit
    ty, y0, y1 = ty[s], y0[s], y1[s]
    tx, x0, x1 = px[p[s]], rx[e[s]], rx[e[s] + 1]
    xflag0 = x0 >= tx
    same_x_side = xflag0 == (x1 >= tx)
    denom = y0 - y1
    denom = np.where(denom == 0.0, 1.0, denom)
    with np.errstate(over="ignore", invalid="ignore"):
        crossing_x = x1 - (y1 - ty) * (x0 - x1) / denom
    hit[s] = (same_x_side & xflag0) | (~same_x_side & (crossing_x >= tx))
    return hit


def _pairs_vertex_in(pts: GeomSet, ip: np.ndarray, poly: GeomSet,
                     iq: np.ndarray) -> np.ndarray:
    """Per pair: does any probe vertex of ``pts[ip]`` lie inside the
    polygon ``poly[iq]`` (:func:`points_in_polygon` parity over its
    expanded rings, each gated by its bbox)?"""
    nv = pts.vcount[ip]
    pv_pair = np.repeat(np.arange(len(ip)), nv)
    v = pts.vidx[_ranges(pts.vstart[ip], nv)]
    px, py = pts.x[v], pts.y[v]
    q = iq[pv_pair]
    nr = poly.rcount[q]
    pv = np.repeat(np.arange(len(v)), nr)
    ring = _ranges(poly.rstart[q], nr)
    bb = poly.ring_bbox[ring]
    x, y = px[pv], py[pv]
    cand = (x >= bb[:, 0]) & (x <= bb[:, 2]) & (y >= bb[:, 1]) \
        & (y <= bb[:, 3])
    pv, ring = pv[cand], ring[cand]
    # parity over all rings at once: XOR of per-ring parities is the
    # parity of the summed crossing counts
    crossings = np.zeros(len(v), dtype=np.int64)
    for item, off in _element_chunks(np.maximum(poly.ring_len[ring] - 1,
                                                0)):
        p = pv[item]
        hit = _ray_hits(px, py, p, poly.rx, poly.ry,
                        poly.ring_start[ring[item]] + off)
        crossings += np.bincount(p[hit], minlength=len(v))
    inside = (crossings % 2).astype(bool)
    return np.bincount(pv_pair[inside], minlength=len(ip)) > 0


def _pairs_edges_meet(a: GeomSet, ia: np.ndarray, b: GeomSet,
                      ib: np.ndarray):
    """Per pair: does an edge of a part of ``a[ia]`` cross or touch an
    edge of a ring of ``b[ib]`` whose bbox overlaps the part's? The
    segment test runs on the raw parts. A line's parts are taken in
    order up to its first empty one: returns (hit, stopped), where
    ``stopped`` marks a pair that met no edge before an empty part."""
    na = a.pcount[ia]
    pair = np.repeat(np.arange(len(ia)), na)
    pa = _ranges(a.pstart[ia], na)
    nb = b.pcount[ib[pair]]
    item_pa = np.repeat(np.arange(len(pa)), nb)
    pb = _ranges(b.pstart[ib[pair]], nb)
    pa = pa[item_pa]
    ba, bb = a.part_bbox[pa], b.part_bbox[pb]
    gate = (
        (ba[:, 0] <= bb[:, 2]) & (ba[:, 2] >= bb[:, 0])
        & (ba[:, 1] <= bb[:, 3]) & (ba[:, 3] >= bb[:, 1])
    )
    pair = pair[item_pa]
    gate &= pa - a.pstart[ia[pair]] < a.empty_at[ia[pair]]
    pa, pb, pair = pa[gate], pb[gate], pair[gate]
    # one row per (candidate, edge of the a part); a row meets every
    # edge of the b ring
    ea = np.maximum(a.plen[pa] - 1, 0)
    row = np.repeat(np.arange(len(pa)), ea)
    row_sa = _ranges(a.part_start[pa], ea)
    row_sb = b.part_start[pb][row]
    met = np.zeros(len(pa), dtype=bool)
    for r, j in _element_chunks(np.maximum(b.plen[pb] - 1, 0)[row]):
        sa, sb = row_sa[r], row_sb[r] + j
        hit = _seg_pairs_hit((a.x[sa], a.y[sa]),
                             (a.x[sa + 1], a.y[sa + 1]),
                             (b.x[sb], b.y[sb]),
                             (b.x[sb + 1], b.y[sb + 1]))
        met[row[r[hit]]] = True
    hit = np.bincount(pair[met], minlength=len(ia)) > 0
    stopped = ~hit & (a.empty_at[ia] < a.pcount[ia])
    return hit, stopped


def polygons_intersect_pairs(a: GeomSet, ia, b: GeomSet, ib):
    """Exact "intersects" of many (geometry, polygon) pairs at once:
    pair ``k`` tests ``a[ia[k]]`` (areal or linear) against the areal
    ``b[ib[k]]`` -> (hit, bad) bool arrays, ``bad`` marking a pair that
    cannot be answered (an unreadable side, a non-areal ``b``, a
    polygon whose rings cannot be expanded); a bad pair never hits.

    True iff a probe vertex of ``a`` lies inside ``b``, or (areal ``a``)
    a vertex of ``b`` lies inside ``a``, or a boundary edge of ``a``
    crosses or touches one of ``b`` — which covers containment, partial
    overlap and touch; a probe sitting wholly inside a HOLE fails all
    three (its vertices test outside by parity, and no edges meet).

    Each step answers every still-open pair in array-wide numpy: the
    (pair, vertex, ring) and (pair, part, ring) candidates are gated by
    ring bboxes, and their (edge) and (edge, edge) work runs in chunks of
    at most ``_PAIR_CHUNK`` elements. The answers, and which pairs
    are bad, are those of one pair at a time through
    ``points_in_polygon`` and the bbox-gated segment test, in that order
    (so ``a``'s own rings are only expanded for a pair its vertices did
    not settle)."""
    ia = np.asarray(ia, dtype=np.int64)
    ib = np.asarray(ib, dtype=np.int64)
    hit = np.zeros(len(ia), dtype=bool)
    bad = ~(a.ok[ia] & b.ok[ib] & b.areal[ib]) | b.poly_err[ib]
    # pairs in slices, so the (pair, vertex, ring) and (pair, part,
    # ring) candidate lists stay within a chunk too
    cost = np.maximum(
        a.vcount[ia] * b.rcount[ib] + b.vcount[ib] * a.rcount[ia]
        + a.pcount[ia] * b.pcount[ib], 1)
    ends = np.cumsum(cost)
    lo = 0
    while lo < len(ia):
        hi = max(lo + 1, int(np.searchsorted(
            ends, ends[lo] - cost[lo] + _PAIR_CHUNK, "right")))
        k = lo + np.flatnonzero(~bad[lo:hi])
        hit[k] = _pairs_vertex_in(a, ia[k], b, ib[k])
        k = k[~hit[k] & a.areal[ia[k]]]
        bad[k[a.poly_err[ia[k]]]] = True
        k = k[~a.poly_err[ia[k]]]
        hit[k] = _pairs_vertex_in(b, ib[k], a, ia[k])
        k = lo + np.flatnonzero(~hit[lo:hi] & ~bad[lo:hi])
        hit[k], stopped = _pairs_edges_meet(a, ia[k], b, ib[k])
        bad[k[stopped]] = True
        lo = hi
    return hit, bad


def simplify_line(points, tolerance: float) -> np.ndarray:
    """Douglas-Peucker polyline simplification: keep the subset of
    vertices whose removal would deviate the line by more than
    ``tolerance`` (perpendicular distance). Endpoints always survive.
    Iterative stack (no recursion limit); distances vectorized per
    segment. Deterministic: the farthest-point tie breaks on the lowest
    index (argmax)."""
    arr = np.asarray(points, dtype=np.float64)[:, :2]
    n = len(arr)
    if n <= 2:
        return arr.copy()
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j - i < 2:
            continue
        seg = arr[j] - arr[i]
        span = float(np.hypot(seg[0], seg[1]))
        mid = arr[i + 1:j] - arr[i]
        if span == 0.0:
            d = np.hypot(mid[:, 0], mid[:, 1])
        else:
            d = np.abs(mid[:, 0] * seg[1] - mid[:, 1] * seg[0]) / span
        k = int(np.argmax(d))
        if float(d[k]) > tolerance:
            k += i + 1
            keep[k] = True
            stack.append((i, k))
            stack.append((k, j))
    return arr[keep]


def simplify_ring(ring, tolerance: float) -> Optional[np.ndarray]:
    """Douglas-Peucker for a CLOSED ring: the ring is split at its two
    mutually farthest vertices (so no edge of the closed shape is
    anchored arbitrarily), each half simplifies as a polyline, and the
    halves rejoin closed. Returns None when the ring collapses below 3
    distinct vertices (degenerate at this tolerance) — callers drop it,
    which is the correct rendering semantics for a sub-tolerance
    feature."""
    arr = np.asarray(ring, dtype=np.float64)[:, :2]
    if len(arr) > 0 and (arr[0] == arr[-1]).all():
        arr = arr[:-1]
    if len(arr) < 3:
        return None
    # anchor at the farthest pair from vertex 0 (O(n) twice — adequate
    # anchor quality without the O(n^2) diameter)
    d0 = np.hypot(*(arr - arr[0]).T)
    a = int(np.argmax(d0))
    da = np.hypot(*(arr - arr[a]).T)
    b = int(np.argmax(da))
    a, b = min(a, b), max(a, b)
    if a == b:
        return None
    half1 = simplify_line(arr[a:b + 1], tolerance)
    half2 = simplify_line(
        np.concatenate([arr[b:], arr[:a + 1]]), tolerance
    )
    out = np.concatenate([half1[:-1], half2[:-1]])
    # dedupe consecutive coincident vertices left by the join
    dif = np.diff(np.concatenate([out, out[:1]]), axis=0)
    mask = (np.abs(dif) > 0).any(axis=1)
    out = out[mask]
    if len(out) < 3:
        return None
    return np.concatenate([out, out[:1]])


def split_ring_antimeridian(ring) -> List[np.ndarray]:
    """Split a dateline-crossing ring into lobes entirely within
    [-180, 180], each a valid closed planar ring.

    Longitudes are first unwrapped into a continuous frame (every edge
    takes the short way around), the unwrapped ring is clipped at each
    seam line 180 + 360k it straddles (half-plane Sutherland-Hodgman —
    multi-crossing rings yield lobes joined by zero-width seam bridges,
    which cancel in crossing-parity tests), and each lobe is shifted by
    a multiple of 360 back into [-180, 180]. Even-odd parity over the
    lobes equals parity over the spherical ring for every point off the
    seam line, so downstream kernels/covers need no other change."""
    import math

    arr = np.asarray(ring, dtype=np.float64)[:, :2]
    lon = arr[:, 0]
    d = np.diff(lon)
    shift = np.zeros(len(lon))
    shift[1:] = np.cumsum(
        np.where(d > 180.0, -360.0, np.where(d < -180.0, 360.0, 0.0))
    )
    pts = np.column_stack([lon + shift, arr[:, 1]])
    # POLE-ENCIRCLING rings wind once around in longitude, so the
    # unwrapped polyline ends 360 deg from where it started — an OPEN
    # curve with no chart-bounded interior. Close it over the pole on
    # the side of the ring's mean latitude (the polar-cap convention:
    # an Antarctic coastline ring means the south cap): walk from the
    # last vertex to the pole, across at pole latitude, and back down
    # to the first vertex. The subsequent seam clipping then yields
    # lobes whose planar interior is exactly the cap.
    wind = int(round((pts[-1, 0] - pts[0, 0]) / 360.0))
    if wind:
        if abs(wind) > 1:
            raise ValueError(
                "ring winds %d times around the globe — not a valid "
                "polygon boundary" % wind
            )
        pole = 90.0 if float(np.mean(arr[:-1, 1])) >= 0.0 else -90.0
        closure = np.array([
            [pts[-1, 0], pole],
            [pts[0, 0], pole],
            [pts[0, 0], pts[0, 1]],
        ])
        pts = np.vstack([pts, closure])
    lo, hi = float(pts[:, 0].min()), float(pts[:, 0].max())
    k0 = math.ceil((lo - 180.0) / 360.0)
    k1 = math.floor((hi - 180.0) / 360.0)
    seams = [
        180.0 + 360.0 * k
        for k in range(k0, k1 + 1)
        if lo < 180.0 + 360.0 * k < hi
    ]
    pieces = [pts]
    for line_x in seams:
        nxt = []
        for p in pieces:
            for q in (
                _clip_ring_halfplane(p, line_x, keep_left=True),
                _clip_ring_halfplane(p, line_x, keep_left=False),
            ):
                if q is not None:
                    nxt.append(q)
        pieces = nxt
    out = []
    for p in pieces:
        c = (float(p[:, 0].min()) + float(p[:, 0].max())) / 2.0
        k = math.floor(c / 360.0 + 0.5)
        if k:
            p = p.copy()
            p[:, 0] -= 360.0 * k
        out.append(p)
    return out


def expand_antimeridian_rings(rings: Sequence) -> List[np.ndarray]:
    """Normalize a GeoJSON ring list: dateline-crossing rings are replaced
    by their [-180, 180] lobes (see :func:`split_ring_antimeridian`);
    non-crossing rings pass through unchanged. Idempotent."""
    out: List[np.ndarray] = []
    for ring in rings:
        arr = np.asarray(ring, dtype=np.float64)[:, :2]
        if ring_crosses_antimeridian(arr):
            out.extend(split_ring_antimeridian(arr))
        else:
            out.append(arr)
    return out


def points_in_polygon(
    points_x: np.ndarray, points_y: np.ndarray, rings: Sequence
) -> np.ndarray:
    """Even-odd containment of N points in a polygon given as GeoJSON rings
    (first exterior, rest holes). Crossing parity across all rings — a point
    is inside iff it is inside an odd number of rings, which equals
    "in exterior and not in a hole" for valid non-nested rings.

    Dateline-crossing rings (any edge spanning > 180 deg of longitude —
    the RFC 7946 short-way convention) are split into [-180, 180] lobes
    first, so Alaska/Fiji-style polygons test correctly on both sides of
    the seam; rings already within the seam are untouched (reference
    planar semantics preserved bit-for-bit).
    """
    px = np.asarray(points_x, dtype=np.float64)
    py = np.asarray(points_y, dtype=np.float64)
    inside = np.zeros(len(px), dtype=bool)
    for arr in expand_antimeridian_rings(rings):
        # cheap bbox prefilter per ring (the P5 pushdown idea, ref :1381-1388)
        bb = ring_bbox(arr)
        cand = (px >= bb[0]) & (px <= bb[2]) & (py >= bb[1]) & (py <= bb[3])
        if not cand.any():
            continue
        sub = points_in_ring(px[cand], py[cand], arr)
        idx = np.flatnonzero(cand)
        inside[idx] ^= sub
    return inside


def ring_sample(ring, ccw: bool = False) -> Tuple[float, float]:
    """Interior sample point of a ring via the first non-collinear vertex
    triplet whose orientation matches the ring and whose centroid passes the
    point-in-ring test. Semantics of ref ppge/pyshp/__init__.py:298-343.
    """
    coords = [list(p) for p in ring]
    triplet: List[list] = []

    def stream():
        for p in coords:
            yield p
        yield coords[1]

    for p in stream():
        if p not in triplet:
            triplet.append(p)
        if len(triplet) == 3:
            (ax, ay), (bx, by), (cx, cy) = (
                triplet[0][:2],
                triplet[1][:2],
                triplet[2][:2],
            )
            is_line = (ay - by) * (ax - cx) == (ay - cy) * (ax - bx)
            if not is_line:
                closed = triplet + [triplet[0]]
                if ccw == (not is_cw(np.asarray(closed)[:, :2])):
                    xm = (ax + bx + cx) / 3.0
                    ym = (ay + by + cy) / 3.0
                    if ring_contains_point(np.asarray(coords)[:, :2],
                                           (xm, ym)):
                        return xm, ym
            triplet.pop(0)
    raise ValueError("Unable to find a ring sample point.")


def organize_polygon_rings(
    rings: Sequence, return_errors: Optional[dict] = None
) -> List[List]:
    """Group closed rings into polygons: CW rings are exteriors, CCW are
    holes; holes are matched to exteriors by bbox containment, then a
    point-in-ring test on a hole sample point, then smallest-|area| tiebreak;
    orphan holes are promoted to exteriors; all-hole input is treated as
    exteriors. Semantics of ref ppge/pyshp/__init__.py:351-473.
    """
    exteriors, holes = [], []
    for ring in rings:
        (exteriors if is_cw(np.asarray(ring)[:, :2]) else holes).append(
            list(ring)
        )

    if len(exteriors) == 1:
        return [[exteriors[0]] + holes]

    if not exteriors:
        if return_errors is not None:
            return_errors["polygon_only_holes"] = len(holes)
        return [[h] for h in holes]

    if not holes:
        return [[e] for e in exteriors]

    ext_arrays = [np.asarray(e)[:, :2] for e in exteriors]
    ext_bboxes = [ring_bbox(a) for a in ext_arrays]
    ext_areas = [abs(signed_area(a, fast=True)) for a in ext_arrays]

    assignments: dict = {}
    orphan_holes = []
    for hole_i, hole in enumerate(holes):
        hole_arr = np.asarray(hole)[:, :2]
        hb = ring_bbox(hole_arr)
        candidates = [
            i for i, eb in enumerate(ext_bboxes) if bbox_contains(eb, hb)
        ]
        if len(candidates) > 1:
            sample = ring_sample(hole, ccw=not is_cw(hole_arr))
            candidates = [
                i
                for i in candidates
                if ring_contains_point(ext_arrays[i], sample)
            ]
        if len(candidates) > 1:
            candidates = [min(candidates, key=lambda i: ext_areas[i])]
        if not candidates:
            orphan_holes.append(hole_i)
        else:
            assignments.setdefault(candidates[0], []).append(hole_i)

    polys = []
    for ext_i, ext in enumerate(exteriors):
        polys.append([ext] + [holes[h] for h in assignments.get(ext_i, [])])
    for hole_i in orphan_holes:
        polys.append([holes[hole_i]])
    if orphan_holes and return_errors is not None:
        return_errors["polygon_orphaned_holes"] = len(orphan_holes)
    return polys
