"""Batched polygon-intersects kernel (``kernels.polygons_intersect_pairs``)
row for row against the one-pair-at-a-time bodies it replaced, kept here
as the reference oracle.

The fuzz corpus sits on a 1e-4 grid so edges and vertices coincide,
touch and overlap collinearly; it holds holes, multipolygons,
(multi)linestrings, antimeridian-crossing rings with probes on both
sides of the seam, degenerate and unclosed rings, probes inside a hole,
and one layer ring of 20k vertices, whose (vertex, edge) work spans more
than one kernel chunk."""

import numpy as np
import pytest

from pure_python_geospatial_export_spark.geo import kernels
from pure_python_geospatial_export_spark.geo.kernels import (
    GeomSet,
    bbox_overlap,
    points_in_polygon,
    polygons_intersect_pairs,
    ring_bbox,
)

# ---------------------------------------------------------------------------
# reference oracle: the per-pair bodies, one pair at a time
# ---------------------------------------------------------------------------


def _segments_intersect_any(a, b):
    p = np.asarray(a, dtype=np.float64)
    q = np.asarray(b, dtype=np.float64)
    p1, p2 = p[:-1], p[1:]
    q1, q2 = q[:-1], q[1:]

    def cross(o, d, pts):
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


def _ref_polygons_intersect(rings_a, rings_b):
    a = [np.asarray(r, dtype=np.float64)[:, :2] for r in rings_a]
    b = [np.asarray(r, dtype=np.float64)[:, :2] for r in rings_b]
    va = np.concatenate([r[:-1] for r in a])
    vb = np.concatenate([r[:-1] for r in b])
    if points_in_polygon(va[:, 0], va[:, 1], rings_b).any():
        return True
    if points_in_polygon(vb[:, 0], vb[:, 1], rings_a).any():
        return True
    for ra in a:
        bb_a = ring_bbox(ra)
        for rb in b:
            if not bbox_overlap(bb_a, ring_bbox(rb)):
                continue
            if _segments_intersect_any(ra, rb):
                return True
    return False


def _ref_lines_intersect_polygon(lines, rings_b):
    ls = [np.asarray(line, dtype=np.float64)[:, :2] for line in lines]
    v = np.concatenate(ls)
    if points_in_polygon(v[:, 0], v[:, 1], rings_b).any():
        return True
    for line in ls:
        bb = ring_bbox(line)
        for rb in rings_b:
            arr = np.asarray(rb, dtype=np.float64)[:, :2]
            if not bbox_overlap(bb, ring_bbox(arr)):
                continue
            if _segments_intersect_any(line, arr):
                return True
    return False


def _ref(probe, areal, poly):
    """True / False, or None where the per-pair body raises."""
    try:
        if areal:
            return bool(_ref_polygons_intersect(probe, poly))
        return bool(_ref_lines_intersect_polygon(probe, poly))
    except Exception:
        return None


# ---------------------------------------------------------------------------
# corpus on a 1e-4 grid
# ---------------------------------------------------------------------------

STEP = 1e-4


def g(k):
    """Grid ordinate ``k`` steps from 0, as a WKT round-trip gives it."""
    return round(k * STEP, 4)


def rect(x0, y0, x1, y1):
    return [[g(x0), g(y0)], [g(x1), g(y0)], [g(x1), g(y1)],
            [g(x0), g(y1)], [g(x0), g(y0)]]


def star(rng, cx, cy, n, r0, r1):
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.integers(r0, r1 + 1, n)
    ring = [[g(cx + int(r * np.cos(t))), g(cy + int(r * np.sin(t)))]
            for t, r in zip(ang, rad)]
    return ring + [ring[0]]


def seam_rect(w, y0, y1):
    """A rectangle ``w`` steps either side of the +-180 seam, digitized
    with its east edge at -180 + w: two edges jump 360 degrees."""
    return [[180.0 - g(w), g(y0)], [-180.0 + g(w), g(y0)],
            [-180.0 + g(w), g(y1)], [180.0 - g(w), g(y1)],
            [180.0 - g(w), g(y0)]]


def big_ring(n=20_000, cx=60, cy=60, r=50):
    t = np.linspace(0.0, 2 * np.pi, n, endpoint=False)
    ring = [[g(cx + r * np.cos(a)), g(cy + r * np.sin(a))] for a in t]
    return ring + [ring[0]]


#: a triangle whose slanted edges hold exactly representable points, so
#: a ray's x-intercept can equal the point's x
DYADIC = [[1.0, 1.0], [1.5, 2.0], [0.5, 2.0], [1.0, 1.0]]

#: a ring winding twice around the globe: ``split_ring_antimeridian``
#: refuses it
TWICE = [[lon, 10.0] for lon in (0.0, 120.0, -120.0, 0.0, 120.0,
                                   -120.0, 0.0)]


def layer_polys(rng):
    out = [
        [rect(0, 0, 40, 40), rect(10, 10, 30, 30)],          # donut
        [rect(40, 0, 80, 40)],                               # shares x=40
        [rect(0, 40, 20, 60), rect(50, 50, 70, 70),          # multipolygon
         rect(55, 55, 65, 65)],                              # with a hole
        [star(rng, 30, 80, 12, 5, 25)],
        [rect(10, 10, 30, 30)],                              # fills the hole
        [big_ring()],
        [seam_rect(20, 0, 20)],
        [seam_rect(5, -30, -10), [[180.0 - g(2), g(-25)],
                                  [-180.0 + g(2), g(-25)],
                                  [-180.0 + g(2), g(-15)],
                                  [180.0 - g(2), g(-15)],
                                  [180.0 - g(2), g(-25)]]],  # seam hole
        [rect(-40, -40, -20, -20)[:-1]],                     # unclosed
        [rect(90, 90, 100, 100), TWICE],         # cannot be expanded
        [DYADIC],
    ]
    return out


def probe_geoms(rng):
    """(parts, areal) probes: random rects and stars on the grid, plus
    the hand-placed edge cases."""
    out = []
    for _ in range(150):
        x0, y0 = rng.integers(-45, 115, 2)
        w, h = rng.integers(0, 25, 2)
        out.append(([rect(x0, y0, x0 + w, y0 + h)], True))
    for _ in range(40):
        cx, cy = rng.integers(-20, 110, 2)
        out.append(([star(rng, cx, cy, int(rng.integers(3, 9)), 1, 15)],
                    True))
    for _ in range(60):
        n = int(rng.integers(2, 6))
        pts = [[g(int(x)), g(int(y))]
               for x, y in rng.integers(-45, 115, (n, 2))]
        out.append(([pts], False))
    for _ in range(20):
        lines = [[[g(int(x)), g(int(y))]
                  for x, y in rng.integers(-45, 115, (2, 2))]
                 for _ in range(int(rng.integers(2, 4)))]
        out.append((lines, False))
    out += [
        ([rect(15, 15, 25, 25)], True),          # inside the donut hole
        ([[[g(12), g(12)], [g(28), g(28)]]], False),  # line in the hole
        ([rect(10, 10, 30, 30)], True),          # exactly the hole ring
        ([rect(40, 5, 50, 15)], True),           # shares an edge
        ([rect(40, 40, 45, 45)], True),          # touches corners only
        ([rect(80, 10, 90, 20)], True),          # edge on x=80
        ([[[g(40), g(-5)], [g(40), g(50)]]], False),  # collinear edge
        ([[[g(0), g(0)], [g(40), g(0)]]], False),     # along an edge
        ([rect(0, 0, 40, 40), rect(10, 10, 30, 30),
          rect(100, 100, 105, 105)], True),      # multipolygon probe
        ([[[g(5), g(5)]]], True),                # 1-vertex ring
        ([[[g(5), g(5)], [g(6), g(6)]]], True),  # 2-vertex ring
        ([rect(2, 2, 8, 8)[:-1]], True),         # unclosed ring
        ([[[g(5), g(5)]]], False),               # 1-vertex line
        ([[[180.0 - g(10), g(5)], [180.0 - g(1), g(5)],
           [180.0 - g(1), g(10)], [180.0 - g(10), g(5)]]], True),
        ([[[-180.0 + g(1), g(5)], [-180.0 + g(10), g(5)],
           [-180.0 + g(10), g(10)], [-180.0 + g(1), g(5)]]], True),
        ([seam_rect(3, 2, 8)], True),            # crossing probe
        ([seam_rect(1, -22, -18)], True),        # in a seam hole
        ([[[180.0 - g(3), g(-20)], [-180.0 + g(3), g(-20)]]], False),
        ([[[g(60), g(60)], [g(61), g(60)], [g(61), g(61)],
           [g(60), g(60)]]], True),              # deep in the big ring
        ([[[g(9), g(60)], [g(12), g(60)], [g(12), g(62)],
           [g(9), g(60)]]], True),               # on the big ring's rim
        ([[[np.nan, g(5)], [g(6), g(6)], [g(7), g(5)],
           [np.nan, g(5)]]], True),              # a NaN ordinate
        ([[]], True),                            # empty ring: unreadable
        ([TWICE], True),                         # cannot be expanded
        # empty parts: a line's edge test stops at one, a polygon with
        # one fails once its own vertices settle nothing
        ([[[g(-2), g(-5)], [g(-2), g(5)]], np.zeros((0, 2))], False),
        ([np.zeros((0, 2)), [[g(-2), g(-5)], [g(-2), g(5)]]], False),
        ([rect(2, 2, 4, 4), np.zeros((0, 2))], True),
        ([], False),                             # no parts: unreadable
    ]
    # one-vertex lines are points: their answer is points_in_polygon's,
    # here on the grid's edges and vertices and on DYADIC's boundary
    for x, y in rng.integers(-45, 115, (80, 2)):
        out.append(([[[g(int(x)), g(int(y))]]], False))
    for k in range(9):
        t = k / 8.0
        out.append(([[[1.0 + 0.5 * t, 1.0 + t]]], False))
        out.append(([[[1.0 - 0.5 * t, 1.0 + t]]], False))
        out.append(([[[0.5 + t, 2.0]]], False))
    # the big ring's bbox holds 120 of these vertices: > 2M (vertex,
    # edge) elements, so the ray cast spans several chunks
    for k in range(30):
        out.append(([rect(20 + 2 * k, 58, 21 + 2 * k, 59)], True))
    return out


def _ids(n_probe, n_layer, rng):
    ip, iq = np.meshgrid(np.arange(n_probe), np.arange(n_layer),
                         indexing="ij")
    ip, iq = ip.ravel(), iq.ravel()
    order = rng.permutation(len(ip))  # pairs need not be sorted
    return ip[order], iq[order]


def test_pairs_match_per_pair_bodies():
    rng = np.random.default_rng(2024)
    layer = layer_polys(rng)
    # and points on the star's and DYADIC's vertices
    probes = probe_geoms(rng) + [
        ([[v]], False) for ring in layer[3] + [DYADIC] for v in ring]
    ip, iq = _ids(len(probes), len(layer), rng)
    a = GeomSet([p for p, _ in probes], areal=[k for _, k in probes])
    b = GeomSet(layer)
    hit, bad = polygons_intersect_pairs(a, ip, b, iq)
    want = [_ref(probes[i][0], probes[i][1], layer[j])
            for i, j in zip(ip.tolist(), iq.tolist())]
    got = [None if x else bool(h) for h, x in zip(hit, bad)]
    diff = [(int(i), int(j), w, o) for i, j, w, o
            in zip(ip, iq, want, got) if w != o]
    assert not diff, diff[:10]
    # every kind of answer shows up
    assert {True, False, None} <= set(want)
    assert sum(w is True for w in want) > 200


def test_chunks_span_the_big_ring():
    """The fuzz corpus's big-ring pairs exceed one chunk of
    (vertex, edge) work, so the chunk seams are exercised."""
    rng = np.random.default_rng(2024)
    layer = layer_polys(rng)
    b = GeomSet(layer)
    ring = 5
    assert b.ring_len[b.rstart[ring]] >= 20_000
    probes = [p for p, _ in probe_geoms(rng)[-30:]]
    a = GeomSet(probes)
    inside = ((a.x >= b.ring_bbox[b.rstart[ring], 0])
              & (a.x <= b.ring_bbox[b.rstart[ring], 2])).sum()
    assert inside * 20_000 > 2 * kernels._PAIR_CHUNK
    hit, bad = polygons_intersect_pairs(
        a, np.arange(len(probes)), b, np.full(len(probes), ring))
    want = [_ref_polygons_intersect(p, layer[ring]) for p in probes]
    assert not bad.any()
    assert hit.tolist() == want


def test_dissolve_shape_pairs_within_one_set():
    """Both operands may be one set (the dissolve verify): areal pairs
    drawn from one corpus, both orders."""
    rng = np.random.default_rng(7)
    polys = [p for p, k in probe_geoms(rng) if k] + layer_polys(rng)
    s = GeomSet(polys)
    i, j = np.triu_indices(len(polys), k=1)
    keep = rng.random(len(i)) < 0.15
    i, j = i[keep], j[keep]
    i, j = np.concatenate([i, j]), np.concatenate([j, i])
    hit, bad = polygons_intersect_pairs(s, i, s, j)
    want = [_ref(polys[x], True, polys[y])
            for x, y in zip(i.tolist(), j.tolist())]
    got = [None if x else bool(h) for h, x in zip(hit, bad)]
    assert got == want


def test_one_pair_calls_and_errors():
    rng = np.random.default_rng(3)
    layer = layer_polys(rng)
    for parts, areal in probe_geoms(rng)[-40:]:
        for poly in layer:
            want = _ref(parts, areal, poly)
            call = (kernels.polygons_intersect if areal
                    else kernels.lines_intersect_polygon)
            if want is None:
                with pytest.raises(ValueError):
                    call(parts, poly)
            else:
                assert call(parts, poly) == want


def test_empty_inputs():
    a = GeomSet([])
    hit, bad = polygons_intersect_pairs(a, [], a, [])
    assert hit.shape == bad.shape == (0,)
