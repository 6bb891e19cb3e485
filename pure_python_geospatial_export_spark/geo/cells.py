"""Hierarchical cell index over EPSG:4326 — the engine's spatial partitioner.

Plays the H3/S2 role from the north rule. The reference has no cell index;
its only spatial pruning is the per-record bbox skip
(ref ppge/pyshp/__init__.py:1381-1388). This module generalizes that idea
into a deterministic hierarchical grid usable as a Spark partition / join
key:

* Resolution ``r`` divides the world into ``2^r x 2^r`` cells
  (x from longitude, y from latitude).
* Canonical cell id (the join/partition key) is PLAIN ARITHMETIC so the
  exact same value is computable in Spark column expressions AND in ANSI
  SQL (DuckDB oracle):  ``cell_id = r*2^58 + x*2^29 + y``  (r<=28, x,y<2^28
  comfortably fit; int64-exact, no bit intrinsics needed).
* A Morton (Z-order) code is also provided for locality-aware layouts
  (sorting a 100 TB table by ``morton`` clusters spatial neighbors into the
  same parquet row groups, so cell-range scans prune row groups).

Everything is numpy-vectorized; scalar helpers exist for tests/drivers.
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

import numpy as np

from . import kernels
from .kernels import points_in_polygon, ring_bbox

MAX_RES = 28
_RES_MULT = np.int64(1) << np.int64(58)
_X_MULT = np.int64(1) << np.int64(29)

WORLD = (-180.0, -90.0, 180.0, 90.0)


def _check_res(res: int) -> int:
    if not 0 <= res <= MAX_RES:
        raise ValueError("resolution must be in [0, %d]" % MAX_RES)
    return int(res)


def cell_xy(lon, lat, res: int) -> Tuple[np.ndarray, np.ndarray]:
    """Vectorized (lon, lat) -> integer grid coordinates at ``res``.

    The east/north edges (lon=180, lat=90) clamp into the last cell so every
    valid coordinate maps to exactly one cell.
    """
    res = _check_res(res)
    n = np.int64(1) << np.int64(res)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((lat + 90.0) / 180.0 * n).astype(np.int64)
    np.clip(x, 0, n - 1, out=x)
    np.clip(y, 0, n - 1, out=y)
    return x, y


def encode(x, y, res: int) -> np.ndarray:
    """(x, y, res) -> canonical int64 cell id (pure arithmetic)."""
    res = _check_res(res)
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    return np.int64(res) * _RES_MULT + x * _X_MULT + y


def decode(cell_id) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell id -> (x, y, res)."""
    c = np.asarray(cell_id, dtype=np.int64)
    res = c // _RES_MULT
    rem = c - res * _RES_MULT
    x = rem // _X_MULT
    y = rem - x * _X_MULT
    return x, y, res


def cell_id(lon, lat, res: int) -> np.ndarray:
    """Vectorized (lon, lat) -> cell id at ``res``."""
    x, y = cell_xy(lon, lat, res)
    return encode(x, y, res)


def cell_id_scalar(lon: float, lat: float, res: int) -> int:
    return int(cell_id(np.array([lon]), np.array([lat]), res)[0])


def parent(cell_ids, steps: int = 1) -> np.ndarray:
    """Hierarchical coarsening: each step halves the grid (res-1)."""
    x, y, res = decode(cell_ids)
    new_res = res - steps
    if (new_res < 0).any():
        raise ValueError("cannot coarsen below resolution 0")
    return encode(x >> steps, y >> steps, int(new_res[0]) if new_res.ndim
                  else int(new_res))


def children(cell: int) -> np.ndarray:
    """The 4 child cells one resolution finer."""
    x, y, res = decode(np.asarray([cell]))
    r = int(res[0]) + 1
    _check_res(r)
    cx, cy = int(x[0]) << 1, int(y[0]) << 1
    xs = np.array([cx, cx + 1, cx, cx + 1], dtype=np.int64)
    ys = np.array([cy, cy, cy + 1, cy + 1], dtype=np.int64)
    return encode(xs, ys, r)


def neighbors(cell: int, ring: int = 1) -> np.ndarray:
    """The (2*ring+1)^2 neighborhood of a cell (incl. itself), with
    longitude wrap-around and latitude clamping. Used by the grid kNN join
    (SURVEY J4) to bound the candidate search space."""
    x, y, res = decode(np.asarray([cell]))
    r = int(res[0])
    n = np.int64(1) << np.int64(r)
    dx, dy = np.meshgrid(np.arange(-ring, ring + 1),
                         np.arange(-ring, ring + 1))
    xs = (int(x[0]) + dx.ravel()) % n
    ys = int(y[0]) + dy.ravel()
    keep = (ys >= 0) & (ys < n)
    return np.unique(encode(xs[keep], ys[keep], r))


def cell_bounds(cell: int) -> Tuple[float, float, float, float]:
    """(lon_min, lat_min, lon_max, lat_max) of a cell."""
    x, y, res = decode(np.asarray([cell]))
    n = float(1 << int(res[0]))
    w, h = 360.0 / n, 180.0 / n
    lon0 = -180.0 + float(x[0]) * w
    lat0 = -90.0 + float(y[0]) * h
    return (lon0, lat0, lon0 + w, lat0 + h)


def morton(x, y) -> np.ndarray:
    """Interleave two <=29-bit coordinates into a Z-order locality code.

    Classic magic-number bit spreading, vectorized on uint64.
    """
    def spread(v):
        v = np.asarray(v, dtype=np.uint64)
        v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
        v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
        v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
        v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
        return v

    return (spread(x) | (spread(y) << np.uint64(1))).astype(np.int64)


def morton_id(lon, lat, res: int) -> np.ndarray:
    """(lon, lat) -> Z-order code at ``res`` (locality sort key)."""
    x, y = cell_xy(lon, lat, res)
    return morton(x, y)


def bbox_cover(bbox: Tuple[float, float, float, float], res: int
               ) -> np.ndarray:
    """All cell ids whose rectangle overlaps ``bbox`` (edge-touch counts,
    like the reference bbox_overlap, ref ppge/pyshp/__init__.py:237-242)."""
    res = _check_res(res)
    x0, y0 = cell_xy(np.array([bbox[0]]), np.array([bbox[1]]), res)
    x1, y1 = cell_xy(np.array([bbox[2]]), np.array([bbox[3]]), res)
    xs = np.arange(int(x0[0]), int(x1[0]) + 1, dtype=np.int64)
    ys = np.arange(int(y0[0]), int(y1[0]) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return encode(gx.ravel(), gy.ravel(), res)


def polygon_cover(rings: Sequence, res: int, edges: str = "planar"
                  ) -> List[Tuple[int, bool]]:
    """Cells covering a polygon (GeoJSON ring list), tagged ``full``.

    ``edges='planar'`` (default) treats edges as straight lines in
    lon/lat space (the reference semantics); ``edges='geodesic'`` treats
    them as great-circle arcs and delegates to the conservative geodesic
    cover (sub-hemisphere polygons; see geo/geodesic.py).

    Returns [(cell_id, is_full)] where ``is_full`` means the cell rectangle
    is certainly entirely inside the polygon — points landing in full cells
    skip the exact ray-cast refine, which at 100 TB scale removes the Python
    kernel from the hot path for polygon interiors (the overwhelming
    majority of matches for large polygons).

    Candidate set = bbox cells; pruned to cells that can intersect the
    polygon (corner-in-polygon, vertex-in-cell, or edge-bbox overlap).
    ``full`` = all 4 corners inside and no polygon edge's bbox overlaps the
    cell (conservative, never false-positive).
    """
    if edges == "geodesic":
        return _polygon_cover_geodesic(rings, res)
    if edges != "planar":
        raise ValueError("edges must be 'planar' or 'geodesic', got %r"
                         % edges)
    res = _check_res(res)
    n = float(1 << res)
    w, h = 360.0 / n, 180.0 / n

    # Dateline-crossing rings become their [-180, 180] lobes here, so the
    # bbox seeding below never sees a seam-spanning lon range (which would
    # cover the whole wrong side of the world) and the corner tests in
    # points_in_polygon agree (it applies the same idempotent expansion).
    rings = kernels.expand_antimeridian_rings(rings)

    # Candidate cells: union of every ring's bbox cover. MultiPolygon layers
    # are flattened to one ring list upstream (polygons.polygon_rings), so
    # seeding from rings[0] alone would silently drop parts whose exterior
    # lies outside the first ring's bbox. Hole rings sit inside their
    # exterior's bbox, so the union adds no spurious area for them; the
    # corner/edge/vertex pruning below removes any unneeded cells.
    covers = [
        bbox_cover(ring_bbox(np.asarray(r, dtype=np.float64)[:, :2]), res)
        for r in rings
    ]
    cells = np.unique(np.concatenate(covers)) if covers else np.empty(
        0, dtype=np.int64
    )
    if cells.size == 0:
        return []
    x, y, _ = decode(cells)
    lon0 = -180.0 + x.astype(np.float64) * w
    lat0 = -90.0 + y.astype(np.float64) * h
    lon1 = lon0 + w
    lat1 = lat0 + h

    # corner containment (4 corners per cell)
    corners_x = np.stack([lon0, lon1, lon0, lon1], axis=1).ravel()
    corners_y = np.stack([lat0, lat0, lat1, lat1], axis=1).ravel()
    corner_inside = points_in_polygon(corners_x, corners_y, rings).reshape(
        -1, 4
    )
    any_corner = corner_inside.any(axis=1)
    all_corners = corner_inside.all(axis=1)

    # does any polygon edge's bbox overlap the cell? (conservative contact)
    edge_touch = np.zeros(len(cells), dtype=bool)
    vertex_in_cell = np.zeros(len(cells), dtype=bool)
    for ring in rings:
        arr = np.asarray(ring, dtype=np.float64)[:, :2]
        ex0 = np.minimum(arr[:-1, 0], arr[1:, 0])
        ex1 = np.maximum(arr[:-1, 0], arr[1:, 0])
        ey0 = np.minimum(arr[:-1, 1], arr[1:, 1])
        ey1 = np.maximum(arr[:-1, 1], arr[1:, 1])
        # (cells x edges) bbox overlap, chunk-free: edges counts are small
        t = (
            (lon0[:, None] <= ex1[None, :])
            & (lon1[:, None] >= ex0[None, :])
            & (lat0[:, None] <= ey1[None, :])
            & (lat1[:, None] >= ey0[None, :])
        )
        edge_touch |= t.any(axis=1)
        vx = (
            (arr[None, :, 0] >= lon0[:, None])
            & (arr[None, :, 0] <= lon1[:, None])
            & (arr[None, :, 1] >= lat0[:, None])
            & (arr[None, :, 1] <= lat1[:, None])
        )
        vertex_in_cell |= vx.any(axis=1)

    keep = any_corner | edge_touch | vertex_in_cell
    full = all_corners & ~edge_touch
    return [
        (int(c), bool(f))
        for c, f in zip(cells[keep].tolist(), full[keep].tolist())
    ]


def _polygon_cover_geodesic(rings: Sequence, res: int
                            ) -> List[Tuple[int, bool]]:
    """Conservative cell cover for a polygon with GREAT-CIRCLE edges.

    Shape mirrors the planar cover, with three changes that keep it
    conservative against the true curved boundary:

    * each ring is densified along its great circles until the remaining
      chords deviate from the arcs by < pad (angular sagitta bound);
    * every chord/ring bbox is inflated by pad (pad/cos(lat) in
      longitude), so the true curve — within pad of the chords — can
      never escape an ``edge_touch`` test;
    * corner containment uses the exact gnomonic-projection geodesic
      kernel, so ``full`` cells are certainly inside the true polygon.

    Same contract as the planar cover: every point inside the geodesic
    polygon lands in a covered cell; every point of a ``full`` cell is
    inside. Antimeridian-crossing rings ARE handled (the sphere has no
    seam; only the lon/lat bboxes do): ring candidate intervals are
    computed in a ring-centered longitude frame and split at the seam,
    and wrapping chords contribute one bbox per side.
    """
    from .geodesic import densify_ring_geodesic, points_in_polygon_geodesic

    res = _check_res(res)
    n = float(1 << res)
    w, h = 360.0 / n, 180.0 / n

    # sagitta bound: small in absolute terms and << cell height, so the
    # inflation never bloats the cover by more than a thin band
    pad_rad = min(2e-5, np.radians(h) / 8.0)
    pad_deg = float(np.degrees(pad_rad))
    dense = [densify_ring_geodesic(r, pad_rad) for r in rings]

    def lon_pad(max_abs_lat: float) -> float:
        c = np.cos(np.radians(min(89.99, max_abs_lat + pad_deg)))
        return pad_deg / max(float(c), 0.01)

    def lon_intervals(lons: np.ndarray, lp: float):
        """Conservative longitude interval(s) covering ``lons`` on the
        circle (spread < 360 — guaranteed sub-hemisphere): measure the
        spread in a frame centered on the first vertex, then map back
        and split at the +-180 seam."""
        ref = float(lons[0])
        psi = (lons - ref + 180.0) % 360.0 - 180.0
        lo, hi = float(psi.min()) - lp, float(psi.max()) + lp
        if hi - lo >= 360.0:
            return [(-180.0, 180.0)]
        a, b = lo + ref, hi + ref
        if a < -180.0 and b > -180.0:
            return [(a + 360.0, 180.0), (-180.0, b)]
        if b > 180.0 and a < 180.0:
            return [(a, 180.0), (-180.0, b - 360.0)]
        # fully out of range after shift: renormalize
        if a >= 180.0:
            a, b = a - 360.0, b - 360.0
        elif b <= -180.0:
            a, b = a + 360.0, b + 360.0
        return [(a, b)]

    covers = []
    for d in dense:
        y0 = max(-90.0, float(d[:, 1].min()) - pad_deg)
        y1 = min(90.0, float(d[:, 1].max()) + pad_deg)
        lp = lon_pad(max(abs(y0), abs(y1)))
        for x0, x1 in lon_intervals(d[:, 0], lp):
            covers.append(bbox_cover((x0, y0, x1, y1), res))
    # pole-encircling rings (a polar cap): the pole is interior but no
    # ring bbox reaches it — if a pole tests inside, extend candidates
    # from the boundary's nearest latitude all the way to that pole,
    # full longitude range (the corner/edge pruning below discards any
    # excess)
    all_lat_min = min(float(d[:, 1].min()) for d in dense)
    all_lat_max = max(float(d[:, 1].max()) for d in dense)
    pole_in = points_in_polygon_geodesic(
        np.array([0.0, 0.0]), np.array([90.0, -90.0]), rings
    )
    if pole_in[0]:
        covers.append(bbox_cover(
            (-180.0, max(-90.0, all_lat_min - pad_deg), 180.0, 90.0), res
        ))
    if pole_in[1]:
        covers.append(bbox_cover(
            (-180.0, -90.0, 180.0, min(90.0, all_lat_max + pad_deg)), res
        ))
    cells = np.unique(np.concatenate(covers)) if covers else np.empty(
        0, dtype=np.int64
    )
    if cells.size == 0:
        return []
    x, y, _ = decode(cells)
    lon0 = -180.0 + x.astype(np.float64) * w
    lat0 = -90.0 + y.astype(np.float64) * h
    lon1 = lon0 + w
    lat1 = lat0 + h

    corners_x = np.stack([lon0, lon1, lon0, lon1], axis=1).ravel()
    corners_y = np.stack([lat0, lat0, lat1, lat1], axis=1).ravel()
    corner_inside = points_in_polygon_geodesic(
        corners_x, corners_y, rings
    ).reshape(-1, 4)
    any_corner = corner_inside.any(axis=1)
    all_corners = corner_inside.all(axis=1)

    edge_touch = np.zeros(len(cells), dtype=bool)
    vertex_in_cell = np.zeros(len(cells), dtype=bool)
    for arr in dense:
        lo_a, lo_b = arr[:-1, 0], arr[1:, 0]
        la_a, la_b = arr[:-1, 1], arr[1:, 1]
        wrap = np.abs(lo_a - lo_b) > 180.0
        # non-wrapping chords: one bbox; wrapping chords (endpoints on
        # opposite sides of the +-180 seam — densified chords are short,
        # so the chord stays near the seam): one bbox per side
        x0s = [np.minimum(lo_a, lo_b)[~wrap]]
        x1s = [np.maximum(lo_a, lo_b)[~wrap]]
        y0s = [np.minimum(la_a, la_b)[~wrap]]
        y1s = [np.maximum(la_a, la_b)[~wrap]]
        if wrap.any():
            whi = np.maximum(lo_a, lo_b)[wrap]
            wlo = np.minimum(lo_a, lo_b)[wrap]
            wy0 = np.minimum(la_a, la_b)[wrap]
            wy1 = np.maximum(la_a, la_b)[wrap]
            x0s += [whi, np.full(len(whi), -180.0)]
            x1s += [np.full(len(whi), 180.0), wlo]
            y0s += [wy0, wy0]
            y1s += [wy1, wy1]
        ex0 = np.concatenate(x0s)
        ex1 = np.concatenate(x1s)
        ey0 = np.concatenate(y0s)
        ey1 = np.concatenate(y1s)
        lp = pad_deg / np.maximum(
            np.cos(np.radians(np.minimum(
                89.99, np.maximum(np.abs(ey0), np.abs(ey1)) + pad_deg
            ))),
            0.01,
        )
        px0, px1 = ex0 - lp, ex1 + lp
        py0, py1 = ey0 - pad_deg, ey1 + pad_deg
        # a padded box poking across +-180 contributes a wrapped remainder
        # on the other side — without it a cell just across the seam from
        # a boundary chord within lp of the antimeridian would miss its
        # edge_touch (and could be wrongly marked full)
        east = px1 > 180.0
        west = px0 < -180.0
        if east.any() or west.any():
            px0 = np.concatenate(
                [px0, np.full(int(east.sum()), -180.0), px0[west] + 360.0]
            )
            px1 = np.concatenate(
                [px1, px1[east] - 360.0, np.full(int(west.sum()), 180.0)]
            )
            py0 = np.concatenate([py0, py0[east], py0[west]])
            py1 = np.concatenate([py1, py1[east], py1[west]])
        t = (
            (lon0[:, None] <= px1[None, :])
            & (lon1[:, None] >= px0[None, :])
            & (lat0[:, None] <= py1[None, :])
            & (lat1[:, None] >= py0[None, :])
        )
        edge_touch |= t.any(axis=1)
        vx = (
            (arr[None, :, 0] >= lon0[:, None])
            & (arr[None, :, 0] <= lon1[:, None])
            & (arr[None, :, 1] >= lat0[:, None])
            & (arr[None, :, 1] <= lat1[:, None])
        )
        vertex_in_cell |= vx.any(axis=1)

    keep = any_corner | edge_touch | vertex_in_cell
    full = all_corners & ~edge_touch
    return [
        (int(c), bool(f))
        for c, f in zip(cells[keep].tolist(), full[keep].tolist())
    ]


# ---------------------------------------------------------------------------
# per-cell edge lists: the local geometry of a boundary cell
# ---------------------------------------------------------------------------

#: most edges one point is ray-cast against in the JVM boundary refine.
#: The refine is an interpreted ``aggregate`` (~200-250 ns per edge
#: against ~36 ns per edge in the numpy kernel, which however walks EVERY
#: edge of the polygon), so a boundary cell whose list is longer splits
#: into ``4**k`` child lists at ``res + k`` — the smallest k that brings
#: every child under this bound.
EDGE_LIST_BOUND = 64

#: deepest split of one boundary cell: the list count grows 4x per
#: level. A polygon too dense for it keeps longer lists (a 200k-vertex
#: star at res 7: up to 471 edges at k = 4).
EDGE_SPLIT_MAX = 4

#: margin (degrees) around a cell rectangle in the drop tests: the grid
#: floor rounds, so a point the formula puts in a cell may sit a few ulps
#: (~1e-13 degrees) outside the exact rectangle. 1e-9 is far above that
#: and below 0.2% of the smallest cell (res 28).
_EDGE_PAD = 1e-9


def _ring_edges(rings: Sequence):
    """(x0, y0, x1, y1, brk) of every edge ``kernels.points_in_polygon``
    ray-casts: all rings after ``expand_antimeridian_rings``, in ring
    order. ``brk`` marks an edge whose start is not the previous edge's
    end (the first edge of each ring).

    The kernel skips a ring for points outside its bbox. For a closed
    ring that cannot change parity: a point outside the bbox either
    straddles no edge, lies right of every straddling edge, or lies left
    of all of them, and a closed ring straddles any row an even number
    of times. An OPEN ring gets one vertical edge at the next double
    left of its bbox joining its last y back to its first: it cancels
    the open chain's parity for points left of the bbox and touches no
    other point, so parity over these edges equals the kernel's answer
    for every point."""
    parts = []
    for arr in kernels.expand_antimeridian_rings(rings):
        if len(arr) < 2:
            continue
        e = np.column_stack([arr[:-1], arr[1:]])
        if (arr[0] != arr[-1]).any():
            xc = np.nextafter(arr[:, 0].min(), -np.inf)
            e = np.vstack([e, [xc, arr[-1, 1], xc, arr[0, 1]]])
        brk = np.zeros(len(e), dtype=bool)
        brk[0] = True
        parts.append((e, brk))
    if not parts:
        return (np.empty(0),) * 4 + (np.empty(0, dtype=bool),)
    e = np.concatenate([p[0] for p in parts])
    brk = np.concatenate([p[1] for p in parts])
    return e[:, 0], e[:, 1], e[:, 2], e[:, 3], brk


def _padded_boxes(cx, cy, level: int):
    """Padded rectangles of cells (cx, cy) at ``level``. Border cells
    extend to +-inf on their clamped side: the grid formula clamps every
    out-of-world (and infinite) ordinate into them."""
    n = 1 << level
    w, h = 360.0 / n, 180.0 / n
    x0 = -180.0 + cx * w
    y0 = -90.0 + cy * h
    return (
        np.where(cx == 0, -np.inf, x0 - _EDGE_PAD),
        np.where(cy == 0, -np.inf, y0 - _EDGE_PAD),
        np.where(cx == n - 1, np.inf, x0 + w + _EDGE_PAD),
        np.where(cy == n - 1, np.inf, y0 + h + _EDGE_PAD),
    )


def _refine_lists(ent, parent, cx, cy, level: int):
    """Child edge lists from parent lists.

    ``ent`` = (box, x0, y0, x1, y1, brk), entries grouped by parent box
    in chain order; child ``c`` is cell (cx[c], cy[c]) at ``level``,
    inside parent box ``parent[c]``. Every returned list gives the same
    crossing parity as its parent's for every point in the child's
    padded rectangle:

    * an edge left of the rectangle (max x below it) never crosses;
    * an edge right of it (min x above it) crosses iff it straddles the
      point's y, and an edge outside the row band never straddles —
      both contribute ``(y0 >= ty) != (y1 >= ty)``, which telescopes, so
      a run of such edges joined end to end becomes one vertical edge
      (X, y_start) -> (X, y_end) with X right of the rectangle, or
      nothing when it cannot straddle the band.
    """
    box, x0, y0, x1, y1, brk = ent
    counts = np.bincount(box, minlength=int(parent.max(initial=-1)) + 1)
    lens = counts[parent]
    child = np.repeat(np.arange(len(parent)), lens)
    within = np.arange(len(child)) - np.repeat(np.cumsum(lens) - lens, lens)
    src = (np.cumsum(counts) - counts)[parent][child] + within
    ex0, ey0, ex1, ey1 = x0[src], y0[src], x1[src], y1[src]
    # entry i continues entry i-1's chain
    cont = ~brk[src] & (within > 0)
    px0, py0, px1, py1 = (a[child] for a in _padded_boxes(cx, cy, level))

    mx = np.maximum(ex0, ex1)
    tele = ((np.maximum(ey0, ey1) < py0) | (np.minimum(ey0, ey1) > py1)
            | (np.minimum(ex0, ex1) > px1))
    keep = ~tele & (mx >= px0)

    nxt = np.r_[cont[1:], False] & np.r_[tele[1:], False]
    start = np.flatnonzero(tele & ~(np.r_[False, tele[:-1]] & cont))
    end = np.flatnonzero(tele & ~nxt)
    rx = (np.maximum.reduceat(mx[tele], (np.cumsum(tele) - 1)[start])
          if len(start) else np.empty(0))
    ys, ye = ey0[start], ey1[end]
    lo, hi = py0[start], py1[start]
    live = (ys != ye) & ~((ys < lo) & (ye < lo)) & ~((ys > hi) & (ye > hi))

    # a live run becomes one entry at its first position
    run, last = start[live], np.arange(len(keep))
    keep[run] = True
    ex0[run] = ex1[run] = rx[live]
    ey1[run] = ye[live]
    last[run] = end[live]
    s = np.flatnonzero(keep)
    e = last[s]
    out_cont = cont[s] & (np.r_[-2, e[:-1]] == s - 1)
    return child[s], ex0[s], ey0[s], ex1[s], ey1[s], ~out_cont


def _ragged_take(counts, order):
    """Indices that gather the ragged segments (sizes ``counts``) in
    ``order``."""
    lens = counts[order]
    shift = (np.cumsum(counts) - counts)[order] - (np.cumsum(lens) - lens)
    return np.arange(int(lens.sum())) + np.repeat(shift, lens)


def cell_edge_lists(rings_list: Sequence, poly: np.ndarray,
                    cells: np.ndarray, res: int):
    """Edge lists of boundary cells for the JVM ray-cast refine.

    Cell ``i`` (id ``cells[i]`` at ``res``) belongs to polygon
    ``rings_list[poly[i]]``. Returns ``(k, sizes, x0, y0, x1, y1)``:
    cell ``i`` holds ``4**k[i]`` child lists (children at ``res + k[i]``
    in order ``(lx << k) + ly`` of their local grid coordinates), whose
    lengths follow in ``sizes``; the edges of all lists follow in order.
    For every point the grid formula puts in a child, crossing parity
    over its list equals ``kernels.points_in_polygon``.

    Built top-down over the cell hierarchy from the whole world: each
    level refines its parents' lists (``_refine_lists``), so no list is
    ever tested against edges its parent already dropped.
    """
    poly = np.asarray(poly, dtype=np.int64)
    cells = np.asarray(cells, dtype=np.int64)
    n_cells = len(cells)
    if n_cells == 0:
        e, i = np.empty(0), np.empty(0, dtype=np.int64)
        return i, i, e, e, e, e
    # level 0: one box per polygon holding all its edges
    upoly, pbox = np.unique(poly, return_inverse=True)
    parts = [_ring_edges(rings_list[p]) for p in upoly]
    box = np.repeat(np.arange(len(upoly)), [len(p[0]) for p in parts])
    ent = (box,) + tuple(np.concatenate(col) for col in zip(*parts))
    # quadtree order: the cells under any box form one contiguous run
    gx, gy, _ = decode(cells)
    z = morton(gx, gy)
    order = np.lexsort((z, pbox))
    pbox, gx, gy, z = pbox[order], gx[order], gy[order], z[order]
    for level in range(1, res + 1):
        up = res - level
        zl = z >> (2 * up)
        new = np.r_[True, (pbox[1:] != pbox[:-1]) | (zl[1:] != zl[:-1])]
        first = np.flatnonzero(new)
        ent = _refine_lists(ent, pbox[first], gx[first] >> up,
                            gy[first] >> up, level)
        pbox = np.cumsum(new) - 1
    # one box per cell now: box b is cell order[b]
    sizes = np.bincount(ent[0], minlength=n_cells)

    rows, ks, child_sizes, edges = [], [], [], []

    def emit(j, done_cells, done_boxes, box_sizes, per):
        sel = np.isin(ent[0] // per, done_boxes)
        rows.append(done_cells)
        ks.append(np.full(len(done_cells), j, dtype=np.int64))
        child_sizes.append(box_sizes)
        edges.append(np.stack([a[sel] for a in ent[1:5]]))

    heavy = sizes > EDGE_LIST_BOUND
    if res == MAX_RES:
        heavy[:] = False
    emit(0, order[~heavy], np.flatnonzero(~heavy), sizes[~heavy], 1)
    # heavy cells (as level-res boxes), and the box of each one's first
    # child list in the current ``ent``
    hcells = hbox = np.flatnonzero(heavy)
    j = 0
    while len(hcells):
        j += 1
        m = 1 << j
        i = np.arange(m * m)
        lx, ly = i >> j, i & (m - 1)
        parent_local = ((lx >> 1) << (j - 1)) + (ly >> 1)
        parent = (hbox[:, None] + parent_local[None, :]).ravel()
        cx = ((gx[hcells] << j)[:, None] + lx[None, :]).ravel()
        cy = ((gy[hcells] << j)[:, None] + ly[None, :]).ravel()
        ent = _refine_lists(ent, parent, cx, cy, res + j)
        csz = np.bincount(ent[0], minlength=len(parent)).reshape(-1, m * m)
        done = ((csz.max(axis=1) <= EDGE_LIST_BOUND) | (j == EDGE_SPLIT_MAX)
                | (res + j == MAX_RES))
        pos = np.flatnonzero(done)
        emit(j, order[hcells[done]], pos, csz[done].ravel(), m * m)
        hcells = hcells[~done]
        hbox = np.flatnonzero(~done) * (m * m)

    row_cell = np.concatenate(rows)
    k = np.concatenate(ks)
    child_sizes = np.concatenate(child_sizes)
    edges = np.concatenate(edges, axis=1)
    order = np.argsort(row_cell, kind="stable")
    child = _ragged_take(np.int64(1) << (2 * k), order)
    take = _ragged_take(child_sizes, child)
    return (k[order], child_sizes[child],
            edges[0, take], edges[1, take], edges[2, take], edges[3, take])
