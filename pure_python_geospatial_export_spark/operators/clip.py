"""Polygon clip / erase against a dimension layer — overlay with
GEOMETRY output at fact scale.

``polygon_overlap_join`` (operators/spatial_join.py) answers WHETHER a
probe intersects a layer polygon; this operator answers WHAT the
overlap IS: per-pair intersection geometry + area (the GIS
identity/clip tabulation), or the probe's remainder after subtracting
every intersecting layer polygon (erase). The boolean-op kernel is
:func:`..geo.overlay.overlay_polygons` — the round-7 generalization of
the dissolve union, so integer-lattice inputs keep EXACT areas (the
oracle contract) and output WKT is deterministic.

Plan shape (the overlap join's, geometry-bearing refine): scan -> ONE
``MapInArrow`` (``spatial_join.layer_candidate_map``), no exchange.
Per Arrow batch the probe bboxes, the candidate pairs against the
layer's sorted cover and the FULL-CELL shortcut run in numpy; the
shortcut upgrades to geometry: a probe bbox inside a provably-interior
cover cell is CONTAINED, so its intersection is the probe itself (no
overlay runs) and an erase drops it entirely. Only boundary-ambiguous
pairs run the overlay kernel, each probe parsed once per batch, layer
rings from the driver dict in the closure. ``id_col`` is carried, not
grouped on: every probe row is answered on its own geometry.

The reference has no boolean-ops surface (nearest analogue: ring
assembly, ref ppge/pyshp/__init__.py:351-473); this is an engine
extension in the dissolve_geometry family.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField

from ..sources.polygons import load_rings
from .spatial_join import (
    DEFAULT_RES,
    PAIR_FIELDS,
    ProbeBatch,
    layer_candidate_map,
)

__all__ = ["clip_join", "erase_join"]


def _areal_polys(geom):
    """Parsed geometry dict -> list of even-odd ring lists (one per
    Polygon member), or None for non-areal or unparsed input."""
    t = geom.get("type") if geom else None
    if t == "Polygon":
        return [geom["coordinates"]]
    if t == "MultiPolygon":
        return list(geom["coordinates"])
    return None


def _densify(polys, max_sagitta_rad):
    from ..geo.geodesic import densify_ring_geodesic

    return [
        [densify_ring_geodesic(r, max_sagitta_rad) for r in rings]
        for rings in polys
    ]


def _overlay_map(probes, polygons, res, id_col, wkt_col, edges,
                 max_sagitta_rad, fields, refine):
    """Shared set-up of clip and erase: ``refine(b, probe_polys,
    layer_polys)`` runs in ``layer_candidate_map`` with accessors for a
    row's areal probe (None when not areal; memoized per batch) and a
    layer polygon's ring lists, both densified under geodesic edges."""
    geodesic = edges == "geodesic"
    rings_by_id = load_rings(polygons)
    layer_rings = {
        int(pid): info["rings"] for pid, info in rings_by_id.items()
    }
    lr_cache: dict = {}

    def layer_polys(pid):
        got = lr_cache.get(pid)
        if got is None:
            got = [layer_rings[pid]]
            if geodesic:
                got = _densify(got, max_sagitta_rad)
            lr_cache[pid] = got
        return got

    def kernel(b: ProbeBatch):
        memo: dict = {}

        def probe_polys(i):
            if i not in memo:
                got = _areal_polys(b.probe(i))
                if got is not None and geodesic:
                    got = _densify(got, max_sagitta_rad)
                memo[i] = got
            return memo[i]

        return refine(b, probe_polys, layer_polys)

    return layer_candidate_map(probes, rings_by_id, res, edges, id_col,
                               wkt_col, fields, kernel)


def clip_join(
    probes: DataFrame,
    polygons: DataFrame,
    res: int = DEFAULT_RES,
    id_col: str = "probe_id",
    wkt_col: str = "wkt",
    edges: str = "planar",
    max_sagitta_rad: float = 2e-5,
    _with_src_area: bool = False,
) -> DataFrame:
    """Identity/clip tabulation -> one row per (probe row, layer
    polygon) with NON-EMPTY intersection: ``(id, polygon_id, name,
    area, wkt)``.

    ``area`` is the net shoelace area of the intersection rings —
    exact on integer-lattice fixtures (the bit-level oracle contract).
    Fully-contained probes take the full-cell shortcut: intersection
    geometry IS the probe (re-canonicalized through the overlay so
    output WKT conventions match the clipped rows). Non-areal probes
    drop; geodesic edges follow the densify-then-planar recipe
    dissolve_geometry uses."""
    from ..geo import wkt as wktmod
    from ..geo.overlay import overlay_polygons, union_area, \
        union_polygons
    from .dissolve import overlay_geometry_dict

    fields = PAIR_FIELDS + [
        StructField("area", DoubleType(), True),
        StructField("wkt", StringType(), True),
    ]
    if _with_src_area:
        # areal_interpolate rides along: the probe is already parsed
        # here, so its canonical union area costs one more union call
        # instead of a whole third Arrow parse pass over the probes
        fields.append(StructField("_src_area", DoubleType(), True))

    def refine(b, probe_polys, layer_polys):
        sel, areas, wkts, srcs = [], [], [], []
        src_cache: dict = {}
        for j, (i, pid, sure) in enumerate(zip(b.row, b.polygon_id,
                                               b.sure)):
            probe = probe_polys(i)
            if probe is None:
                continue
            if sure:
                # contained: intersection == probe; run the
                # single-region union for canonical output form
                out = overlay_polygons(probe, [], "union")
            else:
                out = overlay_polygons(
                    probe, layer_polys(int(pid)), "intersection"
                )
            if not out:
                continue
            sel.append(j)
            areas.append(union_area(out))
            wkts.append(wktmod.dumps(overlay_geometry_dict(out)))
            if _with_src_area:
                a = src_cache.get(i)
                if a is None:
                    u = union_polygons(probe)
                    a = union_area(u) if u else 0.0
                    src_cache[i] = a
                srcs.append(a)
        cols = {"area": areas, "wkt": wkts}
        if _with_src_area:
            cols["_src_area"] = srcs
        return b.pair_columns(np.asarray(sel, dtype=np.int64), **cols)

    return _overlay_map(probes, polygons, res, id_col, wkt_col, edges,
                        max_sagitta_rad, fields, refine)


def erase_join(
    probes: DataFrame,
    polygons: DataFrame,
    res: int = DEFAULT_RES,
    id_col: str = "probe_id",
    wkt_col: str = "wkt",
    edges: str = "planar",
    max_sagitta_rad: float = 2e-5,
) -> DataFrame:
    """Erase -> per-probe-row remainder after subtracting EVERY
    intersecting layer polygon: ``(id, area, wkt)``.

    Probes untouched by the layer pass through whole (same canonical
    ring conventions); probes fully inside a layer polygon (full-cell
    shortcut, or an overlay that consumes them) vanish, and so do
    malformed and non-areal rows. A probe's candidates all come from
    its own row, so each subtraction runs once against all of them in
    the scan's own task: no grouping, no shuffle."""
    from ..geo import wkt as wktmod
    from ..geo.overlay import overlay_polygons, union_area
    from .dissolve import overlay_geometry_dict

    def refine(b, probe_polys, layer_polys):
        rows = np.arange(len(b.ids))
        lo = np.searchsorted(b.row, rows, "left")
        hi = np.searchsorted(b.row, rows, "right")
        sel, areas, wkts = [], [], []
        for i in np.flatnonzero(b.live):
            if b.sure[lo[i]:hi[i]].any():
                continue  # contained in some layer polygon: erased
            probe = probe_polys(i)
            if probe is None:
                continue
            others = [r for p in b.polygon_id[lo[i]:hi[i]]
                      for r in layer_polys(int(p))]
            # untouched probes pass through, canonicalized through the
            # same overlay for a uniform contract
            out = (overlay_polygons(probe, others, "difference") if others
                   else overlay_polygons(probe, [], "union"))
            if not out:
                continue
            sel.append(i)
            areas.append(union_area(out))
            wkts.append(wktmod.dumps(overlay_geometry_dict(out)))
        return {id_col: b.ids.take(np.asarray(sel, dtype=np.int64)),
                "area": areas, "wkt": wkts}

    return _overlay_map(
        probes, polygons, res, id_col, wkt_col, edges, max_sagitta_rad,
        [StructField("area", DoubleType(), True),
         StructField("wkt", StringType(), True)],
        refine,
    )


def areal_interpolate(
    probes: DataFrame,
    polygons: DataFrame,
    value_col: str,
    res: int = DEFAULT_RES,
    id_col: str = "probe_id",
    wkt_col: str = "wkt",
    edges: str = "planar",
) -> DataFrame:
    """Area-weighted areal interpolation -> ``(polygon_id, name,
    est)``: re-aggregate a value attached to source polygons onto an
    incompatible target zone system, each source contributing
    ``value * area(src ∩ zone) / area(src)`` (the uniform-density
    assumption — the standard first-order method).

    Built on :func:`clip_join` with ``_with_src_area``: the probe's
    canonical union area rides out of the clip kernel itself (the
    probe is already parsed there), so the weighting is one column
    join + a partial-agg groupBy of (polygon_id) — no extra Arrow
    parse pass over the probes. Sources with zero/degenerate area
    contribute nothing. On integer-lattice fixtures every weight is
    an exact ratio of integer-valued doubles (the oracle contract)."""
    inter = clip_join(
        probes, polygons, res=res, id_col=id_col, wkt_col=wkt_col,
        edges=edges, _with_src_area=True,
    )
    vals = probes.select(
        F.col(id_col), F.col(value_col).alias("_val")
    )
    return (
        # the > 0 filter also guards ANSI DIVIDE_BY_ZERO on
        # degenerate sources
        inter.where(F.col("_src_area") > 0.0)
        .join(vals, id_col)
        .groupBy("polygon_id", "name")
        .agg(
            F.sum(
                F.col("_val") * F.col("area") / F.col("_src_area")
            ).alias("est")
        )
    )
