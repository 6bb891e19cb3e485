"""Within-distance polygon join: (probe, layer polygon) pairs whose
PLANAR region distance is <= a threshold, with the exact distance.

The distance member of the spatial-predicate family (intersects:
``spatial_join.polygon_overlap_join``; point containment:
``spatial_join.spatial_join``; point radius: ``knn.radius_join``) —
"find parcels within 100 m of a river polygon". Same plan as the
overlap join (scan -> ONE ``MapInArrow``, no exchange), with the
candidate window WIDENED by the threshold:

1. candidate cells come from the probe bbox EXPANDED by ``max_dist``
   on every side — if region distance <= D, the closest layer point
   lies within Chebyshev D of the probe bbox, so the expanded bbox
   hits one of the layer's cover cells (completeness);
2. the full-cell shortcut still tests the UNexpanded bbox (a probe
   inside a provably-interior cell INTERSECTS: distance 0 with no
   geometry);
3. unresolved pairs run exact geometry: the batch's intersection/
   containment test first, all pairs in one
   ``kernels.polygons_intersect_pairs`` call (region distance 0), then
   for the rest the endpoint-complete boundary kernel
   ``geo.dist.rings_min_dist2`` (exact — for disjoint segments the min
   is attained at an endpoint of one of them).

Distances are squared in the filter (no sqrt in the predicate);
``dist`` = sqrt(dist2) rides along for consumers. ``max_dist`` is in
coordinate units (degrees on lon/lat data — for metric thresholds
convert with the local degree length, or use a projected layer).
Planar edges only (the geodesic analogue needs arc-to-arc distance —
not implemented; raise on edges='geodesic' keeps the boundary
honest).
"""

from __future__ import annotations

from functools import reduce
from typing import Dict, Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.polygons import load_rings
from .fixpoint import checkpoint, fixpoint, frontier_empty
from .spatial_join import (
    DEFAULT_RES,
    PAIR_FIELDS,
    PlanarLayer,
    ProbeBatch,
    _probe_parts,
    attach_probe_bboxes,
    layer_candidate_map,
)

__all__ = ["polygon_distance_join", "nearest_polygon_join"]


def polygon_distance_join(
    probes: DataFrame,
    polygons: DataFrame,
    max_dist: float,
    res: int = DEFAULT_RES,
    id_col: str = "probe_id",
    wkt_col: str = "wkt",
    rings_by_id: Optional[Dict[int, dict]] = None,
    edges: str = "planar",
) -> DataFrame:
    """-> (id_col, polygon_id, name, dist2, dist), one row per (probe
    row, layer polygon) with region distance <= ``max_dist``. Accepts
    Polygon/MultiPolygon and LineString/MultiLineString probes (lines
    measure chain-to-boundary distance; a line inside a polygon is
    distance 0). ``id_col`` is carried, not grouped on."""
    from pyspark.sql.types import DoubleType, StructField

    from ..geo.dist import rings_min_dist2

    if edges != "planar":
        raise NotImplementedError(
            "polygon_distance_join is planar-only (geodesic "
            "arc-to-arc distance is not implemented)"
        )
    if not (float(max_dist) >= 0.0):
        raise ValueError("max_dist must be >= 0")
    d = float(max_dist)
    if rings_by_id is None:
        rings_by_id = load_rings(polygons)
    layer_rings = {
        int(pid): info["rings"] for pid, info in rings_by_id.items()
    }
    layer = PlanarLayer(rings_by_id)
    d2max = d * d

    def refine(b: ProbeBatch):
        d2 = np.where(b.sure, 0.0, np.nan)
        j = np.flatnonzero(~b.sure)
        hit, bad = b.intersects(j, layer)
        d2[j[hit]] = 0.0
        for k in j[~hit & ~bad]:
            try:
                kind, parts = _probe_parts(b.probe(b.row[k]))
                d2[k] = rings_min_dist2(
                    parts, layer_rings[int(b.polygon_id[k])],
                    closed_a=(kind == "area"))
            except Exception:
                pass
        ok = d2 <= d2max  # NaN (no answer) compares False
        return b.pair_columns(ok, dist2=d2[ok])

    return layer_candidate_map(
        probes, rings_by_id, res, edges, id_col, wkt_col,
        PAIR_FIELDS + [StructField("dist2", DoubleType(), True)],
        refine, pad=d,
    ).withColumn("dist", F.sqrt(F.col("dist2")))


def nearest_polygon_join(
    probes: DataFrame,
    polygons: DataFrame,
    start_dist: float = 1.0,
    max_rounds: int = 12,
    res: int = DEFAULT_RES,
    id_col: str = "probe_id",
    wkt_col: str = "wkt",
    rings_by_id: Optional[Dict[int, dict]] = None,
) -> DataFrame:
    """Nearest layer polygon per probe -> (id_col, polygon_id, name,
    dist2, dist), ties broken by smallest polygon_id.

    Ring doubling over :func:`polygon_distance_join` (the
    knn_join_complete recipe): round i searches within D_i =
    start_dist * 2^i. The distance join's candidates are COMPLETE for
    distance <= D_i, so any probe with a match in round i is CERTIFIED
    — a nearer polygon would also have been a candidate — and only
    matchless probes advance to the doubled radius. Probes certify in
    the first round whose radius reaches their true nearest distance,
    so cost concentrates where density is low; a probe farther than
    start_dist * 2^max_rounds from every polygon raises
    ``NonConvergenceError`` (bound the domain deliberately rather than
    silently dropping rows).

    Probes with malformed or non-areal/non-line WKT drop up front
    (the family's P8 semantics) — they can never match in ANY round,
    so leaving them in ``pending`` would burn all ``max_rounds`` and
    then raise the non-convergence error for the whole job with a
    message pointing at the wrong knob."""
    from pyspark.sql import Window

    if rings_by_id is None:
        rings_by_id = load_rings(polygons)
    pending = probes.select(F.col(id_col), F.col(wkt_col))
    parseable = attach_probe_bboxes(
        pending.select(F.col(id_col), F.col(wkt_col).alias("_wkt")),
        geodesic=False,
    ).select(id_col)
    # materialize: pending's lineage re-evaluates once per doubling
    # round (the distance join AND the isEmpty check), and without
    # this the parse pass above would re-run every time on top of
    # each round's own attach_probe_bboxes parse
    pending = checkpoint(pending.join(parseable, id_col, "left_semi"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("dist2").asc(), F.col("polygon_id").asc()
    )

    def round_(state):
        parts, pending, d = state
        found = polygon_distance_join(
            pending, polygons, max_dist=d, res=res, id_col=id_col,
            wkt_col=wkt_col, rings_by_id=rings_by_id,
        )
        best = checkpoint(
            found.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        pending = pending.join(
            best.select(id_col), id_col, "left_anti"
        )
        return parts + [best], pending, d * 2.0

    parts = fixpoint(
        round_, ([], pending, float(start_dist)), max_rounds,
        frontier_empty, "nearest_polygon_join",
        hint="raise max_rounds/start_dist",
    )[0]
    return reduce(DataFrame.unionByName, parts)
