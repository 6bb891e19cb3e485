"""Within-distance polygon join: (probe, layer polygon) pairs whose
PLANAR region distance is <= a threshold, with the exact distance.

The distance member of the spatial-predicate family (intersects:
``spatial_join.polygon_overlap_join``; point containment:
``spatial_join.spatial_join``; point radius: ``knn.radius_join``) —
"find parcels within 100 m of a river polygon". Same plan recipe as
the overlap join, with the candidate window WIDENED by the threshold:

1. one Arrow pass extracts probe bboxes (WKT parsed once, malformed
   rows drop);
2. candidate cells come from the bbox EXPANDED by ``max_dist`` on
   every side — if region distance <= D, the closest layer point lies
   within Chebyshev D of the probe bbox, so the expanded bbox hits
   one of the layer's cover cells (completeness);
3. broadcast equi-join against the layer cover, pair dedupe with the
   full-cell shortcut (a probe inside a provably-interior cell
   INTERSECTS: distance 0 with no geometry);
4. unresolved pairs run exact geometry: intersection/containment test
   first (region distance 0), else the endpoint-complete boundary
   kernel ``geo.dist.rings_min_dist2`` (exact — for disjoint
   segments the min is attained at an endpoint of one of them).

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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.polygons import load_rings, polygon_cells
from .fixpoint import checkpoint, fixpoint, frontier_empty
from .spatial_join import DEFAULT_RES, _probe_parts, attach_probe_bboxes

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
    """-> (id_col, polygon_id, name, dist2, dist) for pairs with
    region distance <= ``max_dist``. Accepts Polygon/MultiPolygon and
    LineString/MultiLineString probes (lines measure chain-to-boundary
    distance; a line inside a polygon is distance 0)."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..functions.geom_udfs import grid_xy_cols
    from ..geo import kernels
    from ..geo import wkt as wktmod
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
    cover = polygon_cells(probes.sparkSession, rings_by_id, res)

    src = probes.select(F.col(id_col), F.col(wkt_col).alias("_wkt"))
    with_bbox = attach_probe_bboxes(src, geodesic=False)

    n = 1 << res
    # candidate window: bbox expanded by the threshold (clamped to the
    # grid domain by grid_xy_cols' own clamp)
    gx0, gy0 = grid_xy_cols(
        F.col("_xmin") - F.lit(d), F.col("_ymin") - F.lit(d), res
    )
    gx1, gy1 = grid_xy_cols(
        F.col("_xmax") + F.lit(d), F.col("_ymax") + F.lit(d), res
    )
    cand = (
        with_bbox
        .withColumn("_gx", F.explode(F.sequence(gx0, gx1)))
        .withColumn("_gy", F.explode(F.sequence(gy0, gy1)))
        .withColumn(
            "cell_id",
            (F.lit(res * (2 ** 58)) + F.col("_gx") * F.lit(2 ** 29)
             + F.col("_gy")).cast("long"),
        )
    )
    cx0 = F.col("_gx").cast("double") / F.lit(float(n)) * 360.0 - 180.0
    cx1 = (F.col("_gx") + 1).cast("double") / F.lit(float(n)) * 360.0 \
        - 180.0
    cy0 = F.col("_gy").cast("double") / F.lit(float(n)) * 180.0 - 90.0
    cy1 = (F.col("_gy") + 1).cast("double") / F.lit(float(n)) * 180.0 \
        - 90.0
    shortcut = (
        F.col("is_full")
        & (F.col("_xmin") >= cx0) & (F.col("_xmax") <= cx1)
        & (F.col("_ymin") >= cy0) & (F.col("_ymax") <= cy1)
    )

    pairs = (
        cand.join(F.broadcast(cover), "cell_id")
        .withColumn("_sure", shortcut)
        .groupBy(id_col, "polygon_id", "name")
        .agg(
            F.first("_wkt").alias("_wkt"),
            F.max("_sure").alias("_sure"),
        )
    )

    out_schema = StructType([
        pairs.schema[id_col],
        pairs.schema["polygon_id"],
        pairs.schema["name"],
        StructField("dist2", DoubleType(), True),
    ])
    layer_rings = {
        int(pid): info["rings"] for pid, info in rings_by_id.items()
    }
    d2max = d * d

    def refine_kernel(batches):
        for pdf in batches:
            out = []
            for s, pid, sure in zip(pdf["_wkt"], pdf["polygon_id"],
                                    pdf["_sure"]):
                if sure:
                    out.append(0.0)
                    continue
                try:
                    kind, parts = _probe_parts(wktmod.loads(s))
                    lr = layer_rings[int(pid)]
                    hit = (
                        kernels.polygons_intersect(parts, lr)
                        if kind == "area"
                        else kernels.lines_intersect_polygon(parts, lr)
                    )
                    if hit:
                        out.append(0.0)
                        continue
                    d2 = rings_min_dist2(
                        parts, lr, closed_a=(kind == "area")
                    )
                    out.append(d2 if d2 <= d2max else None)
                except Exception:
                    out.append(None)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "polygon_id": pdf["polygon_id"],
                "name": pdf["name"],
                "dist2": out,
            })

    return (
        pairs.mapInPandas(refine_kernel, out_schema)
        .where(F.col("dist2").isNotNull())
        .withColumn("dist", F.sqrt(F.col("dist2")))
    )


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
