"""Point-in-polygon spatial join (SURVEY J3) — the engine's flagship operator.

Two-phase plan, Spark-first:

1. **Coarse cell equi-join**: points get a cell id at resolution ``res``
   via pure column arithmetic; polygons are exploded to their covering
   cells (driver-side, tiny) and broadcast. The join is a broadcast hash
   join on ``cell_id`` — zero shuffle of the 10^12-row points side.
2. **Exact refine**: one filter,
   ``CASE WHEN is_full THEN true ELSE <ray-cast> END``, inside the
   scan+join stage. Rows in a provably-interior (``is_full``) cell pass
   by containment; a boundary-cell row ray-casts against the few edges
   its cover row carries (*Raster Intervals*: full cells answer by
   containment, partial cells carry only their local geometry), as a
   JVM expression that is bit-exact with ``kernels.points_in_polygon``.
   One scan, no union, no Python. Geodesic edges keep the Arrow-batched
   great-circle kernel on the boundary rows.

Skew: with a broadcast join there is no shuffle to skew; hot cells only
matter for the OPTIONAL shuffle strategy used when the polygon layer is
too big to broadcast. ``strategy='shuffle_salted'`` implements the
north-rule salting: a histogram of point cells finds hot cells, hot
points get a deterministic salt, and the polygon-cell side is exploded
by salt factor so no single reducer drains a whole hot cell. AQE skew
join (enabled in session defaults) is the runtime backstop.
"""

from __future__ import annotations

import math
from typing import Dict, Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.geom_udfs import cell_id_col
from ..sources.polygons import load_rings, polygon_cells

DEFAULT_RES = 7


def points_with_cell(
    points: DataFrame, res: int = DEFAULT_RES,
    lon: str = "lon", lat: str = "lat",
) -> DataFrame:
    return points.withColumn(
        "cell_id", cell_id_col(F.col(lon), F.col(lat), res)
    )


def spatial_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int = DEFAULT_RES,
    strategy: str = "broadcast",
    rings_by_id: Optional[Dict[int, dict]] = None,
    hot_cell_threshold: int = 2_000_000,
    cover: Optional[DataFrame] = None,
    edges: str = "planar",
) -> DataFrame:
    """Join points (must carry ``lon``/``lat``) against a polygon layer by
    containment. Returns the points columns + (polygon_id, name).

    ``strategy``:
      * ``broadcast`` — polygon cell cover broadcast; no points shuffle.
      * ``shuffle_salted`` — for huge polygon layers: shuffle join on
        (cell_id, salt) with hot-cell salting.

    ``edges``: ``planar`` (straight lon/lat edges — reference semantics)
    or ``geodesic`` (great-circle edges) — selects BOTH the cover and
    the refine kernel consistently.

    ``cover``: a prebuilt ``polygon_cells(spark, rings, res, edges)`` of
    the same layer, to build it once for many joins (a planar cover
    carries the edge lists the refine reads).
    """
    spark = points.sparkSession
    geodesic = edges == "geodesic"
    if rings_by_id is None and (cover is None or geodesic):
        rings_by_id = load_rings(polygons)
    if cover is None:
        cover = polygon_cells(spark, rings_by_id, res, edges=edges)
    pts = points_with_cell(points, res)

    if strategy == "broadcast":
        joined = pts.join(F.broadcast(cover), "cell_id")
    elif strategy == "shuffle_salted":
        # histogram of point counts per cell -> per-cell salt factor
        hist = (
            pts.groupBy("cell_id")
            .count()
            .where(F.col("count") > hot_cell_threshold)
            .collect()
        )
        salt_of = {
            int(r["cell_id"]): int(math.ceil(r["count"] / hot_cell_threshold))
            for r in hist
        }
        salt_map = F.create_map(
            *[F.lit(v) for kv in salt_of.items() for v in kv]
        ) if salt_of else None
        if salt_map is not None:
            pts = pts.withColumn(
                "_salt_n", F.coalesce(salt_map[F.col("cell_id")], F.lit(1))
            )
        else:
            pts = pts.withColumn("_salt_n", F.lit(1))
        pts = pts.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("lon"), F.col("lat")),
                            F.col("_salt_n"))
        )
        cover = cover.withColumn(
            "_salt_n",
            F.coalesce(
                salt_map[F.col("cell_id")] if salt_map is not None
                else F.lit(1),
                F.lit(1),
            ),
        ).withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.col("_salt_n") - 1))
        )
        joined = pts.join(cover, ["cell_id", "_salt"]).drop(
            "_salt", "_salt_n"
        )
    else:
        raise ValueError("unknown strategy %r" % strategy)

    if geodesic:
        # a pandas UDF under OR still sees every row, so the interior
        # rows are split off before the Arrow kernel and unioned back
        refine = _geodesic_refine(rings_by_id)
        joined = joined.where(F.col("is_full")).unionByName(
            joined.where(~F.col("is_full")).where(
                refine(F.col("polygon_id"), F.col("lon"), F.col("lat")))
        )
    elif edges == "planar":
        joined = joined.where(
            F.when(F.col("is_full"), True)
            .otherwise(_ray_cast(res, F.col("lon"), F.col("lat")))
        )
    else:
        raise ValueError("edges must be 'planar' or 'geodesic', got %r"
                         % edges)
    return joined.drop("is_full", "_edges_k", "_edges")


def _ray_cast(res: int, lon: Column, lat: Column) -> Column:
    """Crossing parity of the point over its boundary cell's edge list
    (``polygon_cells``' ``_edges``), a JVM expression.

    The list is the child at ``res + _edges_k`` given by the same grid
    floor as ``grid_xy_cols``: the scale is a power of two, so the child
    always lies in the point's cell. Each edge repeats
    ``kernels.points_in_ring`` bit for bit: the ``>=`` flags, straddle,
    the certain hit, then the x-intercept in the kernel's operation
    order, divided only under straddle (where y0 != y1; ANSI raises on a
    double division by zero). A NaN ordinate crosses nothing, as in
    numpy."""
    s = F.pow(F.lit(2.0), F.col("_edges_k"))
    n = s * float(1 << res)
    top = (n - 1).cast("long")

    def child(v, off, span):
        g = F.least(F.greatest(F.floor((v + F.lit(off)) / F.lit(span) * n),
                               F.lit(0)), top)
        return g % s.cast("long")

    idx = child(lon, 180.0, 360.0) * s.cast("long") + child(lat, 90.0, 180.0)

    def step(acc, e):
        x0, y0, x1, y1 = e["x0"], e["y0"], e["x1"], e["y1"]
        xf0 = x0 >= lon
        hit = (
            F.when((y0 >= lat) == (y1 >= lat), False)
            .when(xf0 == (x1 >= lon), xf0)
            .otherwise(x1 - (y1 - lat) * (x0 - x1) / (y0 - y1) >= lon)
        )
        return acc != hit

    return F.aggregate(F.col("_edges")[idx.cast("int")],
                       F.lit(False), step)


def _geodesic_refine(rings_by_id: Dict[int, dict]):
    """Exact great-circle containment refine as a pandas UDF over
    (polygon_id, lon, lat), batching rows per polygon within each Arrow
    batch. ``rings_by_id`` rides along in the closure — serialized once
    per executor by Spark, the broadcast pattern for dimension data."""
    from pyspark.sql.types import BooleanType

    from ..geo.geodesic import points_in_polygon_geodesic

    plain = {
        int(pid): [np.asarray(r, dtype=np.float64)[:, :2]
                   for r in info["rings"]]
        for pid, info in rings_by_id.items()
    }

    @F.pandas_udf(BooleanType())
    def pip_refine(polygon_id: pd.Series, lon: pd.Series,
                   lat: pd.Series) -> pd.Series:
        out = np.zeros(len(polygon_id), dtype=bool)
        pids = polygon_id.to_numpy()
        lons = lon.to_numpy(dtype=np.float64)
        lats = lat.to_numpy(dtype=np.float64)
        for pid in np.unique(pids):
            rings = plain.get(int(pid))
            if rings is None:
                continue
            mask = pids == pid
            out[mask] = points_in_polygon_geodesic(lons[mask], lats[mask],
                                                   rings)
        return pd.Series(out)

    return pip_refine


def spatial_join_big_layer(
    points: DataFrame,
    polygons: DataFrame,
    res: int = DEFAULT_RES,
    edges: str = "planar",
) -> DataFrame:
    """Point-in-polygon join for polygon layers TOO BIG to broadcast or
    collect (millions of polygons): fully distributed, no driver-side
    layer materialization anywhere.

    Plan:
      1. cover = polygons.mapInPandas(polygon_cover per row)  — the cell
         explode runs executor-side over Arrow batches of WKT rows;
      2. points ⋈ cover on cell_id — a plain shuffle equi join (AQE
         picks broadcast automatically if the cover is in fact small);
      3. full-cell rows pass; boundary rows join BACK to the polygon WKT
         (equi join on polygon_id) and run the ray-cast kernel with the
         ring coordinates parsed per Arrow batch — grouped by polygon
         within each batch so the kernel still sees large point blocks.

    Same results as ``spatial_join`` (tested); trades the broadcast for
    two shuffles, which is the correct shape when the layer itself is
    fact-sized.
    """
    from ..geo import kernels, wkt as wktmod
    from ..geo.cells import polygon_cover

    if edges == "geodesic":
        from ..geo.geodesic import points_in_polygon_geodesic as _pip
    elif edges == "planar":
        _pip = kernels.points_in_polygon
    else:
        raise ValueError("edges must be 'planar' or 'geodesic', got %r"
                         % edges)

    def cover_kernel(batches):
        for pdf in batches:
            pids, names, cids, fulls = [], [], [], []
            for pid, name, wkt_str in zip(
                pdf["polygon_id"], pdf["name"], pdf["wkt"]
            ):
                geom = wktmod.loads(wkt_str)
                rings = (
                    geom["coordinates"] if geom["type"] == "Polygon"
                    else [r for p in geom["coordinates"] for r in p]
                )
                for cid, full in polygon_cover(rings, res, edges=edges):
                    pids.append(pid)
                    names.append(name)
                    cids.append(cid)
                    fulls.append(full)
            yield pd.DataFrame({
                "polygon_id": pd.Series(pids, dtype="int64"),
                "name": pd.Series(names, dtype="object"),
                "cell_id": pd.Series(cids, dtype="int64"),
                "is_full": pd.Series(fulls, dtype="bool"),
            })

    cover = polygons.select("polygon_id", "name", "wkt").mapInPandas(
        cover_kernel,
        "polygon_id long, name string, cell_id long, is_full boolean",
    )

    pts = points_with_cell(points, res)
    joined = pts.join(cover, "cell_id")
    full_rows = joined.where(F.col("is_full")).drop("is_full")

    # No explicit repartition after this join: its output is already
    # hash-partitioned on polygon_id (which keeps refine batches
    # polygon-dominated for the per-wkt group kernel), and adding one
    # would UNDO an AQE skew-join split — a hot continental polygon
    # would collapse back into a single task. The kernel only needs
    # per-batch polygon grouping, not global co-location.
    boundary = (
        joined.where(~F.col("is_full"))
        .drop("is_full", "name")
        .join(polygons.select("polygon_id", "wkt"), "polygon_id")
    )

    def refine_kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.drop(columns=["wkt"]).iloc[0:0]
                continue
            keep = pd.Series(False, index=pdf.index)
            for wkt_str, grp in pdf.groupby("wkt", sort=False):
                geom = wktmod.loads(wkt_str)
                rings = (
                    geom["coordinates"] if geom["type"] == "Polygon"
                    else [r for p in geom["coordinates"] for r in p]
                )
                inside = _pip(
                    grp["lon"].to_numpy(), grp["lat"].to_numpy(), rings
                )
                keep.loc[grp.index] = inside
            yield pdf[keep].drop(columns=["wkt"])

    import pyspark.sql.types as T

    out_fields = [f for f in boundary.schema.fields if f.name != "wkt"]
    refined = boundary.mapInPandas(
        refine_kernel, T.StructType(out_fields)
    )
    refined = refined.join(
        polygons.select("polygon_id", "name"), "polygon_id"
    )
    return full_rows.unionByName(refined, allowMissingColumns=False)


def _probe_parts(geom: dict):
    """(kind, parts): areal probes flatten to rings, linear probes to
    polylines — the overlap join accepts both."""
    from ..geo.wkt import vertex_parts

    kind = "area" if geom["type"] in ("Polygon", "MultiPolygon") else "line"
    return kind, vertex_parts(geom)


def _geodesic_bounds(s):
    """Per-row (padded bbox, vertex bbox) of one probe WKT under
    geodesic edges, 8 floats; all-NaN for a malformed row."""
    from ..geo import wkt as wktmod
    from ..geo.geodesic import unit_vectors

    try:
        _kind, rings = _probe_parts(wktmod.loads(s))
        arr = np.concatenate([
            np.asarray(r, dtype=np.float64)[:, :2] for r in rings
        ])
        # a great-circle edge bows off its chord by at most theta^2/8
        # rad — pad the vertex bbox so arc bulges can't escape the
        # candidate cells. The pad is an ANGULAR distance: one degree of
        # it spans 1/cos(lat) degrees of longitude, so the x-pad scales
        # by the worst cos in reach
        pad = 0.0
        for r in rings:
            ra = np.asarray(r, dtype=np.float64)
            v = unit_vectors(ra[:, 0], ra[:, 1])
            d = np.clip(np.sum(v[:-1] * v[1:], axis=1), -1, 1)
            theta = float(np.arccos(d).max(initial=0.0))
            pad = max(pad, np.degrees(theta * theta / 8.0))
        pad += 1e-9
        lat_reach = min(89.9, float(np.abs(arr[:, 1]).max()) + pad)
        pad_lon = pad / float(np.cos(np.radians(lat_reach)))
        xmin, ymin = float(arr[:, 0].min()), float(arr[:, 1].min())
        xmax, ymax = float(arr[:, 0].max()), float(arr[:, 1].max())
    except Exception:
        return (math.nan,) * 8
    return (xmin - pad_lon, ymin - pad, xmax + pad_lon, ymax + pad,
            xmin, ymin, xmax, ymax)


def attach_probe_bboxes(src: DataFrame, geodesic: bool,
                        include_raw: bool = False) -> DataFrame:
    """One Arrow pass attaching ``_xmin/_ymin/_xmax/_ymax`` to a frame
    with a ``_wkt`` geometry column (parsed once; malformed rows drop —
    the P8 null-guard semantics). Under ``geodesic`` the bbox is padded
    by the worst great-circle sagitta so arc bulges can't escape the
    candidate cells derived from it; ``include_raw`` additionally emits
    the UNpadded vertex bbox as ``_rxmin/_rymin/_rxmax/_rymax`` (the
    reporting extent — same kernel pass, no extra parse). Shared by the
    probe-vs-layer overlap join and the self-overlap dissolve.

    Planar bboxes come from ``wkt.bounds_batch``: rows in its strict
    2-D POLYGON / MULTIPOLYGON / LINESTRING / MULTILINESTRING grammar
    are parsed a whole Arrow batch at a time with no per-row Python;
    every other row (Z/M ordinates, SRID, EMPTY, malformed, null) falls
    back to the per-row ``loads`` path, with bit-identical bounds. Under
    ``geodesic`` every row takes the per-row path (the pad needs each
    ring's edge angles). The pass stays a ``mapInPandas`` so the plan
    keeps one named node for it."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    cols = ["_xmin", "_ymin", "_xmax", "_ymax"]
    if include_raw:
        cols += ["_rxmin", "_rymin", "_rxmax", "_rymax"]

    from ..geo import wkt as wktmod

    bbox_schema = StructType(
        list(src.schema.fields) + [
            StructField(c, DoubleType(), True) for c in cols
        ]
    )

    def bbox_kernel(batches):
        for pdf in batches:
            if geodesic:
                b = np.array(
                    [_geodesic_bounds(s) for s in pdf["_wkt"]],
                    dtype=np.float64,
                ).reshape(-1, 8)
            else:
                raw = wktmod.bounds_batch(pdf["_wkt"])
                b = np.hstack([raw, raw])
            yield pdf.assign(**{k: b[:, i] for i, k in enumerate(cols)})

    return src.mapInPandas(bbox_kernel, bbox_schema).where(
        F.col("_xmin").isNotNull()
    )


def polygon_overlap_join(
    probes: DataFrame,
    polygons: DataFrame,
    res: int = DEFAULT_RES,
    id_col: str = "probe_id",
    wkt_col: str = "wkt",
    rings_by_id: Optional[Dict[int, dict]] = None,
    edges: str = "planar",
) -> DataFrame:
    """Polygon-vs-polygon "intersects" join: a fact-scale table of SMALL
    polygon geometries (building footprints, parcels — WKT column)
    against the dimension layer -> (id, polygon_id, name). Boundary
    contact counts as intersecting.

    Plan shape (the PIP flagship's recipe generalized to areal probes):

    1. one Arrow pass extracts each probe's bbox (WKT parsed once;
       malformed rows drop — the P8 null-guard semantics);
    2. candidate cells are the bbox's grid-range cross product — pure
       column ``sequence`` explodes, no geometry;
    3. broadcast equi-join against the layer's cover cells (zero
       shuffle of the probe side);
    4. pair dedupe with the FULL-CELL shortcut: a probe whose bbox sits
       inside a provably-interior cover cell intersects by containment
       — no geometry runs for it (the areal analogue of the interior
       fast path);
    5. only unresolved pairs run the exact kernel
       (``kernels.polygons_intersect``: vertex-in-polygon both ways +
       edge crossings/touches), Arrow-batched, layer rings from the
       driver dict in the closure.

    Pick ``res`` so typical probes span O(1) cells — the explode in (2)
    is (bbox cells per row) and the refine cost is per candidate pair.
    """
    from pyspark.sql.types import BooleanType, StructField, StructType

    from ..functions.geom_udfs import grid_xy_cols
    from ..geo import kernels
    from ..geo import wkt as wktmod

    if rings_by_id is None:
        rings_by_id = load_rings(polygons)
    cover = polygon_cells(
        probes.sparkSession, rings_by_id, res, edges=edges
    )

    src = probes.select(F.col(id_col), F.col(wkt_col).alias("_wkt"))
    geodesic = edges == "geodesic"
    with_bbox = attach_probe_bboxes(src, geodesic)

    n = 1 << res
    gx0, gy0 = grid_xy_cols(F.col("_xmin"), F.col("_ymin"), res)
    gx1, gy1 = grid_xy_cols(F.col("_xmax"), F.col("_ymax"), res)
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
    # cell bounds as column math (decode is linear in gx/gy)
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

    # ONE downstream pass: splitting pairs into sure/maybe branches
    # would re-run the whole candidate pipeline per branch (unioned
    # children recompute their common subtree) — instead the refine
    # kernel consumes every pair and short-circuits on the _sure flag,
    # so shortcut rows pay only the Arrow roundtrip, never geometry.
    out_schema = StructType([
        pairs.schema[id_col],
        pairs.schema["polygon_id"],
        pairs.schema["name"],
        StructField("_ok", BooleanType(), False),
    ])
    layer_rings = {
        int(pid): info["rings"] for pid, info in rings_by_id.items()
    }

    def refine_kernel(batches):
        for pdf in batches:
            oks = []
            for s, pid, sure in zip(pdf["_wkt"], pdf["polygon_id"],
                                    pdf["_sure"]):
                if sure:
                    oks.append(True)
                    continue
                try:
                    kind, parts = _probe_parts(wktmod.loads(s))
                    lr = layer_rings[int(pid)]
                    if geodesic:
                        from ..geo.geodesic import (
                            lines_intersect_polygon_geodesic,
                            polygons_intersect_geodesic,
                        )
                        hit = (
                            polygons_intersect_geodesic(parts, lr)
                            if kind == "area"
                            else lines_intersect_polygon_geodesic(
                                parts, lr)
                        )
                    else:
                        hit = (
                            kernels.polygons_intersect(parts, lr)
                            if kind == "area"
                            else kernels.lines_intersect_polygon(
                                parts, lr)
                        )
                    oks.append(bool(hit))
                except Exception:
                    oks.append(False)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "polygon_id": pdf["polygon_id"],
                "name": pdf["name"],
                "_ok": oks,
            })

    return (
        pairs.mapInPandas(refine_kernel, out_schema)
        .where(F.col("_ok"))
        .select(id_col, "polygon_id", "name")
    )
