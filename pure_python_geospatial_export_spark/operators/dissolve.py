"""Polygon dissolve — merge a fact-scale polygon table into
overlap-connected groups.

The classic GIS "dissolve" (flatten a parcel/footprint layer into
contiguous blobs), decomposed into Spark-native steps so nothing
quadratic sits on a scale path:

1. :func:`polygon_self_overlap_pairs` — the exact "intersects"
   self-join. One Arrow pass extracts each polygon's bbox
   (``spatial_join.attach_probe_bboxes`` — WKT parsed once, malformed
   rows drop); candidate cells are the bbox's grid-range cross product
   (pure column ``sequence`` explodes); a single equi self-join on
   ``cell_id`` proposes pairs. Pairs are deduplicated WITHOUT a
   ``distinct`` shuffle: a pair is emitted only from its CANONICAL cell
   — the cell containing the south-west corner of the two bboxes'
   intersection, which both sides provably cover — so every colliding
   pair surfaces exactly once. Only bbox-overlapping candidates run the
   exact kernel, a whole Arrow batch of pairs per :func:`verify_pairs`
   call (the verify the streaming twin shares).
2. :func:`dissolve` — connected components over the pair graph
   (``dedup.duplicate_clusters``: label propagation + pointer jumping,
   O(log diameter) rounds), with non-colliding singletons unioned back
   as their own groups.
3. :func:`dissolve_groups` — per-group rollup: member count and the
   merged vertex bbox.

Scale notes: the self-join shuffles each polygon once per covered cell
(pick ``res`` so typical geometries span O(1) cells); hot cells are
bounded by ``max_bucket`` exactly like the MinHash band join —
explicitly capped, never silently quadratic. The verify step ships each
candidate pair's two WKTs; geometries are small by contract (parcels,
footprints), so the pair relation stays skinny.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geom_udfs import grid_xy_cols
from .spatial_join import DEFAULT_RES, attach_probe_bboxes

__all__ = [
    "polygon_self_overlap_pairs",
    "verify_pairs",
    "dissolve",
    "dissolve_groups",
    "dissolve_geometry",
]


def polygon_self_overlap_pairs(
    df: DataFrame,
    id_col: str = "id",
    wkt_col: str = "wkt",
    res: int = DEFAULT_RES,
    edges: str = "planar",
    max_bucket: int | None = None,
) -> DataFrame:
    """Exact polygon-vs-polygon "intersects" self-join ->
    ``(id_a, id_b)`` with ``id_a < id_b`` (boundary contact counts).

    ``max_bucket`` caps the per-cell candidate fan-out (rows kept per
    cell, ordered by id for determinism) — the boilerplate-flood guard;
    ``None`` disables the cap. Both explode sides shuffle into a hash
    equi self-join on the cell: two exchanges, the shape AQE can
    skew-split on a hot cell."""
    geodesic = edges == "geodesic"
    src = df.select(F.col(id_col).alias("_id"),
                    F.col(wkt_col).alias("_wkt"))
    return _pairs_from_bboxes(
        attach_probe_bboxes(src, geodesic), res, geodesic, max_bucket
    )


def _pairs_from_bboxes(
    with_bbox: DataFrame,
    res: int,
    geodesic: bool,
    max_bucket: int | None,
) -> DataFrame:
    """The pair join over a prepared (_id, _wkt, _xmin.._ymax) frame."""
    from pyspark.sql.types import StructField, StructType

    gx0, gy0 = grid_xy_cols(F.col("_xmin"), F.col("_ymin"), res)
    gx1, gy1 = grid_xy_cols(F.col("_xmax"), F.col("_ymax"), res)
    cand = (
        with_bbox
        .withColumn("_gx", F.explode(F.sequence(gx0, gx1)))
        .withColumn("_gy", F.explode(F.sequence(gy0, gy1)))
    )
    if max_bucket is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("_gx", "_gy").orderBy("_id")
        cand = (
            cand.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= max_bucket)
            .drop("_rn")
        )

    a = cand.select(
        F.col("_id").alias("id_a"), F.col("_wkt").alias("_wkt_a"),
        F.col("_xmin").alias("_ax0"), F.col("_ymin").alias("_ay0"),
        F.col("_xmax").alias("_ax1"), F.col("_ymax").alias("_ay1"),
        "_gx", "_gy",
    )
    b = cand.select(
        F.col("_id").alias("id_b"), F.col("_wkt").alias("_wkt_b"),
        F.col("_xmin").alias("_bx0"), F.col("_ymin").alias("_by0"),
        F.col("_xmax").alias("_bx1"), F.col("_ymax").alias("_by1"),
        "_gx", "_gy",
    )
    # canonical-cell dedupe: both bboxes cover the cell holding the SW
    # corner of their intersection, so emitting the pair only there
    # yields each colliding pair exactly once — no distinct shuffle.
    ix0 = F.greatest(F.col("_ax0"), F.col("_bx0"))
    iy0 = F.greatest(F.col("_ay0"), F.col("_by0"))
    cgx, cgy = grid_xy_cols(ix0, iy0, res)
    joined = (
        a.join(b, ["_gx", "_gy"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            (F.col("_ax0") <= F.col("_bx1"))
            & (F.col("_bx0") <= F.col("_ax1"))
            & (F.col("_ay0") <= F.col("_by1"))
            & (F.col("_by0") <= F.col("_ay1"))
        )
        .where((F.col("_gx") == cgx) & (F.col("_gy") == cgy))
        .select("id_a", "id_b", "_wkt_a", "_wkt_b")
    )

    out_schema = StructType([
        joined.schema["id_a"],
        joined.schema["id_b"],
    ])

    def verify_kernel(batches):
        for pdf in batches:
            hit = verify_pairs(pdf["_wkt_a"], pdf["_wkt_b"], geodesic)
            yield pdf.loc[hit, ["id_a", "id_b"]]

    return joined.mapInPandas(verify_kernel, out_schema)


def verify_pairs(wkts_a, wkts_b, geodesic: bool) -> np.ndarray:
    """Exact "intersects" of candidate pairs ``(wkts_a[k], wkts_b[k])``
    -> bool per pair; callers put the smaller id on the ``a`` side, so
    a pair's answer does not depend on which row came first. The one
    polygon self-overlap verify: dissolve's pair join calls it per
    Arrow batch, the streaming matcher once per cell call. A non-areal
    or unparseable row never pairs (a dissolve singleton). Each
    distinct WKT is parsed once; planar pairs run in one
    ``kernels.polygons_intersect_pairs`` call, geodesic pairs take the
    great-circle kernel one pair at a time."""
    from ..geo import kernels
    from ..geo import wkt as wktmod
    from .spatial_join import _probe_parts

    code: dict = {}
    ia = np.array([code.setdefault(w, len(code)) for w in wkts_a],
                  dtype=np.int64)
    ib = np.array([code.setdefault(w, len(code)) for w in wkts_b],
                  dtype=np.int64)
    rings = []
    for w in code:
        try:
            kind, got = _probe_parts(wktmod.loads(w))
        except Exception:
            kind, got = None, None
        rings.append(got if kind == "area" else None)
    if not geodesic:
        geoms = kernels.GeomSet(rings)
        return kernels.polygons_intersect_pairs(geoms, ia, geoms, ib)[0]
    from ..geo.geodesic import polygons_intersect_geodesic

    hit = np.zeros(len(ia), dtype=bool)
    for k, (a, b) in enumerate(zip(ia.tolist(), ib.tolist())):
        if rings[a] is not None and rings[b] is not None:
            try:
                hit[k] = bool(polygons_intersect_geodesic(rings[a],
                                                          rings[b]))
            except Exception:
                pass
    return hit


def _prepared_bboxes(df: DataFrame, id_col: str, wkt_col: str,
                     geodesic: bool) -> DataFrame:
    """ONE parse pass, materialized (localCheckpoint — the
    near_duplicates_minhash precedent): the frame feeds both sides of
    the pair self-join, the valid-id set, and the group rollup, and the
    CC loop re-references its lineage every iteration."""
    src = df.select(F.col(id_col).alias("_id"),
                    F.col(wkt_col).alias("_wkt"))
    return attach_probe_bboxes(
        src, geodesic, include_raw=True
    ).localCheckpoint(eager=True)


def _members_from_bboxes(
    with_bbox: DataFrame,
    id_col: str,
    res: int,
    geodesic: bool,
    max_bucket: int | None,
    max_iters: int,
) -> DataFrame:
    from .dedup import duplicate_clusters

    # materialize pairs: duplicate_clusters walks its input once per
    # CC round — an unmaterialized self-join would re-run every round
    pairs = _pairs_from_bboxes(
        with_bbox, res, geodesic, max_bucket
    ).localCheckpoint(eager=True)
    clustered = duplicate_clusters(pairs, max_iters=max_iters).select(
        F.col("id").alias(id_col), F.col("cluster_id").alias("group_id")
    )
    singles = (
        with_bbox.select(F.col("_id").alias(id_col))
        .join(clustered.select(id_col), id_col, "left_anti")
        .select(F.col(id_col), F.col(id_col).alias("group_id"))
    )
    return clustered.unionByName(singles)


def dissolve(
    df: DataFrame,
    id_col: str = "id",
    wkt_col: str = "wkt",
    res: int = DEFAULT_RES,
    edges: str = "planar",
    max_bucket: int | None = None,
    max_iters: int = 20,
) -> DataFrame:
    """Overlap-connected component labels -> ``(id, group_id)`` with
    ``group_id`` = the minimum member id; polygons that touch nothing
    form singleton groups of themselves. Malformed geometries drop
    (the P8 null-guard semantics — they join no group)."""
    geodesic = edges == "geodesic"
    with_bbox = _prepared_bboxes(df, id_col, wkt_col, geodesic)
    return _members_from_bboxes(
        with_bbox, id_col, res, geodesic, max_bucket, max_iters,
    )


def dissolve_groups(
    df: DataFrame,
    id_col: str = "id",
    wkt_col: str = "wkt",
    res: int = DEFAULT_RES,
    edges: str = "planar",
    max_bucket: int | None = None,
    max_iters: int = 20,
) -> DataFrame:
    """Dissolved-group rollup -> ``(group_id, n_members, xmin, ymin,
    xmax, ymax)`` — the merged VERTEX bbox of every member (planar
    extent; geodesic edge bulges pad only the internal cover, never
    the reported extent). The WKT parse runs ONCE: the same
    materialized frame feeds the pair join, the singleton set, and
    this rollup."""
    geodesic = edges == "geodesic"
    with_bbox = _prepared_bboxes(df, id_col, wkt_col, geodesic)
    members = _members_from_bboxes(
        with_bbox, id_col, res, geodesic, max_bucket, max_iters,
    )
    boxes = with_bbox.select(
        F.col("_id").alias(id_col),
        "_rxmin", "_rymin", "_rxmax", "_rymax",
    )
    return (
        members.join(boxes, id_col)
        .groupBy("group_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("_rxmin").alias("xmin"),
            F.min("_rymin").alias("ymin"),
            F.max("_rxmax").alias("xmax"),
            F.max("_rymax").alias("ymax"),
        )
    )


def dissolve_geometry(
    df: DataFrame,
    id_col: str = "id",
    wkt_col: str = "wkt",
    res: int = DEFAULT_RES,
    edges: str = "planar",
    max_bucket: int | None = None,
    max_iters: int = 20,
    max_group: int = 50_000,
    max_sagitta_rad: float = 2e-5,
) -> DataFrame:
    """Dissolve with MERGED BOUNDARY output -> ``(group_id, n_members,
    n_polys, n_rings, area, wkt)`` — the planar union of every group's
    member polygons (``geo.overlay``: boundary-fragment overlay,
    exteriors CCW / holes CW, canonically rotated and sorted, so the
    WKT is deterministic under any partitioning). ``area`` is the net
    shoelace area of the emitted rings (exact on integer-lattice
    fixtures — the oracle contract).

    The grouping is exactly :func:`dissolve` (same pair join, same CC
    labels); the union itself runs per group inside one Arrow batch
    (``ordered_group_map`` — groups are parcel/footprint-sized by
    contract). Groups larger than ``max_group`` members raise rather
    than silently attempting an unbounded in-memory overlay. Non-areal
    members cannot union; they only ever occur as singleton groups
    (pair verification is polygon-only), and those groups are omitted
    from the output.

    ``edges='geodesic'`` follows the engine's densify-then-planar
    recipe: member rings densify along great circles to
    ``max_sagitta_rad`` ONCE, then the overlay runs planar on the
    densified rings — mutually exact with the engine's geodesic cover
    and PIP consumers of the same densified geometry.

    The reference has no boolean-ops surface; nearest analogue is ring
    assembly (ppge/pyshp/__init__.py:351-473), whose exterior/hole
    semantics the output follows.
    """
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..geo import overlay
    from ..geo import wkt as wktmod
    from .grouped import ordered_group_map

    geodesic = edges == "geodesic"
    with_bbox = _prepared_bboxes(df, id_col, wkt_col, geodesic)
    members = _members_from_bboxes(
        with_bbox, id_col, res, geodesic, max_bucket, max_iters,
    )
    rows = members.join(
        with_bbox.select(F.col("_id").alias(id_col), "_wkt"), id_col
    ).select("group_id", F.col(id_col).alias("_mid"), "_wkt")

    out_schema = StructType([
        StructField("group_id", rows.schema["group_id"].dataType, True),
        StructField("n_members", LongType(), True),
        StructField("n_polys", IntegerType(), True),
        StructField("n_rings", IntegerType(), True),
        StructField("area", DoubleType(), True),
        StructField("wkt", StringType(), True),
    ])
    empty = pd.DataFrame({
        "group_id": [], "n_members": [], "n_polys": [], "n_rings": [],
        "area": [], "wkt": [],
    })

    def union_group(key, pdf):
        if len(pdf) > max_group:
            raise ValueError(
                "dissolve group %r has %d members > max_group=%d — "
                "raise max_group explicitly if the overlay is really "
                "intended to run this large in one task"
                % (key[0], len(pdf), max_group)
            )
        members_rings = []
        for s in pdf["_wkt"]:
            try:
                geom = wktmod.loads(s)
            except Exception:
                continue
            t = geom.get("type")
            if t == "Polygon":
                polys = [geom["coordinates"]]
            elif t == "MultiPolygon":
                polys = list(geom["coordinates"])
            else:
                continue
            if geodesic:
                from ..geo.geodesic import densify_ring_geodesic

                polys = [
                    [densify_ring_geodesic(r, max_sagitta_rad)
                     for r in rings]
                    for rings in polys
                ]
            members_rings.extend(polys)
        if not members_rings:
            return empty
        out = overlay.union_polygons(members_rings)
        if not out:
            return empty
        return pd.DataFrame({
            "group_id": [key[0]],
            "n_members": [len(pdf)],
            "n_polys": [len(out)],
            "n_rings": [sum(len(rings) for rings in out)],
            "area": [overlay.union_area(out)],
            "wkt": [wktmod.dumps(overlay_geometry_dict(out))],
        })

    return ordered_group_map(
        rows, ["group_id"], union_group, out_schema,
        sort_cols=["_mid"],
    )


def overlay_geometry_dict(polys) -> dict:
    """union_polygons output -> Polygon/MultiPolygon GeoJSON dict."""
    coords = [[r.tolist() for r in rings] for rings in polys]
    if len(coords) == 1:
        return {"type": "Polygon", "coordinates": coords[0]}
    return {"type": "MultiPolygon", "coordinates": coords}
