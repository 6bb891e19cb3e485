"""Raster<->vector tile assignment + per-tile rollups (SURVEY J5, A1).

Tile assignment is PURE COLUMN MATH (floor-divide into the hierarchical
grid) — at 10^12 rows it runs at scan speed inside whole-stage codegen,
and ``groupBy(tile_id)`` benefits from map-side partial aggregation.
The per-tile bbox aggregate generalizes the reference's running-bbox
accumulation (ref ppge/pyshp/__init__.py:2052-2080) into a distributed
min/max agg.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geom_udfs import cell_id_col, grid_xy_cols


def assign_tiles(
    df: DataFrame, res: int, lon: str = "lon", lat: str = "lat"
) -> DataFrame:
    """Attach tile_id / tile_x / tile_y at ``res``."""
    x, y = grid_xy_cols(F.col(lon), F.col(lat), res)
    return (
        df.withColumn("tile_id", cell_id_col(F.col(lon), F.col(lat), res))
        .withColumn("tile_x", x)
        .withColumn("tile_y", y)
    )


def tile_stats(
    df: DataFrame, res: int, lon: str = "lon", lat: str = "lat"
) -> DataFrame:
    """Per-tile rollup: row count + observed point bbox (A1 analogue)."""
    return (
        assign_tiles(df, res, lon, lat)
        .groupBy("tile_id", "tile_x", "tile_y")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min(lon).alias("xmin"),
            F.min(lat).alias("ymin"),
            F.max(lon).alias("xmax"),
            F.max(lat).alias("ymax"),
        )
    )


def tile_pyramid(df_tiles: DataFrame, res: int, levels: int) -> DataFrame:
    """Hierarchical rollup: aggregate tile stats up ``levels`` parents.

    Each level halves the grid (x>>1, y>>1) — the hypertable-rollup
    pattern expressed as repeated groupBy over derived parent ids, letting
    Catalyst pipeline the cascades.
    """
    out = df_tiles.withColumn("level", F.lit(res))
    cur = df_tiles
    for step in range(1, levels + 1):
        r = res - step
        if r < 0:
            break
        parent = (
            cur.withColumn("tile_x", F.floor(F.col("tile_x") / 2).cast("long"))
            .withColumn("tile_y", F.floor(F.col("tile_y") / 2).cast("long"))
            .withColumn(
                "tile_id",
                (F.lit(r * (2**58)) + F.col("tile_x") * F.lit(2**29)
                 + F.col("tile_y")).cast("long"),
            )
            .groupBy("tile_id", "tile_x", "tile_y")
            .agg(
                F.sum("n_points").alias("n_points"),
                F.min("xmin").alias("xmin"),
                F.min("ymin").alias("ymin"),
                F.max("xmax").alias("xmax"),
                F.max("ymax").alias("ymax"),
            )
        )
        out = out.unionByName(
            parent.withColumn("level", F.lit(r)), allowMissingColumns=True
        )
        cur = parent
    return out


def zonal_stats(
    points: DataFrame,
    polygons: DataFrame,
    value_col: str,
    res: int = 7,
    edges: str = "planar",
) -> DataFrame:
    """Zonal statistics: aggregate a point-level value per polygon zone
    (count / sum / mean / min / max) — the classic raster->vector
    summary, here over the containment join. Inherits the flagship
    join's scale shape (broadcast cover + full-cell fast path), then a
    single map-side-combining groupBy on the zone."""
    from .spatial_join import spatial_join

    joined = spatial_join(points, polygons, res=res, edges=edges)
    return joined.groupBy("polygon_id", "name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(value_col).alias("sum_val"),
        F.avg(value_col).alias("mean_val"),
        F.min(value_col).alias("min_val"),
        F.max(value_col).alias("max_val"),
    )


MERCATOR_MAX_LAT = 85.05112878


def mercator_tile_cols(lon, lat, zoom: int):
    """Web-mercator (slippy / XYZ) tile coordinates at ``zoom`` as pure
    column expressions — the de-facto scheme of every web map stack,
    alongside the engine's equirectangular grid. Latitude clamps to the
    mercator domain (+-85.05112878); x wraps at the antimeridian via the
    clamp on the last tile."""
    n = F.lit(float(1 << zoom))
    lam = lon
    phi = F.radians(
        F.greatest(F.least(lat, F.lit(MERCATOR_MAX_LAT)),
                   F.lit(-MERCATOR_MAX_LAT))
    )
    tx = F.floor((lam + 180.0) / 360.0 * n).cast("long")
    ty = F.floor(
        (1.0 - F.log(F.tan(phi) + 1.0 / F.cos(phi)) / F.lit(math.pi))
        / 2.0 * n
    ).cast("long")
    hi = F.lit((1 << zoom) - 1)
    return (
        F.greatest(F.least(tx, hi), F.lit(0)),
        F.greatest(F.least(ty, hi), F.lit(0)),
    )


def quadkey_col(tx, ty, zoom: int):
    """Bing-style quadkey string from tile coords: one base-4 digit per
    zoom level (bit i of x + 2*bit i of y, most significant first) —
    prefix match == ancestor tile, so LIKE 'prefix%' prunes a quadkey-
    partitioned table to a subtree."""
    digits = [
        (
            F.shiftrightunsigned(tx, zoom - 1 - i).bitwiseAND(F.lit(1))
            + F.shiftrightunsigned(ty, zoom - 1 - i).bitwiseAND(F.lit(1))
            * 2
        ).cast("string")
        for i in range(zoom)
    ]
    return F.concat(*digits)


def clip_layer_to_tiles(
    layer: DataFrame,
    res: int,
    edges: str = "planar",
    max_sagitta_rad: float = 2e-5,
) -> DataFrame:
    """Cut each layer polygon into per-tile pieces — the vector-tile
    export primitive: (polygon_id, name, tile_id, is_full, wkt).

    FULL cover cells skip geometry entirely (the piece IS the cell
    rectangle — the same interior fast path the spatial join rides);
    boundary cells clip every ring to the cell bbox with the
    Sutherland-Hodgman kernel (geo/kernels.clip_ring_bbox). Clipped
    rings keep even-odd semantics, so a point is inside the original
    polygon iff it is inside its tile's piece (pinned by the parity
    test). Antimeridian-crossing and pole-encircling rings are
    lobe-split first, so seam polygons tile correctly too.

    ``edges='geodesic'``: rings are densified along their great-circle
    edges FIRST (chord-to-arc deviation bounded by
    ``max_sagitta_rad``, default ~127 m), then the whole planar
    cover+clip pipeline runs on the densified geometry — cover, clip,
    and piece PIP therefore agree with each other EXACTLY, and with
    the true geodesic polygon to within the sagitta bound, so tile
    pieces are consistent with the geodesic spatial joins on long
    high-latitude edges instead of silently clipping chords.

    The layer is the dimension side (driver-collected, like the cover
    build); output size is O(cover cells), distributed via the Arrow
    local-table path.
    """
    from ..geo import cells as cellmod
    from ..geo import geodesic
    from ..geo import kernels
    from ..geo import wkt as wktmod
    from ..session import local_df
    from ..sources.polygons import load_rings

    if edges not in ("planar", "geodesic"):
        raise ValueError("edges must be 'planar' or 'geodesic', got %r"
                         % (edges,))
    rows = []
    for pid, info in sorted(load_rings(layer).items()):
        raw = info["rings"]
        if edges == "geodesic":
            raw = [
                geodesic.densify_ring_geodesic(r, max_sagitta_rad)
                .tolist()
                for r in raw
            ]
        rings = kernels.expand_antimeridian_rings(raw)
        cover = cellmod.polygon_cover(raw, res, edges="planar")
        for cell, full in sorted(cover):
            x0, y0, x1, y1 = cellmod.cell_bounds(int(cell))
            if full:
                coords = [[
                    [x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0],
                ]]
            else:
                coords = []
                for ring in rings:
                    clipped = kernels.clip_ring_bbox(
                        ring, (x0, y0, x1, y1)
                    )
                    if clipped is not None:
                        coords.append(clipped.tolist())
                if not coords:
                    continue
            rows.append((
                int(pid),
                info["name"],
                int(cell),
                bool(full),
                wktmod.dumps(
                    {"type": "Polygon", "coordinates": coords}, 12
                ),
            ))
    return local_df(
        layer.sparkSession, rows,
        ["polygon_id", "name", "tile_id", "is_full", "wkt"],
    )


def vector_tile_pyramid(
    layer: DataFrame,
    min_res: int,
    max_res: int,
    px: int = 256,
    edges: str = "planar",
) -> DataFrame:
    """Per-zoom vector tiles: (level, polygon_id, name, tile_id,
    is_full, wkt) — at each level the layer geometry is simplified to
    ~one tile pixel (Douglas-Peucker, tolerance = cell_width / px)
    before clipping, so coarse zooms carry coarse geometry: the
    standard vector-tile build. Sub-pixel features vanish at coarse
    zooms (simplify_ring collapsing them is the intended rendering
    semantics). Same driver-side dimension-layer contract as
    :func:`clip_layer_to_tiles`.

    ``edges='geodesic'``: rings densify along great circles ONCE, to a
    sagitta of a quarter-pixel at the FINEST level, before any
    simplification — Douglas-Peucker then keeps arc shape to within
    each level's tolerance and the per-level clip runs planar on
    already-arc-faithful geometry (same approximation contract as
    :func:`clip_layer_to_tiles`)."""
    import math as _math

    from ..geo import geodesic
    from ..geo import kernels
    from ..geo import wkt as wktmod
    from ..session import local_df
    from ..sources.polygons import load_rings

    if edges not in ("planar", "geodesic"):
        raise ValueError("edges must be 'planar' or 'geodesic', got %r"
                         % (edges,))
    rings_by_id = load_rings(layer)
    if edges == "geodesic":
        sag_deg = 360.0 / (1 << int(max_res)) / float(px) / 4.0
        sag_rad = _math.radians(sag_deg)
        rings_by_id = {
            pid: {
                "name": info["name"],
                "rings": [
                    geodesic.densify_ring_geodesic(r, sag_rad).tolist()
                    for r in info["rings"]
                ],
            }
            for pid, info in rings_by_id.items()
        }
    spark = layer.sparkSession
    parts = []
    for res in range(int(min_res), int(max_res) + 1):
        tol = 360.0 / (1 << res) / float(px)
        rows = []
        for pid, info in sorted(rings_by_id.items()):
            # ring 0 is THE exterior (load_rings order); if it collapses
            # at this tolerance the feature is sub-pixel at this zoom —
            # drop the whole polygon rather than risk promoting a
            # surviving hole to exterior (even-odd inversion)
            ext = kernels.simplify_ring(info["rings"][0], tol)
            if ext is None:
                continue
            simp = [ext] + [
                s for s in (
                    kernels.simplify_ring(r, tol)
                    for r in info["rings"][1:]
                ) if s is not None
            ]
            rows.append((pid, info["name"], wktmod.dumps({
                "type": "Polygon",
                "coordinates": [s.tolist() for s in simp],
            }, 12)))
        if not rows:
            continue
        lvl_layer = local_df(spark, rows, ["polygon_id", "name", "wkt"])
        parts.append(
            # geometry is already densified in geodesic mode — the
            # per-level clip is planar on arc-faithful rings
            clip_layer_to_tiles(lvl_layer, res, edges="planar")
            .withColumn("level", F.lit(res))
        )
    if not parts:
        raise ValueError("no geometry survived at any level")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "level", "polygon_id", "name", "tile_id", "is_full", "wkt"
    )


def encode_mvt_polygons(
    pieces: DataFrame,
    layer_name: str = "zones",
    extent: int = 4096,
    id_col: str = "polygon_id",
    wkt_col: str = "wkt",
    tile_col: str = "tile_id",
    prop_cols: tuple = ("name",),
) -> DataFrame:
    """Pack :func:`clip_layer_to_tiles` output into Mapbox Vector Tile
    bytes -> (tile_id, n_features, n_bytes, mvt).

    One ``applyInPandas`` group per tile (a single shuffle on the tile
    id, the natural MVT unit of work — at fact scale each tile's pieces
    are bounded by the clip, so per-group state is bounded); lon/lat
    quantize to ``extent`` units of the tile's cell bbox (floor, clamped
    to [0, extent]) with y DOWN per the MVT screen convention. Features
    are sorted by id for deterministic bytes.
    """
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from ..geo import cells as cellmod
    from ..geo import mvt
    from ..geo import wkt as wktmod

    out_schema = StructType([
        StructField("tile_id", LongType(), False),
        StructField("n_features", IntegerType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("mvt", BinaryType(), False),
    ])
    ext = int(extent)
    props = tuple(prop_cols)

    def _encode_group(key, pdf):
        tile = int(key[0])
        x0, y0, x1, y1 = cellmod.cell_bounds(tile)
        dx = x1 - x0
        dy = y1 - y0

        def q(lon, lat):
            # EXACTLY the points encoder's arithmetic order
            # ((value-origin)/span*ext): a precomputed ext/span scale
            # differs by 1 ulp and can flip floor() at cell-boundary
            # coordinates, breaking mixed point/polygon pixel agreement
            u = int(math.floor((lon - x0) / dx * ext))
            v = int(math.floor((y1 - lat) / dy * ext))  # y down
            return (min(max(u, 0), ext), min(max(v, 0), ext))

        feats = []
        for row in pdf.sort_values(id_col).itertuples(index=False):
            geom = wktmod.loads(getattr(row, wkt_col))
            polys = (
                [geom["coordinates"]] if geom["type"] == "Polygon"
                else geom["coordinates"]
            )
            rings, ext_flags = [], []
            for poly in polys:
                for j, ring in enumerate(poly):
                    rings.append(ring)
                    ext_flags.append(j == 0)
            feats.append({
                "id": int(getattr(row, id_col)),
                "type": mvt.GEOM_POLYGON,
                "parts": [[q(px, py) for px, py in ring]
                          for ring in rings],
                "exterior": ext_flags,
                "properties": {
                    c: getattr(row, c) for c in props
                },
            })
        buf = mvt.encode_tile([mvt.encode_layer(layer_name, feats, ext)])
        n_feats = len(
            mvt.decode_tile(buf, arrays=True)["layers"][0]["features"]
        )  # post-degeneracy count, from the independent decoder
        return pd.DataFrame({
            "tile_id": pd.Series([tile], dtype="int64"),
            "n_features": pd.Series([n_feats], dtype="int32"),
            "n_bytes": pd.Series([len(buf)], dtype="int64"),
            "mvt": pd.Series([buf], dtype=object),
        })

    from .grouped import ordered_group_map

    return ordered_group_map(
        pieces, [tile_col], _encode_group, out_schema,
        sort_cols=[id_col],
    )


def encode_mvt_points(
    df: DataFrame,
    res: int,
    layer_name: str = "points",
    extent: int = 4096,
    id_col: str = "doc_id",
    lon: str = "lon",
    lat: str = "lat",
    prop_cols: tuple = (),
) -> DataFrame:
    """Point-layer MVT build straight from lon/lat columns (no WKT
    detour on the fact side): assign tiles with pure column math, then
    one ``applyInPandas`` per tile quantizing with numpy and encoding
    one POINT feature per row -> (tile_id, n_features, n_bytes, mvt).
    Same floor/clamp/y-down quantization as the polygon encoder, so
    mixed tiles agree on pixel space.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from ..geo import cells as cellmod
    from ..geo import mvt

    out_schema = StructType([
        StructField("tile_id", LongType(), False),
        StructField("n_features", IntegerType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("mvt", BinaryType(), False),
    ])
    ext = int(extent)
    props = tuple(prop_cols)

    def _encode_group(key, pdf):
        tile = int(key[0])
        x0, y0, x1, y1 = cellmod.cell_bounds(tile)
        pdf = pdf.sort_values(id_col)
        u = np.clip(np.floor(
            (pdf[lon].to_numpy(dtype=np.float64) - x0)
            / (x1 - x0) * ext
        ), 0, ext).astype(np.int64)
        v = np.clip(np.floor(
            (y1 - pdf[lat].to_numpy(dtype=np.float64))
            / (y1 - y0) * ext
        ), 0, ext).astype(np.int64)
        if props:
            ids = pdf[id_col].tolist()
            prop_vals = {c: pdf[c].tolist() for c in props}
            feats = [
                {
                    "id": int(ids[k]),
                    "type": mvt.GEOM_POINT,
                    "parts": [[(int(u[k]), int(v[k]))]],
                    "properties": {c: prop_vals[c][k] for c in props},
                }
                for k in range(len(ids))
            ]
            layer = mvt.encode_layer(layer_name, feats, ext)
            n_feats = len(feats)
        else:
            # property-less point layers: vectorized LEB128 writer,
            # byte-identical to encode_layer (pinned by tests)
            layer = mvt.encode_point_layer_fast(
                pdf[id_col].to_numpy(dtype=np.int64), u, v,
                layer_name, ext,
            )
            n_feats = len(u)
        buf = mvt.encode_tile([layer])
        return pd.DataFrame({
            "tile_id": pd.Series([tile], dtype="int64"),
            "n_features": pd.Series([n_feats], dtype="int32"),
            "n_bytes": pd.Series([len(buf)], dtype="int64"),
            "mvt": pd.Series([buf], dtype=object),
        })

    from .grouped import ordered_group_map

    tiled = assign_tiles(df, res, lon, lat).select(
        "tile_id", id_col, lon, lat, *props
    )
    # tiles are MANY and SMALL at fact scale: the batched grouped-map
    # keeps the same single exchange but amortizes the per-group
    # Python/Arrow round-trip (3.97s -> 0.59s on the tile_mvt headline)
    return ordered_group_map(
        tiled, ["tile_id"], _encode_group, out_schema,
        sort_cols=[id_col],
    )


def encode_mvt_points_xyz(
    df: DataFrame,
    zoom: int,
    layer_name: str = "points",
    extent: int = 4096,
    id_col: str = "doc_id",
    lon: str = "lon",
    lat: str = "lat",
    prop_cols: tuple = (),
) -> DataFrame:
    """Slippy-map (XYZ / web-mercator) MVT point tiles ->
    (zoom, tx, ty, n_features, n_bytes, mvt) — the tile scheme every
    web map client requests, alongside :func:`encode_mvt_points`'s
    equirectangular cell grid. Quantization happens in MERCATOR space
    (not linear latitude), matching what renderers expect; y grows
    south per the XYZ convention. Same plan shape: tile assignment is
    column math in the scan stage, one shuffle on (tx, ty) into the
    per-tile Arrow encoder."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from ..geo import mvt

    out_schema = StructType([
        StructField("zoom", IntegerType(), False),
        StructField("tx", LongType(), False),
        StructField("ty", LongType(), False),
        StructField("n_features", IntegerType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("mvt", BinaryType(), False),
    ])
    ext = int(extent)
    z = int(zoom)
    n = float(1 << z)
    props = tuple(prop_cols)
    max_lat = MERCATOR_MAX_LAT

    def _encode_group(key, pdf):
        tx, ty = int(key[0]), int(key[1])
        pdf = pdf.sort_values(id_col)
        lam = pdf[lon].to_numpy(dtype=np.float64)
        phi = np.clip(pdf[lat].to_numpy(dtype=np.float64),
                      -max_lat, max_lat)
        mx = (lam + 180.0) / 360.0 * n - tx
        s = np.sin(np.radians(phi))
        my = (0.5 - np.log((1.0 + s) / (1.0 - s))
              / (4.0 * np.pi)) * n - ty
        u = np.clip(np.floor(mx * ext), 0, ext).astype(np.int64)
        v = np.clip(np.floor(my * ext), 0, ext).astype(np.int64)
        if props:
            ids = pdf[id_col].tolist()
            prop_vals = {c: pdf[c].tolist() for c in props}
            feats = [
                {
                    "id": int(ids[k]),
                    "type": mvt.GEOM_POINT,
                    "parts": [[(int(u[k]), int(v[k]))]],
                    "properties": {c: prop_vals[c][k] for c in props},
                }
                for k in range(len(ids))
            ]
            layer = mvt.encode_layer(layer_name, feats, ext)
            n_feats = len(feats)
        else:
            layer = mvt.encode_point_layer_fast(
                pdf[id_col].to_numpy(dtype=np.int64), u, v,
                layer_name, ext,
            )
            n_feats = len(u)
        buf = mvt.encode_tile([layer])
        return pd.DataFrame({
            "zoom": pd.Series([z], dtype="int32"),
            "tx": pd.Series([tx], dtype="int64"),
            "ty": pd.Series([ty], dtype="int64"),
            "n_features": pd.Series([n_feats], dtype="int32"),
            "n_bytes": pd.Series([len(buf)], dtype="int64"),
            "mvt": pd.Series([buf], dtype=object),
        })

    from .grouped import ordered_group_map

    cx, cy = mercator_tile_cols(F.col(lon), F.col(lat), z)
    tiled = df.select(
        F.col(id_col), F.col(lon), F.col(lat), *props
    ).withColumn("tx", cx).withColumn("ty", cy)
    return ordered_group_map(
        tiled, ["tx", "ty"], _encode_group, out_schema,
        sort_cols=[id_col],
    )


def _pip_planar(px, py, rings):
    """Raw even-odd containment on ARBITRARY planar coords (projected
    tile space): XOR of per-ring ray casts with a bbox prefilter. The
    geo-aware kernels.points_in_polygon must not be used here — its
    antimeridian lobe split keys on coordinate jumps > 180, which are
    ordinary at zoom >= 8 in tile units."""
    import numpy as np

    from ..geo import kernels

    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(len(px), dtype=bool)
    for ring in rings:
        arr = np.asarray(ring, dtype=np.float64)
        bb = kernels.ring_bbox(arr)
        cand = ((px >= bb[0]) & (px <= bb[2])
                & (py >= bb[1]) & (py <= bb[3]))
        if not cand.any():
            continue
        idx = np.flatnonzero(cand)
        inside[idx] ^= kernels.points_in_ring(px[cand], py[cand], arr)
    return inside


def _interior_vertex(arr):
    """A test vertex for ring classification that is not pinned to the
    antimeridian (a lobe's seam vertices sit exactly on another lobe's
    boundary, where ray-cast parity is fragile)."""
    import numpy as np

    off_seam = np.abs(np.abs(arr[:, 0]) - 180.0) > 1e-9
    k = int(np.argmax(off_seam)) if off_seam.any() else 0
    return float(arr[k, 0]), float(arr[k, 1])


def _group_rings_even_odd(rings):
    """Group a FLAT ring list (load_rings flattens MultiPolygon
    members) into [(exterior, [holes...])] by containment depth: even
    depth = exterior, odd = hole owned by its innermost containing
    exterior. Planar even-odd — call AFTER the antimeridian lobe
    split so seam geometry classifies correctly."""
    import numpy as np

    from ..geo import kernels

    arrs = [np.asarray(r, dtype=np.float64)[:, :2] for r in rings]
    n = len(arrs)
    depth = [0] * n
    contains = [[False] * n for _ in range(n)]
    for i in range(n):
        x0, y0 = _interior_vertex(arrs[i])
        for j in range(n):
            if i == j:
                continue
            if bool(kernels.points_in_ring(
                np.array([x0]), np.array([y0]), arrs[j]
            )[0]):
                contains[j][i] = True
                depth[i] += 1
    ext_ids = [i for i in range(n) if depth[i] % 2 == 0]
    holes_of = {i: [] for i in ext_ids}
    for i in range(n):
        if depth[i] % 2 == 1:
            owners = [j for j in ext_ids if contains[j][i]]
            if owners:
                owner = max(owners, key=lambda j: depth[j])
            elif ext_ids:
                owner = ext_ids[0]  # defensive: malformed nesting
            else:
                continue
            holes_of[owner].append(i)
    return [(arrs[e], [arrs[h] for h in holes_of[e]]) for e in ext_ids]


def _prepare_polys_mercator(layer, edges, max_sagitta_rad):
    """Driver-side one-time prep shared by single-zoom and pyramid
    builds: load -> (geodesic densify) -> per-ring antimeridian lobe
    split -> even-odd exterior/hole grouping -> project to NORMALIZED
    mercator ([0, 1]^2, y south; zoom scaling is a multiply).
    Returns {pid: {"name", "groups": [(ext, [holes])]}}."""
    import numpy as np

    from ..geo import geodesic
    from ..geo import kernels
    from ..sources.polygons import load_rings

    if edges not in ("planar", "geodesic"):
        raise ValueError("edges must be 'planar' or 'geodesic', got %r"
                         % (edges,))
    max_lat = MERCATOR_MAX_LAT

    def project_norm(arr):
        lon = arr[:, 0]
        lat = np.clip(arr[:, 1], -max_lat, max_lat)
        gx = (lon + 180.0) / 360.0
        s = np.sin(np.radians(lat))
        gy = 0.5 - np.log((1.0 + s) / (1.0 - s)) / (4.0 * np.pi)
        return np.stack([gx, gy], axis=1)

    out = {}
    for pid, info in sorted(load_rings(layer).items()):
        raw = info["rings"]
        if edges == "geodesic":
            raw = [
                geodesic.densify_ring_geodesic(r, max_sagitta_rad)
                .tolist()
                for r in raw
            ]
        lobes = []
        for r in raw:
            lobes.extend(kernels.expand_antimeridian_rings([r]))
        groups = [
            (project_norm(e), [project_norm(h) for h in hs])
            for e, hs in _group_rings_even_odd(lobes)
        ]
        out[int(pid)] = {"name": info["name"], "groups": groups}
    return out


# guard against accidental world-spanning bbox enumerations at high
# zoom: the OUTPUT is O(covered tiles), so past this the build is
# infeasible regardless of algorithm — fail loudly instead of hanging
_MAX_CANDIDATE_TILES = 64_000_000


def _encode_polys_xyz(
    spark,
    polys,
    zoom: int,
    layer_name: str,
    extent: int,
    simplify_px: float,
):
    """Core per-zoom build over prepared normalized-mercator polygons:
    vectorized tile classification (one grid PIP for all corner
    points + edge-bbox rasterization), exact Sutherland-Hodgman clip
    ONLY on boundary tiles, full-tile shortcut for interiors."""
    import json as _json
    import math as _math

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..geo import kernels
    from ..geo import mvt
    from ..session import local_df

    z = int(zoom)
    n = 1 << z
    ext = int(extent)
    tol = float(simplify_px) / ext if simplify_px else 0.0

    rows = []
    for pid in sorted(polys):
        info = polys[pid]
        proj = []
        is_ext = []
        for e_norm, hs_norm in info["groups"]:
            e = e_norm * n
            hs = [h * n for h in hs_norm]
            if tol > 0.0:
                e = kernels.simplify_ring(e, tol)  # returns closed
                if e is None:
                    continue  # sub-pixel member polygon at this zoom
                hs = [
                    s for s in (kernels.simplify_ring(h, tol)
                                for h in hs)
                    if s is not None
                ]
            proj.append(e)
            is_ext.append(True)
            proj.extend(hs)
            is_ext.extend([False] * len(hs))
        if not proj:
            continue
        gx_min = min(float(r[:, 0].min()) for r in proj)
        gx_max = max(float(r[:, 0].max()) for r in proj)
        gy_min = min(float(r[:, 1].min()) for r in proj)
        gy_max = max(float(r[:, 1].max()) for r in proj)
        tx_lo = max(0, int(_math.floor(gx_min)))
        tx_hi = min(n - 1, int(_math.floor(gx_max)))
        ty_lo = max(0, int(_math.floor(gy_min)))
        ty_hi = min(n - 1, int(_math.floor(gy_max)))
        w = tx_hi - tx_lo + 1
        h = ty_hi - ty_lo + 1
        if w <= 0 or h <= 0:
            continue
        if w * h > _MAX_CANDIDATE_TILES:
            raise ValueError(
                "polygon %d covers %d x %d candidate tiles at zoom %d "
                "— beyond the %d-tile build guard; lower the zoom or "
                "split the layer" % (pid, w, h, z,
                                     _MAX_CANDIDATE_TILES)
            )

        # vectorized classification: one PIP over ALL grid corners...
        xs = np.arange(tx_lo, tx_hi + 2, dtype=np.float64)
        ys = np.arange(ty_lo, ty_hi + 2, dtype=np.float64)
        gxx, gyy = np.meshgrid(xs, ys, indexing="ij")
        inside = _pip_planar(
            gxx.ravel(), gyy.ravel(), proj
        ).reshape(w + 1, h + 1)
        all_in = (inside[:-1, :-1] & inside[1:, :-1]
                  & inside[:-1, 1:] & inside[1:, 1:])
        any_in = (inside[:-1, :-1] | inside[1:, :-1]
                  | inside[:-1, 1:] | inside[1:, 1:])
        # ...plus edge-bbox rasterization (which tiles any ring edge
        # can reach)
        edge_touch = np.zeros((w, h), dtype=bool)
        for r in proj:
            e0, e1 = r[:-1], r[1:]
            ex0 = np.clip(np.floor(
                np.minimum(e0[:, 0], e1[:, 0])).astype(np.int64)
                - tx_lo, 0, w - 1)
            ex1 = np.clip(np.floor(
                np.maximum(e0[:, 0], e1[:, 0])).astype(np.int64)
                - tx_lo, 0, w - 1)
            ey0 = np.clip(np.floor(
                np.minimum(e0[:, 1], e1[:, 1])).astype(np.int64)
                - ty_lo, 0, h - 1)
            ey1 = np.clip(np.floor(
                np.maximum(e0[:, 1], e1[:, 1])).astype(np.int64)
                - ty_lo, 0, h - 1)
            for k in range(len(ex0)):
                edge_touch[ex0[k]:ex1[k] + 1,
                           ey0[k]:ey1[k] + 1] = True

        full_box = [[(0, 0), (ext, 0), (ext, ext), (0, ext)]]
        # full interiors: all corners in, no edge can cross
        for ix, iy in zip(*np.nonzero(all_in & ~edge_touch)):
            rows.append((pid, info["name"], tx_lo + int(ix),
                         ty_lo + int(iy), True, full_box, [True]))
        # tiles no edge reaches and no corner inside are fully outside
        # the polygon OR fully inside a hole -> nothing to emit either
        # way; the rest are boundary tiles: exact clip
        for ix, iy in zip(*np.nonzero(
            edge_touch | (any_in & ~all_in)
        )):
            tx = tx_lo + int(ix)
            ty = ty_lo + int(iy)
            if all_in[ix, iy] and not edge_touch[ix, iy]:
                continue  # already emitted as full
            bbox = (float(tx), float(ty),
                    float(tx + 1), float(ty + 1))
            pieces = []
            flags = []
            for r, ext_flag in zip(proj, is_ext):
                clipped = kernels.clip_ring_bbox(r, bbox)
                if clipped is None:
                    continue
                q = np.empty_like(clipped)
                q[:, 0] = np.clip(
                    np.floor((clipped[:, 0] - tx) * ext), 0, ext
                )
                q[:, 1] = np.clip(
                    np.floor((clipped[:, 1] - ty) * ext), 0, ext
                )
                pieces.append([(int(a), int(b)) for a, b in q])
                flags.append(bool(ext_flag))
            if not pieces:
                # corner-on-edge residue: decide by tile center
                if bool(_pip_planar(
                    np.array([tx + 0.5]), np.array([ty + 0.5]),
                    proj,
                )[0]):
                    rows.append((pid, info["name"], tx, ty, True,
                                 full_box, [True]))
                continue
            rows.append((pid, info["name"], tx, ty, False,
                         pieces, flags))

    out_schema = StructType([
        StructField("zoom", IntegerType(), False),
        StructField("tx", LongType(), False),
        StructField("ty", LongType(), False),
        StructField("n_features", IntegerType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("mvt", BinaryType(), False),
    ])
    if not rows:
        # empty layer / everything sub-pixel at this zoom: an empty
        # frame, not a CANNOT_INFER_EMPTY_SCHEMA crash
        return spark.createDataFrame([], out_schema)

    by_tile: dict = {}
    for pid, name, tx, ty, full, pieces, flags in rows:
        by_tile.setdefault((tx, ty), []).append(
            (pid, name, pieces, flags)
        )
    tile_rows = [
        (tx, ty, _json.dumps(feats))
        for (tx, ty), feats in sorted(by_tile.items())
    ]
    src = local_df(spark, tile_rows, ["tx", "ty", "feats_json"])

    def _encode_group(key, pdf):
        tx, ty = int(key[0]), int(key[1])
        feats = []
        for fj in pdf["feats_json"]:
            for pid, name, pieces, flags in _json.loads(fj):
                feats.append({
                    "id": int(pid),
                    "type": mvt.GEOM_POLYGON,
                    "parts": [[(int(a), int(b)) for a, b in ring]
                              for ring in pieces],
                    "exterior": [bool(f) for f in flags],
                    "properties": {"name": name},
                })
        feats.sort(key=lambda f: f["id"])
        buf = mvt.encode_tile([mvt.encode_layer(layer_name, feats,
                                                ext)])
        n_feats = len(
            mvt.decode_tile(buf, arrays=True)["layers"][0]["features"]
        )
        return pd.DataFrame({
            "zoom": pd.Series([z], dtype="int32"),
            "tx": pd.Series([tx], dtype="int64"),
            "ty": pd.Series([ty], dtype="int64"),
            "n_features": pd.Series([n_feats], dtype="int32"),
            "n_bytes": pd.Series([len(buf)], dtype="int64"),
            "mvt": pd.Series([buf], dtype=object),
        })

    from .grouped import ordered_group_map

    return ordered_group_map(src, ["tx", "ty"], _encode_group,
                             out_schema)


def encode_mvt_polygons_xyz(
    layer: DataFrame,
    zoom: int,
    layer_name: str = "zones",
    extent: int = 4096,
    edges: str = "planar",
    max_sagitta_rad: float = 2e-5,
    simplify_px: float = 0.0,
) -> DataFrame:
    """Clip the polygon layer to web-mercator XYZ tiles and pack each
    tile as MVT -> (zoom, tx, ty, n_features, n_bytes, mvt): the
    slippy-map ZONES pipeline (feed :func:`write_mvt_directory`),
    completing what :func:`encode_mvt_points_xyz` does for points.

    Geometry is projected ONCE into normalized mercator (zoom scaling
    is a multiply), with per-ring antimeridian lobe splitting and
    even-odd containment-depth grouping so MultiPolygon members each
    keep exterior winding and holes bind to their innermost exterior.
    Per zoom, tiles classify VECTORIZED — one grid PIP over all tile
    corners plus edge-bbox rasterization — so only true boundary tiles
    pay the exact Sutherland-Hodgman clip; interiors ride a full-tile
    shortcut and fully-outside / inside-hole tiles emit nothing.
    Clipping happens in mercator space: edges are straight lines
    exactly where the renderer draws them. ``edges='geodesic'``
    densifies along great circles first.

    ``simplify_px`` > 0 runs Douglas-Peucker on the projected rings at
    a tolerance of that many tile pixels (isotropic in mercator space
    — a degree-space tolerance would skew at high latitude); a
    collapsing exterior drops its polygon (hole-promotion guard), a
    collapsing hole just drops. This is the per-zoom knob
    :func:`mvt_polygon_pyramid_xyz` turns.

    Dimension-layer contract (driver-side build, like
    clip_layer_to_tiles); output size is O(covered tiles)."""
    polys = _prepare_polys_mercator(layer, edges, max_sagitta_rad)
    return _encode_polys_xyz(
        layer.sparkSession, polys, zoom, layer_name, extent,
        simplify_px,
    )


def mvt_polygon_pyramid_xyz(
    layer: DataFrame,
    min_zoom: int,
    max_zoom: int,
    layer_name: str = "zones",
    extent: int = 4096,
    edges: str = "planar",
    simplify_px: float = 1.0,
    max_sagitta_rad: float = 2e-5,
) -> DataFrame:
    """The full slippy-map build for a polygon layer: every zoom from
    ``min_zoom`` to ``max_zoom``, geometry simplified to ~simplify_px
    tile pixels per level (in mercator space), encoded as MVT. Load,
    densify, lobe-split, and projection run ONCE (normalized mercator)
    and are reused across levels. Feed :func:`write_mvt_directory` and
    a web map can load the result directly. Sub-pixel polygons vanish
    at coarse zooms (the intended rendering semantics, as in
    vector_tile_pyramid)."""
    polys = _prepare_polys_mercator(layer, edges, max_sagitta_rad)
    spark = layer.sparkSession
    parts = [
        _encode_polys_xyz(spark, polys, z, layer_name, extent,
                          simplify_px)
        for z in range(int(min_zoom), int(max_zoom) + 1)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def write_mvt_directory(
    tiles: DataFrame,
    out_dir: str,
    scheme: str = "xyz",
) -> int:
    """Materialize encoded tiles as the ``{z}/{x}/{y}.mvt`` directory
    tree map clients fetch. ``tiles`` is the output of
    :func:`encode_mvt_points_xyz` (columns zoom/tx/ty/mvt) or any frame
    with those columns; ``scheme='tms'`` flips y (2^z - 1 - ty) for TMS
    servers. Files are written executor-side via ``foreachPartition``
    (bytes never collect on the driver) into per-task temp names then
    atomically renamed — rerunning a failed job cannot leave torn
    tiles. Returns the number of tiles written BY THIS CALL (writing a
    second zoom level into an existing tree does not re-count the
    earlier level's files)."""
    import os
    import uuid

    if scheme not in ("xyz", "tms"):
        raise ValueError("scheme must be 'xyz' or 'tms'")
    os.makedirs(out_dir, exist_ok=True)
    flip = scheme == "tms"

    acc = tiles.sparkSession.sparkContext.accumulator(0)

    def _write(rows):
        for r in rows:
            z, tx, ty = int(r["zoom"]), int(r["tx"]), int(r["ty"])
            if flip:
                ty = (1 << z) - 1 - ty
            d = os.path.join(out_dir, str(z), str(tx))
            os.makedirs(d, exist_ok=True)
            final = os.path.join(d, "%d.mvt" % ty)
            tmp = final + ".%s.tmp" % uuid.uuid4().hex[:8]
            with open(tmp, "wb") as f:
                f.write(bytes(r["mvt"]))
            os.replace(tmp, final)
            acc.add(1)

    tiles.select("zoom", "tx", "ty", "mvt").foreachPartition(_write)
    return int(acc.value)


def simplify_wkt(
    df: DataFrame,
    tolerance: float,
    wkt_col: str = "wkt",
    out_col: str = "wkt_simplified",
) -> DataFrame:
    """Fact-scale Douglas-Peucker: simplify a WKT geometry COLUMN (the
    10^12-row side — building footprints, parcels — not the dimension
    layer) with a ``mapInArrow`` kernel. Polygon/MultiPolygon
    rings simplify per ring (sub-tolerance rings drop; a polygon whose
    exterior collapses becomes NULL); Line/MultiLine simplify as
    polylines; points pass through. Malformed or non-simplifiable
    input nulls out (P8 convention). Stateless per row — no shuffle,
    scales with the scan. The input columns pass through in Arrow, so a
    bigint id beside a NULL stays exact."""
    import pyarrow as pa
    from pyspark.sql.types import StringType, StructField, StructType

    from ..geo import kernels
    from ..geo import wkt as wktmod

    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, StringType(),
                                              True)]
    )
    tol = float(tolerance)

    def _simp_rings(poly_rings):
        # the EXTERIOR (first ring) must survive or the polygon is gone
        # — keeping only a surviving hole would promote it to exterior
        # under even-odd semantics and invert the region
        ext = kernels.simplify_ring(poly_rings[0], tol)
        if ext is None:
            return None
        rings = [ext] + [
            s for s in (kernels.simplify_ring(r, tol)
                        for r in poly_rings[1:])
            if s is not None
        ]
        return [r.tolist() for r in rings]

    def _simp_geom(geom):
        t = geom["type"]
        if t == "Polygon":
            rings = _simp_rings(geom["coordinates"])
            if rings is None:
                return None
            return {"type": "Polygon", "coordinates": rings}
        if t == "MultiPolygon":
            polys = []
            for poly in geom["coordinates"]:
                rings = _simp_rings(poly)
                if rings is not None:
                    polys.append(rings)
            if not polys:
                return None
            return {"type": "MultiPolygon", "coordinates": polys}
        if t == "LineString":
            return {
                "type": "LineString",
                "coordinates": kernels.simplify_line(
                    geom["coordinates"], tol
                ).tolist(),
            }
        if t == "MultiLineString":
            return {
                "type": "MultiLineString",
                "coordinates": [
                    kernels.simplify_line(line, tol).tolist()
                    for line in geom["coordinates"]
                ],
            }
        return geom  # points etc. pass through

    def kernel(batches):
        for batch in batches:
            outs = []
            for s in batch.column(wkt_col).to_pylist():
                try:
                    g = _simp_geom(wktmod.loads(s))
                    outs.append(None if g is None
                                else wktmod.dumps(g, 12))
                except Exception:
                    outs.append(None)
            yield batch.append_column(out_col, pa.array(outs, pa.string()))

    return df.mapInArrow(kernel, out_schema)
