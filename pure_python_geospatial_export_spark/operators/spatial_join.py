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
from typing import Callable, Dict, NamedTuple, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions.geom_udfs import cell_id_col
from ..geo import cells as cellmod
from ..geo import kernels
from ..geo.kernels import _ranges
from ..sources.polygons import (
    LayerCover,
    distributed_cells,
    layer_cover,
    load_rings,
    polygon_cells,
    polygon_rings,
)

DEFAULT_RES = 7


def points_with_cell(
    points: DataFrame, res: int = DEFAULT_RES,
    lon: str = "lon", lat: str = "lat",
) -> DataFrame:
    return points.withColumn(
        "cell_id", cell_id_col(F.col(lon), F.col(lat), res)
    )


def _points_with_join_cell(points: DataFrame, res: int) -> DataFrame:
    """``points_with_cell`` for a cell join against a cover.

    A NaN ordinate has no cell, but Spark's FLOOR(NaN) is 0: the point
    would land in x = 0 or y = 0 and be kept where that cell is full. It
    is keyed to -1, which no cover holds, so the join drops it in the scan
    stage. A Filter on lon/lat would do the same, but Catalyst pushes it
    below the points' projection and evaluates their derivation (sha256
    of the url) once more per row."""
    lon, lat = F.col("lon"), F.col("lat")
    return points.withColumn("cell_id", F.when(
        F.isnan(lon) | F.isnan(lat), F.lit(-1)
    ).otherwise(cell_id_col(lon, lat, res)))


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
    pts = _points_with_join_cell(points, res)

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
        # long keys: a small Python int would type the map's keys INT,
        # and the lookup would then cast every cell id down (ANSI raises)
        salt_map = F.create_map(*[
            c for k, v in salt_of.items()
            for c in (F.lit(k).cast("long"), F.lit(v))
        ]) if salt_of else None
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
        return joined.drop("is_full", "_edges_k", "_edges")
    if edges != "planar":
        raise ValueError("edges must be 'planar' or 'geodesic', got %r"
                         % edges)
    return _planar_refine(joined, res)


def _planar_refine(joined: DataFrame, res: int) -> DataFrame:
    """The planar join's exact step over ``points ⋈ cover`` rows: a full
    cell passes by containment, a boundary cell ray-casts its edge list
    (``_ray_cast``); the cover's refine columns then go."""
    return joined.where(
        F.when(F.col("is_full"), True)
        .otherwise(_ray_cast(res, F.col("lon"), F.col("lat")))
    ).drop("is_full", "_edges_k", "_edges")


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


def _geodesic_keep(keys: np.ndarray, lon: np.ndarray, lat: np.ndarray,
                   rings_of: Callable) -> np.ndarray:
    """Great-circle containment of each row's point, the rows grouped by
    polygon ``keys`` so each group is one ``points_in_polygon_geodesic``
    call; ``rings_of(key)`` gives the group's rings (None keeps none)."""
    from ..geo.geodesic import points_in_polygon_geodesic

    out = np.zeros(len(keys), dtype=bool)
    for key in np.unique(keys):
        rings = rings_of(key)
        if rings is not None:
            mask = keys == key
            out[mask] = points_in_polygon_geodesic(lon[mask], lat[mask],
                                                   rings)
    return out


def _geodesic_refine(rings_by_id: Dict[int, dict]):
    """Exact great-circle containment refine as a pandas UDF over
    (polygon_id, lon, lat), batching rows per polygon within each Arrow
    batch. ``rings_by_id`` rides along in the closure — serialized once
    per executor by Spark, the broadcast pattern for dimension data."""
    from pyspark.sql.types import BooleanType

    plain = {
        int(pid): [np.asarray(r, dtype=np.float64)[:, :2]
                   for r in info["rings"]]
        for pid, info in rings_by_id.items()
    }

    @F.pandas_udf(BooleanType())
    def pip_refine(polygon_id: pd.Series, lon: pd.Series,
                   lat: pd.Series) -> pd.Series:
        return pd.Series(_geodesic_keep(
            polygon_id.to_numpy(), lon.to_numpy(dtype=np.float64),
            lat.to_numpy(dtype=np.float64),
            lambda pid: plain.get(int(pid))))

    return pip_refine


def spatial_join_big_layer(
    points: DataFrame,
    polygons: DataFrame,
    res: int = DEFAULT_RES,
    edges: str = "planar",
) -> DataFrame:
    """Point-in-polygon join for polygon layers TOO BIG to broadcast or
    collect (millions of polygons): fully distributed, no driver-side
    layer materialization anywhere. Same rows as ``spatial_join``.

    Plan: the cover is ``distributed_cells`` (one ``MapInArrow`` over the
    polygon rows, the same rows and edge lists ``polygon_cells`` builds),
    joined to the points on ``cell_id``: a plain equi join, which AQE
    still broadcasts when the cover turns out small. Planar edges then
    take ``spatial_join``'s own refine: one scan of the points, no union
    and no Python above the join. Geodesic boundary rows join back to
    their polygon's WKT and run the great-circle kernel per Arrow batch,
    grouped by polygon; full-cell rows are unioned back.
    """
    if edges not in ("planar", "geodesic"):
        raise ValueError("edges must be 'planar' or 'geodesic', got %r"
                         % edges)
    joined = _points_with_join_cell(points, res).join(
        distributed_cells(polygons, res, edges), "cell_id")
    if edges == "planar":
        return _planar_refine(joined, res)

    # No explicit repartition after this join: its output is already
    # hash-partitioned on polygon_id (which keeps refine batches
    # polygon-dominated), and adding one would UNDO an AQE skew-join
    # split — a hot continental polygon would collapse back into a
    # single task.
    boundary = joined.where(~F.col("is_full")).drop(
        "is_full", "_edges_k", "_edges",
    ).join(polygons.select("polygon_id", "wkt"), "polygon_id")

    def kernel(batches):
        # Arrow, not pandas: the point columns pass through exact. Rows
        # group by their polygon's WKT, which the cover already read.
        for batch in batches:
            wkts = batch.column("wkt").dictionary_encode()
            codes = wkts.indices.to_numpy()
            pids = batch.column("polygon_id").to_numpy()
            keep = _geodesic_keep(
                codes, batch.column("lon").to_numpy(zero_copy_only=False),
                batch.column("lat").to_numpy(zero_copy_only=False),
                lambda k: polygon_rings(pids[codes == k][0],
                                        wkts.dictionary[k].as_py()))
            yield batch.drop_columns(["wkt"]).filter(pa.array(keep))

    refined = boundary.mapInArrow(kernel, StructType(
        [f for f in boundary.schema.fields if f.name != "wkt"]))
    return joined.where(F.col("is_full")).drop(
        "is_full", "_edges_k", "_edges").unionByName(refined)


def _probe_parts(geom: dict):
    """(kind, parts): areal probes flatten to rings, linear probes to
    polylines — the overlap join accepts both."""
    from ..geo.wkt import vertex_parts

    kind = "area" if geom["type"] in ("Polygon", "MultiPolygon") else "line"
    return kind, vertex_parts(geom)


def _loads_or_none(s):
    """Parsed WKT geometry dict, or None for a null or malformed row."""
    from ..geo import wkt as wktmod

    try:
        return wktmod.loads(s)
    except Exception:
        return None


def _geodesic_bounds(geom):
    """Per-row (padded bbox, vertex bbox) of one parsed probe geometry
    under geodesic edges, 8 floats; all-NaN for None or a non-linear,
    non-areal geometry."""
    from ..geo.geodesic import unit_vectors

    try:
        _kind, rings = _probe_parts(geom)
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
    reporting extent — same kernel pass, no extra parse). Used by the
    self-overlap dissolve, its streaming twin and the nearest-polygon
    join's parseable-probe filter; the probe-vs-layer joins take the
    same bounds inside their one pass (``layer_candidate_map``).

    Planar bboxes come from ``wkt.bounds_batch``: rows in its strict
    2-D POLYGON / MULTIPOLYGON / LINESTRING / MULTILINESTRING grammar
    are parsed a whole Arrow batch at a time with no per-row Python;
    every other row (Z/M ordinates, SRID, EMPTY, malformed, null) falls
    back to the per-row ``loads`` path, with bit-identical bounds. Under
    ``geodesic`` every row takes the per-row path (the pad needs each
    ring's edge angles). Arrow, not pandas: the input columns pass
    through as they came, so a bigint id beside a NULL stays exact; NaN
    bounds go out as NULL, which the ``_xmin`` filter drops."""
    from pyspark.sql.types import DoubleType

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
        for batch in batches:
            wkts = batch.column("_wkt")
            if geodesic:
                b = np.array(
                    [_geodesic_bounds(_loads_or_none(s))
                     for s in wkts.to_pylist()],
                    dtype=np.float64,
                ).reshape(-1, 8)
            else:
                raw = wktmod.bounds_batch(wkts)
                b = np.hstack([raw, raw])
            for i, k in enumerate(cols):
                batch = batch.append_column(k, pa.array(
                    np.ascontiguousarray(b[:, i]), from_pandas=True
                ))
            yield batch

    return src.mapInArrow(bbox_kernel, bbox_schema).where(
        F.col("_xmin").isNotNull()
    )


# ---------------------------------------------------------------------------
# polygon-vs-layer joins: one per-partition candidate stage
# ---------------------------------------------------------------------------

def _grid(v, off: float, span: float, n: int) -> np.ndarray:
    """``grid_xy_cols`` in numpy, bit for bit: the same floor in the same
    operation order, NaN to 0 as Spark's FLOOR gives it, then clamped AS
    A FLOAT before the int cast. Spark's FLOOR saturates +inf to the top
    cell; ``cells.cell_xy`` casts first and would send it to cell 0."""
    g = np.floor((v + off) / span * n)
    g[np.isnan(g)] = 0.0
    return np.clip(g, 0, n - 1).astype(np.int64)


def candidate_cells(bounds: np.ndarray, cover: LayerCover, res: int,
                    pad: float = 0.0):
    """Candidate cells of a batch of probe bboxes -> (row, k, sure): one
    entry per (probe row, cover entry ``k``) whose cell lies in the row's
    grid window, the window of the bbox grown by ``pad`` on every side.

    The window is ``grid_xy_cols`` of the padded bbox corners (``_grid``);
    each window column is one ``searchsorted`` range of the sorted cover
    (cell ids are ``r*2^58 + x*2^29 + y``, so a column's cells are
    contiguous). ``sure`` is the full-cell shortcut: the cover cell is
    provably interior and the UNpadded bbox sits inside its rectangle,
    whose bounds are ``gx / n * 360.0 - 180.0`` in that operation order.
    A row with any NaN bound has no candidates (the P8 drop)."""
    n = 1 << res
    rows = np.flatnonzero(~np.isnan(bounds).any(axis=1))
    xmin, ymin, xmax, ymax = bounds[rows].T
    gx0 = _grid(xmin - pad, 180.0, 360.0, n)
    gy0 = _grid(ymin - pad, 90.0, 180.0, n)
    gx1 = _grid(xmax + pad, 180.0, 360.0, n)
    gy1 = _grid(ymax + pad, 90.0, 180.0, n)
    cols = gx1 - gx0 + 1
    r = np.repeat(np.arange(len(rows)), cols)
    base = np.int64(res) * (np.int64(1) << 58) \
        + _ranges(gx0, cols) * (np.int64(1) << 29)
    lo = np.searchsorted(cover.cell_id, base + gy0[r], "left")
    hi = np.searchsorted(cover.cell_id, base + gy1[r], "right")
    r = np.repeat(r, hi - lo)
    k = _ranges(lo, hi - lo)
    gx, gy, _ = cellmod.decode(cover.cell_id[k])
    f = float(n)
    sure = (
        cover.is_full[k]
        & (xmin[r] >= gx / f * 360.0 - 180.0)
        & (xmax[r] <= (gx + 1) / f * 360.0 - 180.0)
        & (ymin[r] >= gy / f * 180.0 - 90.0)
        & (ymax[r] <= (gy + 1) / f * 180.0 - 90.0)
    )
    return rows[r], k, sure


def candidate_pairs(bounds: np.ndarray, cover: LayerCover, res: int,
                    pad: float = 0.0):
    """``candidate_cells`` deduped to (row, polygon_id, sure), sorted by
    row then polygon id; ``sure`` is OR-ed over the pair's cells."""
    row, k, sure = candidate_cells(bounds, cover, res, pad)
    pid = cover.polygon_id[k]
    order = np.lexsort((pid, row))
    row, pid, sure = row[order], pid[order], sure[order]
    first = np.ones(len(row), dtype=bool)
    first[1:] = (row[1:] != row[:-1]) | (pid[1:] != pid[:-1])
    out = np.zeros(int(first.sum()), dtype=bool)
    out[(np.cumsum(first) - 1)[sure]] = True
    return row[first], pid[first], out


#: the (polygon_id, name) output columns of a per-pair join
PAIR_FIELDS = [StructField("polygon_id", LongType(), False),
               StructField("name", StringType(), True)]


class PlanarLayer:
    """A polygon layer flattened once (``kernels.GeomSet``, sorted by
    polygon id) for the planar pair kernel; built when the query is
    planned, it rides to the executors in the refine's closure."""

    def __init__(self, rings_by_id: Dict[int, dict]):
        self.pids = np.array(sorted(int(p) for p in rings_by_id),
                             dtype=np.int64)
        self.geoms = kernels.GeomSet(
            [rings_by_id[int(p)]["rings"] for p in self.pids])


class ProbeBatch(NamedTuple):
    """One Arrow batch of probes after the candidate stage."""

    id_col: str
    ids: pa.Array           # the probe id column, as Arrow carried it
    probe: Callable         # row -> parsed geometry (None if malformed)
    live: np.ndarray        # bool per row: the bbox is defined
    row: np.ndarray         # candidate pairs, sorted by row
    polygon_id: np.ndarray
    sure: np.ndarray        # full-cell shortcut hit
    names: dict             # layer polygon id -> name

    def pair_columns(self, sel, **cols):
        """Output columns (id, polygon_id, name, **cols) of pairs
        ``sel``; ids are taken in Arrow, so a bigint id stays exact."""
        pid = self.polygon_id[sel]
        return {
            self.id_col: self.ids.take(self.row[sel]),
            "polygon_id": pid, "name": [self.names[p] for p in pid], **cols,
        }

    def intersects(self, sel: np.ndarray, layer: PlanarLayer):
        """Planar "intersects" of pairs ``sel`` against the layer in one
        ``kernels.polygons_intersect_pairs`` call -> (hit, bad), each
        probe flattened once; a probe that does not parse, or is not
        linear or areal, is bad."""
        rows, inv = np.unique(self.row[sel], return_inverse=True)
        parts, areal = [], []
        for r in rows.tolist():
            try:
                kind, got = _probe_parts(self.probe(r))
            except Exception:
                kind, got = None, None
            parts.append(got)
            areal.append(kind == "area")
        return kernels.polygons_intersect_pairs(
            kernels.GeomSet(parts, areal), inv, layer.geoms,
            np.searchsorted(layer.pids, self.polygon_id[sel]))


def layer_candidate_map(probes: DataFrame, rings_by_id: Dict[int, dict],
                        res: int, edges: str, id_col: str, wkt_col: str,
                        fields: list, refine: Callable,
                        pad: float = 0.0) -> DataFrame:
    """The polygon-vs-layer joins' ONE Python stage over the probe scan:
    ``mapInArrow`` whose kernel, per Arrow batch, takes probe bboxes
    (``wkt.bounds_batch``; under geodesic edges the sagitta-padded
    ``_geodesic_bounds``), runs ``candidate_pairs`` against the layer's
    ``layer_cover`` (which rides in the closure) and hands the
    ``ProbeBatch`` to ``refine`` -> columns of ``[id_col] + fields``.
    Arrow, not pandas: a bigint id column holding a NULL would reach
    pandas as float64 and lose every id above 2**53.

    Every candidate of a probe comes from its own row, so the pair
    dedupe needs no exchange: the plan is scan -> MapInArrow, with no
    explode, no join and no shuffle. Each probe's WKT is parsed at most
    once per batch (``probe`` memoizes), and only when a refine asks."""
    from ..geo import wkt as wktmod

    cover = layer_cover(rings_by_id, res, edges)
    names = {int(pid): info["name"] for pid, info in rings_by_id.items()}
    geodesic = edges == "geodesic"
    src = probes.select(F.col(id_col), F.col(wkt_col).alias("_wkt"))
    schema = StructType([src.schema[id_col]] + list(fields))
    arrow_schema = to_arrow_schema(schema)

    def kernel(batches):
        for batch in batches:
            wkts = batch.column("_wkt")
            memo: dict = {}

            def probe(i, wkts=wkts, memo=memo):
                if i not in memo:
                    memo[i] = _loads_or_none(wkts[i].as_py())
                return memo[i]

            if geodesic:
                b = np.array(
                    [_geodesic_bounds(probe(i)) for i in range(len(wkts))],
                    dtype=np.float64,
                ).reshape(-1, 8)[:, :4]
            else:
                b = wktmod.bounds_batch(wkts)
            row, pid, sure = candidate_pairs(b, cover, res, pad)
            cols = refine(ProbeBatch(id_col, batch.column(id_col), probe,
                                     ~np.isnan(b).any(axis=1),
                                     row, pid, sure, names))
            yield pa.RecordBatch.from_pydict(cols, schema=arrow_schema)

    return src.mapInArrow(kernel, schema)


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
    polygon (or line) geometries (building footprints, parcels — WKT
    column) against the dimension layer -> (id, polygon_id, name), one
    row per (probe row, intersecting layer polygon). Boundary contact
    counts as intersecting. ``id_col`` is carried, not grouped on: two
    rows sharing an id are each answered on their own geometry, and a
    NULL id passes through.

    Plan shape: scan -> ONE ``MapInArrow`` (``layer_candidate_map``),
    no exchange. Per Arrow batch:

    1. probe bboxes in one Arrow pass (malformed rows drop — the P8
       null-guard semantics);
    2. candidate pairs: the bbox's grid window looked up in the
       layer's sorted cover, deduped per (row, polygon) with the
       FULL-CELL shortcut (a probe whose bbox sits inside a
       provably-interior cover cell intersects by containment);
    3. the unresolved pairs run the exact kernel together, one
       ``kernels.polygons_intersect_pairs`` call per batch
       (vertex-in-polygon both ways + edge crossings/touches), each
       probe parsed and flattened once per batch, the layer flattened
       once per query (``PlanarLayer``, in the closure); a probe
       the kernel cannot read matches nothing. Geodesic edges keep the
       per-pair great-circle kernels.

    Pick ``res`` so typical probes span O(1) cells — the window is
    (bbox cells per row) and the refine cost is per candidate pair.
    """
    if rings_by_id is None:
        rings_by_id = load_rings(polygons)
    if edges == "geodesic":
        refine = _geodesic_overlap_refine(rings_by_id)
    else:
        layer = PlanarLayer(rings_by_id)

        def refine(b: ProbeBatch):
            ok = b.sure.copy()
            j = np.flatnonzero(~b.sure)
            ok[j] = b.intersects(j, layer)[0]
            return b.pair_columns(ok)

    return layer_candidate_map(probes, rings_by_id, res, edges, id_col,
                               wkt_col, PAIR_FIELDS, refine)


def _geodesic_overlap_refine(rings_by_id: Dict[int, dict]) -> Callable:
    """The overlap join's refine under great-circle edges: one
    ``polygons_intersect_geodesic`` / ``lines_intersect_polygon_geodesic``
    call per unresolved pair."""
    from ..geo.geodesic import (
        lines_intersect_polygon_geodesic,
        polygons_intersect_geodesic,
    )

    layer_rings = {
        int(pid): info["rings"] for pid, info in rings_by_id.items()
    }

    def refine(b: ProbeBatch):
        ok = b.sure.copy()
        for j in np.flatnonzero(~b.sure):
            try:
                kind, parts = _probe_parts(b.probe(b.row[j]))
                lr = layer_rings[int(b.polygon_id[j])]
                ok[j] = bool(
                    polygons_intersect_geodesic(parts, lr)
                    if kind == "area"
                    else lines_intersect_polygon_geodesic(parts, lr))
            except Exception:
                pass
        return b.pair_columns(ok)

    return refine
