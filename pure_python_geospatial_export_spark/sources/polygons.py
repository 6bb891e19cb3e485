"""Polygon layers: reference fixture states + synthetic grids with holes.

The Wyoming/Colorado WKT strings are carried VERBATIM from the reference
fixture CSVs (/root/reference/wy-co-wkt-bigquery.csv) — they are the
polygons the reference's own e2e tests join points against
(ref ppge-tests/test-ppge.py:55-68: Cheyenne∈Wyoming, Denver∈Colorado).

``polygon_cells`` turns a (small) polygon layer into its cell-cover
relation — the broadcast side of the spatial join: one row per
(polygon, covering cell), tagged ``is_full`` for cells provably interior
(those skip the exact PIP refine); the other planar cells carry the edges
the refine ray-casts against. ``distributed_cells`` builds the same rows
executor-side for a layer too big to collect. ``layer_cover`` is the same
cover as sorted numpy arrays, for the polygon-vs-layer joins that look
cells up per Arrow batch instead of joining.
"""

from __future__ import annotations

from typing import Dict, List, NamedTuple, Tuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..geo import cells as cellmod
from ..geo import wkt as wktmod
from ..session import local_df

#: verbatim from /root/reference/wy-co-wkt-bigquery.csv
WYOMING_WKT = (
    "POLYGON ((-111.020843268199 44.9981946924588,-111.020843268199 "
    "41.0013336343981,-104.052453769699 41.0013336343981,-104.052453769699 "
    "44.9981946924588,-111.020843268199 44.9981946924588))"
)
COLORADO_WKT = (
    "POLYGON ((-109.042545474199 41.0034439410838,-109.042545474199 "
    "36.9963964708165,-102.041551293899 36.9963964708165,-102.041551293899 "
    "41.0034439410838,-109.042545474199 41.0034439410838))"
)

FIXTURE_POLYGONS: List[Tuple[int, str, str]] = [
    (1, "Wyoming", WYOMING_WKT),
    (2, "Colorado", COLORADO_WKT),
]


def fixture_layer(spark: SparkSession) -> DataFrame:
    """The reference's two-state polygon layer as a DataFrame."""
    return local_df(spark, FIXTURE_POLYGONS,
                    ["polygon_id", "name", "wkt"])


def grid_layer(
    spark: SparkSession,
    nx: int = 8,
    ny: int = 8,
    bbox: Tuple[float, float, float, float] = (-130.0, 20.0, -60.0, 55.0),
    hole_every: int = 10,
) -> DataFrame:
    """Synthetic nx*ny grid of polygons over ``bbox``; every ``hole_every``-th
    cell carries a centered hole (exercises ring assembly + hole semantics,
    FIXTURES.md §2 scale variant)."""
    rows = []
    w = (bbox[2] - bbox[0]) / nx
    h = (bbox[3] - bbox[1]) / ny
    pid = 1000
    for iy in range(ny):
        for ix in range(nx):
            x0 = bbox[0] + ix * w
            y0 = bbox[1] + iy * h
            x1, y1 = x0 + w, y0 + h
            rings = [
                [[x0, y0], [x0, y1], [x1, y1], [x1, y0], [x0, y0]]
            ]
            if hole_every and pid % hole_every == 0:
                cx0, cy0 = x0 + w * 0.4, y0 + h * 0.4
                cx1, cy1 = x0 + w * 0.6, y0 + h * 0.6
                rings.append(
                    [[cx0, cy0], [cx1, cy0], [cx1, cy1], [cx0, cy1],
                     [cx0, cy0]]
                )
            geom = dict(type="Polygon", coordinates=rings)
            rows.append((pid, "grid_%d_%d" % (ix, iy), wktmod.dumps(geom)))
            pid += 1
    return local_df(spark, rows, ["polygon_id", "name", "wkt"])


def polygon_rings(polygon_id, wkt: str) -> list:
    """The rings of one polygon layer row's WKT, a MultiPolygon's parts
    flattened together (even-odd safe). Any other type raises."""
    geom = wktmod.loads(wkt)
    if geom["type"] == "Polygon":
        return geom["coordinates"]
    if geom["type"] == "MultiPolygon":
        return [r for poly in geom["coordinates"] for r in poly]
    raise ValueError("polygon layer row %s has non-polygon type %s"
                     % (polygon_id, geom["type"]))


def load_rings(polygons: DataFrame) -> Dict[int, dict]:
    """Collect a SMALL polygon layer to the driver as
    {polygon_id: {"name", "rings"}}. Polygon layers are the dimension side
    of the join (thousands of rows, not 10^12) — collecting them is the
    broadcast-hash-join pattern, not a scalability leak."""
    return {
        int(pid): {"name": name, "rings": polygon_rings(pid, wkt)}
        for pid, name, wkt in polygons.select(
            "polygon_id", "name", "wkt").collect()
    }


_EDGE = StructType([
    StructField(f, DoubleType()) for f in ("x0", "y0", "x1", "y1")
])

_CELLS_SCHEMA = StructType(
    [
        StructField("polygon_id", LongType(), False),
        StructField("name", StringType(), True),
        StructField("cell_id", LongType(), False),
        StructField("is_full", BooleanType(), False),
        StructField("_edges_k", IntegerType(), True),
        StructField("_edges", ArrayType(ArrayType(_EDGE)), True),
    ]
)


class LayerCover(NamedTuple):
    """A layer's cell cover as numpy arrays sorted by ``cell_id`` — the
    shape the per-batch candidate stage looks cells up in with
    ``searchsorted``. Small enough to ship in a kernel's closure."""

    cell_id: np.ndarray      # int64, ascending
    polygon_id: np.ndarray   # int64
    is_full: np.ndarray      # bool: the cell is provably interior


def _cover_rows(rings_list: List[list], res: int, edges: str):
    """(row polygon index, cell ids, is_full) over every polygon's
    ``cells.polygon_cover``, in layer order."""
    poly, cids, fulls = [], [], []
    for i, rings in enumerate(rings_list):
        for cid, full in cellmod.polygon_cover(rings, res, edges=edges):
            poly.append(i)
            cids.append(cid)
            fulls.append(full)
    return (np.asarray(poly, dtype=np.int64),
            np.asarray(cids, dtype=np.int64),
            np.asarray(fulls, dtype=bool))


def layer_cover(rings_by_id: Dict[int, dict], res: int,
                edges: str = "planar") -> LayerCover:
    """The layer's cover at ``res`` as sorted arrays (no edge lists, no
    DataFrame): the driver side of the polygon-vs-layer joins."""
    poly, cids, full = _cover_rows(
        [info["rings"] for info in rings_by_id.values()], res, edges)
    pids = np.fromiter(rings_by_id, dtype=np.int64,
                       count=len(rings_by_id))
    order = np.argsort(cids, kind="stable")
    return LayerCover(cids[order], pids[poly[order]], full[order])


def cells_table(polys: List[Tuple[int, str, list]], res: int,
                edges: str = "planar") -> pa.Table:
    """The cell cover of ``(polygon_id, name, rings)`` rows at ``res`` as
    an Arrow table of ``_CELLS_SCHEMA``: one row per (polygon row,
    covering cell). ``edges`` selects the planar (reference) or geodesic
    edge interpretation.

    A planar boundary cell (``is_full`` false) also carries its local
    geometry for the JVM refine in ``spatial_join``: ``_edges`` holds
    ``4**_edges_k`` child edge lists (``geo.cells.cell_edge_lists``) —
    one list unless the cell is dense enough to split. Full cells and
    geodesic covers carry NULL. A polygon's lists do not depend on the
    other rows, so any split of a layer into batches builds the same
    rows."""
    rings_list = [rings for _pid, _name, rings in polys]
    poly, cids, full = _cover_rows(rings_list, res, edges)
    has = ~full if edges == "planar" else np.zeros(len(cids), dtype=bool)
    k, sizes, x0, y0, x1, y1 = cellmod.cell_edge_lists(
        rings_list, poly[has], cids[has], res,
    )
    k_row = np.zeros(len(cids), dtype=np.int32)
    k_row[has] = k
    n_lists = np.where(has, np.int64(1) << (2 * k_row), 0)
    lists = pa.ListArray.from_arrays(
        pa.array(np.r_[0, np.cumsum(sizes)], pa.int32()),
        pa.StructArray.from_arrays(
            [pa.array(a, pa.float64()) for a in (x0, y0, x1, y1)],
            names=["x0", "y0", "x1", "y1"],
        ),
    )
    return pa.table({
        "polygon_id": pa.array([polys[i][0] for i in poly], pa.int64()),
        "name": pa.array([polys[i][1] for i in poly], pa.string()),
        "cell_id": pa.array(cids, pa.int64()),
        "is_full": pa.array(full, pa.bool_()),
        "_edges_k": pa.array(k_row, mask=~has),
        "_edges": pa.ListArray.from_arrays(
            pa.array(np.r_[0, np.cumsum(n_lists)], pa.int32()), lists,
            mask=pa.array(~has),
        ),
    })


def polygon_cells(
    spark: SparkSession, rings_by_id: Dict[int, dict], res: int,
    edges: str = "planar",
) -> DataFrame:
    """Explode a collected layer to its covering cells at ``res`` ->
    broadcastable (polygon_id, name, cell_id, is_full, _edges_k, _edges)
    relation (``cells_table``)."""
    return spark.createDataFrame(cells_table(
        [(pid, info["name"], info["rings"])
         for pid, info in rings_by_id.items()], res, edges,
    ), schema=_CELLS_SCHEMA)


def distributed_cells(polygons: DataFrame, res: int,
                      edges: str = "planar") -> DataFrame:
    """``polygon_cells`` of a layer too big to collect: one
    ``mapInArrow`` over its (polygon_id, name, wkt) rows builds
    ``cells_table`` per Arrow batch, with the same rows."""

    def kernel(batches):
        for batch in batches:
            pids, names, wkts = (batch.column(c).to_pylist()
                                 for c in ("polygon_id", "name", "wkt"))
            yield from cells_table([
                (pid, name, polygon_rings(pid, wkt))
                for pid, name, wkt in zip(pids, names, wkts)
            ], res, edges).to_batches()

    return polygons.select("polygon_id", "name", "wkt").mapInArrow(
        kernel, _CELLS_SCHEMA)
