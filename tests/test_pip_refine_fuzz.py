"""Bitwise fuzz of the JVM boundary refine in ``spatial_join``.

For every candidate row of the cell join (a point and a polygon whose
cover holds the point's cell), the planar join must keep the row exactly
when the cell is full or ``kernels.points_in_polygon`` says inside — row
for row, on a seeded corpus of adversarial points: vertices, horizontal
and vertical edges, grid lines and one ulp either side, signed zeros,
clamped and out-of-world ordinates, infinities and NaN.
"""

import numpy as np
import pyarrow as pa
import pytest

import __spark_entry__ as em
from pure_python_geospatial_export_spark.geo import cells, kernels
from pure_python_geospatial_export_spark.operators.spatial_join import (
    points_with_cell,
    spatial_join,
    spatial_join_big_layer,
)
from pure_python_geospatial_export_spark.sources.polygons import (
    distributed_cells,
    load_rings,
    polygon_cells,
)

SEED = 20261018


def star_ring(n_vertices, cx=-100.0, cy=40.0, lobes=37):
    """Closed ring r = 10 + 2 sin(lobes * a) around (cx, cy)."""
    a = np.linspace(0.0, 2.0 * np.pi, n_vertices, endpoint=False)
    r = 10.0 + 2.0 * np.sin(lobes * a)
    ring = np.column_stack([cx + r * np.cos(a), cy + r * np.sin(a)])
    return np.vstack([ring, ring[:1]]).tolist()


def _layer(spark, polys):
    from pure_python_geospatial_export_spark.geo import wkt as wktmod
    from pure_python_geospatial_export_spark.session import local_df

    rows = [
        (pid, name, wktmod.dumps(dict(type="Polygon", coordinates=rings)))
        for pid, name, rings in polys
    ]
    return local_df(spark, rows, ["polygon_id", "name", "wkt"])


def _points(spark, x, y):
    # built from Arrow directly: a pandas round trip would turn NaN into
    # NULL, and the fuzz needs real NaN ordinates
    return spark.createDataFrame(pa.table({
        "pt_id": pa.array(np.arange(len(x), dtype=np.int64)),
        "lon": pa.array(np.asarray(x, dtype=np.float64)),
        "lat": pa.array(np.asarray(y, dtype=np.float64)),
    }))


def _corpus(rings_by_id, res, n_random, rng):
    """Seeded adversarial points around every polygon of the layer."""
    xs, ys = [], []
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    for info in rings_by_id.values():
        for ring in kernels.expand_antimeridian_rings(info["rings"]):
            xs.append(ring[:, 0])                       # vertices
            ys.append(ring[:, 1])
            mid = (ring[:-1] + ring[1:]) / 2.0           # on every edge
            xs.append(mid[:, 0])
            ys.append(mid[:, 1])
            # on horizontal / vertical edges away from their midpoints
            q = ring[:-1] + (ring[1:] - ring[:-1]) * 0.25
            xs.append(q[:, 0])
            ys.append(q[:, 1])
        arr = np.concatenate([np.asarray(r, dtype=np.float64)[:, :2]
                              for r in kernels.expand_antimeridian_rings(
                                  info["rings"])])
        x0, y0 = arr.min(axis=0)
        x1, y1 = arr.max(axis=0)
        # grid lines through the polygon's bbox, exact and one ulp off
        gx = -180.0 + np.arange(np.floor((x0 + 180.0) / w) - 1,
                                np.floor((x1 + 180.0) / w) + 2) * w
        gy = -90.0 + np.arange(np.floor((y0 + 90.0) / h) - 1,
                               np.floor((y1 + 90.0) / h) + 2) * h
        for lines, lo, hi, on_x in ((gx, y0, y1, True),
                                    (gy, x0, x1, False)):
            for v in (lines, np.nextafter(lines, -np.inf),
                      np.nextafter(lines, np.inf)):
                t = rng.uniform(lo, hi, len(v))
                xs.append(v if on_x else t)
                ys.append(t if on_x else v)
        # grid line crossings: both ordinates on a grid line
        mx, my = np.meshgrid(gx[:40], gy[:40])
        xs.append(mx.ravel())
        ys.append(my.ravel())
        # uniform points in a margin around the bbox
        pad_x, pad_y = (x1 - x0) * 0.1 + w, (y1 - y0) * 0.1 + h
        xs.append(rng.uniform(x0 - pad_x, x1 + pad_x, n_random))
        ys.append(rng.uniform(y0 - pad_y, y1 + pad_y, n_random))
    special = np.array([
        (0.0, 0.0), (-0.0, 0.0), (0.0, -0.0), (-0.0, -0.0),
        (180.0, 45.0), (-180.0, 45.0), (180.0, 90.0), (-180.0, -90.0),
        (-100.0, 90.0), (-100.0, -90.0), (170.0, -90.0), (-170.0, 90.0),
        (200.0, 30.0), (-200.0, 30.0), (-100.0, 95.0), (-100.0, -95.0),
        (540.0, 60.0), (-540.0, -80.0), (1e300, 1e300),
        (np.inf, 40.0), (-np.inf, 40.0), (-100.0, np.inf),
        (-100.0, -np.inf),
        (np.nan, 40.0), (-100.0, np.nan), (np.nan, np.nan),
        (np.nan, -80.0), (-179.0, np.nan),
    ])
    xs.append(special[:, 0])
    ys.append(special[:, 1])
    # signed zeros against the edges on the zero lines of "zeros"
    t = np.r_[rng.uniform(-1.0, 11.0, 50), 0.0, 5.0, 10.0]
    for zx, zy in ((0.0, None), (-0.0, None), (None, 0.0), (None, -0.0)):
        xs.append(np.full(len(t), zx) if zx is not None else t)
        ys.append(np.full(len(t), zy) if zy is not None else t)
    return np.concatenate(xs), np.concatenate(ys)


def _check_layer(spark, polys, res, n_random=3000, strategy="broadcast"):
    rng = np.random.default_rng(SEED + res)
    layer = _layer(spark, polys)
    rings_by_id = load_rings(layer)
    x, y = _corpus(rings_by_id, res, n_random, rng)
    pts = _points(spark, x, y)
    cover = polygon_cells(spark, rings_by_id, res)

    cand = (
        points_with_cell(pts, res).join(cover, "cell_id")
        .select("pt_id", "polygon_id", "is_full").toPandas()
    )
    expected = set()
    for pid, grp in cand.groupby("polygon_id"):
        ids = grp["pt_id"].to_numpy()
        inside = kernels.points_in_polygon(
            x[ids], y[ids], rings_by_id[int(pid)]["rings"])
        keep = grp["is_full"].to_numpy() | inside
        expected |= {(int(i), int(pid)) for i in ids[keep]}

    if strategy == "big_layer":
        out = spatial_join_big_layer(pts, layer, res=res)
    else:
        out = spatial_join(pts, layer, res=res, strategy=strategy,
                           hot_cell_threshold=5,
                           cover=cover if strategy == "broadcast" else None)
    got_rows = out.select("pt_id", "polygon_id").collect()
    got = {(int(r[0]), int(r[1])) for r in got_rows}
    assert len(got) == len(got_rows)
    missing = sorted(expected - got)[:10]
    extra = sorted(got - expected)[:10]
    assert got == expected, (
        "missing", [(i, x[i], y[i]) for i, _ in missing],
        "extra", [(i, x[i], y[i]) for i, _ in extra])
    return cand, x, y


def _bench_polys():
    polys = []
    for pid, name, outer, hole in em._rects():
        rings = [em._rect_ring(*outer)]
        if hole:
            rings.append(em._rect_ring(*hole))
        polys.append((pid, name, rings))
    return polys


@pytest.mark.parametrize("res", [7, 8])
def test_bench_layer_matches_kernel(spark, res):
    _check_layer(spark, _bench_polys(), res)


def test_salted_strategy_matches_kernel(spark):
    _check_layer(spark, _bench_polys(), 7, n_random=1000,
                 strategy="shuffle_salted")


def test_dense_star_with_split_cells_matches_kernel(spark):
    """A 2k-vertex star at res 4: its boundary cells hold hundreds of
    edges each, so they split into child lists (k > 0)."""
    ring = star_ring(2000)
    k, *_ = cells.cell_edge_lists(
        [[ring]], np.zeros(4, dtype=np.int64),
        np.array([c for c, f in cells.polygon_cover([ring], 4)
                  if not f][:4], dtype=np.int64), 4)
    assert (k > 0).all()
    _check_layer(spark, [(7, "star", [ring])], 4, n_random=6000)


def _holes_polys():
    from pure_python_geospatial_export_spark.geo import wkt as wktmod

    seam = wktmod.loads(em.ANTIMERIDIAN_WKT)["coordinates"]
    caps = [(pid, name, wktmod.loads(w)["coordinates"])
            for pid, name, w in em.POLAR_CAP_WKTS]
    return [
        (10, "seam_band", seam),
        (11, "holed", [[[-20, -20], [20, -20], [20, 20], [-20, 20],
                        [-20, -20]],
                       [[-5, -5], [-5, 5], [5, 5], [5, -5], [-5, -5]]]),
        # open ring: the kernel's per-ring bbox prefilter decides
        (12, "open", [[[30, 0], [40, 0], [40, 10], [35, 12], [30, 10]]]),
        (14, "zeros", [[[0, 0], [10, 0], [0, 10], [0, 0]]]),
        # ordinates beyond the world (no edge jumps 180, so no seam
        # split): points past them clamp into the border cells
        (15, "beyond", [[[175, 10], [195, 10], [195, 20], [185, 15],
                         [175, 20], [175, 10]]]),
        (16, "over_pole", [[[-60, 80], [-50, 80], [-50, 95], [-55, 85],
                            [-60, 95], [-60, 80]]]),
        # a corner triangle whose cell (0, 0) is a boundary cell: NaN
        # ordinates land there (the grid floor of NaN is 0)
        (13, "corner", [[[-180, -90], [-170, -90], [-180, -80],
                         [-180, -90]]]),
    ] + [(pid + 20, name, rings) for pid, name, rings in caps]


def test_holes_seams_caps_and_open_rings_match_kernel(spark):
    polys = _holes_polys()
    cand, x, y = _check_layer(spark, polys, 6)

    # NaN: Spark orders NaN above every double while numpy compares it
    # false, but the ray-cast only asks `edge >= point`, false under
    # both, so a NaN point crosses nothing and a boundary cell drops it;
    # only a full cell (which passes by containment) keeps it
    ids = cand["pt_id"].to_numpy()
    nan = cand[np.isnan(x[ids]) | np.isnan(y[ids])]
    assert (nan["polygon_id"] == 13).any()
    assert not nan[nan["polygon_id"] == 13]["is_full"].any()


@pytest.mark.parametrize("layer,res,n_random", [
    ("bench", 7, 3000), ("star", 4, 6000), ("holes", 6, 3000),
])
def test_big_layer_matches_kernel(spark, layer, res, n_random):
    polys = {"bench": _bench_polys, "holes": _holes_polys,
             "star": lambda: [(7, "star", [star_ring(2000)])]}[layer]()
    _check_layer(spark, polys, res, n_random, strategy="big_layer")


def _cells_arrow(df):
    return df.toArrow().sort_by([("polygon_id", "ascending"),
                                 ("cell_id", "ascending")])


@pytest.mark.parametrize("partitions", [1, 5])
def test_distributed_cells_equal_polygon_cells(spark, partitions):
    """The executor-built cover, built per Arrow batch of any split of
    the layer, is ``polygon_cells`` row for row, edges bitwise."""
    polys = [(7, "star", [star_ring(2000)])] + _holes_polys()
    layer = _layer(spark, polys)
    want = _cells_arrow(polygon_cells(spark, load_rings(layer), 6))
    got = _cells_arrow(distributed_cells(layer.repartition(partitions), 6))
    assert got.num_rows == want.num_rows > 0
    for name in ("polygon_id", "name", "cell_id", "is_full", "_edges_k"):
        assert got[name].equals(want[name]), name
    g, w = (t["_edges"].combine_chunks() for t in (got, want))
    assert g.is_null().equals(w.is_null())
    assert g.offsets.equals(w.offsets)
    assert g.flatten().offsets.equals(w.flatten().offsets)
    for f in ("x0", "y0", "x1", "y1"):
        gv, wv = (a.flatten().flatten().field(f).to_numpy()
                  for a in (g, w))
        assert np.array_equal(gv.view(np.int64), wv.view(np.int64)), f


def test_dense_tail_lists_stay_bounded(spark):
    """A 20k-vertex star at res 7 (boundary cells of ~2.5k edges each
    before the split): no edge list the refine can pick exceeds the
    bound, and containment of 20k seeded points equals the kernel."""
    from pyspark.sql import functions as F

    ring = star_ring(20_000)
    layer = _layer(spark, [(1, "star", [ring])])
    rings_by_id = load_rings(layer)
    cover = polygon_cells(spark, rings_by_id, 7)
    longest = cover.select(F.explode("_edges").alias("l")).agg(
        F.max(F.size("l"))).first()[0]
    assert 0 < longest <= cells.EDGE_LIST_BOUND

    rng = np.random.default_rng(SEED)
    x = rng.uniform(-114.0, -86.0, 20_000)
    y = rng.uniform(26.0, 54.0, 20_000)
    got = {
        int(r[0]) for r in spatial_join(
            _points(spark, x, y), layer, res=7, rings_by_id=rings_by_id,
            cover=cover).select("pt_id").collect()
    }
    inside = kernels.points_in_polygon(x, y, [ring])
    assert got == set(np.flatnonzero(inside).tolist())
