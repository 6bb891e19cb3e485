"""The polygon-vs-layer joins' per-batch candidate stage
(``spatial_join.candidate_cells`` / ``candidate_pairs``): bitwise against
the Spark column plan it replaced, and the three joins built on it
(clip, erase, distance) against brute force over every (probe, layer
polygon) pair."""

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from pure_python_geospatial_export_spark.functions.geom_udfs import (
    grid_xy_cols,
)
from pure_python_geospatial_export_spark.geo import kernels, overlay
from pure_python_geospatial_export_spark.geo import wkt as wktmod
from pure_python_geospatial_export_spark.geo.dist import rings_min_dist2
from pure_python_geospatial_export_spark.operators.spatial_join import (
    _grid,
    candidate_cells,
    candidate_pairs,
)
from pure_python_geospatial_export_spark.sources.polygons import (
    LayerCover,
    layer_cover,
    load_rings,
)

RES = 4
N = 1 << RES
INF = math.inf


def _bits(v):
    return struct.pack("<d", v)


def _grid_lines():
    """Every grid line at RES and one ulp either side, in lon and lat."""
    out = []
    for g in range(N + 1):
        for v in (g / N * 360.0 - 180.0, g / N * 180.0 - 90.0):
            out += [v, math.nextafter(v, -INF), math.nextafter(v, INF)]
    return out


SPECIAL = _grid_lines() + [
    0.0, -0.0, 180.0, -180.0, 90.0, -90.0, 200.0, -200.0, 95.0, -95.0,
    1e300, -1e300, INF, -INF, 5e-324, -5e-324,
]


def _corpus(seed=17, n=700):
    """Seeded bboxes (xmin <= xmax, ymin <= ymax) drawn from the special
    doubles and uniform values; points, horizontal and vertical lines;
    then rows with NaN in exactly one ordinate."""
    rng = np.random.default_rng(seed)
    pool = np.array(SPECIAL)

    def draw():
        if rng.random() < 0.6:
            return float(pool[rng.integers(len(pool))])
        return float(rng.uniform(-200.0, 200.0))

    rows = []
    for i in range(n):
        x0, x1 = sorted([draw(), draw()])
        y0, y1 = sorted([draw(), draw()])
        kind = i % 5
        if kind == 0:      # point bbox
            x1, y1 = x0, y0
        elif kind == 1:    # horizontal line
            y1 = y0
        elif kind == 2:    # vertical line
            x1 = x0
        rows.append((x0, y0, x1, y1))
    rows += [(-0.0, -0.0, 0.0, 0.0), (-INF, -INF, INF, INF),
             (-1e300, 90.0, 1e300, 90.0), (180.0, -90.0, 180.0, -90.0)]
    for j in range(4):
        for _ in range(12):
            r = list(rows[int(rng.integers(len(rows)))])
            r[j] = math.nan
            rows.append(tuple(r))
    return np.array(rows, dtype=np.float64)


def _world_cover(seed=5):
    """Two polygons: id 1 covers every cell at RES, id 2 a random half;
    is_full random. A cover of every cell makes the joined column plan
    enumerate the whole grid window."""
    rng = np.random.default_rng(seed)
    gx, gy = np.meshgrid(np.arange(N), np.arange(N))
    cells = RES * (1 << 58) + gx.ravel() * (1 << 29) + gy.ravel()
    half = cells[rng.random(len(cells)) < 0.5]
    cid = np.concatenate([cells, half]).astype(np.int64)
    pid = np.concatenate([np.full(len(cells), 1), np.full(len(half), 2)])
    full = rng.random(len(cid)) < 0.5
    order = np.argsort(cid, kind="stable")
    return LayerCover(cid[order], pid[order].astype(np.int64), full[order])


def _spark_doubles(spark, b):
    df = spark.createDataFrame(
        [(i,) + tuple(float(v) for v in r) for i, r in enumerate(b)],
        "row long, xmin double, ymin double, xmax double, ymax double",
    )
    back = sorted(df.collect(), key=lambda r: r["row"])
    # the corpus must reach the JVM bit for bit (NaN, -0.0, inf)
    assert [tuple(_bits(v) for v in r[1:]) for r in back] == [
        tuple(_bits(v) for v in r) for r in b
    ]
    return df


def _spark_candidates(df, cover_df, pad):
    """The column plan the candidate stage replaced: grid_xy_cols over
    the padded bbox, two sequence explodes, the cover equi-join and the
    shortcut columns over the UNpadded bbox."""
    gx0, gy0 = grid_xy_cols(F.col("xmin") - F.lit(pad),
                            F.col("ymin") - F.lit(pad), RES)
    gx1, gy1 = grid_xy_cols(F.col("xmax") + F.lit(pad),
                            F.col("ymax") + F.lit(pad), RES)
    cand = (
        df.withColumn("_gx", F.explode(F.sequence(gx0, gx1)))
        .withColumn("_gy", F.explode(F.sequence(gy0, gy1)))
        .withColumn(
            "cell_id",
            (F.lit(RES * (2 ** 58)) + F.col("_gx") * F.lit(2 ** 29)
             + F.col("_gy")).cast("long"),
        )
    )
    n = float(N)
    cx0 = F.col("_gx").cast("double") / F.lit(n) * 360.0 - 180.0
    cx1 = (F.col("_gx") + 1).cast("double") / F.lit(n) * 360.0 - 180.0
    cy0 = F.col("_gy").cast("double") / F.lit(n) * 180.0 - 90.0
    cy1 = (F.col("_gy") + 1).cast("double") / F.lit(n) * 180.0 - 90.0
    sure = (
        F.col("is_full")
        & (F.col("xmin") >= cx0) & (F.col("xmax") <= cx1)
        & (F.col("ymin") >= cy0) & (F.col("ymax") <= cy1)
    )
    out = cand.join(cover_df, "cell_id").select(
        "row", "cell_id", "polygon_id", sure.alias("sure"))
    return {(r[0], r[1], r[2], r[3]) for r in out.collect()}


def test_grid_matches_grid_xy_cols_bitwise(spark):
    vals = np.array(SPECIAL + [math.nan], dtype=np.float64)
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    gx, gy = grid_xy_cols(F.col("v"), F.col("v"), RES)
    got = df.select(gx.alias("x"), gy.alias("y")).collect()
    assert [r["x"] for r in got] == _grid(vals, 180.0, 360.0, N).tolist()
    assert [r["y"] for r in got] == _grid(vals, 90.0, 180.0, N).tolist()
    # the float clamp matters: cells.cell_xy casts first and sends +inf
    # to cell 0, where Spark's FLOOR saturates it to the top cell
    assert _grid(np.array([INF]), 180.0, 360.0, N)[0] == N - 1


@pytest.mark.parametrize("pad", [0.0, 7.3, 360.0 / N])
def test_candidate_cells_match_column_plan(spark, pad):
    b = _corpus()
    cover = _world_cover()
    cover_df = spark.createDataFrame(
        [(int(c), int(p), bool(f)) for c, p, f in zip(*cover)],
        "cell_id long, polygon_id long, is_full boolean",
    )
    want = _spark_candidates(_spark_doubles(spark, b), cover_df, pad)
    row, k, sure = candidate_cells(b, cover, RES, pad)
    got = {
        (int(r), int(cover.cell_id[j]), int(cover.polygon_id[j]), bool(s))
        for r, j, s in zip(row, k, sure)
    }
    assert len(got) == len(row)  # no (row, cover entry) twice
    nan_rows = set(np.flatnonzero(np.isnan(b).any(axis=1)).tolist())
    # FLOOR(NaN) is 0 in Spark, so the column plan gives NaN rows cells;
    # the candidate stage drops every row with a NaN bound
    assert {t[0] for t in want} & nan_rows
    assert not {t[0] for t in got} & nan_rows
    assert got == {t for t in want if t[0] not in nan_rows}
    assert any(t[3] for t in got) and not all(t[3] for t in got)

    # pairs: one per (row, polygon), sure OR-ed over the pair's cells
    prow, ppid, psure = candidate_pairs(b, cover, RES, pad)
    pairs = {}
    for r, _c, p, s in got:
        pairs[(r, p)] = pairs.get((r, p), False) or s
    assert dict(zip(zip(prow.tolist(), ppid.tolist()),
                    psure.tolist())) == pairs
    assert len(prow) == len(pairs)
    assert np.all(np.diff(prow) >= 0)


def _rect_wkt(x0, y0, x1, y1):
    return ("POLYGON ((%r %r, %r %r, %r %r, %r %r, %r %r))"
            % (x0, y0, x1, y0, x1, y1, x0, y1, x0, y0))


LAYER = [
    (1, "big", _rect_wkt(-40, -30, 40, 30)),
    (2, "donut", "POLYGON ((50 -20, 90 -20, 90 20, 50 20, 50 -20), "
                 "(60 -10, 60 10, 80 10, 80 -10, 60 -10))"),
    (3, "east", _rect_wkt(100, -10, 130, 10)),
]
LAYER_RES = 5


@pytest.fixture(scope="module")
def layer(spark):
    return spark.createDataFrame(
        LAYER, "polygon_id long, name string, wkt string")


@pytest.fixture(scope="module")
def probes():
    """Integer-lattice rects: random ones, plus small rects deep inside
    'big' (full cells at LAYER_RES, so the shortcut path runs), inside
    the donut hole, and malformed."""
    rng = np.random.default_rng(29)
    out = []
    for i in range(90):
        x0 = int(rng.integers(-60, 135))
        y0 = int(rng.integers(-40, 35))
        w, h = (int(v) for v in rng.integers(1, 16, 2))
        out.append((i, _rect_wkt(x0, y0, x0 + w, y0 + h)))
    for i in range(20):
        x0 = int(rng.integers(-30, 28))
        y0 = int(rng.integers(-20, 18))
        out.append((200 + i, _rect_wkt(x0, y0, x0 + 1, y0 + 1)))
    out += [(300, _rect_wkt(65, -5, 70, 5)), (301, "POLYGON ((oops"),
            (302, None)]
    return out


def _shortcut_pairs(probes):
    """(probe id, polygon id) pairs the full-cell shortcut answers, from
    the stage itself."""
    rings = {pid: {"name": n, "rings": wktmod.loads(w)["coordinates"]}
             for pid, n, w in LAYER}
    b = wktmod.bounds_batch([w for _i, w in probes])
    row, pid, sure = candidate_pairs(b, layer_cover(rings, LAYER_RES),
                                     LAYER_RES)
    return {(probes[r][0], int(p)) for r, p in zip(row[sure], pid[sure])}


def _probe_df(spark, probes):
    return spark.createDataFrame(probes, "probe_id long, wkt string")


def _parsed(probes):
    out = {}
    for i, w in probes:
        try:
            out[i] = wktmod.loads(w)["coordinates"]
        except Exception:
            pass
    return out


def test_clip_join_matches_all_pairs_bruteforce(spark, layer, probes):
    from pure_python_geospatial_export_spark.operators.clip import (
        clip_join,
    )
    from pure_python_geospatial_export_spark.operators.dissolve import (
        overlay_geometry_dict,
    )

    assert len(_shortcut_pairs(probes)) >= 10
    got = {
        (r["probe_id"], r["polygon_id"]): (r["area"], r["wkt"])
        for r in clip_join(_probe_df(spark, probes), layer,
                           res=LAYER_RES).collect()
    }
    want = {}
    rings = load_rings(layer)
    for i, pr in _parsed(probes).items():
        for pid, info in rings.items():
            out = overlay.overlay_polygons([pr], [info["rings"]],
                                           "intersection")
            if out:
                want[(i, pid)] = (overlay.union_area(out),
                                  wktmod.dumps(overlay_geometry_dict(out)))
    assert got == want and want


def test_erase_join_matches_all_pairs_bruteforce(spark, layer, probes):
    from pure_python_geospatial_export_spark.operators.clip import (
        erase_join,
    )

    shortcut = {i for i, _pid in _shortcut_pairs(probes)}
    got = {r["probe_id"]: r["area"]
           for r in erase_join(_probe_df(spark, probes), layer,
                               res=LAYER_RES).collect()}
    rings = load_rings(layer)
    want = {}
    for i, pr in _parsed(probes).items():
        out = overlay.overlay_polygons(
            [pr], [info["rings"] for info in rings.values()],
            "difference")
        if out:
            want[i] = overlay.union_area(out)
    assert got == want
    assert not shortcut & set(got)
    assert want[300] == 50.0  # wholly in the donut hole: untouched


def test_distance_join_matches_all_pairs_bruteforce(spark, layer, probes):
    from pure_python_geospatial_export_spark.operators.distance import (
        polygon_distance_join,
    )

    d = 9.0
    got = {
        (r["probe_id"], r["polygon_id"]): (r["dist2"], r["dist"])
        for r in polygon_distance_join(
            _probe_df(spark, probes), layer, max_dist=d, res=LAYER_RES
        ).collect()
    }
    rings = load_rings(layer)
    want = {}
    for i, pr in _parsed(probes).items():
        for pid, info in rings.items():
            lr = info["rings"]
            d2 = (0.0 if kernels.polygons_intersect(pr, lr)
                  else rings_min_dist2(pr, lr))
            if d2 <= d * d:
                want[(i, pid)] = (d2, math.sqrt(d2))
    assert got == want
    assert any(v[0] > 0.0 for v in want.values())
    assert all(got[p] == (0.0, 0.0) for p in _shortcut_pairs(probes))


def test_repeated_and_null_ids_are_answered_per_row(spark, layer):
    from pure_python_geospatial_export_spark.operators.clip import (
        clip_join,
        erase_join,
    )
    from pure_python_geospatial_export_spark.operators.distance import (
        polygon_distance_join,
    )
    from pure_python_geospatial_export_spark.operators.spatial_join import (
        polygon_overlap_join,
    )

    probes = _probe_df(spark, [
        (5, _rect_wkt(0, 0, 2, 2)),          # inside 'big'
        (5, _rect_wkt(110, -2, 112, 2)),     # inside 'east'
        (None, _rect_wkt(120, 0, 140, 4)),   # straddles 'east'
        (None, _rect_wkt(-10, 0, -8, 2)),    # inside 'big'
    ])
    assert sorted(
        (r["probe_id"] or -1, r["polygon_id"])
        for r in polygon_overlap_join(probes, layer,
                                      res=LAYER_RES).collect()
    ) == [(-1, 1), (-1, 3), (5, 1), (5, 3)]
    assert sorted(
        (r["probe_id"] or -1, r["polygon_id"], r["area"])
        for r in clip_join(probes, layer, res=LAYER_RES).collect()
    ) == [(-1, 1, 4.0), (-1, 3, 40.0), (5, 1, 4.0), (5, 3, 8.0)]
    assert sorted(
        (r["probe_id"] or -1, r["area"])
        for r in erase_join(probes, layer, res=LAYER_RES).collect()
    ) == [(-1, 40.0)]
    assert sorted(
        (r["probe_id"] or -1, r["polygon_id"])
        for r in polygon_distance_join(probes, layer, 0.0,
                                       res=LAYER_RES).collect()
    ) == [(-1, 1), (-1, 3), (5, 1), (5, 3)]


def test_bigint_ids_beside_a_null_stay_exact(spark, layer):
    """An id above 2**53 in the same Arrow batch as a NULL id comes
    back exact (a pandas hop would make the column float64)."""
    from pure_python_geospatial_export_spark.operators.clip import (
        erase_join,
    )
    from pure_python_geospatial_export_spark.operators.spatial_join import (
        polygon_overlap_join,
    )

    big = 2**53 + 1
    probes = _probe_df(spark, [
        (big, _rect_wkt(0, 0, 2, 2)),        # inside 'big'
        (None, _rect_wkt(-10, 0, -8, 2)),    # inside 'big'
        (big, _rect_wkt(140, 0, 142, 2)),    # off the layer
    ]).coalesce(1)
    assert probes.rdd.getNumPartitions() == 1
    got = [r["probe_id"]
           for r in polygon_overlap_join(probes, layer,
                                         res=LAYER_RES).collect()]
    assert sorted(got, key=lambda v: v or -1) == [None, big]
    assert [r["probe_id"]
            for r in erase_join(probes, layer,
                                res=LAYER_RES).collect()] == [big]
