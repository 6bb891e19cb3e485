"""E2E Spark tests: derived points, spatial join, tiles, kNN — each checked
against an independent pure-Python/numpy oracle (the reference test suite's
oracle pattern, ref ppge-tests/test-ppge.py:43-68).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pure_python_geospatial_export_spark.functions.points import (
    derive_point_py,
    with_point,
)
from pure_python_geospatial_export_spark.geo import cells, kernels
from pure_python_geospatial_export_spark.geo import wkt as wktmod
from pure_python_geospatial_export_spark.operators.knn import (
    knn_exact,
    knn_join,
    knn_join_complete,
)
from pure_python_geospatial_export_spark.operators.spatial_join import (
    spatial_join,
    spatial_join_big_layer,
)
from pure_python_geospatial_export_spark.operators.tiles import (
    tile_pyramid,
    tile_stats,
)
from pure_python_geospatial_export_spark.sources.pages import synth_pages
from pure_python_geospatial_export_spark.sources.polygons import (
    FIXTURE_POLYGONS,
    fixture_layer,
    grid_layer,
    load_rings,
)

N_PAGES = 2000


@pytest.fixture(scope="module")
def pages(spark):
    df = with_point(synth_pages(spark, N_PAGES)).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def pages_pd(pages):
    return pages.select("page_id", "url", "lon", "lat").toPandas()


def test_derived_points_match_python_oracle(pages_pd):
    for row in pages_pd.itertuples():
        lon, lat = derive_point_py(row.url)
        assert row.lon == lon and row.lat == lat, row.url


def _oracle_join(pages_pd, layer):
    """Pure-python containment oracle over the polygon layer."""
    expected = set()
    for pid, name, wkt_str in layer:
        rings = wktmod.loads(wkt_str)["coordinates"]
        inside = kernels.points_in_polygon(
            pages_pd["lon"].to_numpy(), pages_pd["lat"].to_numpy(), rings
        )
        for page_id in pages_pd["page_id"].to_numpy()[inside]:
            expected.add((int(page_id), name))
    return expected


def test_spatial_join_matches_oracle(spark, pages, pages_pd):
    # points are worldwide; the two-state layer catches only a few, so also
    # use a big grid layer for coverage
    layer_df = fixture_layer(spark)
    got = {
        (int(r["page_id"]), r["name"])
        for r in spatial_join(pages, layer_df, res=7)
        .select("page_id", "name")
        .collect()
    }
    assert got == _oracle_join(pages_pd, FIXTURE_POLYGONS)


def test_spatial_join_grid_with_holes(spark, pages, pages_pd):
    layer_df = grid_layer(spark, nx=6, ny=6, hole_every=3)
    layer = [(r["polygon_id"], r["name"], r["wkt"])
             for r in layer_df.collect()]
    got = {
        (int(r["page_id"]), r["name"])
        for r in spatial_join(pages, layer_df, res=6)
        .select("page_id", "name")
        .collect()
    }
    expected = _oracle_join(pages_pd, layer)
    assert got == expected
    assert expected, "grid layer should contain some pages"


def test_spatial_join_salted_equals_broadcast(spark, pages):
    layer_df = fixture_layer(spark)
    a = {
        (int(r["page_id"]), r["name"])
        for r in spatial_join(pages, layer_df, res=7)
        .select("page_id", "name").collect()
    }
    b = {
        (int(r["page_id"]), r["name"])
        for r in spatial_join(
            pages, layer_df, res=7, strategy="shuffle_salted",
            hot_cell_threshold=50,
        ).select("page_id", "name").collect()
    }
    assert a == b


def test_spatial_join_skewed_hot_cells(spark):
    """Skew fixture (FIXTURES.md §1 variant): 30% of pages share a 64-url
    hot pool, concentrating points into a handful of hot cells. The salted
    shuffle strategy must (a) actually salt (hot cells exceed threshold)
    and (b) produce exactly the broadcast plan's rows."""
    skewed = with_point(
        synth_pages(spark, 3000, skew_hot_fraction=0.3, hot_pool=4)
    )
    from pure_python_geospatial_export_spark.operators.spatial_join import (
        points_with_cell,
    )

    # verify the fixture is skewed: ~250 rows land in each of 4 hot cells
    # vs a uniform expectation of 3000/(128*128) per res-7 cell
    hist = (
        points_with_cell(skewed, 7).groupBy("cell_id").count()
        .orderBy(F.col("count").desc()).limit(1).collect()
    )
    assert hist[0]["count"] > 100, "fixture must be hot-celled"

    layer_df = grid_layer(spark, nx=6, ny=6, hole_every=3)
    a = {
        (int(r["page_id"]), r["name"])
        for r in spatial_join(skewed, layer_df, res=7)
        .select("page_id", "name").collect()
    }
    b = {
        (int(r["page_id"]), r["name"])
        for r in spatial_join(
            skewed, layer_df, res=7, strategy="shuffle_salted",
            hot_cell_threshold=20,
        ).select("page_id", "name").collect()
    }
    assert a == b
    assert a, "skewed join should produce rows"


@pytest.mark.parametrize("edges,wkt,res", [
    # cell (0, 0) is full at res 4: Spark's FLOOR(NaN) is 0, so a NaN
    # point used to land there and be kept without a refine
    ("planar",
     "POLYGON ((-190 -95, -100 -95, -100 -40, -190 -40, -190 -95))", 4),
    # a seam-crossing geodesic square whose cell (0, 8) is full
    ("geodesic",
     "POLYGON ((-185 -5, -140 -5, -140 25, -185 25, -185 -5))", 4),
])
@pytest.mark.parametrize("strategy",
                         ["broadcast", "shuffle_salted", "big_layer"])
def test_spatial_join_drops_nan_points(spark, edges, wkt, res, strategy):
    nan = float("nan")
    pts = spark.createDataFrame(
        [(0, nan, nan), (1, nan, -80.0), (2, -170.0, nan), (3, nan, 5.0),
         (4, -170.0, -80.0), (5, -170.0, 5.0), (6, 0.0, 0.0)],
        "id long, lon double, lat double",
    )
    layer = spark.createDataFrame([(1, "zone", wkt)],
                                  "polygon_id long, name string, wkt string")
    if strategy == "big_layer":
        out = spatial_join_big_layer(pts, layer, res=res, edges=edges)
    else:
        out = spatial_join(pts, layer, res=res, strategy=strategy,
                           edges=edges, hot_cell_threshold=1)
    got = sorted(r["id"] for r in out.collect())
    rings = wktmod.loads(wkt)["coordinates"]
    if edges == "planar":
        inside = kernels.points_in_polygon(
            np.array([nan, -170.0]), np.array([nan, -80.0]), rings)
        assert inside.tolist() == [False, True]
        assert got == [4]
    else:
        assert got == [5]


def _join(strategy, pts, layer):
    if strategy == "big_layer":
        return spatial_join_big_layer(pts, layer, res=7)
    return spatial_join(pts, layer, res=7, strategy=strategy)


@pytest.mark.parametrize("wkt,kind", [("LINESTRING (0 0, 1 1)", "LineString"),
                                      ("POINT (0.5 0.5)", "Point")])
@pytest.mark.parametrize("strategy", ["broadcast", "big_layer"])
def test_spatial_join_rejects_non_polygon_layer_rows(spark, wkt, kind,
                                                     strategy):
    """Both joins take a layer row's rings through one helper, and raise
    its ValueError (on the driver, or through the executor's trace)."""
    pts = spark.createDataFrame([(1, 0.5, 0.5)],
                                "id long, lon double, lat double")
    layer = spark.createDataFrame([(7, "bad", wkt)],
                                  "polygon_id long, name string, wkt string")
    msg = "polygon layer row 7 has non-polygon type %s" % kind
    with pytest.raises(Exception) as err:
        _join(strategy, pts, layer).collect()
    assert isinstance(err.value, ValueError) and str(err.value) == msg \
        or "ValueError: " + msg in str(err.value), str(err.value)


@pytest.mark.parametrize("strategy", ["broadcast", "big_layer"])
def test_spatial_join_keeps_null_polygon_name(spark, strategy):
    pts = spark.createDataFrame([(1, 0.5, 0.5)],
                                "id long, lon double, lat double")
    layer = spark.createDataFrame(
        [(7, None, "POLYGON ((0 0, 2 0, 0 2, 0 0))")],
        "polygon_id long, name string, wkt string")
    got = _join(strategy, pts, layer).select("id", "polygon_id", "name")
    assert [tuple(r) for r in got.collect()] == [(1, 7, None)]


def test_spatial_join_big_layer_equals_broadcast(spark, pages):
    from pure_python_geospatial_export_spark.operators.spatial_join import (
        spatial_join_big_layer,
    )

    layer_df = grid_layer(spark, nx=6, ny=6, hole_every=3).unionByName(
        fixture_layer(spark)
    )
    a = {
        (int(r["page_id"]), r["name"])
        for r in spatial_join(pages, layer_df, res=6)
        .select("page_id", "name").collect()
    }
    b = {
        (int(r["page_id"]), r["name"])
        for r in spatial_join_big_layer(pages, layer_df, res=6)
        .select("page_id", "name").collect()
    }
    assert a == b
    assert a


def test_tile_stats_matches_oracle(pages, pages_pd):
    res = 5
    got = {
        int(r["tile_id"]): (
            int(r["n_points"]), r["xmin"], r["ymin"], r["xmax"], r["ymax"]
        )
        for r in tile_stats(pages, res).collect()
    }
    ids = cells.cell_id(
        pages_pd["lon"].to_numpy(), pages_pd["lat"].to_numpy(), res
    )
    expected = {}
    for cid in np.unique(ids):
        m = ids == cid
        expected[int(cid)] = (
            int(m.sum()),
            pages_pd["lon"].to_numpy()[m].min(),
            pages_pd["lat"].to_numpy()[m].min(),
            pages_pd["lon"].to_numpy()[m].max(),
            pages_pd["lat"].to_numpy()[m].max(),
        )
    assert got == expected


def test_tile_pyramid_conserves_counts(pages):
    res = 5
    base = tile_stats(pages, res)
    pyr = tile_pyramid(base, res, levels=3).cache()
    counts = {
        int(r["level"]): int(r["total"])
        for r in pyr.groupBy("level")
        .agg(F.sum("n_points").alias("total"))
        .collect()
    }
    assert len(set(counts.values())) == 1, counts
    assert counts[res] == N_PAGES


def _oracle_knn(pages_pd, k, res, ring):
    """numpy oracle replicating grid-kNN semantics exactly."""
    n = 1 << res
    lon = pages_pd["lon"].to_numpy()
    lat = pages_pd["lat"].to_numpy()
    pid = pages_pd["page_id"].to_numpy()
    x = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(int)
    y = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(int)
    out = set()
    for i in range(len(pid)):
        dx = np.abs(x - x[i])
        dx = np.minimum(dx, n - dx)  # lon wrap
        cand = (dx <= ring) & (np.abs(y - y[i]) <= ring) & (pid != pid[i])
        d = (lon[cand] - lon[i]) ** 2 + (lat[cand] - lat[i]) ** 2
        ids = pid[cand]
        order = np.lexsort((ids, d))[:k]
        for rank, j in enumerate(order, 1):
            out.add((int(pid[i]), int(ids[j]), rank))
    return out


def test_knn_join_matches_oracle(pages, pages_pd):
    small = pages.where(F.col("page_id") < 300)
    small_pd = pages_pd[pages_pd["page_id"] < 300]
    got = {
        (int(r["page_id"]), int(r["nbr_id"]), int(r["rank"]))
        for r in knn_join(
            small,
            small.select(
                F.col("page_id").alias("nbr_id"), "lon", "lat"
            ),
            "page_id",
            "nbr_id",
            k=3,
            res=3,
            ring=1,
        ).collect()
    }
    assert got == _oracle_knn(small_pd, k=3, res=3, ring=1)


def test_knn_complete_finds_out_of_ring_neighbor(spark):
    """VERDICT r5 #5: the ring-bounded contract's failure case — the
    true nearest neighbor sits just OUTSIDE the 3x3 neighborhood
    while a farther in-ring point exists. knn_join (per contract)
    returns the in-ring point; knn_join_complete fails the edge
    certificate, doubles the ring, and finds the true neighbor."""
    from pure_python_geospatial_export_spark.session import local_df

    # res=4: cell_w=22.5. Left in cell x=9 near its neighborhood's
    # east edge (67.5): in-ring right at lon 1 (d=43), out-of-ring
    # right at lon 68 (d=24) — the true NN.
    left = local_df(spark, [(1, 44.0, 5.0)], ["lid", "lon", "lat"])
    right = local_df(
        spark, [(10, 1.0, 5.0), (20, 68.0, 5.0)],
        ["rid", "lon", "lat"],
    )
    ringed = knn_join(left, right, "lid", "rid", k=1, res=4,
                      ring=1).collect()
    assert [(r["rid"], r["rank"]) for r in ringed] == [(10, 1)]

    got = knn_join_complete(left, right, "lid", "rid", k=1,
                            res=4, ring=1).collect()
    assert [(r["rid"], r["rank"]) for r in got] == [(20, 1)]
    assert got[0]["dist_sq"] == 24.0 * 24.0

    # a left with ZERO in-ring candidates is absent from knn_join but
    # completed (ring expansion) in the exact mode
    lonely = local_df(spark, [(2, -170.0, -80.0)], ["lid", "lon", "lat"])
    assert knn_join(lonely, right, "lid", "rid", k=1, res=4,
                    ring=1).count() == 0
    comp = knn_join_complete(lonely, right, "lid", "rid", k=2,
                             res=4, ring=1).collect()
    assert {r["rid"] for r in comp} == {10, 20}


def test_knn_complete_equals_exact_random(pages):
    """knn_join_complete == knn_exact row for row on a random corpus,
    at a res coarse enough that ring-1 certificates routinely fail."""
    small = pages.where(F.col("page_id") < 250)
    rgt = small.select(F.col("page_id").alias("nbr_id"), "lon", "lat")
    cols = ["page_id", "nbr_id", "dist_sq", "rank"]
    got = sorted(
        tuple(r[c] for c in cols)
        for r in knn_join_complete(
            small, rgt, "page_id", "nbr_id", k=3, res=2, ring=1
        ).collect()
    )
    exp = sorted(
        tuple(r[c] for c in cols)
        for r in knn_exact(
            small, rgt, "page_id", "nbr_id", k=3
        ).collect()
    )
    assert got == exp


def test_knn_complete_boundary_tie_certificate_is_strict(spark):
    """A right point sitting EXACTLY on the neighborhood's open north
    edge ties the in-ring candidate's dist_sq at cert^2. knn_exact's
    (dist, id) tie-break ranks the excluded point in (smaller id), so
    a non-strict certificate (_maxd <= cert^2) would certify the
    WRONG row; the strict form doubles the ring once more and matches
    knn_exact. All coordinates are exact binaries, so the tie is
    bit-exact, not approximate."""
    from pure_python_geospatial_export_spark.session import local_df

    # res=3: cell_w=45, cell_h=22.5, n=8. Left (60, 20): gx=5, gy=4.
    # cert = d_n = (4+2)*22.5 - 90 - 20 = 25 (north edge; east 75,
    # west 60, south 42.5). Excluded right rid=1 at (60, 45): lat
    # exactly on the ring's north edge -> gy=6, outside [3,5];
    # dist_sq = 25^2 = 625 = cert^2 exactly. In-ring right rid=2 at
    # (35, 20): gx=4, dist_sq = 625 too.
    left = local_df(spark, [(100, 60.0, 20.0)], ["lid", "lon", "lat"])
    right = local_df(
        spark, [(1, 60.0, 45.0), (2, 35.0, 20.0)],
        ["rid", "lon", "lat"],
    )
    exact = knn_exact(left, right, "lid", "rid", k=1).collect()
    assert [(r["rid"], r["dist_sq"]) for r in exact] == [(1, 625.0)]
    got = knn_join_complete(
        left, right, "lid", "rid", k=1, res=3, ring=1
    ).collect()
    assert [(r["rid"], r["dist_sq"]) for r in got] == [(1, 625.0)]


def test_knn_exact_matches_bruteforce(pages, pages_pd):
    small = pages.where(F.col("page_id") < 200)
    small_pd = pages_pd[pages_pd["page_id"] < 200]
    got = {
        (int(r["page_id"]), int(r["nbr_id"]), int(r["rank"]))
        for r in knn_exact(
            small,
            small.select(F.col("page_id").alias("nbr_id"), "lon", "lat"),
            "page_id",
            "nbr_id",
            k=2,
        ).collect()
    }
    lon = small_pd["lon"].to_numpy()
    lat = small_pd["lat"].to_numpy()
    pid = small_pd["page_id"].to_numpy()
    expected = set()
    for i in range(len(pid)):
        d = (lon - lon[i]) ** 2 + (lat - lat[i]) ** 2
        mask = pid != pid[i]
        order = np.lexsort((pid[mask], d[mask]))[:2]
        for rank, j in enumerate(order, 1):
            expected.add((int(pid[i]), int(pid[mask][j]), rank))
    assert got == expected


def test_text_byte_identical_per_url_invariant(spark):
    """input_hint invariant: extracted text is byte-identical per url —
    both in the synthesized table (incl. the skew variant, where urls
    repeat) and after passing through the spatial join."""
    skewed = with_point(
        synth_pages(spark, 2000, skew_hot_fraction=0.3, hot_pool=4)
    )
    per_url = skewed.groupBy("url").agg(
        F.countDistinct("text").alias("n_texts"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    assert per_url.where(F.col("n_texts") != 1).count() == 0
    assert per_url.where(F.col("n_rows") > 1).count() > 0, (
        "skew variant must actually repeat urls"
    )

    joined = spatial_join(skewed, fixture_layer(spark), res=7)
    pre = {r["url"]: r["text"] for r in skewed.select("url", "text")
           .distinct().collect()}
    for r in joined.select("url", "text").collect():
        assert r["text"] == pre[r["url"]], "engine must not mutate text"


def test_knn_haversine_matches_numpy(pages, pages_pd):
    from pure_python_geospatial_export_spark.operators.knn import knn_join

    small = pages.where(F.col("page_id") < 200)
    small_pd = pages_pd[pages_pd["page_id"] < 200]
    got = {}
    for r in knn_join(
        small, small.select(F.col("page_id").alias("nbr_id"), "lon", "lat"),
        "page_id", "nbr_id", k=2, res=2, ring=1, metric="haversine",
    ).collect():
        got[(int(r["page_id"]), int(r["rank"]))] = (
            int(r["nbr_id"]), r["dist_sq"]
        )

    # numpy haversine oracle over the same cell-neighborhood candidates
    n = 1 << 2
    lon = np.radians(small_pd["lon"].to_numpy())
    lat = np.radians(small_pd["lat"].to_numpy())
    deg_lon = small_pd["lon"].to_numpy()
    deg_lat = small_pd["lat"].to_numpy()
    pid = small_pd["page_id"].to_numpy()
    x = np.clip(np.floor((deg_lon + 180) / 360 * n), 0, n - 1).astype(int)
    y = np.clip(np.floor((deg_lat + 90) / 180 * n), 0, n - 1).astype(int)
    R = 6371.0088
    for i in range(len(pid)):
        dx = np.abs(x - x[i])
        dx = np.minimum(dx, n - dx)
        cand = (dx <= 1) & (np.abs(y - y[i]) <= 1) & (pid != pid[i])
        dlat = (lat[cand] - lat[i]) / 2
        dlon = (lon[cand] - lon[i]) / 2
        a = np.sin(dlat) ** 2 + np.cos(lat[i]) * np.cos(lat[cand]) * (
            np.sin(dlon) ** 2
        )
        d = 2 * R * np.arcsin(np.sqrt(a))
        ids = pid[cand]
        order = np.lexsort((ids, d))[:2]
        for rank, j in enumerate(order, 1):
            g_id, g_d = got[(int(pid[i]), rank)]
            assert g_id == int(ids[j])
            assert g_d == pytest.approx(float(d[j]), rel=1e-9)


def test_mercator_tiles_and_quadkey(spark, pages):
    import math

    from pure_python_geospatial_export_spark.operators.tiles import (
        MERCATOR_MAX_LAT,
        mercator_tile_cols,
        quadkey_col,
    )

    zoom = 6
    tx, ty = mercator_tile_cols(F.col("lon"), F.col("lat"), zoom)
    df = pages.select(
        "page_id", "lon", "lat", tx.alias("tx"), ty.alias("ty")
    ).withColumn("qk", quadkey_col(F.col("tx"), F.col("ty"), zoom))
    rows = df.collect()

    def deg2num(lon, lat, z):  # standard slippy-map formula
        lat = max(min(lat, MERCATOR_MAX_LAT), -MERCATOR_MAX_LAT)
        n = 1 << z
        x = int(math.floor((lon + 180.0) / 360.0 * n))
        phi = math.radians(lat)
        y = int(math.floor(
            (1.0 - math.log(math.tan(phi) + 1.0 / math.cos(phi))
             / math.pi) / 2.0 * n))
        return max(min(x, n - 1), 0), max(min(y, n - 1), 0)

    def qk(x, y, z):
        return "".join(
            str(((x >> (z - 1 - i)) & 1) + 2 * ((y >> (z - 1 - i)) & 1))
            for i in range(z)
        )

    for r in rows:
        ex, ey = deg2num(r["lon"], r["lat"], zoom)
        assert (r["tx"], r["ty"]) == (ex, ey), r
        assert r["qk"] == qk(ex, ey, zoom)
        assert len(r["qk"]) == zoom

    # quadkey prefix == parent tile at the prefix's zoom
    some = rows[0]
    px, py = deg2num(some["lon"], some["lat"], 3)
    assert some["qk"][:3] == qk(px, py, 3)

    # poles clamp into the edge tiles without error
    edge = spark.createDataFrame(
        [(1, 0.0, 89.9), (2, 0.0, -89.9)], ["i", "lon", "lat"]
    )
    ex_, ey_ = mercator_tile_cols(F.col("lon"), F.col("lat"), zoom)
    got = {r["i"]: r["y"] for r in edge.select(
        "i", ey_.alias("y")).collect()}
    assert got[1] == 0 and got[2] == (1 << zoom) - 1


def test_radius_join_exact_vs_bruteforce(spark):
    """radius_join must return EXACTLY the within-R pairs, including
    near-pole (lon-degree shrink) and antimeridian-adjacent points."""
    import numpy as np

    from pure_python_geospatial_export_spark.operators.knn import (
        haversine_km,
        radius_join,
    )
    from pure_python_geospatial_export_spark.session import local_df
    from pyspark.sql import functions as F

    rng = np.random.default_rng(17)
    lons = np.concatenate([
        rng.uniform(-180, 180, 120),
        rng.uniform(175, 180, 30),       # seam east
        rng.uniform(-180, -175, 30),     # seam west
        rng.uniform(-180, 180, 40),      # polar band (lats below)
    ])
    lats = np.concatenate([
        rng.uniform(-60, 60, 120),
        rng.uniform(-10, 10, 60),
        rng.uniform(82, 89.5, 40),
    ])
    rows = [(i, float(lons[i]), float(lats[i])) for i in range(220)]
    pts = local_df(spark, rows, ["pid", "lon", "lat"])

    got = {
        (r["pid_a"], r["pid_b"])
        for r in radius_join(
            pts.select(F.col("pid").alias("pid_a"), "lon", "lat"),
            pts.select(F.col("pid").alias("pid_b"), "lon", "lat"),
            "pid_a", "pid_b", radius_km=500.0, res=6,
        ).collect()
    }
    a = pts.select(F.col("pid").alias("pa"), F.col("lon").alias("la"),
                   F.col("lat").alias("pha"))
    b = pts.select(F.col("pid").alias("pb"), F.col("lon").alias("lb"),
                   F.col("lat").alias("phb"))
    brute = {
        (r["pa"], r["pb"])
        for r in a.crossJoin(b)
        .where(F.col("pa") != F.col("pb"))
        .where(
            haversine_km(F.col("la"), F.col("pha"),
                         F.col("lb"), F.col("phb")) <= 500.0
        )
        .collect()
    }
    assert brute, "fixture must contain within-radius pairs"
    assert got == brute
    # polar points must pair across longitudes (full-wrap fan-out)
    polar = {p for p in brute if p[0] >= 180 and p[1] >= 180}
    assert polar & got == polar and polar


def test_knn_complete_rejects_ring_zero(spark):
    """ring=0 can never expand (r *= 2 keeps it 0) — reject up front
    instead of exhausting the doubling rounds and asserting."""
    from pure_python_geospatial_export_spark.session import local_df

    left = local_df(spark, [(1, 0.0, 0.0)], ["lid", "lon", "lat"])
    right = local_df(spark, [(1, 1.0, 1.0)], ["rid", "lon", "lat"])
    with pytest.raises(ValueError, match="ring must be >= 1"):
        knn_join_complete(left, right, "lid", "rid", k=1, ring=0)
