"""Polygon dissolve: exact self-overlap pairs + connected groups."""

import numpy as np
import pytest

from pure_python_geospatial_export_spark.operators.dissolve import (
    dissolve,
    dissolve_groups,
    polygon_self_overlap_pairs,
)


def _rect_wkt(x0, y0, x1, y1):
    return (
        "POLYGON ((%g %g, %g %g, %g %g, %g %g, %g %g))"
        % (x0, y0, x1, y0, x1, y1, x0, y1, x0, y0)
    )


def _rects_df(spark, rects):
    return spark.createDataFrame(
        [(int(i), _rect_wkt(*r)) for i, r in rects], "id long, wkt string"
    )


def test_chain_singleton_touch_and_malformed(spark):
    rows = [
        (1, (0.0, 0.0, 2.0, 2.0)),   # A overlaps B
        (2, (1.0, 1.0, 3.0, 3.0)),   # B overlaps C
        (3, (2.5, 2.5, 4.0, 4.0)),   # C
        (4, (10.0, 10.0, 11.0, 11.0)),  # isolated
        (5, (20.0, 20.0, 21.0, 21.0)),  # corner-touches 6
        (6, (21.0, 21.0, 22.0, 22.0)),
    ]
    df = _rects_df(spark, rows).unionByName(
        spark.createDataFrame([(7, "POLYGON ((oops")],
                              "id long, wkt string")
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in polygon_self_overlap_pairs(df, res=5).collect()
    }
    assert pairs == {(1, 2), (2, 3), (5, 6)}
    labels = {
        r["id"]: r["group_id"] for r in dissolve(df, res=5).collect()
    }
    # malformed row 7 drops entirely
    assert labels == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}
    groups = {
        r["group_id"]: r for r in dissolve_groups(df, res=5).collect()
    }
    assert groups[1]["n_members"] == 3
    assert groups[1]["xmin"] == 0.0 and groups[1]["xmax"] == 4.0
    assert groups[4]["n_members"] == 1
    assert groups[5]["n_members"] == 2


def test_hole_interior_does_not_merge(spark):
    donut = (
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
        "(2 2, 8 2, 8 8, 2 8, 2 2))"
    )
    inner = _rect_wkt(4.0, 4.0, 6.0, 6.0)      # wholly inside the hole
    crosser = _rect_wkt(7.0, 4.0, 9.0, 6.0)    # spans the hole wall
    df = spark.createDataFrame(
        [(1, donut), (2, inner), (3, crosser)], "id long, wkt string"
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in polygon_self_overlap_pairs(df, res=4).collect()
    }
    assert pairs == {(1, 3)}
    labels = {
        r["id"]: r["group_id"] for r in dissolve(df, res=4).collect()
    }
    assert labels == {1: 1, 2: 2, 3: 1}


def _brute_union_find(n_ids, pairs):
    parent = {i: i for i in n_ids}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in n_ids}


@pytest.mark.parametrize("res", [3, 6])
def test_random_rects_match_bruteforce(spark, res):
    rng = np.random.default_rng(42)
    rects = []
    for i in range(80):
        x0 = rng.uniform(-170, 160)
        y0 = rng.uniform(-80, 70)
        w, h = rng.uniform(0.5, 12, 2)
        rects.append((i, (x0, y0, x0 + w, y0 + h)))
    df = _rects_df(spark, rects)
    got = {
        (r["id_a"], r["id_b"])
        for r in polygon_self_overlap_pairs(df, res=res).collect()
    }
    want = set()
    for i, (ax0, ay0, ax1, ay1) in rects:
        for j, (bx0, by0, bx1, by1) in rects:
            if i < j and ax0 <= bx1 and bx0 <= ax1 \
                    and ay0 <= by1 and by0 <= ay1:
                want.add((i, j))
    assert got == want
    labels = {
        r["id"]: r["group_id"] for r in dissolve(df, res=res).collect()
    }
    assert labels == _brute_union_find(
        [i for i, _ in rects], sorted(want)
    )


def test_duplicate_ids_no_self_pairs(spark):
    # two rows share id 1 and overlap each other and row 2: no (1, 1)
    # self-pair may come out
    df = spark.createDataFrame(
        [
            (1, _rect_wkt(0.0, 0.0, 2.0, 2.0)),
            (1, _rect_wkt(0.5, 0.5, 2.5, 2.5)),
            (2, _rect_wkt(1.0, 1.0, 3.0, 3.0)),
        ],
        "id long, wkt string",
    )
    got = [
        (r["id_a"], r["id_b"])
        for r in polygon_self_overlap_pairs(df, res=5).collect()
    ]
    assert all(a < b for a, b in got), got
    assert set(got) == {(1, 2)}, got


def test_max_bucket_above_family_size_identical(spark):
    rows = [(i, (float(i) * 0.5, 0.0, float(i) * 0.5 + 1.0, 1.0))
            for i in range(10)]
    df = _rects_df(spark, rows)
    base = {
        (r["id_a"], r["id_b"])
        for r in polygon_self_overlap_pairs(df, res=5).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in polygon_self_overlap_pairs(
            df, res=5, max_bucket=100
        ).collect()
    }
    assert base == capped and len(base) > 0


def test_geodesic_edges_merge_via_arc_bulge(spark):
    # planar-disjoint (a stays at lat<=40, b starts at 47), but a's
    # 80-degree top chord at lat 40 bows poleward to ~47.6 under
    # great-circle edges, sweeping across b's SW/SE corners
    a = "POLYGON ((-40 40, 40 40, 0 38, -40 40))"
    b = "POLYGON ((-10 47, 10 47, 10 49, -10 49, -10 47))"
    df = spark.createDataFrame(
        [(1, a), (2, b)], "id long, wkt string"
    )
    planar = polygon_self_overlap_pairs(df, res=4).collect()
    geo = polygon_self_overlap_pairs(df, res=4, edges="geodesic") \
        .collect()
    # planar: the triangles are disjoint (gap between 40 and 46);
    # geodesic: the 80-degree chord at lat 40/46 bows ~5-6 degrees
    # poleward, so polygon a's top edge crosses into polygon b
    assert planar == []
    assert {(r["id_a"], r["id_b"]) for r in geo} == {(1, 2)}


def test_non_areal_rows_stay_singletons(spark):
    df = spark.createDataFrame(
        [
            (1, _rect_wkt(0.0, 0.0, 2.0, 2.0)),
            (2, "LINESTRING (0 0, 2 2)"),
        ],
        "id long, wkt string",
    )
    assert polygon_self_overlap_pairs(df, res=5).collect() == []
    labels = {
        r["id"]: r["group_id"] for r in dissolve(df, res=5).collect()
    }
    assert labels == {1: 1, 2: 2}


def _grid_union_area(rects):
    xs = sorted({r[0] for r in rects} | {r[2] for r in rects})
    ys = sorted({r[1] for r in rects} | {r[3] for r in rects})
    total = 0.0
    for xa, xb in zip(xs[:-1], xs[1:]):
        for ya, yb in zip(ys[:-1], ys[1:]):
            if any(r[0] <= xa and xb <= r[2] and r[1] <= ya
                   and yb <= r[3] for r in rects):
                total += (xb - xa) * (yb - ya)
    return total


def test_dissolve_geometry_rect_areas_and_validity(spark):
    """Merged-boundary output: per-group union area equals an
    independent grid-decomposition recompute EXACTLY (integer
    lattice), every emitted WKT passes the validity gate, and group
    labels/member counts agree with dissolve_groups."""
    from pure_python_geospatial_export_spark.geo import wkt as wktmod
    from pure_python_geospatial_export_spark.operators.dissolve import (
        dissolve_geometry,
    )
    from pure_python_geospatial_export_spark.operators.validate import (
        validate_geometry,
    )

    rng = np.random.default_rng(11)
    rects = {}
    for i in range(40):
        x0 = int(rng.integers(0, 25))
        y0 = int(rng.integers(0, 25))
        rects[i] = (x0, y0, x0 + int(rng.integers(1, 5)),
                    y0 + int(rng.integers(1, 5)))
    df = _rects_df(spark, rects.items()).repartition(7)

    out = {r["group_id"]: r
           for r in dissolve_geometry(df, res=6).collect()}
    labels = {r["id"]: r["group_id"]
              for r in dissolve(df, res=6).collect()}
    groups = {}
    for i, g in labels.items():
        groups.setdefault(g, []).append(rects[i])
    assert set(out) == set(groups)
    for g, members in groups.items():
        row = out[g]
        assert row["n_members"] == len(members)
        assert row["area"] == _grid_union_area(members), g
        geom = wktmod.loads(row["wkt"])
        ok, reason = validate_geometry(geom)
        assert ok, (g, reason)


def test_dissolve_geometry_partition_invariance(spark):
    from pure_python_geospatial_export_spark.operators.dissolve import (
        dissolve_geometry,
    )

    rows = [
        (1, (0, 0, 2, 2)), (2, (1, 1, 3, 3)), (3, (2, 0, 4, 1)),
        (4, (10, 10, 11, 11)), (5, (10, 11, 11, 12)),  # shared edge
        (6, (20, 20, 21, 21)), (7, (21, 21, 22, 22)),  # corner pinch
    ]
    df1 = _rects_df(spark, rows).coalesce(1)
    df2 = _rects_df(spark, rows).repartition(5)
    a = sorted(
        map(tuple, dissolve_geometry(df1, res=6).collect())
    )
    b = sorted(
        map(tuple, dissolve_geometry(df2, res=6).collect())
    )
    assert a == b
    areas = {r[0]: r[4] for r in a}
    assert areas[1] == 9.0   # 7 + rect3 minus overlaps: exact check below
    assert areas[4] == 2.0
    assert areas[6] == 2.0
    polys = {r[0]: r[2] for r in a}
    assert polys[6] == 2     # pinch splits into two touching polygons
    assert polys[4] == 1


def test_dissolve_geometry_max_group_guard(spark):
    from pure_python_geospatial_export_spark.operators.dissolve import (
        dissolve_geometry,
    )

    rows = [(i, (0, 0, 2 + i % 2, 2 + i % 2)) for i in range(6)]
    df = _rects_df(spark, rows)
    with pytest.raises(Exception, match="max_group"):
        dissolve_geometry(df, res=6, max_group=3).collect()


def test_dissolve_geometry_non_areal_groups_omitted(spark):
    from pure_python_geospatial_export_spark.operators.dissolve import (
        dissolve_geometry,
    )

    df = spark.createDataFrame(
        [(1, "LINESTRING (0 0, 5 5)"),
         (2, _rect_wkt(0, 0, 1, 1)),
         (3, "not a geometry")],
        "id long, wkt string",
    )
    out = dissolve_geometry(df, res=6).collect()
    assert [(r["group_id"], r["area"]) for r in out] == [(2, 1.0)]


def test_dissolve_empty_frame(spark):
    empty = spark.createDataFrame([], "id long, wkt string")
    assert dissolve(empty).count() == 0
