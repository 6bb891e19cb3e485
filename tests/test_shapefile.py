"""Shapefile codec golden tests.

Reader: parse the reference's own fixture shapefiles and match the
reference reader's shapes/records/headers exactly.
Writer: reproduce the reference export byte-for-byte (.shp/.shx/.dbf,
dbf date header masked) including type-mismatch skip, null shapes,
Point->MultiPoint promotion, and ring rewinding.
"""

import io
import json
import os

import pytest

from pure_python_geospatial_export_spark.sources import shapefile as shp
from pure_python_geospatial_export_spark.sources.export import (
    Field,
    FieldType,
    GeometryFormat,
)

HERE = os.path.dirname(__file__)
SHPDIR = "/root/reference/ppge-tests/shapefiles"
needs_reference = pytest.mark.skipif(
    not os.path.isdir(SHPDIR),
    reason="reference checkout missing: %s not found" % SHPDIR,
)
with open(os.path.join(HERE, "fixtures", "golden_shapefiles.json")) as f:
    GOLDEN = json.load(f)


def _norm_coords(c):
    if isinstance(c, (list, tuple)):
        return [_norm_coords(x) for x in c]
    return c


def _norm_geojson(g):
    if g is None:
        return None
    out = {"type": g["type"]}
    out["coordinates"] = _norm_coords(
        g.get("coordinates", g.get("geometries"))
    )
    return out


@needs_reference
@pytest.mark.parametrize("case", sorted(GOLDEN["read"]))
def test_reader_matches_reference(case):
    exp = GOLDEN["read"][case]
    with open(os.path.join(SHPDIR, case + ".shp"), "rb") as f:
        header, shapes = shp.decode_shp_bytes(f.read())
    with open(os.path.join(SHPDIR, case + ".dbf"), "rb") as f:
        fields, records = shp.decode_dbf_bytes(f.read())

    assert header["shape_type"] == exp["shape_type"]
    assert header["bbox"] == exp["bbox"]
    assert len(shapes) == exp["n"]
    assert len(records) == exp["n"]
    assert [list(f) for f in fields] == exp["fields"]

    for i, exp_shape in enumerate(exp["shapes"]):
        got = shapes[i]
        assert got["shape_type"] == exp_shape["shape_type"]
        got_gj = (shp.shape_to_geojson(got)
                  if got["shape_type"] != 0 else None)
        assert _norm_geojson(got_gj) == _norm_geojson(exp_shape["geojson"]), (
            "shape %d of %s" % (i, case)
        )
        got_rec = [
            v.isoformat() if hasattr(v, "isoformat") else v
            for v in records[i]
        ]
        assert got_rec == exp_shape["record"], "record %d of %s" % (i, case)


WYOMING = (
    "POLYGON ((-111.020843268199 44.9981946924588,-111.020843268199 "
    "41.0013336343981,-104.052453769699 41.0013336343981,-104.052453769699 "
    "44.9981946924588,-111.020843268199 44.9981946924588))"
)
MALFORMED = "POLYGON ((-100 40, -100 41, -101 41, INVALID_COORDINATE))"

WRITE_CASES = {
    "polygons_wkt": dict(
        rows=[
            (WYOMING, "Wyoming", 576851, 97914.0, False),
            (None, "NoGeom", 0, 0.0, True),
            (MALFORMED, "BadGeom", 1, 1.5, None),
            ("POINT (-104.8 41.1)", "MismatchSkipped", 2, 2.0, True),
            ("POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), "
             "(2 2, 4 2, 4 4, 2 4, 2 2))", "Holed", 3, 3.0, False),
        ],
        names=["geom", "name", "pop", "area", "active"],
        schema=[
            Field("geom", FieldType.GEOM), Field("name", FieldType.STR),
            Field("pop", FieldType.INT), Field("area", FieldType.FLOAT),
            Field("active", FieldType.BOOL),
        ],
        geom_key="geom",
        geom_format=GeometryFormat.WKT,
    ),
    "points_wkt": dict(
        rows=[
            ("POINT (-104.8 41.1)", "Cheyenne"),
            ("POINT (-105.0 39.7)", "Denver"),
            (None, "Nowhere"),
            ("MULTIPOINT ((1 2), (3 4))", "Pair"),
        ],
        names=["geom", "name"],
        schema=[Field("geom", FieldType.GEOM), Field("name", FieldType.STR)],
        geom_key="geom",
        geom_format=GeometryFormat.WKT,
    ),
    "lines_geojson": dict(
        rows=[
            (json.dumps({
                "type": "LineString",
                "coordinates": [[0.0, 0.0], [1.0, 1.0], [2.0, 0.5]],
            }), "L1"),
            (json.dumps({
                "type": "MultiLineString",
                "coordinates": [[[0.0, 0.0], [1.0, 1.0]],
                                [[5.0, 5.0], [6.0, 7.0]]],
            }), "L2"),
        ],
        names=["GEOM", "name"],
        schema=[Field("GEOM", FieldType.GEOG),
                Field("name", FieldType.STR)],
        geom_key="GEOM",
        geom_format=GeometryFormat.GEOJSON,
    ),
}


@pytest.mark.parametrize("case", sorted(WRITE_CASES))
def test_writer_matches_reference_bytes(spark, case):
    cfg = WRITE_CASES[case]
    df = spark.createDataFrame(
        [r + (i,) for i, r in enumerate(cfg["rows"])],
        cfg["names"] + ["_ord"],
    )
    bufs = {k: io.BytesIO() for k in ("shp", "shx", "dbf", "prj")}
    shp.write_shapefile_df(
        df, cfg["schema"], bufs["shp"], bufs["shx"], bufs["dbf"],
        bufs["prj"], cfg["geom_key"], cfg["geom_format"], order_col="_ord",
    )
    exp = GOLDEN["write"][case]
    got_dbf = bytearray(bufs["dbf"].getvalue())
    got_dbf[1:4] = b"\0\0\0"
    assert bufs["shp"].getvalue().hex() == exp["shp"], "shp bytes differ"
    assert bufs["shx"].getvalue().hex() == exp["shx"], "shx bytes differ"
    assert bytes(got_dbf).hex() == exp["dbf"], "dbf bytes differ"
    assert bufs["prj"].getvalue().decode("ascii") == exp["prj"]


def test_roundtrip_write_then_read(spark):
    cfg = WRITE_CASES["points_wkt"]
    df = spark.createDataFrame(
        [r + (i,) for i, r in enumerate(cfg["rows"])],
        cfg["names"] + ["_ord"],
    )
    bufs = {k: io.BytesIO() for k in ("shp", "shx", "dbf", "prj")}
    shp.write_shapefile_df(
        df, cfg["schema"], bufs["shp"], bufs["shx"], bufs["dbf"],
        bufs["prj"], "geom", GeometryFormat.WKT, order_col="_ord",
    )
    header, shapes = shp.decode_shp_bytes(bufs["shp"].getvalue())
    fields, records = shp.decode_dbf_bytes(bufs["dbf"].getvalue())
    assert header["shape_type"] == shp.MULTIPOINT
    assert [s["shape_type"] for s in shapes] == [8, 8, 0, 8]
    assert [r[0] for r in records] == ["Cheyenne", "Denver", "Nowhere",
                                       "Pair"]
    gj = shp.shape_to_geojson(shapes[0])
    assert gj == {"type": "MultiPoint", "coordinates": [[-104.8, 41.1]]}


@needs_reference
def test_read_shapefile_dataframe(spark):
    df = shp.read_shapefile(spark, os.path.join(SHPDIR, "test/polygon.shp"))
    rows = df.collect()
    assert len(rows) == GOLDEN["read"]["test/polygon"]["n"]
    assert "wkt" in df.columns and "oid" in df.columns
    expected_type = GOLDEN["read"]["test/polygon"]["shapes"][0]["geojson"][
        "type"].upper()
    assert rows[0]["wkt"].startswith(expected_type)
