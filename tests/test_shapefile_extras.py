"""Tests for shx index, zip source/sink, writer balance, and the stateful
sessionization operator."""

import io
import os
import zipfile

import pytest

from pure_python_geospatial_export_spark.sources import shapefile as shp

SHPDIR = "/root/reference/ppge-tests/shapefiles"
needs_reference = pytest.mark.skipif(
    not os.path.isdir(SHPDIR),
    reason="reference checkout missing: %s not found" % SHPDIR,
)


@needs_reference
def test_shx_offsets_match_shp():
    with open(os.path.join(SHPDIR, "test/polygon.shx"), "rb") as f:
        idx = shp.decode_shx_bytes(f.read())
    with open(os.path.join(SHPDIR, "test/polygon.shp"), "rb") as f:
        buf = f.read()
    _hdr, shapes = shp.decode_shp_bytes(buf)
    assert len(idx) == len(shapes)
    # each offset points at a record header whose record number is i+1
    import struct

    for i, (off, _length) in enumerate(idx):
        recnum = struct.unpack(">i", buf[off:off + 4])[0]
        assert recnum == i + 1


@needs_reference
def test_read_shapefile_zip(spark, tmp_path):
    zpath = str(tmp_path / "bundle.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for ext in (".shp", ".shx", ".dbf"):
            z.write(os.path.join(SHPDIR, "test/point" + ext),
                    "point" + ext)
    df = shp.read_shapefile_zip(spark, zpath)
    direct = shp.read_shapefile(spark,
                                os.path.join(SHPDIR, "test/point.shp"))
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, direct.collect()))


@needs_reference
def test_read_shapefile_url_http(spark):
    """URL source against a local HTTP server (the sandbox has no
    network): result equals the direct file read, and a missing .dbf is
    tolerated like the reference."""
    import functools
    import http.server
    import threading

    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler,
        directory=os.path.join(SHPDIR, "test"),
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = "http://127.0.0.1:%d" % srv.server_address[1]
        df = shp.read_shapefile_url(spark, base + "/point.shp")
        direct = shp.read_shapefile(
            spark, os.path.join(SHPDIR, "test/point.shp"))
        assert sorted(map(tuple, df.collect())) == sorted(
            map(tuple, direct.collect()))
        # extension-less URL resolves the same siblings
        df2 = shp.read_shapefile_url(spark, base + "/point")
        assert sorted(map(tuple, df2.collect())) == sorted(
            map(tuple, direct.collect()))
        # nothing there -> reference-style error
        import pytest

        with pytest.raises(ValueError, match="No shp or dbf"):
            shp.read_shapefile_url(spark, base + "/nope.shp")
    finally:
        srv.shutdown()
        srv.server_close()


@needs_reference
def test_read_shapefile_url_dbf_only(spark, tmp_path):
    """A URL where only the .dbf resolves (reference tolerates it):
    records come back with null geometry."""
    import shutil

    shutil.copy(os.path.join(SHPDIR, "test/point.dbf"),
                str(tmp_path / "solo.dbf"))
    df = shp.read_shapefile_url(
        spark, "file://" + str(tmp_path / "solo.shp"))
    rows = df.collect()
    assert len(rows) > 0
    assert all(r["wkt"] is None for r in rows)
    assert len(df.columns) > 2  # oid, wkt + dbf attribute columns


@needs_reference
def test_read_shapefile_url_file_scheme(spark):
    df = shp.read_shapefile_url(
        spark, "file://" + os.path.join(SHPDIR, "test/point.shp"))
    direct = shp.read_shapefile(
        spark, os.path.join(SHPDIR, "test/point.shp"))
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, direct.collect()))


@needs_reference
def test_bundle_shapefile_zip():
    parts = {}
    for ext in ("shp", "shx", "dbf"):
        with open(os.path.join(SHPDIR, "test/point.%s" % ext), "rb") as f:
            parts[ext] = f.read()
    parts["prj"] = shp.PRJ_WGS84
    bufs = {k: io.BytesIO(v) for k, v in parts.items()}
    out = io.BytesIO()
    shp.bundle_shapefile_zip("point", out, bufs["shp"], bufs["shx"],
                             bufs["dbf"], io.BytesIO(parts["prj"]))
    out.seek(0)
    with zipfile.ZipFile(out) as z:
        assert sorted(z.namelist()) == [
            "point.dbf", "point.prj", "point.shp", "point.shx"
        ]
        assert z.read("point.shp") == parts["shp"]
        assert z.read("point.prj") == shp.PRJ_WGS84


def _load_multipatch_golden():
    import json

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "fixtures", "golden_multipatch.json")) as f:
        return json.load(f)


@needs_reference
def test_multipatch_read_matches_reference():
    g = _load_multipatch_golden()
    with open(os.path.join(SHPDIR, "test/multipatch.shp"), "rb") as f:
        _hdr, shapes = shp.decode_shp_bytes(f.read())
    assert len(shapes) == len(g["read"])
    for got, exp in zip(shapes, g["read"]):
        assert got["shape_type"] == exp["shape_type"] == 31
        assert list(got["parts"]) == exp["parts"]
        assert list(got["part_types"]) == exp["part_types"]
        assert [list(map(float, p)) for p in got["points"]] == exp["points"]
        assert [float(z) for z in got["z"]] == exp["z"]
        assert got["m"] == exp["m"]


def _run_our_writer(fn):
    bufs = {k: io.BytesIO() for k in ("shp", "shx", "dbf")}
    w = shp.ShapefileWriter(bufs["shp"], bufs["shx"], bufs["dbf"])
    w.field("name", "C", 20)
    fn(w)
    w.close()
    db = bytearray(bufs["dbf"].getvalue())
    db[1:4] = b"\0\0\0"
    return {
        "shp": bufs["shp"].getvalue().hex(),
        "shx": bufs["shx"].getvalue().hex(),
        "dbf": bytes(db).hex(),
    }


MP_PARTS = [
    [[0.0, 0.0, 0.0], [0.0, 0.0, 3.0], [5.0, 0.0, 0.0], [5.0, 0.0, 3.0],
     [5.0, 5.0, 0.0], [5.0, 5.0, 3.0], [0.0, 5.0, 0.0], [0.0, 5.0, 3.0],
     [0.0, 0.0, 0.0], [0.0, 0.0, 3.0]],
    [[2.5, 2.5, 10.0], [0.0, 0.0, 3.0], [5.0, 0.0, 3.0], [5.0, 5.0, 3.0],
     [0.0, 5.0, 3.0], [0.0, 0.0, 3.0]],
]
MP_PARTS_M = [
    [[0.0, 0.0, 1.0, 7.5], [1.0, 0.0, 1.0, None], [1.0, 1.0, 2.0, 9.25]],
    [[3.0, 3.0, 0.0, 4.0], [4.0, 3.0, 0.5, 5.0], [4.0, 4.0, 1.5, 6.0],
     [3.0, 4.0, 2.5, None]],
]


def test_multipatch_write_matches_reference_bytes():
    g = _load_multipatch_golden()["write"]

    def w_multipatch(w):
        w.multipatch(MP_PARTS, [0, 1])  # TRIANGLE_STRIP, TRIANGLE_FAN
        w.record(name="house")

    def w_multipatch_m(w):
        w.multipatch(MP_PARTS_M, [5, 2])  # RING, OUTER_RING
        w.record(name="measured")
        w.multipatch(MP_PARTS, [0, 1])
        w.record(name="second")

    for name, fn in (("multipatch", w_multipatch),
                     ("multipatch_m", w_multipatch_m)):
        got = _run_our_writer(fn)
        assert got == g[name], "%s bytes differ from reference" % name


def test_pointz_linez_write_matches_reference_bytes():
    g = _load_multipatch_golden()["write"]

    def w_pointz(w):
        w.shape({"shape_type": shp.POINTZ,
                 "points": [[-104.8, 41.1, 1876.0]], "parts": [0]})
        w.record(name="cheyenne")
        w.shape({"shape_type": shp.POINTZ,
                 "points": [[1.0, 2.0, 3.0, 4.5]], "parts": [0]})
        w.record(name="withm")

    def w_linez(w):
        w.shape({
            "shape_type": shp.POLYLINEZ,
            "points": [[0.0, 0.0, 0.0], [1.0, 1.0, 2.0], [2.0, 0.5, 1.0],
                       [5.0, 5.0, 0.0], [6.0, 7.0, 3.0]],
            "parts": [0, 3],
        })
        w.record(name="ridge")

    for name, fn in (("pointz", w_pointz), ("linez", w_linez)):
        got = _run_our_writer(fn)
        assert got == g[name], "%s bytes differ from reference" % name


def test_multipatch_write_read_roundtrip():
    bufs = {k: io.BytesIO() for k in ("shp", "shx", "dbf")}
    w = shp.ShapefileWriter(bufs["shp"], bufs["shx"], bufs["dbf"])
    w.field("name", "C", 20)
    w.multipatch(MP_PARTS, [0, 1])
    w.record(name="house")
    w.close()
    _hdr, shapes = shp.decode_shp_bytes(bufs["shp"].getvalue())
    assert len(shapes) == 1
    s = shapes[0]
    assert s["shape_type"] == 31
    assert list(s["parts"]) == [0, 10]
    assert list(s["part_types"]) == [0, 1]
    flat = [p for part in MP_PARTS for p in part]
    assert [list(p) for p in s["points"]] == [p[:2] for p in flat]
    assert s["z"] == [p[2] for p in flat]


def test_writer_balance():
    shp_b, shx_b, dbf_b = io.BytesIO(), io.BytesIO(), io.BytesIO()
    w = shp.ShapefileWriter(shp_b, shx_b, dbf_b, shape_type=shp.MULTIPOINT)
    w.field("name", "C")
    # two shapes, one record -> balance pads one empty record
    w.shape({"shape_type": shp.MULTIPOINT,
             "points": [[1.0, 2.0]], "parts": [0]})
    w.shape({"shape_type": shp.MULTIPOINT,
             "points": [[3.0, 4.0]], "parts": [0]})
    w.record(name="only")
    w.balance()
    w.close()
    fields, records = shp.decode_dbf_bytes(dbf_b.getvalue())
    assert len(records) == 2
    assert records[0][0] == "only" and records[1][0] == ""
    _h, shapes = shp.decode_shp_bytes(shp_b.getvalue())
    assert len(shapes) == 2


def test_sessionization_batch_oracle(spark):
    import datetime

    from pure_python_geospatial_export_spark.streaming.sessions import (
        sessionized_stream,
    )

    base = datetime.datetime(2024, 1, 1)

    def ts(minutes):
        return base + datetime.timedelta(minutes=minutes)

    rows = [
        # user 1: two sessions separated by a 90-minute silence
        (1, ts(0), 1.0), (1, ts(10), 2.0), (1, ts(20), 3.0),
        (1, ts(110), 4.0), (1, ts(115), 5.0),
        # user 2: one long session, never closed within the data
        (2, ts(0), 1.0), (2, ts(20), 1.0), (2, ts(40), 1.0),
    ]
    src_dir_rows = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "events")
        ckpt = os.path.join(d, "ckpt")
        src_dir_rows.write.parquet(src)
        stream = (
            spark.readStream.schema(src_dir_rows.schema).parquet(src)
        )
        out = sessionized_stream(stream, gap_seconds=1800)
        q = (
            out.writeStream.format("memory").queryName("sessions")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (int(r["user_id"]), r["session_start"], r["session_end"],
             int(r["n_events"]), r["sum_value"])
            for r in spark.table("sessions").collect()
        }
    # only user 1's first session closes (gap 90min > 30min)
    assert got == {(1, ts(0), ts(20), 3, 6.0)}


def test_sessionization_watermark_ttl_closes_idle_sessions(spark):
    """With a watermark, an idle user's open session must close via the
    event-time timer (state TTL) once the watermark passes
    session_end + gap — without the timer the session stays open (and
    its state resident) forever, as in the NoTimeout test above."""
    import datetime
    import tempfile

    from pure_python_geospatial_export_spark.streaming.sessions import (
        sessionized_stream,
    )

    base = datetime.datetime(2024, 1, 1)

    def ts(minutes):
        return base + datetime.timedelta(minutes=minutes)

    rows = [
        # user 1: one burst, then silence — must be closed by the TTL
        (1, ts(0), 1.0), (1, ts(10), 2.0), (1, ts(20), 3.0),
        # user 99: a much later event that drags the watermark forward;
        # its own session stays open (timer not yet expired)
        (99, ts(600), 7.0),
    ]
    src_df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "events")
        ckpt = os.path.join(d, "ckpt")
        src_df.write.parquet(src)
        stream = spark.readStream.schema(src_df.schema).parquet(src)
        out = sessionized_stream(
            stream, gap_seconds=1800, watermark="10 minutes"
        )
        q = (
            out.writeStream.format("memory").queryName("sessions_ttl")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (int(r["user_id"]), r["session_start"], r["session_end"],
             int(r["n_events"]), r["sum_value"])
            for r in spark.table("sessions_ttl").collect()
        }
    # watermark after the batch = ts(600) - 10min = ts(590); user 1's
    # timer at ts(20) + 30min = ts(50) < ts(590) fires in the no-data
    # micro-batch; user 99's timer at ts(630) has not expired.
    assert got == {(1, ts(0), ts(20), 3, 6.0)}
