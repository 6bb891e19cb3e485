"""Streaming geofence transitions (streaming/geofence.py): enter/exit
stream across micro-batches vs a pure-python replay of the same PIP
kernel."""

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq


_LAYER = [
    (1, "west", "POLYGON ((-10 -10, 0 -10, 0 10, -10 10, -10 -10))"),
    (2, "east", "POLYGON ((-2 -5, 8 -5, 8 5, -2 5, -2 -5))"),  # overlaps
]


def _rows():
    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 0 walks west->overlap->east->outside; user 1 stays outside
    path0 = [(-5, 0), (-1, 0), (4, 0), (20, 0), (-5, 8), (-5, 8)]
    for i, (x, y) in enumerate(path0):
        rows.append((0, i, base + dt.timedelta(minutes=10 * i),
                     float(x), float(y)))
    for i in range(4):
        rows.append((1, 100 + i, base + dt.timedelta(minutes=7 * i),
                     50.0 + i, 50.0))
    return rows


def _expected(rows):
    from pure_python_geospatial_export_spark.geo import wkt as wktmod
    from pure_python_geospatial_export_spark.geo.kernels import (
        points_in_polygon,
    )

    zones = [
        (pid, name, wktmod.loads(w)["coordinates"])
        for pid, name, w in _LAYER
    ]
    out = []
    by_user = {}
    for r in sorted(rows, key=lambda r: (r[0], r[2], r[1])):
        u, _e, t, x, y = r
        inside = by_user.setdefault(u, set())
        now = {
            pid for pid, _n, rings in zones
            if points_in_polygon([x], [y], rings)[0]
        }
        for pid, name, _ in zones:
            if pid in now and pid not in inside:
                out.append((u, pid, name, "enter", t))
            elif pid not in now and pid in inside:
                out.append((u, pid, name, "exit", t))
        by_user[u] = now
    return set(out)


def test_geofence_stream(spark, tmp_path):
    from pure_python_geospatial_export_spark.session import local_df
    from pure_python_geospatial_export_spark.streaming.geofence import (
        geofence_transitions,
    )

    rows = sorted(_rows(), key=lambda r: r[2])
    src = tmp_path / "pts"
    src.mkdir()
    schema = pa.schema([
        ("user_id", pa.int64()), ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")), ("lon", pa.float64()),
        ("lat", pa.float64()),
    ])
    per = len(rows) // 3 + 1
    for i in range(3):
        chunk = rows[i * per:(i + 1) * per]
        t = pa.table(
            {n: [r[j] for r in chunk] for j, n in enumerate(
                ["user_id", "event_id", "ts", "lon", "lat"])},
            schema=schema,
        )
        p = src / ("b%d.parquet" % i)
        pq.write_table(t, p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType, TimestampType,
    )
    sschema = StructType([
        StructField("user_id", LongType(), False),
        StructField("event_id", LongType(), False),
        StructField("ts", TimestampType(), False),
        StructField("lon", DoubleType(), False),
        StructField("lat", DoubleType(), False),
    ])
    stream = (
        spark.readStream.schema(sschema)
        .option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    layer = local_df(spark, _LAYER, ["polygon_id", "name", "wkt"])
    out_dir = str(tmp_path / "out")
    q = (
        geofence_transitions(stream, layer, order_col="event_id")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    # one inside-set row per user inside a zone: user 0 ends in "west",
    # user 1 never enters one and keeps no row
    assert q.lastProgress.stateOperators[0].numRowsTotal == 1
    got = {
        (r["user_id"], r["polygon_id"], r["name"], r["event"], r["ts"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == _expected(_rows())
    # sanity on the fixture's story
    events = sorted(
        (t, pid, e) for _u, pid, _n, e, t in got
    )
    assert events  # non-empty
    assert {e for _t, _p, e in events} == {"enter", "exit"}
