"""Streaming trajectory segmentation (streaming/trajectory.py):
closed segments emitted across micro-batches must equal the batch
operator's segments, except each user's final (still-open) one."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F


def _rows():
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    for u in range(3):
        t = 0
        for leg in range(4):  # 4 clusters -> 4 segments per user
            cx = leg * 10.0 + u
            for i in range(5):
                rows.append((
                    u, len(rows),
                    base + dt.timedelta(minutes=t),
                    cx + 0.01 * i, 0.5 * u + 0.005 * i,
                ))
                t += 20  # 20-min cadence: stays last 80 min
        # a time-gap cut inside the last cluster
        rows.append((
            u, len(rows), base + dt.timedelta(minutes=t + 600),
            30.0 + u, 0.5 * u,
        ))
    return rows


def _write_batches(tmp_path, rows, k=4):
    src = tmp_path / "traj_src"
    src.mkdir()
    schema = pa.schema([
        ("user_id", pa.int64()), ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")), ("lon", pa.float64()),
        ("lat", pa.float64()),
    ])
    # split by time (not round-robin): applyInPandasWithState folds
    # each batch in order, so batches must respect event-time order
    rows = sorted(rows, key=lambda r: r[2])
    per = (len(rows) + k - 1) // k
    for i in range(k):
        chunk = rows[i * per:(i + 1) * per]
        t = pa.table(
            {n: [r[j] for r in chunk]
             for j, n in enumerate(
                 ["user_id", "event_id", "ts", "lon", "lat"])},
            schema=schema,
        )
        path = src / ("b%03d.parquet" % i)
        pq.write_table(t, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return str(src)


def test_stream_matches_batch_closed_segments(spark, tmp_path):
    from pure_python_geospatial_export_spark.operators.trajectory import (
        trajectory_segments,
    )
    from pure_python_geospatial_export_spark.streaming.trajectory import (
        trajectory_stream,
    )

    rows = _rows()
    src = _write_batches(tmp_path, rows)
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType, TimestampType,
    )
    schema = StructType([
        StructField("user_id", LongType(), False),
        StructField("event_id", LongType(), False),
        StructField("ts", TimestampType(), False),
        StructField("lon", DoubleType(), False),
        StructField("lat", DoubleType(), False),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_dir = str(tmp_path / "segs_out")
    q = (
        trajectory_stream(stream, eps=1.0, max_gap_s=7200,
                          min_stay_s=3600, order_col="event_id")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # each user's final segment is still open in the state store
    assert q.lastProgress.stateOperators[0].numRowsTotal == 3
    got = {
        (r["user_id"], r["t_start"], r["t_end"], r["n_points"],
         r["dur_us"], r["path_mm"], r["xmin"], r["ymin"], r["xmax"],
         r["ymax"], r["is_stay"])
        for r in spark.read.parquet(out_dir).collect()
    }

    batch_df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, "
        "lon double, lat double"
    )
    segs = trajectory_segments(
        batch_df, eps=1.0, max_gap_s=7200, min_stay_s=3600,
        order_cols=("event_id",),
    )
    last = segs.groupBy("user_id").agg(
        F.max("seg_id").alias("seg_id")
    )
    want = {
        (r["user_id"], r["t_start"], r["t_end"], r["n_points"],
         r["dur_us"], r["path_mm"], r["xmin"], r["ymin"], r["xmax"],
         r["ymax"], r["is_stay"])
        for r in segs.join(last, ["user_id", "seg_id"], "left_anti")
        .collect()
    }
    assert want  # fixture produces closed segments
    assert got == want


def test_trajectory_watermark_ttl_flushes_idle_segments(spark, tmp_path):
    """With a watermark, an idle user's OPEN segment closes via the
    event-time timer once the watermark passes t_end + max_gap; a
    recent user's segment stays open."""
    import datetime as dt

    from pure_python_geospatial_export_spark.streaming.trajectory import (
        trajectory_stream,
    )

    base = dt.datetime(2024, 1, 1)

    def ts(minutes):
        return base + dt.timedelta(minutes=minutes)

    rows = [
        # user 1: a 20-min stay, then silence -> TTL must flush it
        (1, 0, ts(0), 0.0, 0.0), (1, 1, ts(10), 0.01, 0.0),
        (1, 2, ts(20), 0.02, 0.0),
        # user 99: much later event drags the watermark; stays open
        (99, 3, ts(600), 5.0, 5.0),
    ]
    src_df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, "
        "lon double, lat double"
    )
    src = str(tmp_path / "pts")
    src_df.write.parquet(src)
    stream = spark.readStream.schema(src_df.schema).parquet(src)
    out = trajectory_stream(
        stream, eps=1.0, max_gap_s=1800, min_stay_s=600,
        watermark="10 minutes", order_col="event_id",
    )
    q = (
        out.writeStream.format("memory").queryName("traj_ttl")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.lastProgress
    # user 1's segment was flushed and removed; user 99's stays open
    assert progress.stateOperators[0].numRowsTotal == 1
    # the latest event, ts(600), minus the 10-minute delay
    assert progress.eventTime["watermark"] == "2024-01-01T09:50:00.000Z"
    got = {
        (r["user_id"], r["t_start"], r["t_end"], r["n_points"],
         r["path_mm"], r["is_stay"])
        for r in spark.table("traj_ttl").collect()
    }
    # user 1's timer at ts(20)+30min < watermark ts(590) fires in the
    # no-data batch; 20-min duration >= 10-min stay floor => is_stay
    assert got == {(1, ts(0), ts(20), 3, 20, True)}
