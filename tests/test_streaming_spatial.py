"""Streaming spatial overlap (streaming/spatial.py): per-cell
stateful buckets detect intersecting polygons across micro-batches;
stream == batch; idempotent clustering composition."""

import datetime

import pytest

from pure_python_geospatial_export_spark.operators.dissolve import (
    polygon_self_overlap_pairs,
)
from pure_python_geospatial_export_spark.session import local_df
from pure_python_geospatial_export_spark.streaming.spatial import (
    spatial_clusters_stream,
    spatial_overlap_stream,
)

BASE = datetime.datetime(2026, 3, 1, 0, 0, 0)


def _rect_wkt(x0, y0, x1, y1):
    return (
        "POLYGON ((%g %g, %g %g, %g %g, %g %g, %g %g))"
        % (x0, y0, x1, y0, x1, y1, x0, y1, x0, y0)
    )


def _mk_polys(n_clusters=12, members=4):
    """Clusters of mutually overlapping rects, spaced apart (plus one
    malformed row). Arrival times are one minute apart."""
    rows = []
    pid = 0
    for c in range(n_clusters):
        cx = -150.0 + c * 25.0
        cy = -40.0 + (c % 5) * 17.0
        for m in range(members):
            dx, dy = (m % 2) * 0.8, (m // 2) * 0.8
            rows.append((
                pid,
                _rect_wkt(cx + dx, cy + dy, cx + dx + 1.0,
                          cy + dy + 1.0),
                BASE + datetime.timedelta(minutes=pid),
            ))
            pid += 1
    rows.append((pid, "POLYGON ((oops",
                 BASE + datetime.timedelta(minutes=pid)))
    return rows


def _write_src(spark, rows, path, n_files=5):
    df = local_df(spark, rows, ["poly_id", "wkt", "ts"])
    df = df.withColumn("ts", df["ts"].cast("timestamp"))
    df.repartition(n_files).write.parquet(path)
    return df


def _stream(spark, src):
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType, TimestampType,
    )
    schema = StructType([
        StructField("poly_id", LongType(), False),
        StructField("wkt", StringType(), False),
        StructField("ts", TimestampType(), False),
    ])
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _drain(stream_df, name, checkpoint):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_stream_matches_batch_operator(spark, tmp_path):
    rows = _mk_polys()
    src = str(tmp_path / "polys_src")
    batch_df = _write_src(spark, rows, src)

    pairs = spatial_overlap_stream(
        _stream(spark, src), res=5, watermark="365 days"
    )
    _drain(pairs, "sp_pairs", str(tmp_path / "ckpt"))
    streamed = {
        (r["id_a"], r["id_b"])
        for r in spark.sql("SELECT * FROM sp_pairs").collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in polygon_self_overlap_pairs(
            batch_df, id_col="poly_id", res=5
        ).collect()
    }
    assert want, "fixture must contain overlapping pairs"
    # all_cells emits per shared cell -> dedup before comparing
    assert streamed == want


def test_batch_mode_same_operator(spark, tmp_path):
    rows = _mk_polys(n_clusters=6)
    df = _write_src(spark, rows, str(tmp_path / "b_src"))
    got = {
        (r["id_a"], r["id_b"])
        for r in spatial_overlap_stream(df, res=5).collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in polygon_self_overlap_pairs(
            df, id_col="poly_id", res=5
        ).collect()
    }
    assert got == want and want


def test_canonical_cell_emits_exactly_once(spark, tmp_path):
    # two big rects spanning multiple shared cells at res 6
    rows = [
        (1, _rect_wkt(0.0, 0.0, 20.0, 20.0), BASE),
        (2, _rect_wkt(10.0, 10.0, 30.0, 30.0),
         BASE + datetime.timedelta(minutes=1)),
    ]
    df = _write_src(spark, rows, str(tmp_path / "c_src"), n_files=1)
    all_cells = spatial_overlap_stream(df, res=6).collect()
    canon = spatial_overlap_stream(
        df, res=6, emit_mode="canonical_cell"
    ).collect()
    assert len(canon) == 1
    assert {(r["id_a"], r["id_b"]) for r in canon} == {(1, 2)}
    # the big shared footprint spans several cells -> all_cells
    # duplicates the pair, by design (consumers dedup)
    assert len(all_cells) > 1
    assert {(r["id_a"], r["id_b"]) for r in all_cells} == {(1, 2)}


def test_watermark_horizon_bounds_matches(spark, tmp_path):
    # same spot, arrivals 10 days apart, 1-day horizon: no pair.
    # One file per row with increasing mtimes so micro-batch arrival
    # order equals event-time order (FileStreamSource processes files
    # in modification-time order) — a random order could co-batch
    # rows 1 and 2 before the watermark advances.
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    # row 9 is a distant spacer: the watermark lags one batch, so it
    # must advance past BASE + 1 day BEFORE row 2 arrives for row 1
    # to be evicted
    rows = [
        (1, _rect_wkt(0.0, 0.0, 1.0, 1.0), BASE),
        (9, _rect_wkt(100.0, 40.0, 101.0, 41.0),
         BASE + datetime.timedelta(days=5)),
        (2, _rect_wkt(0.5, 0.5, 1.5, 1.5),
         BASE + datetime.timedelta(days=10)),
        (3, _rect_wkt(0.6, 0.6, 1.6, 1.6),
         BASE + datetime.timedelta(days=10, minutes=5)),
    ]
    src = str(tmp_path / "w_src")
    os.makedirs(src)
    schema = pa.schema([
        ("poly_id", pa.int64()), ("wkt", pa.string()),
        ("ts", pa.timestamp("us")),
    ])
    for i, (pid, wkt, ts) in enumerate(rows):
        t = pa.table(
            {"poly_id": [pid], "wkt": [wkt], "ts": [ts]},
            schema=schema,
        )
        p = os.path.join(src, "b%03d.parquet" % i)
        pq.write_table(t, p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    pairs = spatial_overlap_stream(
        _stream(spark, src), res=5, watermark="1 day"
    )
    _drain(pairs, "sp_wm", str(tmp_path / "wckpt"))
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.sql("SELECT * FROM sp_wm").collect()
    }
    # 1-2 separated by 10 days: evicted; 2-3 five minutes apart: kept
    assert got == {(2, 3)}


def test_clusters_composition(spark, tmp_path):
    rows = _mk_polys(n_clusters=8, members=4)
    src = str(tmp_path / "cl_src")
    _write_src(spark, rows, src)
    state, q = spatial_clusters_stream(
        _stream(spark, src),
        str(tmp_path / "cl_state"),
        str(tmp_path / "cl_ckpt"),
        res=5, watermark="365 days",
    )
    q.awaitTermination()
    got = {
        r["id"]: r["cluster_id"] for r in state.current().collect()
    }
    # every member of cluster c maps to the min id (4 members each)
    for c in range(8):
        base = c * 4
        for m in range(4):
            assert got[base + m] == base
    # the malformed row never clusters
    assert 8 * 4 not in got


def test_batch_mode_uncapped_by_default(spark):
    # 40 mutually overlapping rects in one cell — far above a
    # streaming-sized cap. Batch mode must NOT silently cap (it must
    # equal the dissolve operator); an explicit cap still applies.
    rows = [
        (i, _rect_wkt(0.0 + i * 0.01, 0.0, 5.0 + i * 0.01, 5.0),
         BASE + datetime.timedelta(minutes=i))
        for i in range(40)
    ]
    df = local_df(spark, rows, ["poly_id", "wkt", "ts"])
    df = df.withColumn("ts", df["ts"].cast("timestamp"))
    got = {
        (r["id_a"], r["id_b"])
        for r in spatial_overlap_stream(df, res=4).collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in polygon_self_overlap_pairs(
            df, id_col="poly_id", res=4
        ).collect()
    }
    assert len(want) == 40 * 39 // 2
    assert got == want
    capped = {
        (r["id_a"], r["id_b"])
        for r in spatial_overlap_stream(
            df, res=4, max_members=10
        ).collect()
    }
    assert len(capped) < len(want)


def test_bad_emit_mode_rejected(spark):
    df = local_df(
        spark, [(1, _rect_wkt(0, 0, 1, 1), BASE)],
        ["poly_id", "wkt", "ts"],
    )
    with pytest.raises(ValueError, match="emit_mode"):
        spatial_overlap_stream(df, emit_mode="nope")


def test_dissolve_stream_matches_batch_with_redelivery(spark, tmp_path):
    """Round 7: streaming dissolve maintenance — group labels AND the
    rollup equal batch dissolve_groups on the lattice fixture across
    micro-batches, and survive a simulated at-least-once redelivery
    of both the pair fold and the members append."""
    from pure_python_geospatial_export_spark.operators.dissolve import (
        dissolve_groups,
    )
    from pure_python_geospatial_export_spark.streaming.spatial import (
        dissolve_groups_current,
        dissolve_stream,
    )

    rows = _mk_polys(n_clusters=8, members=4)
    src = str(tmp_path / "ds_src")
    batch_df = _write_src(spark, rows, src)
    members_dir = str(tmp_path / "ds_members")

    state, pairs_q, members_q = dissolve_stream(
        _stream(spark, src),
        str(tmp_path / "ds_state"),
        members_dir,
        str(tmp_path / "ds_ckpt"),
        res=5, watermark="365 days",
    )
    pairs_q.awaitTermination()
    members_q.awaitTermination()

    def rollup_dict(df):
        return {
            r["group_id"]: (
                r["n_members"], r["xmin"], r["ymin"],
                r["xmax"], r["ymax"],
            )
            for r in df.collect()
        }

    got = rollup_dict(
        dissolve_groups_current(spark, state, members_dir)
    )
    want = rollup_dict(
        dissolve_groups(batch_df, id_col="poly_id", res=5)
    )
    assert got == want
    assert len(want) >= 8  # clusters plus any singletons

    # simulated at-least-once redelivery: re-fold a pair batch and
    # re-append a members batch; the rollup must not move
    some_pairs = spark.createDataFrame(
        [(0, 1), (4, 5)], "id_a long, id_b long"
    )
    state.foreach_batch(some_pairs, epoch_id=9_999)
    from pyspark.sql import functions as F

    from pure_python_geospatial_export_spark.operators.spatial_join \
        import attach_probe_bboxes

    redeliver = attach_probe_bboxes(
        batch_df.limit(7).select(
            F.col("poly_id").alias("_id"), F.col("wkt").alias("_wkt")
        ),
        False, include_raw=True,
    ).select("_id", "_rxmin", "_rymin", "_rxmax", "_rymax")
    redeliver.write.mode("append").parquet(members_dir)

    again = rollup_dict(
        dissolve_groups_current(spark, state, members_dir)
    )
    assert again == want


def _ring_twice_round(lat):
    """A ring that winds twice round the globe along ``lat``: the
    planar verify cannot split it into antimeridian lobes."""
    lons = [0, 90, 170, -100, -10, 80, 170, -100, -10, 0]
    return "POLYGON ((%s))" % ", ".join("%g %g" % (x, lat) for x in lons)


@pytest.mark.parametrize("order", ["forward", "reverse"])
def test_stream_batch_parity_unreadable_and_empty_rows(
        spark, tmp_path, order):
    """Each pair's verdict is the batch operator's, whichever side
    arrives first: a square holding a vertex of a ring that winds
    twice round the globe (the one-pair kernel answers (ring, square)
    but fails on (square, ring)), once with the square on the smaller
    id and once with the ring; plus rows that never pair — a
    LINESTRING across a square, POLYGON EMPTY and a NULL geometry."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    geoms = [
        (1, _rect_wkt(89.0, 9.0, 91.0, 11.0)),
        (2, _ring_twice_round(10.0)),
        (3, _ring_twice_round(-40.0)),
        (4, _rect_wkt(89.0, -41.0, 91.0, -39.0)),
        (5, "LINESTRING (88 10.5, 92 10.5)"),
        (6, "POLYGON EMPTY"),
        (7, None),
        (8, _rect_wkt(90.5, 9.5, 92.0, 11.0)),
    ]
    if order == "reverse":
        geoms = geoms[::-1]
    rows = [(pid, w, BASE + datetime.timedelta(minutes=i))
            for i, (pid, w) in enumerate(geoms)]
    # one file per row with increasing mtimes: micro-batch arrival
    # order is the row order
    src = str(tmp_path / "p_src")
    os.makedirs(src)
    pa_schema = pa.schema([
        ("poly_id", pa.int64()), ("wkt", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ])
    for i, (pid, wkt, ts) in enumerate(rows):
        p = os.path.join(src, "b%03d.parquet" % i)
        pq.write_table(pa.table(
            {"poly_id": [pid], "wkt": [wkt], "ts": [ts]},
            schema=pa_schema,
        ), p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    batch_df = spark.read.parquet(src)

    want = {
        (r["id_a"], r["id_b"])
        for r in polygon_self_overlap_pairs(
            batch_df, id_col="poly_id", res=3
        ).collect()
    }
    assert (3, 4) in want and (1, 8) in want
    assert not {5, 6, 7} & {i for p in want for i in p}
    batch = {
        (r["id_a"], r["id_b"])
        for r in spatial_overlap_stream(batch_df, res=3).collect()
    }
    name = "sp_parity_" + order
    _drain(spatial_overlap_stream(_stream(spark, src), res=3,
                                  watermark="365 days"),
           name, str(tmp_path / "pckpt"))
    streamed = {
        (r["id_a"], r["id_b"])
        for r in spark.sql("SELECT * FROM " + name).collect()
    }
    assert batch == want
    assert streamed == want
