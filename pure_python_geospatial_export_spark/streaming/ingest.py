"""Structured Streaming ingest of the pages table.

The reference's "streaming" is lazy single-process iterators
(ref ppge/__init__.py:213-224, ppge/pyshp/__init__.py:1542-1582); the
engine's streaming surface is real event-time processing: a parquet
directory (or Kafka at scale) consumed with ``readStream``, watermarked
tumbling-window aggregation of page counts per spatial cell, written to
any Spark sink. The per-cell counts stream is the live counterpart of the
batch tile rollup (operators/tiles.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.geom_udfs import cell_id_col
from ..functions.points import lat_col, lon_col

PAGES_SCHEMA = StructType([
    StructField("page_id", LongType(), False),
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), False),
    StructField("html", BinaryType(), True),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
])


def stream_pages(spark: SparkSession, input_path: str) -> DataFrame:
    """File-source stream over a pages parquet directory."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_path)
    )


def windowed_cell_counts(
    pages_stream: DataFrame,
    res: int = 5,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window page counts per cell with late-data handling."""
    pts = pages_stream.withColumn(
        "lon", lon_col(F.col("url"))
    ).withColumn("lat", lat_col(F.col("url")))
    cells = pts.withColumn(
        "cell_id", cell_id_col(F.col("lon"), F.col("lat"), res)
    )
    return (
        cells.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), F.col("cell_id"))
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "cell_id",
            "n_pages",
        )
    )


def windowed_cell_distinct(
    pages_stream: DataFrame,
    res: int = 5,
    window: str = "1 hour",
    watermark: str = "2 hours",
    rsd: float = 0.05,
) -> DataFrame:
    """Tumbling-window DISTINCT-URL estimates per cell — the streaming
    sibling of the batch KMV rollup (operators/sketch.py): exact
    distinct state on an unbounded stream is unbounded, so the windowed
    aggregate uses Spark's HyperLogLog++ (``approx_count_distinct``,
    relative std dev ``rsd``), whose state is a fixed-size sketch per
    (window, cell) group and is evicted once the watermark passes."""
    pts = pages_stream.withColumn(
        "lon", lon_col(F.col("url"))
    ).withColumn("lat", lat_col(F.col("url")))
    cells = pts.withColumn(
        "cell_id", cell_id_col(F.col("lon"), F.col("lat"), res)
    )
    return (
        cells.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"),
                 F.col("cell_id"))
        .agg(F.approx_count_distinct("url", rsd).alias("n_distinct_urls"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "cell_id",
            "n_distinct_urls",
        )
    )


def deduplicated_stream(
    pages_stream: DataFrame,
    watermark: str = "2 hours",
    text_col: str = "text",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Streaming exact dedup: keep the first page per content hash among
    events within the watermark horizon (the streaming counterpart of
    ``operators/dedup.deduplicate_exact``).

    Uses ``dropDuplicatesWithinWatermark`` so the dedup STATE IS
    BOUNDED: a key's state is evicted once the watermark passes it,
    which is what makes exact dedup feasible on an unbounded 10^12-page
    stream — a plain ``dropDuplicates`` would grow state forever. The
    trade is the horizon: a duplicate arriving more than ``watermark``
    after its twin is emitted again (dedupe the cold table with the
    batch operators for the long tail).
    """
    hashed = pages_stream.withColumn(
        "text_hash", F.md5(F.coalesce(F.col(text_col), F.lit("")))
    )
    return (
        hashed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
        .drop("text_hash")
    )


def run_available_now(stream_df: DataFrame, table_name: str,
                      checkpoint_dir: str) -> None:
    """Drain everything currently available into an in-memory table
    (test/dev sink); at scale the same stream writes to parquet/Iceberg."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_to_spatial_table(
    pages_stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    part_res: int | None = None,
    sort_res: int | None = None,
):
    """Continuously ingest a pages stream into the cell-keyed spatial
    table layout (sources/layout.py): each micro-batch lands
    partitioned by coarse cell with the Morton locality column attached,
    so downstream cell/bbox readers prune partitions on live data too.
    ``part_res``/``sort_res`` default to the cell key's levels.

    Returns the started StreamingQuery; drain with
    ``trigger(availableNow=True)`` semantics by awaiting termination.
    """
    from ..sources.layout import KEYS

    key = KEYS["cell"]
    pts = pages_stream.withColumn(
        "lon", lon_col(F.col("url"))
    ).withColumn("lat", lat_col(F.col("url")))
    return (
        key.with_columns(pts, "lon", "lat", part_res, sort_res)
        .writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy(key.part)
        .trigger(availableNow=True)
        .start()
    )


def stream_to_events_table(
    events_stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
):
    """Continuously ingest an events stream into the day-chunked
    hypertable layout (sources/timeseries.py): each micro-batch lands
    under its ``part_day`` partitions, so :func:`read_time_range`
    prunes live data exactly like batch-written data, and
    ``write_rollup`` refreshes the continuous aggregate from the same
    directories. Micro-batches accumulate small files per day —
    schedule ``compact``-style rewrites or size micro-batches
    accordingly (same trade as the spatial streaming sink). Returns the
    started StreamingQuery."""
    from ..sources.timeseries import _day_col

    out = events_stream.withColumn("part_day", _day_col(ts_col))
    return (
        out.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("part_day")
        .trigger(availableNow=True)
        .start()
    )
