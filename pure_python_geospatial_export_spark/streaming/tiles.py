"""Incremental MVT tile maintenance over a point stream — the live-map
sink: as points arrive, only the tiles they land in are re-encoded and
atomically replaced in a ``{z}/{x}/{y}.mvt`` directory a map client is
polling.

Design (foreachBatch, like streaming/cluster.py):

* every micro-batch APPENDS its points to a parquet point store
  partitioned by (tx, ty) — the accumulated truth a tile render needs
  (a tile's bytes are a function of ALL its points, not the delta);
* the batch's DISTINCT (tx, ty) set — micro-batch sized — selects
  which partitions to re-read (partition pruning does the rest), and
  only those tiles re-encode through the batch
  ``encode_mvt_points_xyz`` kernel path;
* each refreshed ``.mvt`` lands via write-temp + ``os.replace``, so a
  polling client always reads a complete tile (the
  ``write_mvt_directory`` contract).

Re-delivery safety: appends are NOT naturally idempotent, so the store
dedupes on the id column at read time (one row per id wins
deterministically) — an at-least-once replay changes nothing in the
rendered tiles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.tiles import encode_mvt_points_xyz, mercator_tile_cols
from .epoch_state import foreach_batch_sink


class MvtTileMaintainer:
    """Persisted point store + refresh-on-write tile directory."""

    def __init__(
        self,
        spark: SparkSession,
        zoom: int,
        store_dir: str,
        tiles_dir: str,
        id_col: str = "doc_id",
        lon: str = "lon",
        lat: str = "lat",
        layer_name: str = "points",
        extent: int = 4096,
    ):
        self.spark = spark
        self.zoom = int(zoom)
        self.store_dir = store_dir
        self.tiles_dir = tiles_dir
        self.id_col = id_col
        self.lon = lon
        self.lat = lat
        self.layer_name = layer_name
        self.extent = int(extent)
        os.makedirs(tiles_dir, exist_ok=True)

    def _with_tiles(self, df: DataFrame) -> DataFrame:
        tx, ty = mercator_tile_cols(
            F.col(self.lon), F.col(self.lat), self.zoom
        )
        return df.withColumn("tx", tx).withColumn("ty", ty)

    def _store_points(self) -> DataFrame | None:
        # explicit existence check, NOT a broad except: a transient FS
        # or corrupt-footer error during read must raise (and fail the
        # batch so it retries), not silently skip the refresh while
        # the checkpoint advances past it
        if not os.path.isdir(self.store_dir):
            return None  # first batch: store not created yet
        return self.spark.read.parquet(self.store_dir)

    def foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        batch = self._with_tiles(
            batch_df.select(self.id_col, self.lon, self.lat)
        )
        touched = [
            (int(r["tx"]), int(r["ty"]))
            for r in batch.select("tx", "ty").distinct().collect()
        ]
        if not touched:
            return
        (
            batch.write.mode("append")
            .partitionBy("tx", "ty")
            .parquet(self.store_dir)
        )
        self.refresh_tiles(touched)

    def refresh_tiles(self, tiles) -> int:
        """Re-encode the given (tx, ty) tiles from the full point
        store and atomically replace their .mvt files. Returns the
        number of tiles written."""
        import uuid

        tiles = list(tiles)
        if not tiles:
            return 0
        store = self._store_points()
        if store is None:
            return 0
        cond = None
        for tx, ty in tiles:
            c = (F.col("tx") == tx) & (F.col("ty") == ty)
            cond = c if cond is None else (cond | c)
        pts = store.where(cond)
        # at-least-once appends: one row per id wins deterministically
        from pyspark.sql import Window

        w = Window.partitionBy(self.id_col).orderBy(
            F.col(self.lon).asc(), F.col(self.lat).asc()
        )
        pts = (
            pts.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "tx", "ty")
        )
        enc = encode_mvt_points_xyz(
            pts, self.zoom, layer_name=self.layer_name,
            extent=self.extent, id_col=self.id_col,
            lon=self.lon, lat=self.lat,
        ).collect()
        written = 0
        for r in enc:
            d = os.path.join(self.tiles_dir, str(self.zoom),
                             str(int(r["tx"])))
            os.makedirs(d, exist_ok=True)
            final = os.path.join(d, "%d.mvt" % int(r["ty"]))
            tmp = final + ".%s.tmp" % uuid.uuid4().hex[:8]
            with open(tmp, "wb") as f:
                f.write(bytes(r["mvt"]))
            os.replace(tmp, final)
            written += 1
        return written


def points_to_mvt_sink(
    point_stream: DataFrame,
    zoom: int,
    store_dir: str,
    tiles_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    **kwargs,
):
    """Wire a point stream into incremental tile maintenance. Returns
    (maintainer, streaming_query)."""
    m = MvtTileMaintainer(
        point_stream.sparkSession, zoom, store_dir, tiles_dir, **kwargs
    )
    return m, foreach_batch_sink(
        point_stream, m.foreach_batch, checkpoint_dir,
        trigger_available_now,
    )
