"""Streaming hot-spot maintenance: keep Getis-Ord Gi* current under
point ingest.

Per-cell point counts fold across micro-batches; the statistic is
recomputed on demand from the committed counts with the SAME
expression stage the batch operator uses
(``operators/hotspot.gi_star_from_counts``), so stream == batch by
construction once the counts agree.

Counts are ADDITIVE — re-folding a redelivered micro-batch would
double-count — so the state inherits the epoch-transactional
scaffolding from ``streaming/epoch_state.EpochVersionedState``
(the KLL-quantiles shape): the committed pointer records the last
folded epoch, a retry of a committed epoch is a no-op, and a
regressed epoch id raises unless :meth:`rebind` accepts the new
numbering. State size is bounded by OCCUPIED cells (the empty
lattice never materializes — the batch operator's domain-arithmetic
property carries over).
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .epoch_state import EpochVersionedState, foreach_batch_sink


class HotspotState(EpochVersionedState):
    """Persisted per-cell count table with exactly-once micro-batch
    folding. Use :meth:`foreach_batch` as a stream sink,
    :meth:`current` for the raw (gx, gy, cnt) rows, and
    :meth:`hotspots` for the live Gi* relation.

    With ``bin_seconds`` set, counts fold per TIME BIN as well
    ((bin, gx, gy) rows) and :meth:`emerging` serves the live
    space-time trend (``operators/hotspot.emerging hot spot``
    construction over the committed binned counts); state grows with
    occupied (bin, cell) pairs — bound the horizon by expiring old
    bins upstream or accept bins-few-by-construction (daily)."""

    def __init__(self, spark: SparkSession, state_dir: str,
                 res: int = 6, lon: str = "lon", lat: str = "lat",
                 bbox: Tuple[float, float, float, float] = (
                     -180.0, -90.0, 180.0, 90.0
                 ),
                 keep_versions: int = 2,
                 *,
                 ts_col: str = "ts",
                 bin_seconds: int | None = None):
        super().__init__(spark, state_dir, keep_versions)
        self.res = int(res)
        self.lon = lon
        self.lat = lat
        self.bbox = tuple(float(v) for v in bbox)
        self.ts_col = ts_col
        self.bin_seconds = (
            int(bin_seconds) if bin_seconds is not None else None
        )
        self._pin_config({"res": self.res, "bbox": list(self.bbox),
                          "bin_seconds": self.bin_seconds})

    def hotspots(self):
        """Live (cell_id, gx, gy, cnt, w_sum, k, gi_star) from the
        committed counts, or None before the first commit. Under
        ``bin_seconds`` the bins roll up first (whole-horizon Gi*)."""
        from ..operators.hotspot import gi_star_from_counts

        cur = self.current()
        if cur is None:
            return None
        if self.bin_seconds is not None:
            # the rollup is consumed twice downstream (stats +
            # scatter): materialize it, don't re-shuffle per branch
            cur = cur.groupBy("gx", "gy").agg(
                F.sum("cnt").alias("cnt")
            ).localCheckpoint(eager=True)
        return gi_star_from_counts(cur, self.res, self.bbox)

    def emerging(self):
        """Live emerging-hot-spot relation (cell_id, gx, gy, n_bins,
        mk_s, mk_z) from the committed binned counts — the batch
        construction (per-bin Gi* + Mann-Kendall) over state, so
        stream == batch by construction. Requires ``bin_seconds``."""
        from ..operators.hotspot import (
            gi_star_binned,
            mann_kendall_trend,
        )

        if self.bin_seconds is None:
            raise ValueError(
                "emerging() needs bin_seconds at construction"
            )
        cur = self.current()
        if cur is None:
            return None
        g = gi_star_binned(cur, self.res, self.bbox).select(
            "gx", "gy", "bin", "gi_star"
        ).localCheckpoint(eager=True)
        return mann_kendall_trend(g, self.res)

    def _fold(self, prev, batch_df: DataFrame):
        from ..operators.hotspot import cell_counts

        # shuffle-free emptiness check on the raw batch (the
        # quantile-fold discipline): testing emptiness on the counts
        # aggregate would pay the groupBy shuffle twice
        inside = batch_df.where(
            (F.col(self.lon) >= F.lit(self.bbox[0]))
            & (F.col(self.lon) <= F.lit(self.bbox[2]))
            & (F.col(self.lat) >= F.lit(self.bbox[1]))
            & (F.col(self.lat) <= F.lit(self.bbox[3]))
        )
        if not inside.take(1):
            return None
        if self.bin_seconds is not None:
            from ..operators.hotspot import binned_cell_counts

            fresh = binned_cell_counts(
                batch_df, self.res, self.lon, self.lat,
                self.ts_col, self.bin_seconds, self.bbox,
            )
            keys = ["bin", "gx", "gy"]
        else:
            fresh = cell_counts(batch_df, self.res, self.lon,
                                self.lat, self.bbox)
            keys = ["gx", "gy"]
        if prev is None:
            return fresh
        return (
            prev.unionByName(fresh)
            .groupBy(*keys)
            .agg(F.sum("cnt").alias("cnt"))
        )


def hotspot_sink(
    point_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    res: int = 6,
    lon: str = "lon",
    lat: str = "lat",
    bbox: Tuple[float, float, float, float] = (
        -180.0, -90.0, 180.0, 90.0
    ),
    trigger_available_now: bool = True,
    *,
    ts_col: str = "ts",
    bin_seconds: int | None = None,
):
    """Wire a point stream into a :class:`HotspotState` fold. Returns
    (state, streaming_query)."""
    state = HotspotState(point_stream.sparkSession, state_dir,
                         res, lon, lat, bbox, ts_col=ts_col,
                         bin_seconds=bin_seconds)
    return state, foreach_batch_sink(
        point_stream, state.foreach_batch, checkpoint_dir,
        trigger_available_now,
    )
