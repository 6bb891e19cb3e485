"""Streaming convex-hull maintenance: per-group hull vertices folded
across micro-batches.

The streaming sibling of ``operators/hull.convex_hulls`` — running
per-group spatial extents (coverage footprints, bounding hulls of
user activity) served continuously without touching raw history, in
O(hull size) state per group.

The fold is IDEMPOTENT: ``hull(state ∪ points) == hull(everything
ever seen)`` (vertices are input coordinates — no arithmetic), and
re-folding a redelivered batch unions the same vertices into the same
hull, so every batch folds unconditionally (``gate_epochs = False``).
The one summary column that is NOT idempotently maintainable is
``n_points`` (a redelivered batch would double-count), so the
streaming summaries drop it — pair with an exact-dedup or HLL fold
when a count is needed.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .epoch_state import EpochVersionedState, foreach_batch_sink


class HullState(EpochVersionedState):
    """Persisted per-group hull-vertex table folded by micro-batch.
    Use :meth:`foreach_batch` as a stream sink, :meth:`current` for
    the vertex rows (group_col, lon, lat), :meth:`summaries` for the
    full per-group hull summary (area, bbox, calipers metrics, wkt —
    no ``n_points``)."""

    gate_epochs = False

    def __init__(self, spark: SparkSession, state_dir: str,
                 group_col: str = "group_id", lon: str = "lon",
                 lat: str = "lat", keep_versions: int = 2):
        super().__init__(spark, state_dir, keep_versions)
        self.group_col = group_col
        self.lon = lon
        self.lat = lat

    def summaries(self) -> Optional[DataFrame]:
        """Per-group hull summary recomputed from the committed
        vertices (``convex_hulls`` columns minus ``n_points`` — see
        module docstring), or None before the first commit."""
        from ..operators.hull import convex_hulls

        cur = self.current()
        if cur is None:
            return None
        return convex_hulls(
            cur, self.group_col, self.lon, self.lat
        ).drop("n_points")

    def _fold(self, prev, batch_df: DataFrame):
        from ..operators.hull import hull_vertices

        if batch_df.isEmpty():
            return None
        fresh = batch_df.select(self.group_col, self.lon, self.lat)
        src = prev.unionByName(fresh) if prev is not None else fresh
        return hull_vertices(src, self.group_col, self.lon, self.lat)


def hull_sink(
    point_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    group_col: str = "group_id",
    lon: str = "lon",
    lat: str = "lat",
    trigger_available_now: bool = True,
):
    """Wire a point stream into a :class:`HullState` fold. Returns
    (state, streaming_query)."""
    state = HullState(point_stream.sparkSession, state_dir,
                      group_col, lon, lat)
    return state, foreach_batch_sink(
        point_stream, state.foreach_batch, checkpoint_dir,
        trigger_available_now,
    )
