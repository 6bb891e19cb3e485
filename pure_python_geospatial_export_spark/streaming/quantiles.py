"""Streaming quantiles: fold a value stream into per-group KLL
sketches maintained across micro-batches.

The streaming sibling of ``operators/sketch.kll_sketch`` — value
distributions (latency percentiles, doc-length profiles, score
drift) maintained continuously with bounded state per group,
served without touching raw history.

Unlike the union-find fold (streaming/cluster.py), KLL MERGE IS NOT
IDEMPOTENT: re-merging a redelivered micro-batch would double-count
its rows. foreachBatch is at-least-once, so the state inherits the
epoch-transactional scaffolding from
``streaming/epoch_state.EpochVersionedState`` — the committed pointer
records the last folded epoch id, a retry of a committed epoch is a
no-op, and a regressed epoch id (different query lifetime) raises
unless :meth:`rebind` accepts the new numbering.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, SparkSession

from .epoch_state import EpochVersionedState, foreach_batch_sink


class QuantileState(EpochVersionedState):
    """Persisted per-group KLL sketch table with exactly-once
    micro-batch folding. Use :meth:`foreach_batch` as a stream sink,
    :meth:`current` for the sketch rows (group_cols..., levels, n),
    :meth:`quantiles` for estimates."""

    def __init__(self, spark: SparkSession, state_dir: str,
                 group_cols: List[str], value_col: str = "value",
                 k: int = 200, keep_versions: int = 2):
        super().__init__(spark, state_dir, keep_versions)
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self.k = int(k)
        self._pin_config({"group_cols": self.group_cols,
                          "value_col": self.value_col, "k": self.k})

    def quantiles(self, qs: List[float]):
        """(group_cols..., q, est) from the committed state."""
        from ..operators.sketch import kll_quantiles

        cur = self.current()
        if cur is None:
            return None
        return kll_quantiles(cur, self.group_cols, qs, k=self.k)

    def _fold(self, prev, batch_df: DataFrame):
        from pyspark.sql import functions as F

        from ..operators.sketch import kll_merge, kll_sketch

        # shuffle-free emptiness check on the raw batch: KLL folds
        # non-null values only, so filter first — running the sketch
        # aggregation just to test emptiness would pay a shuffle that
        # the fold below then repeats
        values = batch_df.where(F.col(self.value_col).isNotNull())
        if not values.take(1):
            return None
        fresh = kll_sketch(
            values.select(*self.group_cols, self.value_col),
            self.group_cols, self.value_col, k=self.k,
        )
        if prev is None:
            return fresh
        return kll_merge(prev.unionByName(fresh), self.group_cols,
                         k=self.k)


def quantile_sink(
    value_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    group_cols: List[str],
    value_col: str = "value",
    k: int = 200,
    trigger_available_now: bool = True,
):
    """Wire a value stream into a :class:`QuantileState` fold. Returns
    (state, streaming_query)."""
    state = QuantileState(value_stream.sparkSession, state_dir,
                          group_cols, value_col, k)
    return state, foreach_batch_sink(
        value_stream, state.foreach_batch, checkpoint_dir,
        trigger_available_now,
    )
