"""Streaming distinct counts: fold a value stream into per-group
HyperLogLog register relations maintained across micro-batches.

The streaming sibling of ``operators/sketch.hll_sketch`` — running
distinct-URL / distinct-user counts per group (cell, domain, day)
served continuously without touching raw history, in O(2^p) state per
group.

The fold is register-wise MAX, which is idempotent and commutative: a
redelivered micro-batch re-maxes the same registers into the same
state, so every batch folds unconditionally (``gate_epochs = False``
in ``streaming/epoch_state.EpochVersionedState``) — exactly the
property KLL lacks, which is why streaming/quantiles.py keeps the
epoch gate.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, SparkSession

from .epoch_state import EpochVersionedState, foreach_batch_sink


class DistinctState(EpochVersionedState):
    """Persisted per-group HLL register table folded by micro-batch.
    Use :meth:`foreach_batch` as a stream sink, :meth:`current` for
    the register rows (group_cols..., bucket, reg), :meth:`estimates`
    for distinct-count estimates."""

    gate_epochs = False

    def __init__(self, spark: SparkSession, state_dir: str,
                 group_cols: List[str], value_col: str = "value",
                 p: int = 12, keep_versions: int = 2):
        super().__init__(spark, state_dir, keep_versions)
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self.p = int(p)
        # registers of two precisions would max into one bucket
        # silently: hll_merge is a plain groupBy max
        self._pin_config({"group_cols": self.group_cols, "p": self.p})

    def estimates(self, correction: bool = True):
        """(group_cols..., zeros, harmonic, est) from the committed
        state, or None before the first commit."""
        from ..operators.sketch import hll_estimate

        cur = self.current()
        if cur is None:
            return None
        return hll_estimate(cur, self.group_cols, p=self.p,
                            correction=correction)

    def _fold(self, prev, batch_df: DataFrame):
        from ..operators.sketch import hll_merge, hll_sketch

        # raw-batch probe (scan limit 1, no shuffle) — probing the
        # aggregated sketch instead would run the full register
        # groupBy once for the probe and again for the write
        if batch_df.isEmpty():
            return None
        fresh = hll_sketch(
            batch_df.select(*self.group_cols, self.value_col),
            self.group_cols, self.value_col, p=self.p,
        )
        if prev is None:
            return fresh
        return hll_merge(prev.unionByName(fresh), self.group_cols)


def distinct_sink(
    value_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    group_cols: List[str],
    value_col: str = "value",
    p: int = 12,
    trigger_available_now: bool = True,
):
    """Wire a value stream into a :class:`DistinctState` fold. Returns
    (state, streaming_query)."""
    state = DistinctState(value_stream.sparkSession, state_dir,
                          group_cols, value_col, p)
    return state, foreach_batch_sink(
        value_stream, state.foreach_batch, checkpoint_dir,
        trigger_available_now,
    )
