"""Streaming heavy hitters: fold a key stream into per-group
SpaceSaving summaries maintained across micro-batches.

The streaming sibling of ``operators/sketch.heavy_hitters_sketch`` —
trending keys (domains, tokens, cells) tracked continuously with
bounded state per group (at most ``m`` counters), served without
touching raw history.

Each micro-batch reduces to EXACT per-(group, key) counts first (a
bounded groupBy — Spark's map-side partial aggregation does the heavy
lifting), then the counts fold into the persisted summary via the
shared weighted-SpaceSaving insertion (``operators/sketch.ss_insert``
— the same lazy-heap kernel the batch summaries use). The classic
invariants survive weighted arrival — ``sum(cnt)`` equals the total
stream weight, every tracked count overestimates by at most its
``err``, and any UNtracked key's true count is bounded by the minimum
counter — so :meth:`HeavyHitterState.top` serves [lo, hi] =
[cnt - err, cnt] brackets and every key with true frequency above
N_group/m is guaranteed tracked.

Insertions are order-sensitive, so the fold is made deterministic the
same way the KLL merge was (ADVICE r5): batch items insert in
(descending weight, ascending key) order.

Like the KLL fold (streaming/quantiles.py) and unlike the union-find
fold (streaming/cluster.py), SPACESAVING FOLDING IS NOT IDEMPOTENT —
the epoch-transactional scaffolding comes from
``streaming/epoch_state.EpochVersionedState`` (redelivered epochs fold
nothing; regressed epochs raise; :meth:`rebind` accepts a new query
lifetime)."""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, SparkSession

from .epoch_state import EpochVersionedState, foreach_batch_sink


class HeavyHitterState(EpochVersionedState):
    """Persisted per-group SpaceSaving summary table with exactly-once
    micro-batch folding. Use :meth:`foreach_batch` as a stream sink,
    :meth:`current` for the summary rows (group_cols..., key, cnt,
    err), :meth:`top` for ranked estimates."""

    def __init__(self, spark: SparkSession, state_dir: str,
                 group_cols: List[str], key_col: str = "key",
                 m: int = 256, keep_versions: int = 2):
        if m < 1:
            raise ValueError("m must be >= 1")
        super().__init__(spark, state_dir, keep_versions)
        self.group_cols = list(group_cols)
        self.key_col = key_col
        self.m = int(m)
        self._pin_config({"group_cols": self.group_cols,
                          "key_col": self.key_col, "m": self.m})

    def top(self, k: int = 10):
        """(group_cols..., key, est, lo, hi, rank) from the committed
        state: est = the summary counter (an overestimate), lo =
        est - err, hi = est."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        cur = self.current()
        if cur is None:
            return None
        w = Window.partitionBy(*self.group_cols).orderBy(
            F.col("est").desc(), F.col("key").asc()
        )
        return (
            cur.select(
                *self.group_cols,
                "key",
                F.col("cnt").alias("est"),
                (F.col("cnt") - F.col("err")).alias("lo"),
                F.col("cnt").alias("hi"),
            )
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        )

    def _fold(self, prev, batch_df: DataFrame):
        import heapq

        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, StructField, StructType

        from ..operators.sketch import ss_insert

        # shuffle-free emptiness check on the raw batch (the groupBy
        # below would run a whole aggregation job just to answer it)
        if not batch_df.take(1):
            return None
        fresh = (
            batch_df.groupBy(*self.group_cols, self.key_col)
            .agg(F.count(F.lit(1)).alias("_w"))
            .select(
                *self.group_cols,
                F.col(self.key_col).alias("key"),
                "_w",
                F.lit(0).cast("long").alias("err"),
                F.lit(False).alias("_from_state"),
            )
        )
        if prev is not None:
            tagged_prev = prev.select(
                *self.group_cols,
                "key",
                F.col("cnt").alias("_w"),
                "err",
                F.lit(True).alias("_from_state"),
            )
            unioned = tagged_prev.unionByName(fresh)
        else:
            unioned = fresh

        group_fields = [unioned.schema[g] for g in self.group_cols]
        key_field = unioned.schema["key"]
        out_schema = StructType(
            group_fields + [
                key_field,
                StructField("cnt", LongType(), False),
                StructField("err", LongType(), False),
            ]
        )
        m = self.m
        gcols = list(self.group_cols)

        def fold_group(gvals, pdf):
            ss = {}
            st = pdf[pdf["_from_state"]]
            for key, w, err in zip(st["key"], st["_w"], st["err"]):
                ss[key] = [int(w), int(err)]
            heap = [(cnt, key) for key, (cnt, _err) in ss.items()]
            heapq.heapify(heap)
            batch = pdf[~pdf["_from_state"]].sort_values(
                ["_w", "key"], ascending=[False, True]
            )
            for key, w in zip(batch["key"], batch["_w"]):
                ss_insert(ss, heap, key, int(w), m)
            rows = [tuple(gvals) + (key, cnt, err)
                    for key, (cnt, err) in ss.items()]
            return pd.DataFrame(
                rows, columns=gcols + ["key", "cnt", "err"]
            )

        # batched grouped-map: one hash exchange + streamed group walk
        # — per-group applyInPandas pays ~4 ms PER GROUP (the round-5
        # pitfall), which a high-cardinality group column would turn
        # into the whole fold
        from ..operators.grouped import ordered_group_map

        return ordered_group_map(unioned, gcols, fold_group, out_schema)


def heavy_hitters_sink(
    key_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    group_cols: List[str],
    key_col: str = "key",
    m: int = 256,
    trigger_available_now: bool = True,
):
    """Wire a key stream into a :class:`HeavyHitterState` fold.
    Returns (state, streaming_query)."""
    state = HeavyHitterState(key_stream.sparkSession, state_dir,
                             group_cols, key_col, m)
    return state, foreach_batch_sink(
        key_stream, state.foreach_batch, checkpoint_dir,
        trigger_available_now,
    )
