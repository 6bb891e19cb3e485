"""Streaming origin-destination maintenance: keep the OD matrix
current as closed stay segments arrive.

Composes on :func:`streaming.trajectory.trajectory_stream` — chaining
a SECOND stateful operator behind applyInPandasWithState is rejected
by Spark (the round-3 global-watermark lesson), so the pairing state
lives in a foreachBatch fold instead: per user, the last seen stay is
carried in committed state and each arriving stay pairs with it into
one directed trip (exactly the batch ``od_flows`` construction, one
lead at a time).

Trip counts and transit sums are ADDITIVE (a redelivered batch would
double-count) and the last-stay pointer must advance exactly once per
batch, so the state inherits ``EpochVersionedState``'s transactional
fold. State holds one ``last`` row per active user plus one ``trip``
row per distinct (user, o_cell, d_cell) — keeping the user in the
trip key makes the read-side ``n_users`` EXACT (countDistinct at
serve time), matching the batch operator bit-for-bit.

Correctness contract: segments must arrive in event-time order per
user (feed ONE trajectory_stream query — its own contract); the
batch twin over the same CLOSED segments produces identical flows
(asserted in tests; a user's final still-open segment exists only in
batch, so fixtures end users on a non-stay)."""

from __future__ import annotations

from typing import Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from .epoch_state import EpochVersionedState, foreach_batch_sink

_STATE_SCHEMA = StructType([
    StructField("_kind", StringType(), False),
    StructField("user_id", LongType(), False),
    StructField("o_cell", LongType(), True),
    StructField("d_cell", LongType(), True),
    StructField("n_trips", LongType(), True),
    StructField("transit_us_sum", LongType(), True),
    StructField("last_cell", LongType(), True),
    StructField("last_end_us", LongType(), True),
])


class OdState(EpochVersionedState):
    """Persisted OD state with exactly-once micro-batch folding. Use
    :meth:`foreach_batch` as a sink over trajectory_stream output and
    :meth:`flows` for the live (o_cell, d_cell, n_trips, n_users,
    transit_us_sum) matrix."""

    def __init__(self, spark: SparkSession, state_dir: str,
                 res: int = 6, user_col: str = "user_id",
                 keep_versions: int = 2):
        super().__init__(spark, state_dir, keep_versions)
        self.res = int(res)
        self.user_col = user_col
        self._pin_config({"res": self.res})

    def flows(self):
        """Committed OD matrix, or None before the first commit.
        ``n_users`` is exact (trips are keyed by user in state)."""
        cur = self.current()
        if cur is None:
            return None
        return (
            cur.where(F.col("_kind") == "trip")
            .groupBy("o_cell", "d_cell")
            .agg(
                F.sum("n_trips").alias("n_trips"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum("transit_us_sum").alias("transit_us_sum"),
            )
        )

    def _fold(self, prev, batch_df: DataFrame):
        from ..functions.timecols import epoch_us_col
        from ..operators.grouped import ordered_group_map
        from ..operators.trajectory import stay_cell_col

        stays = batch_df.where(F.col("is_stay")).select(
            F.col(self.user_col).alias("user_id"),
            stay_cell_col(self.res).alias("cell"),
            epoch_us_col(batch_df, "t_start").alias("start_us"),
            epoch_us_col(batch_df, "t_end").alias("end_us"),
        )
        if not stays.take(1):
            return None

        prev_last = (
            prev.where(F.col("_kind") == "last")
            if prev is not None else None
        )
        incoming = stays.select(
            "user_id", "cell", "start_us", "end_us",
            F.col("start_us").alias("_seq"),
        )
        if prev_last is not None:
            # carry ONLY users present in this batch — untouched
            # users keep their pointer via the anti-join below (both
            # would otherwise emit a last row for the same user)
            carried = prev_last.join(
                stays.select("user_id").distinct(),
                "user_id", "left_semi",
            ).select(
                "user_id",
                F.col("last_cell").alias("cell"),
                F.lit(None).cast("long").alias("start_us"),
                F.col("last_end_us").alias("end_us"),
                # the carried stay precedes every new one (event-time
                # order per user is the trajectory_stream contract)
                F.lit(-(2 ** 62)).alias("_seq"),
            )
            incoming = carried.unionByName(incoming)

        def pair(key, pdf):
            (user,) = key
            rows = []
            prev_cell = prev_end = None
            for cell, start_us, end_us in zip(
                pdf["cell"], pdf["start_us"], pdf["end_us"]
            ):
                if prev_cell is not None and not pd.isna(start_us):
                    rows.append((
                        "trip", user, int(prev_cell), int(cell),
                        1, int(start_us) - int(prev_end),
                        None, None,
                    ))
                prev_cell, prev_end = cell, end_us
            rows.append((
                "last", user, None, None, None, None,
                int(prev_cell), int(prev_end),
            ))
            # object dtype per column: mixing int cells with the
            # last/trip rows' Nones would coerce to float64, which
            # ROUNDS 61-bit cell ids (2^53 mantissa — the round-6
            # gpkg NULL-attribute class); Arrow casts object ints
            # exactly per the declared schema
            names = list(_STATE_SCHEMA.fieldNames())
            return pd.DataFrame({
                n: pd.Series([r[i] for r in rows], dtype=object)
                for i, n in enumerate(names)
            })

        # folded feeds BOTH union branches below: materialize once
        # or the sort + Python pairing pass executes twice per
        # micro-batch (the materialize-first rule)
        folded = ordered_group_map(
            incoming, ["user_id"], pair, _STATE_SCHEMA,
            sort_cols=["_seq"],
        ).localCheckpoint(eager=True)
        new_last = folded.where(F.col("_kind") == "last")
        new_trips = folded.where(F.col("_kind") == "trip")
        if prev is not None:
            new_trips = new_trips.unionByName(
                prev.where(F.col("_kind") == "trip")
            )
            # users untouched this batch keep their last-stay pointer
            new_last = new_last.unionByName(
                prev_last.join(
                    stays.select("user_id").distinct(),
                    "user_id", "left_anti",
                )
            )
        trips = (
            new_trips.groupBy("user_id", "o_cell", "d_cell")
            .agg(
                F.sum("n_trips").alias("n_trips"),
                F.sum("transit_us_sum").alias("transit_us_sum"),
            )
            .select(
                F.lit("trip").alias("_kind"), "user_id",
                "o_cell", "d_cell", "n_trips", "transit_us_sum",
                F.lit(None).cast("long").alias("last_cell"),
                F.lit(None).cast("long").alias("last_end_us"),
            )
        )
        return trips.unionByName(new_last)


def od_sink(
    segment_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    res: int = 6,
    user_col: str = "user_id",
    trigger_available_now: bool = True,
) -> Tuple[OdState, object]:
    """Wire a trajectory_stream segment stream into an
    :class:`OdState` fold. Returns (state, streaming_query)."""
    state = OdState(segment_stream.sparkSession, state_dir,
                    res=res, user_col=user_col)
    return state, foreach_batch_sink(
        segment_stream, state.foreach_batch, checkpoint_dir,
        trigger_available_now,
    )
