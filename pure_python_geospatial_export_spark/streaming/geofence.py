"""Custom stateful streaming operator: geofence enter/exit
transitions.

``applyInPandasWithState`` keyed by the moving entity: each point is
classified against the (dimension-sized, closure-captured) polygon
layer with the planar PIP kernel; the set of polygons currently
containing the entity lives in state, and every CHANGE emits a
transition row ``(user_id, polygon_id, name, event, ts)`` with
``event`` in {'enter', 'exit'} — the alerting primitive of every
fleet/asset-tracking pipeline ("truck entered depot", "ship left the
zone").

Scale shape: the layer is a broadcast-sized dimension (same contract
as ``spatial_join``'s driver ring dict); state is O(zones currently
occupied) per entity, and only entities inside some zone keep a state
row at all; points shuffle ONCE on the entity key (the
stateful groupBy). Within-batch rows sort by event time (ties by an
optional ``order_col``) so transitions are deterministic; batches must
respect event-time order per entity (feed through one query — the
applyInPandasWithState exactly-once contract).
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# raw stateful-op output: epoch long; geofence_transitions projects it
# back to the input's timestamp flavor. Emitting the naive wall value
# back out is NOT tz-safe: a fold-hour wall time is ambiguous and
# Spark re-disambiguates it to the wrong instant.
OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType(), False),
    StructField("polygon_id", LongType(), False),
    StructField("name", StringType(), True),
    StructField("event", StringType(), False),
    StructField("ts_us", LongType(), False),
])

STATE_SCHEMA = StructType([
    StructField("inside", ArrayType(LongType()), False),
])


def make_geofencer(rings_by_id, order_col: Optional[str] = None):
    """rings_by_id: {polygon_id: {"rings": [...], "name": ...}} — the
    ``sources.polygons.load_rings`` dict."""
    from ..geo.kernels import points_in_polygon

    zones = [
        (int(pid), info.get("name"), info["rings"])
        for pid, info in sorted(rings_by_id.items())
    ]

    def fence(
        key: Tuple[int], pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        pts = pd.concat(list(pdfs))
        # sort on JVM-computed TRUE epoch, not the session-local wall
        # clock "ts" arrives as — wall order reverses across a DST
        # fall-back and the transition walk would see points out of
        # event order
        sort_by = ["_ts_us"] + ([order_col] if order_col else [])
        pts = pts.sort_values(sort_by)
        xs = pts["lon"].to_numpy(dtype=np.float64)
        ys = pts["lat"].to_numpy(dtype=np.float64)
        ts = [int(v) for v in pts["_ts_us"]]

        inside = set(state.get[0]) if state.exists else set()
        # one vectorized PIP per zone over the whole batch — the
        # per-point transition walk below is plain set algebra
        masks = [
            (pid, name, points_in_polygon(xs, ys, rings))
            for pid, name, rings in zones
        ]
        out = []
        for i, t in enumerate(ts):
            now = {pid for pid, _n, m in masks if m[i]}
            for pid, name, _m in masks:
                if pid in now and pid not in inside:
                    out.append((user_id, pid, name, "enter", t))
                elif pid not in now and pid in inside:
                    out.append((user_id, pid, name, "exit", t))
            inside = now
        # an absent state reads as the empty set, so a user outside
        # every zone keeps no row: the store holds only users inside one
        if inside:
            state.update((sorted(inside),))
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(
                out, columns=list(OUTPUT_SCHEMA.fieldNames())
            )

    return fence


def geofence_transitions(
    points: DataFrame,
    polygons: DataFrame,
    user_col: str = "user_id",
    order_col: Optional[str] = None,
    rings_by_id=None,
) -> DataFrame:
    """points(user_id, ts, lon, lat [, order_col]) x polygon layer ->
    enter/exit transition stream (streaming or batch semantics decided
    by the input DataFrame). First-ever points inside a zone emit
    'enter' (state starts empty)."""
    from ..functions.timecols import epoch_us_col as _epoch_us
    from ..sources.polygons import load_rings

    if rings_by_id is None:
        rings_by_id = load_rings(polygons)
    cols = [user_col, "ts", "lon", "lat"] + (
        [order_col] if order_col else []
    )
    from ..functions.timecols import us_to_ts_col

    ts_field = points.schema["ts"]
    raw = (
        points.select(*cols)
        .withColumn("_ts_us", _epoch_us(points, "ts"))
        .groupBy(user_col)
        .applyInPandasWithState(
            make_geofencer(rings_by_id, order_col=order_col),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return raw.select(
        "user_id", "polygon_id", "name", "event",
        us_to_ts_col("ts_us", ts_field).alias("ts"),
    )
