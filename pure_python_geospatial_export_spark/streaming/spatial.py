"""Streaming spatial overlap: detect intersecting polygons across
micro-batches — the spatial sibling of the streaming MinHash matcher
(streaming/neardup.py), composing with the idempotent union-find fold
(streaming/cluster.py) into live geometry clustering (geofence
merging, event-footprint coalescing, moving-AOI dedup).

Pipeline: one Arrow pass extracts each polygon's (padded) bbox
(``spatial_join.attach_probe_bboxes`` — malformed rows drop, the P8
null-guard semantics); the bbox's grid-cell range explodes (pure
column ``sequence``); per-cell stateful buckets
(``applyInPandasWithState``) hold the watermark-horizon members and
each arriving polygon is tested against them. A bbox prefilter
collects a call's candidate pairs; ONE call of the dissolve operator's
own verify (``operators.dissolve.verify_pairs``: smaller id first,
each distinct WKT parsed once, great-circle edges under
``edges='geodesic'``) answers them all, so a pair's answer is the
batch operator's whichever side arrived first, and unreadable or
non-areal geometry never pairs. State per bucket is bounded: event-time
eviction by the watermark plus a FIFO ``max_members`` space cap, and
an event-time timeout removes idle buckets entirely.

Pair-emission ownership mirrors the MinHash lesson EXACTLY
(streaming/neardup.py module docstring): ``emit_mode='canonical_cell'``
emits each pair once — from the cell holding the SW corner of the two
bboxes' intersection, the dissolve operator's dedupe rule — but has
the same recall gap as ``min_band`` (the OWNING cell's bucket can
FIFO-evict a member while another shared cell still holds both, and
no single-bucket-computable rule fixes that). The default
``'all_cells'`` emits from every shared cell (at-least-once): safe
with idempotent consumers — pair-set dedup, or the union-find fold in
:func:`spatial_clusters_stream`.

On a BATCH frame the same matcher runs per cell through the batched
grouped-map with an inert state, so stream and batch produce the same
pairs for the same data (asserted in tests).

Member timestamps are TRUE epoch microseconds computed JVM-side —
state eviction compares them against the (epoch-based) watermark and
the event-time timeout, so they must not be the session-local wall
clock Arrow hands the UDF (a non-UTC session would evict the whole
horizon off by the timezone offset). The matcher emits raw epoch
longs; the wrapper converts ``pair_ts`` back to the input's
timestamp flavor (streaming/trajectory.py's recipe).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.geom_udfs import grid_xy_cols
from ..operators.spatial_join import DEFAULT_RES, attach_probe_bboxes
from .epoch_state import foreach_batch_sink
from .neardup import _InertState, _parse_interval_seconds

# raw matcher output: epoch long; spatial_overlap_stream projects it
# back to the input's timestamp flavor
PAIR_SCHEMA = StructType([
    StructField("id_a", LongType(), False),
    StructField("id_b", LongType(), False),
    StructField("pair_ts_us", LongType(), False),
])

STATE_SCHEMA = StructType([
    StructField("ids", ArrayType(LongType()), True),
    StructField("ts_us", ArrayType(LongType()), True),
    StructField("x0", ArrayType(DoubleType()), True),
    StructField("y0", ArrayType(DoubleType()), True),
    StructField("x1", ArrayType(DoubleType()), True),
    StructField("y1", ArrayType(DoubleType()), True),
    StructField("wkts", ArrayType(StringType()), True),
])


def make_cell_matcher(
    res: int,
    geodesic: bool,
    max_members: int,
    horizon_seconds: int,
    use_timeout: bool,
    emit_mode: str = "all_cells",
):
    if emit_mode not in ("canonical_cell", "all_cells"):
        raise ValueError(
            "emit_mode must be 'all_cells' (at-least-once, the safe "
            "default) or 'canonical_cell' (exactly-once, eviction "
            "recall gap), got %r" % (emit_mode,)
        )
    from ..geo import cells as cellmod
    from ..operators.dissolve import verify_pairs

    def match_cell(
        key: Tuple[int, int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        gx, gy = int(key[0]), int(key[1])

        ids: list = []
        ts_us: list = []
        bx0: list = []
        by0: list = []
        bx1: list = []
        by1: list = []
        wkts: list = []
        if state.exists:
            s = state.get
            ids, ts_us = list(s[0]), list(s[1])
            bx0, by0 = list(s[2]), list(s[3])
            bx1, by1 = list(s[4]), list(s[5])
            wkts = list(s[6])

        # event-time eviction: drop members the watermark has passed
        wm_us = state.getCurrentWatermarkMs() * 1000
        if wm_us > 0 and ids:
            keep = [k for k, t in enumerate(ts_us) if t >= wm_us]
            if len(keep) < len(ids):
                ids = [ids[k] for k in keep]
                ts_us = [ts_us[k] for k in keep]
                bx0 = [bx0[k] for k in keep]
                by0 = [by0[k] for k in keep]
                bx1 = [bx1[k] for k in keep]
                by1 = [by1[k] for k in keep]
                wkts = [wkts[k] for k in keep]

        # bbox-passing candidates, answered in ONE verify_pairs call
        # after the walk (smaller id's WKT on the a side)
        out_a, out_b, out_ts, wkt_a, wkt_b = [], [], [], [], []
        rows = pd.concat(list(pdfs)).sort_values(["_ts_us", "id"])
        for rid, rts_us, rx0, ry0, rx1, ry1, rwkt in zip(
            rows["id"], rows["_ts_us"], rows["_xmin"], rows["_ymin"],
            rows["_xmax"], rows["_ymax"], rows["_wkt"],
        ):
            rid = int(rid)
            t_us = int(rts_us)
            for k in range(len(ids)):
                oid = ids[k]
                if oid == rid:
                    continue
                if not (bx0[k] <= rx1 and rx0 <= bx1[k]
                        and by0[k] <= ry1 and ry0 <= by1[k]):
                    continue
                if emit_mode == "canonical_cell":
                    cgx, cgy = cellmod.cell_xy(
                        np.array([max(bx0[k], rx0)]),
                        np.array([max(by0[k], ry0)]),
                        res,
                    )
                    if int(cgx[0]) != gx or int(cgy[0]) != gy:
                        continue  # another cell owns this pair
                lo, hi = (rwkt, wkts[k]) if rid < oid else (wkts[k], rwkt)
                out_a.append(min(rid, oid))
                out_b.append(max(rid, oid))
                out_ts.append(max(t_us, ts_us[k]))
                wkt_a.append(lo)
                wkt_b.append(hi)
            ids.append(rid)
            ts_us.append(t_us)
            bx0.append(float(rx0))
            by0.append(float(ry0))
            bx1.append(float(rx1))
            by1.append(float(ry1))
            wkts.append(rwkt)
            if max_members is not None \
                    and len(ids) > max_members:  # FIFO space cap
                drop = len(ids) - max_members
                ids = ids[drop:]
                ts_us = ts_us[drop:]
                bx0, by0 = bx0[drop:], by0[drop:]
                bx1, by1 = bx1[drop:], by1[drop:]
                wkts = wkts[drop:]

        state.update((ids, ts_us, bx0, by0, bx1, by1, wkts))
        if use_timeout:
            state.setTimeoutTimestamp(
                max(ts_us) // 1000 + horizon_seconds * 1000
            )
        if out_a:
            hit = verify_pairs(wkt_a, wkt_b, geodesic)
            if hit.any():
                yield pd.DataFrame({
                    "id_a": pd.Series(out_a, dtype="int64"),
                    "id_b": pd.Series(out_b, dtype="int64"),
                    "pair_ts_us": pd.Series(out_ts, dtype="int64"),
                })[hit]

    return match_cell


def spatial_overlap_stream(
    polys: DataFrame,
    id_col: str = "poly_id",
    wkt_col: str = "wkt",
    ts_col: str = "ts",
    res: int = DEFAULT_RES,
    edges: str = "planar",
    watermark: str = "2 hours",
    max_members: int | str | None = "auto",
    emit_mode: str = "all_cells",
) -> DataFrame:
    """Polygon stream (or batch frame) -> (id_a, id_b, pair_ts), one
    row per intersecting pair found within the watermark horizon (per
    shared cell under the default at-least-once ``'all_cells'`` —
    consumers must be idempotent; see module docstring).

    ``max_members`` (the per-cell FIFO space cap): the default
    ``"auto"`` means 256 when streaming but UNCAPPED on a batch frame
    — a silent cap would drop pairs that
    ``operators.dissolve.polygon_self_overlap_pairs`` (the operator
    batch mode must equal) finds. Pass an int to cap both modes, or
    ``None`` for unbounded streaming state (dangerous on hot cells).
    Note batch mode also applies NO watermark horizon (there are no
    micro-batches to advance it): batch == stream only when the data
    fits inside the horizon."""
    geodesic = edges == "geodesic"
    is_streaming = polys.isStreaming
    if max_members == "auto":
        max_members = 256 if is_streaming else None
    from ..functions.timecols import epoch_us_col as _epoch_us
    from ..functions.timecols import us_to_ts_col

    src = polys.select(
        F.col(id_col).alias("id"),
        F.col(ts_col).alias("ts"),
        F.col(wkt_col).alias("_wkt"),
    )
    ts_field = src.schema["ts"]
    src = src.withColumn("_ts_us", _epoch_us(src, "ts"))
    with_bbox = attach_probe_bboxes(src, geodesic)
    if is_streaming:
        with_bbox = with_bbox.withWatermark("ts", watermark)
    gx0, gy0 = grid_xy_cols(F.col("_xmin"), F.col("_ymin"), res)
    gx1, gy1 = grid_xy_cols(F.col("_xmax"), F.col("_ymax"), res)
    cells = (
        with_bbox
        .withColumn("_gx", F.explode(F.sequence(gx0, gx1)))
        .withColumn("_gy", F.explode(F.sequence(gy0, gy1)))
    )
    horizon_s = _parse_interval_seconds(watermark)
    matcher = make_cell_matcher(
        res, geodesic, max_members, horizon_s,
        use_timeout=is_streaming, emit_mode=emit_mode,
    )
    if not is_streaming:
        # same matcher per cell via the batched grouped-map with an
        # inert state — stream == batch for the same data
        from ..operators.grouped import ordered_group_map

        def batch_fn(key, pdf):
            out = list(matcher(key, iter([pdf]), _InertState()))
            if out:
                return out[0]
            return pd.DataFrame({
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "pair_ts_us": pd.Series([], dtype="int64"),
            })

        raw = ordered_group_map(
            cells, ["_gx", "_gy"], batch_fn, PAIR_SCHEMA,
            sort_cols=["_ts_us", "id"],
        )
    else:
        raw = cells.groupBy("_gx", "_gy").applyInPandasWithState(
            matcher,
            outputStructType=PAIR_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    return raw.select(
        "id_a", "id_b",
        us_to_ts_col("pair_ts_us", ts_field).alias("pair_ts"),
    )


def spatial_clusters_stream(
    polys: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    **overlap_kwargs,
):
    """The SAFE composition of streaming overlap detection and
    clustering: :func:`spatial_overlap_stream` in ``all_cells`` mode
    feeding the idempotent :class:`streaming.cluster.ClusterState`
    fold — at-least-once emission costs nothing under union-find, and
    it closes the canonical-cell eviction gap (a pair is missed only
    if evicted from ALL its shared cells). Returns
    (state, streaming_query)."""
    from .cluster import clustered_pairs_sink

    overlap_kwargs.setdefault("emit_mode", "all_cells")
    pair_stream = spatial_overlap_stream(polys, **overlap_kwargs)
    return clustered_pairs_sink(
        pair_stream, state_dir, checkpoint_dir,
        trigger_available_now=trigger_available_now,
    )


def dissolve_stream(
    polys: DataFrame,
    state_dir: str,
    members_dir: str,
    checkpoint_dir: str,
    id_col: str = "poly_id",
    wkt_col: str = "wkt",
    ts_col: str = "ts",
    edges: str = "planar",
    trigger_available_now: bool = True,
    **overlap_kwargs,
):
    """Streaming DISSOLVE maintenance: keep dissolve groups current
    under polygon ingest (round 7, the dissolve sibling of
    :func:`spatial_clusters_stream`).

    Two sinks over the one source:

    * the pair path — :func:`spatial_clusters_stream` (all_cells
      at-least-once overlap emission into the idempotent union-find
      :class:`streaming.cluster.ClusterState` fold);
    * a members registry — per micro-batch, the SAME
      ``attach_probe_bboxes`` parse batch dissolve runs (malformed
      WKT drops, exactly the P8 batch semantics) appends
      ``(_id, _rxmin, _rymin, _rxmax, _rymax)`` rows to
      ``members_dir``. Appends are redelivery-safe because the
      read side (:func:`dissolve_groups_current`) folds duplicates
      with a per-id min/max that is a no-op on identical rows.

    Returns ``(state, pairs_query, members_query)`` — await both
    queries, then :func:`dissolve_groups_current` for the rollup.
    """
    from ..operators.spatial_join import attach_probe_bboxes

    geodesic = edges == "geodesic"
    state, pairs_q = spatial_clusters_stream(
        polys, state_dir, checkpoint_dir + "/pairs",
        trigger_available_now=trigger_available_now,
        id_col=id_col, wkt_col=wkt_col, ts_col=ts_col, edges=edges,
        **overlap_kwargs,
    )

    def member_batch(batch_df: DataFrame, epoch_id: int) -> None:
        src = batch_df.select(
            F.col(id_col).alias("_id"), F.col(wkt_col).alias("_wkt")
        )
        mb = attach_probe_bboxes(src, geodesic, include_raw=True)
        mb.select(
            "_id", "_rxmin", "_rymin", "_rxmax", "_rymax"
        ).write.mode("append").parquet(members_dir)

    return state, pairs_q, foreach_batch_sink(
        polys, member_batch, checkpoint_dir + "/members",
        trigger_available_now,
    )


def dissolve_groups_current(
    spark,
    state,
    members_dir: str,
    id_col: str = "poly_id",
) -> DataFrame:
    """Current dissolved-group rollup from streaming state ->
    ``(group_id, n_members, xmin, ymin, xmax, ymax)`` — the schema
    and semantics of ``operators.dissolve.dissolve_groups`` (group_id
    = min member id; untouched polygons are singleton groups of
    themselves; stream == batch asserted on the lattice fixture).

    The members registry dedupes by id first (per-id min == max ==
    the value, so at-least-once appends fold away), then left-joins
    the committed union-find labels; ids absent from the label table
    are singletons. Before the first member batch commits (the dir
    does not exist yet) the rollup is empty."""
    import os as _os

    if not _os.path.isdir(members_dir):
        return spark.createDataFrame(
            [],
            "group_id long, n_members long, xmin double, "
            "ymin double, xmax double, ymax double",
        )
    members = (
        spark.read.parquet(members_dir)
        .groupBy("_id")
        .agg(
            F.min("_rxmin").alias("_rxmin"),
            F.min("_rymin").alias("_rymin"),
            F.max("_rxmax").alias("_rxmax"),
            F.max("_rymax").alias("_rymax"),
        )
    )
    labels = state.current()
    if labels is None:
        joined = members.withColumn("group_id", F.col("_id"))
    else:
        joined = members.join(
            labels.withColumnRenamed("id", "_id"), "_id", "left"
        ).withColumn(
            "group_id", F.coalesce(F.col("cluster_id"), F.col("_id"))
        )
    return joined.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("_rxmin").alias("xmin"),
        F.min("_rymin").alias("ymin"),
        F.max("_rxmax").alias("xmax"),
        F.max("_rymax").alias("ymax"),
    )
