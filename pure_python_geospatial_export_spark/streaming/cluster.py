"""Streaming duplicate-cluster composition: fold a near-dup PAIR
stream into incrementally-maintained connected components.

``near_duplicates_stream`` emits pairs exactly-once (or at-least-once
in ``all_bands`` mode), but chaining the CC clustering stage as a
second stateful operator is rejected by Spark's global-watermark
correctness check (the round-3 limitation documented in
streaming/neardup.py). This module closes that gap with the standard
escape hatch: a ``foreachBatch`` sink that folds each micro-batch of
pairs into a persisted union-find table, so streamed cluster
assignments equal the batch ``duplicate_clusters`` over the union of
all pairs seen.

Why the fold is correct AND cheap:

* The assignment table maps every seen id to its component's MIN id
  (the batch convention). Components are fully described by their
  roots, so a micro-batch only has to run CC over the ROOT graph its
  pairs touch — a micro-batch-sized problem — then remap the big table
  through the (old_root -> new_root) dictionary with one distributed
  join. Nothing driver-side scales with history except the table
  itself, which stays in parquet.
* Union-find folding is IDEMPOTENT (re-adding an edge is a no-op), so
  a foreachBatch retry of the same epoch converges to the same table —
  at-least-once pair delivery (``emit_mode='all_bands'``) is safe by
  construction, and every batch folds (``gate_epochs = False``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .epoch_state import EpochVersionedState, foreach_batch_sink


class ClusterState(EpochVersionedState):
    """Persisted union-find table (id, cluster_id) folded by
    micro-batch. Use :meth:`foreach_batch` as the sink of a pair
    stream (columns id_a, id_b), :meth:`current` to read the latest
    committed assignments."""

    gate_epochs = False

    def _fold(self, prev, batch_df: DataFrame):
        """Fold one micro-batch of (id_a, id_b) pairs into the
        table."""
        from ..operators.dedup import duplicate_clusters

        if batch_df.isEmpty():
            return None
        pairs = batch_df.select("id_a", "id_b").distinct()

        if prev is None:
            assign = duplicate_clusters(pairs)
        else:
            # resolve each endpoint to its current root (itself when
            # unseen), run CC on the touched ROOT graph only, then
            # remap the whole table through old_root -> new_root
            a = prev.select(
                F.col("id").alias("id_a"),
                F.col("cluster_id").alias("_ra"),
            )
            b = prev.select(
                F.col("id").alias("id_b"),
                F.col("cluster_id").alias("_rb"),
            )
            rooted = (
                pairs.join(a, "id_a", "left")
                .join(b, "id_b", "left")
                .select(
                    F.coalesce(F.col("_ra"), F.col("id_a")).alias("ra"),
                    F.coalesce(F.col("_rb"), F.col("id_b")).alias("rb"),
                    "id_a",
                    "id_b",
                )
            )
            root_edges = (
                rooted.select(
                    F.col("ra").alias("id_a"), F.col("rb").alias("id_b")
                )
                .where(F.col("id_a") != F.col("id_b"))
                .distinct()
            )
            if root_edges.take(1):
                remap = duplicate_clusters(root_edges).select(
                    F.col("id").alias("_old"),
                    F.col("cluster_id").alias("_new"),
                )
            else:
                remap = None

            def _remapped(df, col):
                if remap is None:
                    return df
                return (
                    df.join(remap, df[col] == remap["_old"], "left")
                    .select(
                        *[c for c in df.columns if c != col],
                        F.coalesce(F.col("_new"), F.col(col))
                        .alias(col),
                    )
                )

            kept = _remapped(prev, "cluster_id").select(
                "id", "cluster_id"
            )
            fresh = (
                rooted.select(F.col("id_a").alias("id"),
                              F.col("ra").alias("cluster_id"))
                .unionByName(
                    rooted.select(F.col("id_b").alias("id"),
                                  F.col("rb").alias("cluster_id"))
                )
                .groupBy("id")
                .agg(F.min("cluster_id").alias("cluster_id"))
                .join(prev.select("id"), "id", "left_anti")
            )
            assign = kept.unionByName(
                _remapped(fresh, "cluster_id").select("id", "cluster_id")
            )

        return assign


def near_duplicate_clusters_stream(
    docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    **neardup_kwargs,
):
    """The SAFE default composition of streaming near-dup detection and
    clustering: ``near_duplicates_stream`` in ``all_bands`` mode feeding
    the idempotent :class:`ClusterState` fold.

    ``min_band`` (exactly-once) has a documented recall gap — a pair is
    lost when the OWNING band's bucket FIFO-evicted a member while
    another colliding bucket still holds both (space eviction is
    per-bucket, time eviction is consistent; see streaming/neardup.py).
    Because the union-find fold is idempotent, at-least-once
    ``all_bands`` emission costs nothing here and closes that gap:
    a pair is missed only if evicted from ALL its colliding buckets.
    Callers may still override ``emit_mode`` explicitly.

    Returns (state, streaming_query)."""
    from .neardup import near_duplicates_stream

    neardup_kwargs.setdefault("emit_mode", "all_bands")
    pair_stream = near_duplicates_stream(docs, **neardup_kwargs)
    return clustered_pairs_sink(
        pair_stream, state_dir, checkpoint_dir,
        trigger_available_now=trigger_available_now,
    )


def clustered_pairs_sink(
    pair_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Wire a pair stream (id_a, id_b, ...) into a :class:`ClusterState`
    fold. Returns (state, streaming_query) — call
    ``query.awaitTermination()`` then ``state.current()`` for the
    assignments."""
    state = ClusterState(pair_stream.sparkSession, state_dir)
    return state, foreach_batch_sink(
        pair_stream, state.foreach_batch, checkpoint_dir,
        trigger_available_now,
    )
