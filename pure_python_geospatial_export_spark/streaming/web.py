"""Streaming link-graph maintenance: keep host-level link counts —
and therefore PageRank host authority — current under page ingest
(e.g. a WARC directory stream, sources/warc.read_warc_stream).

Edge counts are ADDITIVE (a redelivered micro-batch would
double-count), so the state inherits the epoch-transactional fold
from ``streaming/epoch_state.EpochVersionedState`` (the
hotspot/quantile shape): committed pointer tracks the last folded
epoch, retries are no-ops, epoch regressions raise unless
:meth:`rebind` accepts a new numbering.

The live statistic is recomputed on demand from the committed counts
with the SAME operator the batch path uses —
``operators/graph.pagerank`` over the weighted ``(src, dst, n)``
relation, where integer weights are EXACTLY multi-edge multiplicity —
so ``host_rank()`` here equals ``operators/web.host_rank`` over the
concatenation of all ingested batches bit-for-bit in exact mode
(stream == batch by construction once the counts agree).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .epoch_state import EpochVersionedState, foreach_batch_sink

__all__ = ["LinkGraphState", "link_graph_sink"]


class LinkGraphState(EpochVersionedState):
    """Persisted ``(src, dst, n)`` host-edge-count table with
    exactly-once micro-batch folding. :meth:`foreach_batch` is the
    stream sink; :meth:`current` returns the live edge counts;
    :meth:`host_rank` the live PageRank over them."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        html_col: str = "html",
        url_col: str = "url",
        by_domain: bool = False,
        keep_versions: int = 2,
    ):
        super().__init__(spark, state_dir, keep_versions)
        self.html_col = html_col
        self.url_col = url_col
        self.by_domain = bool(by_domain)
        self._pin_config(
            {
                "html_col": html_col,
                "url_col": url_col,
                "by_domain": self.by_domain,
            }
        )

    def _fold(self, prev, batch_df: DataFrame):
        from ..operators.web import host_link_edges

        edges = host_link_edges(
            batch_df,
            html_col=self.html_col,
            url_col=self.url_col,
            by_domain=self.by_domain,
        )
        # narrow chain (projection + explode + filter): take(1) is a
        # cheap shuffle-free emptiness probe
        if not edges.take(1):
            return None
        fresh = edges.groupBy("src", "dst").agg(
            F.count(F.lit(1)).alias("n")
        )
        if prev is None:
            return fresh
        return (
            prev.unionByName(fresh)
            .groupBy("src", "dst")
            .agg(F.sum("n").alias("n"))
        )

    def host_rank(
        self,
        iterations: int = 10,
        scale: int | None = None,
        damping: tuple = (85, 100),
    ):
        """Live ``(node, rank)`` over the committed counts, or None
        before the first commit. Exact mode (``scale``) equals the
        batch ``operators/web.host_rank`` of all ingested pages
        bit-for-bit (integer weights == multi-edge multiplicity)."""
        from ..operators.graph import pagerank

        cur = self.current()
        if cur is None:
            return None
        return pagerank(
            cur,
            iterations=iterations,
            scale=scale,
            damping=damping,
            weight_col="n",
        )


def link_graph_sink(
    page_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    html_col: str = "html",
    url_col: str = "url",
    by_domain: bool = False,
    trigger_available_now: bool = True,
):
    """Wire a pages stream into a :class:`LinkGraphState` fold.
    Returns (state, streaming_query)."""
    state = LinkGraphState(
        page_stream.sparkSession,
        state_dir,
        html_col=html_col,
        url_col=url_col,
        by_domain=by_domain,
    )
    return state, foreach_batch_sink(
        page_stream, state.foreach_batch, checkpoint_dir,
        trigger_available_now,
    )
