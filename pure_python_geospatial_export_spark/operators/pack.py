"""Sequence packing: assign documents to fixed token-budget bins.

Training pipelines concatenate documents into fixed-length context
windows ("packing") to avoid padding waste; the assignment step — which
documents share a window, at which token offset — is this operator.
Exact global greedy packing is inherently sequential (bin state depends
on every prior document), so the scalable shape is SHARD-LOCAL packing:
rows are grouped by a caller-chosen shard column (source, hash bucket,
date...), each shard packs greedily in deterministic ``id_col`` order,
and shards pack in parallel. One shuffle on the shard key; the greedy
loop runs in an ``applyInArrow`` kernel because no window function can
express "running sum that resets when it would exceed the capacity"
(the reset value depends on the running result — not prefix-sum
expressible; the DuckDB oracle needs a recursive CTE for the same
reason).

Semantics (mirrored exactly by the oracle):
* rows pack in ascending ``id_col`` order within each shard;
* a row joins the current bin when ``fill + n_tokens <= max_tokens``,
  else it opens the next bin at offset 0;
* an overlong row (``n_tokens > max_tokens``) still opens its own bin
  (callers split/truncate downstream — flagged via ``overflow``).

At 100 TB: shard granularity bounds the Arrow table (pick shards of
~10^5-10^6 rows); the shuffle carries only (shard, id, n_tokens), never
text; cross-shard parallelism is total.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from ..functions import text as T


def pack_sequences(
    df: DataFrame,
    max_tokens: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str = None,
) -> DataFrame:
    """-> (group, id, n_tokens, pack_id, pack_offset, overflow).

    ``pack_id`` is the 0-based bin index within the shard, ``pack_offset``
    the row's first token slot within its bin. Token counts come from
    ``tokens_col`` if given, else whitespace ``token_count(text_col)``.
    """
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    tok = (
        F.col(tokens_col) if tokens_col is not None
        else T.token_count(F.col(text_col))
    )
    # NULL text/count packs as 0 tokens instead of poisoning the whole
    # shard's kernel with a NaN
    src = df.select(
        F.col(group_col), F.col(id_col),
        F.coalesce(tok, F.lit(0)).alias("n_tokens"),
    )
    out_schema = StructType(
        list(src.schema.fields)
        + [
            StructField("pack_id", LongType(), False),
            StructField("pack_offset", LongType(), False),
            StructField("overflow", BooleanType(), False),
        ]
    )
    cap = int(max_tokens)

    def pack(table: pa.Table) -> pa.Table:
        # Arrow, not pandas: a bigint id beside a NULL stays exact. The
        # sort is stable and puts NULL ids last.
        table = table.sort_by(id_col)
        n_tokens = table.column("n_tokens").to_pylist()
        bins, offs = [], []
        fill, b = None, -1
        for t in n_tokens:
            t = int(t)
            if fill is None or fill + t > cap:
                b += 1
                off = 0
                fill = t
            else:
                off = fill
                fill += t
            bins.append(b)
            offs.append(off)
        return (
            table.append_column("pack_id", pa.array(bins, pa.int64()))
            .append_column("pack_offset", pa.array(offs, pa.int64()))
            .append_column("overflow",
                           pa.array([t > cap for t in n_tokens], pa.bool_()))
        )

    return src.groupBy(group_col).applyInArrow(pack, out_schema)


def packing_efficiency(packed: DataFrame, max_tokens: int,
                       group_col: str = "source") -> DataFrame:
    """Per-shard packing report: bins used, token slots filled, and the
    fill fraction (sum of tokens / bins * capacity) — the number the
    padding-waste trade-off is tuned on. Pure aggregation."""
    per_bin = packed.groupBy(group_col, "pack_id").agg(
        F.sum("n_tokens").alias("_fill")
    )
    return per_bin.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("_fill").alias("n_tokens"),
        (F.sum("_fill").cast("double")
         / (F.count(F.lit(1)) * F.lit(int(max_tokens))).cast("double")
         ).alias("fill_fraction"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 512,
    overlap: int = 0,
) -> DataFrame:
    """Split LONG documents into fixed-token-budget chunks with
    optional overlap -> (id, chunk_idx, chunk_text, n_tokens) — the
    complement of :func:`pack_sequences` (which bins SHORT documents):
    together they shape any corpus into context windows.

    Chunk ``k`` covers tokens ``[k*stride, k*stride + chunk_tokens)``
    with ``stride = chunk_tokens - overlap``; the last chunk may be
    shorter, a doc at or under the budget yields exactly one chunk.
    Pure column math end to end (whitespace tokenization + slice), so
    it runs in codegen at scan speed and mirrors into SQL exactly.
    Scalars project BELOW the explode (the ExtractGenerator pitfall —
    docs/PLANS.md) so nothing re-evaluates per chunk row."""
    from ..functions import text as T

    chunk_tokens = int(chunk_tokens)
    overlap = int(overlap)
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("overlap must be in [0, chunk_tokens)")
    stride = chunk_tokens - overlap

    base = df.select(
        F.col(id_col),
        T.tokens_col(F.col(text_col)).alias("_toks"),
    ).select(
        id_col,
        "_toks",
        F.when(F.size("_toks") <= chunk_tokens, F.lit(1))
        .otherwise(
            F.ceil(
                (F.size("_toks") - F.lit(chunk_tokens))
                / F.lit(float(stride))
            ).cast("int") + F.lit(1)
        ).alias("_n_chunks"),
    )
    exploded = base.select(
        id_col,
        "_toks",
        F.explode(
            F.sequence(F.lit(0), F.col("_n_chunks") - 1)
        ).alias("chunk_idx"),
    )
    sliced = F.slice(
        F.col("_toks"),
        F.col("chunk_idx") * F.lit(stride) + F.lit(1),
        F.lit(chunk_tokens),
    )
    return exploded.select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.concat_ws(" ", sliced).alias("chunk_text"),
        F.size(sliced).cast("int").alias("n_tokens"),
    )
