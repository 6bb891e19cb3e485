"""Streaming cluster composition (round-4 verdict item 7): folding a
micro-batched near-dup pair stream through the foreachBatch union-find
must equal batch connected components over all pairs."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from pure_python_geospatial_export_spark.operators.dedup import (
    duplicate_clusters,
    near_duplicates_minhash,
)
from pure_python_geospatial_export_spark.session import local_df
from pure_python_geospatial_export_spark.streaming.cluster import (
    ClusterState,
    clustered_pairs_sink,
)


def _write_pair_files(tmp_path, batches):
    """One parquet file per micro-batch, mtimes pinned so the file
    source delivers them in order with maxFilesPerTrigger=1."""
    src = tmp_path / "pairs_src"
    src.mkdir()
    schema = pa.schema([("id_a", pa.int64()), ("id_b", pa.int64())])
    for i, pairs in enumerate(batches):
        t = pa.table(
            {"id_a": [a for a, _ in pairs],
             "id_b": [b for _, b in pairs]},
            schema=schema,
        )
        path = src / ("b%03d.parquet" % i)
        pq.write_table(t, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return str(src)


def _stream_pairs(spark, src):
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([
        StructField("id_a", LongType(), False),
        StructField("id_b", LongType(), False),
    ])
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _assignments(state):
    return {
        r["id"]: r["cluster_id"] for r in state.current().collect()
    }


def test_transitive_merge_across_batches(spark, tmp_path):
    """Chains that only close over several micro-batches still collapse
    to one cluster: the incremental fold is a real union-find, not a
    per-batch CC."""
    batches = [
        [(1, 2), (10, 11), (20, 21)],
        [(2, 3)],                      # extends {1,2}
        [(11, 12), (3, 10)],           # merges {1,2,3} with {10,11,12}
        [(30, 31)],
    ]
    src = _write_pair_files(tmp_path, batches)
    state, q = clustered_pairs_sink(
        _stream_pairs(spark, src),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    got = _assignments(state)
    all_pairs = [p for b in batches for p in b]
    want = {
        r["id"]: r["cluster_id"]
        for r in duplicate_clusters(
            local_df(spark, all_pairs, ["id_a", "id_b"])
        ).collect()
    }
    assert got == want
    # the transitive component really is one cluster rooted at 1
    assert {got[i] for i in (1, 2, 3, 10, 11, 12)} == {1}
    assert got[20] == got[21] == 20
    assert got[30] == 30


def test_new_min_id_rewrites_old_roots(spark, tmp_path):
    """A later batch introducing a SMALLER id than an existing root
    must rewrite the whole component's cluster_id."""
    batches = [[(5, 6)], [(2, 5)], [(1, 6)]]
    src = _write_pair_files(tmp_path, batches)
    state, q = clustered_pairs_sink(
        _stream_pairs(spark, src),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    got = _assignments(state)
    assert got == {1: 1, 2: 1, 5: 1, 6: 1}


def test_fold_is_idempotent(spark, tmp_path):
    """Re-delivering a batch (foreachBatch retry semantics /
    at-least-once pair emission) leaves the table unchanged."""
    state = ClusterState(spark, str(tmp_path / "state"))
    b1 = local_df(spark, [(1, 2), (4, 5)], ["id_a", "id_b"])
    b2 = local_df(spark, [(2, 4)], ["id_a", "id_b"])
    state.foreach_batch(b1, 0)
    state.foreach_batch(b2, 1)
    want = _assignments(state)
    state.foreach_batch(b2, 1)  # SAME-epoch retry (at-least-once
    # foreachBatch redelivery after a crash-before-checkpoint): must
    # not collide with the committed version dir it is reading
    assert _assignments(state) == want
    state.foreach_batch(b2, 2)  # replay under a new epoch id
    assert _assignments(state) == want
    state.foreach_batch(b1, 3)  # replay the first batch out of order
    assert _assignments(state) == want
    assert want == {1: 1, 2: 1, 4: 1, 5: 1}


def test_stream_clusters_match_batch_dedup(spark, tmp_path):
    """End to end: docs -> streaming MinHash pairs (at-least-once
    all_bands emission is safe because the fold is idempotent) ->
    union-find sink == batch duplicate_clusters over batch
    near_duplicates_minhash on the same data."""
    import datetime

    from pure_python_geospatial_export_spark.streaming.neardup import (
        near_duplicates_stream,
    )

    BASE = datetime.datetime(2024, 1, 1)
    words = ("alpha beta gamma delta epsilon zeta eta theta iota "
             "kappa lambda mu nu xi omicron pi rho sigma tau").split()
    rows = []
    doc_id = 0
    for fam in range(8):
        stem = " ".join(
            words[(fam * 5 + k) % len(words)] for k in range(28)
        )
        for v in range(3):
            rows.append((doc_id, stem + " tail%d" % v,
                         BASE + datetime.timedelta(minutes=doc_id)))
            doc_id += 1
    df = local_df(spark, rows, ["page_id", "text", "warc_ts"])
    df = df.withColumn("warc_ts", df["warc_ts"].cast("timestamp"))
    src = str(tmp_path / "docs_src")
    df.repartition(5).write.parquet(src)

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )
    schema = StructType([
        StructField("page_id", LongType(), False),
        StructField("text", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
    ])
    docs_stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    pair_stream = near_duplicates_stream(
        docs_stream, watermark="365 days", threshold=0.7,
        emit_mode="all_bands",
    )
    state, q = clustered_pairs_sink(
        pair_stream, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    batch_pairs = near_duplicates_minhash(
        df, "page_id", "text", threshold=0.7
    )
    want = {
        r["id"]: r["cluster_id"]
        for r in duplicate_clusters(batch_pairs).collect()
    }
    assert want  # fixture sanity: families produced pairs
    assert _assignments(state) == want


def test_superseded_versions_are_pruned(spark, tmp_path):
    """Round-5 advice: ClusterState wrote a new versioned directory per
    micro-batch and never deleted old ones — unbounded growth on a
    long-running stream. Now pruned to keep_versions (current + one
    prior for in-flight readers by default)."""
    state = ClusterState(spark, str(tmp_path / "state"))
    for i in range(5):
        state.foreach_batch(
            local_df(spark, [(i * 10, i * 10 + 1)], ["id_a", "id_b"]), i
        )
    dirs = sorted(
        n for n in os.listdir(state.state_dir)
        if n.startswith("v") and n[1:].isdigit()
    )
    assert len(dirs) == 2  # newest + one superseded
    assert dirs[-1] == state._read_pointer()[0]
    got = _assignments(state)
    assert got == {i * 10: i * 10 for i in range(5)} | {
        i * 10 + 1: i * 10 for i in range(5)
    }

    import pytest
    with pytest.raises(ValueError, match="keep_versions"):
        ClusterState(spark, str(tmp_path / "state2"), keep_versions=0)


def test_default_composition_end_to_end(spark, tmp_path):
    """near_duplicate_clusters_stream (the safe default: all_bands ->
    idempotent fold) matches batch clustering on the same docs."""
    import datetime

    from pure_python_geospatial_export_spark.streaming.cluster import (
        near_duplicate_clusters_stream,
    )

    BASE = datetime.datetime(2024, 3, 1)
    words = ("alpha beta gamma delta epsilon zeta eta theta iota "
             "kappa lambda mu nu xi omicron pi rho sigma tau").split()
    rows = []
    doc_id = 0
    for fam in range(5):
        stem = " ".join(
            words[(fam * 3 + k) % len(words)] for k in range(26)
        )
        for v in range(2):
            rows.append((doc_id, stem + " tail%d" % v,
                         BASE + datetime.timedelta(minutes=doc_id)))
            doc_id += 1
    df = local_df(spark, rows, ["page_id", "text", "warc_ts"])
    df = df.withColumn("warc_ts", df["warc_ts"].cast("timestamp"))
    src = str(tmp_path / "docs_src")
    df.repartition(3).write.parquet(src)

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )
    schema = StructType([
        StructField("page_id", LongType(), False),
        StructField("text", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
    ])
    docs_stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state, q = near_duplicate_clusters_stream(
        docs_stream, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        watermark="365 days", threshold=0.7,
    )
    q.awaitTermination()

    batch_pairs = near_duplicates_minhash(
        df, "page_id", "text", threshold=0.7
    )
    want = {
        r["id"]: r["cluster_id"]
        for r in duplicate_clusters(batch_pairs).collect()
    }
    assert want
    assert _assignments(state) == want
