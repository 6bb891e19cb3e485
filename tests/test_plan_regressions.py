"""Physical-plan regression locks for the measured perf wins.

These plans were audited and tuned across rounds (docs/PLANS.md); a
Catalyst-visible regression — a shuffle creeping back into the flagship
join, the kNN window re-shuffling its candidates, the repetition
scalars hoisting above the explode — should fail CI, not a future
benchmark."""

import inspect
import os

import pytest

import __spark_entry__ as em

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _plan(spark, name):
    df = em.REGISTRY[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan):
    return (
        plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + plan.count("Exchange RoundRobin")
    )


def _broadcast(plan):
    return "BroadcastExchange" in plan


def _no_arrow(plan):
    return "ArrowEvalPython" not in plan


def _no_map_in_pandas(plan):
    return "mapInPandas" not in plan.lower()


def _one_scan(plan):
    return plan.count("Scan parquet") == 1


def _no_union(plan):
    return "Union" not in plan


# the planar point-in-polygon join: one scan-and-join stage whose single
# filter answers full cells by containment and ray-casts boundary cells
# in the JVM — no second scan, no union, no Python
_PIP_ONE_PASS = [_one_scan, _no_arrow, _no_union]

# the polygon-vs-layer joins: candidate cells, pair dedupe, full-cell
# shortcut and exact refine in ONE MapInArrow over the probe scan — no
# broadcast cover join (the declared exchange count is 0)
_LAYER_ONE_PASS = [
    _one_scan,
    lambda plan: plan.count("MapInArrow") == 1,
    lambda plan: "BroadcastHashJoin" not in plan,
]


# Plan shapes beyond the exchange count each query declares in its @query
# (the comment there says why the shape holds).
SHAPES = {
    "pip_join": [_broadcast] + _PIP_ONE_PASS,
    "pip_join_antimeridian": _PIP_ONE_PASS,
    "pip_join_polar": _PIP_ONE_PASS,
    "zonal_stats": _PIP_ONE_PASS,
    "repetition": [
        lambda plan: plan.index("Generate") < plan.index("array_distinct"),
    ],
    "polygon_overlap": _LAYER_ONE_PASS,
    "image_phash": [lambda plan: _shuffles(plan) <= 4],
    "similarity_topk": [
        lambda plan: plan.count("BroadcastExchange") == 1,
        lambda plan: "WindowGroupLimit" in plan,
        lambda plan: "Partial" in plan.split("WindowGroupLimit", 2)[-1],
    ],
    "events_window": [
        lambda plan: plan.count("HashAggregate") == 2,  # partial + final
        lambda plan: "partial_count" in plan,
    ],
    "clip_rects": _LAYER_ONE_PASS,
    "areal_interp": [_broadcast],
    "hex_bins": [_no_arrow, _no_map_in_pandas],
    "rect_distance": _LAYER_ONE_PASS,
    "tpch_region_volume": [lambda plan: plan.count("BroadcastExchange") >= 4],
    "snap_lines": [
        _broadcast,
        lambda plan: plan.count("WindowGroupLimit") == 2,
    ],
    "hotspots": [_broadcast],
    "html_extract": [_no_arrow, _no_map_in_pandas],
    "link_graph": [_no_arrow, _no_map_in_pandas],
    "anchor_index": [_no_arrow],
    "frontier_batches": [_no_arrow],
    "sitemap_urls": [_no_arrow],
}


@pytest.mark.parametrize("name", list(em.REGISTRY))
def test_query_plan(spark, name):
    """Every registered query's executed plan under the default conf:
    no row-at-a-time Python UDF (a BatchEvalPython node means one crept
    onto a hot path; Arrow-batched ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas are fine), exactly the declared number of
    shuffle exchanges, and the shape checks in SHAPES."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan, plan
    exchanges = em.REGISTRY[name].exchanges
    if exchanges is not None:
        assert _shuffles(plan) == exchanges, plan
    for check in SHAPES.get(name, ()):
        assert check(plan), (inspect.getsource(check).strip(), plan)


def test_shape_table_names_registered_queries():
    assert set(SHAPES) <= set(em.REGISTRY)


def test_minhash_pipeline_shuffle_budget(spark):
    """VERDICT r5 #6: lock the banded self-join's shuffle shape in the
    corpus-scale regime (forced SMJ — neither verify side broadcasts
    at 100 TB). Budget: 2 exchanges for the band self-join sides, 1
    for the pair distinct, 2+2 for the two verify array joins = 7 hash
    exchanges, zero extra. The public near_duplicates_minhash API
    localCheckpoints its result (hiding the plan), so the lock builds
    the same un-checkpointed pipeline from its building blocks."""
    from pyspark.sql import functions as F

    from pure_python_geospatial_export_spark.operators import dedup

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = spark.read.parquet(
            os.path.join(SF, "documents.parquet")
        ).select("doc_id", "text")
        base = dedup.minhash_signature(df, "doc_id", "text", 64, 3)
        cands = dedup.lsh_candidate_pairs(
            base, "doc_id", 16, 64, size_threshold=0.8
        )
        out = dedup.jaccard_verify(
            cands, df, "doc_id", "text", 0.8,
            shingles_df=base.select(
                "doc_id", F.col("shingle_hashes").alias("sh")
            ),
            size_prefilter=False,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert _shuffles(plan) == 7, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_curate_pipeline_shuffle_budget(spark):
    """VERDICT r5 #6: the whole curation preset's exchange budget in
    the forced-SMJ regime — 12 hash exchanges across its cost-ordered
    stages. A new stage composing badly (re-shuffling the corpus
    where it could ride an existing partitioning) shows up here as a
    count bump, independent of wall-clock noise."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "curate_pipeline")
        assert _shuffles(plan) == 12, plan
        assert "BatchEvalPython" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_dissolve_pair_join_shuffle_budget(spark):
    """The dissolve pair stage: exactly the two hash exchanges of the
    cell equi self-join (both sides of the exploded relation) and NO
    distinct anywhere — pair dedupe is the canonical-cell filter
    inside the join stage. A creeping Deduplicate/HashAggregate over
    (id_a, id_b) would re-shuffle every candidate pair."""
    import os

    from pyspark.sql import functions as F

    from pure_python_geospatial_export_spark.functions.points import (
        lon_col, lat_col,
    )
    from pure_python_geospatial_export_spark.operators.dissolve import (
        polygon_self_overlap_pairs,
    )

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    url = F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
    pts = docs.withColumn("lon", lon_col(url)).withColumn(
        "lat", lat_col(url)
    ).where(F.col("doc_id") % 21 == 0)
    half = F.lit(0.5) + (F.col("doc_id") % 4).cast("double") * F.lit(0.3)
    wkt = F.format_string(
        "POLYGON ((%.6f %.6f, %.6f %.6f, %.6f %.6f, %.6f %.6f, "
        "%.6f %.6f))",
        F.round(F.col("lon") - half, 6), F.round(F.col("lat") - half, 6),
        F.round(F.col("lon") + half, 6), F.round(F.col("lat") - half, 6),
        F.round(F.col("lon") + half, 6), F.round(F.col("lat") + half, 6),
        F.round(F.col("lon") - half, 6), F.round(F.col("lat") + half, 6),
        F.round(F.col("lon") - half, 6), F.round(F.col("lat") - half, 6),
    )
    probes = pts.select(F.col("doc_id").alias("id"), wkt.alias("wkt"))

    # corpus-scale regime: neither side of a fact-scale self-join
    # broadcasts at 100 TB, so force the SMJ shape (the minhash lock's
    # recipe)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = polygon_self_overlap_pairs(probes, res=6)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert _shuffles(plan) == 2, plan
        assert "Deduplicate" not in plan and "distinct" not in plan, \
            plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_cross_minhash_shuffle_budget(spark):
    """The A-vs-B banded join keeps the self-join's exchange budget in
    the forced-SMJ regime: 2 banded sides + 1 pair distinct + 2+2
    verify joins = 7 hash exchanges, zero extra."""
    from pyspark.sql import functions as F

    from pure_python_geospatial_export_spark.operators import dedup

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        train = spark.read.parquet(
            os.path.join(SF, "documents.parquet")
        ).select("doc_id", "text")
        bench = train.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 700000).alias("doc_id"),
            F.concat("text", F.lit(" zzzz")).alias("text"),
        )
        out = dedup.cross_near_duplicates_minhash(
            train, bench, "doc_id", "text", 0.5, materialize=False
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert _shuffles(plan) == 7, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_big_layer_join_one_points_scan(spark):
    """The planar big-layer join: the executor-built cover (its one
    MapInArrow, below the join) meets one scan of the points, and the
    broadcast join's own JVM ray cast refines them — no union, no
    second scan, no pandas or Arrow UDF stage."""
    from pure_python_geospatial_export_spark.operators.spatial_join import (
        spatial_join_big_layer,
    )

    out = spatial_join_big_layer(em._docs_points(spark, SF),
                                 em._layer_df(spark), res=7)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert _one_scan(plan) and _no_union(plan) and _no_arrow(plan), plan
    assert _no_map_in_pandas(plan) and "BatchEvalPython" not in plan, plan
    assert plan.count("MapInArrow") == 1, plan
    assert plan.index("MapInArrow") > plan.index("Join "), plan
