"""Python stages that carry input columns through keep them exact: a
bigint id above 2**53 beside a NULL id in one Arrow batch comes back as
it went in. Through pandas such a column becomes float64, and the ids
come back rounded (2**53+1 -> 2**53, 2**53+3 -> 2**53+4)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

BIG = [2**53 + 1, None, 2**53 + 3]
SQUARE = "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
TRIANGLE = "POLYGON ((0 0, 2 0, 0 2, 0 0))"


def _frame(spark, extra_field, values):
    schema = StructType([StructField("id", LongType(), True), extra_field])
    rows = list(zip(BIG, values))
    # one partition, so the NULL shares the batch with the big ids
    return spark.createDataFrame(rows, schema).coalesce(1)


def _wkt_frame(spark, name):
    return _frame(spark, StructField(name, StringType(), True), [SQUARE] * 3)


def _points(spark):
    """The ids at (0.999, 0.999): inside the triangle below, 0.0014 from
    its long edge, so the point's cell is a boundary cell at any
    resolution the joins use."""
    return _frame(spark, StructField("lon", DoubleType(), True),
                  [0.999] * 3).withColumn("lat", F.col("lon"))


def _bboxes(spark, tmp_path):
    from pure_python_geospatial_export_spark.operators.spatial_join import (
        attach_probe_bboxes,
    )

    return attach_probe_bboxes(_wkt_frame(spark, "_wkt"), False)


def _validate(spark, tmp_path):
    from pure_python_geospatial_export_spark.operators.validate import (
        validate_geometries,
    )

    return validate_geometries(_wkt_frame(spark, "wkt"))


def _simplify(spark, tmp_path):
    from pure_python_geospatial_export_spark.operators.tiles import (
        simplify_wkt,
    )

    return simplify_wkt(_wkt_frame(spark, "wkt"), 0.1)


def _pack(spark, tmp_path):
    from pure_python_geospatial_export_spark.operators.pack import (
        pack_sequences,
    )

    df = _frame(spark, StructField("source", StringType(), True), ["s"] * 3)
    return pack_sequences(df.selectExpr("*", "5 AS nt"), 100, id_col="id",
                          tokens_col="nt")


def _minhash(spark, tmp_path):
    from pure_python_geospatial_export_spark.operators.dedup import (
        minhash_signature,
    )

    df = _frame(spark, StructField("text", StringType(), True),
                ["a b c d"] * 3)
    return minhash_signature(df, "id", "text", 8, 2)


def _big_layer(spark, tmp_path):
    from pure_python_geospatial_export_spark.operators.spatial_join import (
        spatial_join_big_layer,
    )

    polygons = spark.createDataFrame(
        [(1, "tri", TRIANGLE)], "polygon_id long, name string, wkt string"
    )
    return spatial_join_big_layer(_points(spark), polygons)


def _read_polygon(spark, tmp_path):
    from pure_python_geospatial_export_spark.sources.layout import (
        read_polygon,
        write_spatial_table,
    )

    path = str(tmp_path / "table")
    write_spatial_table(_points(spark), path)
    return read_polygon(spark, path, [[[0.0, 0.0], [2.0, 0.0], [0.0, 2.0],
                                       [0.0, 0.0]]], part_res=3)


def _geoparquet(spark, tmp_path):
    from pure_python_geospatial_export_spark.sources.geoparquet import (
        export_geoparquet,
        read_geoparquet,
    )

    path = str(tmp_path / "gpq")
    export_geoparquet(_wkt_frame(spark, "wkt"), path).collect()
    return read_geoparquet(spark, path)


STAGES = {"attach_probe_bboxes": _bboxes, "validate_geometries": _validate,
          "simplify_wkt": _simplify, "pack_sequences": _pack,
          "minhash_signature": _minhash,
          "spatial_join_big_layer": _big_layer, "read_polygon": _read_polygon,
          "geoparquet_roundtrip": _geoparquet}


@pytest.mark.parametrize("stage", list(STAGES))
def test_passthrough_bigint_beside_null_stays_exact(spark, tmp_path, stage):
    got = sorted(STAGES[stage](spark, tmp_path).select("id").collect(),
                 key=lambda r: (r.id is None, r.id))
    assert [r.id for r in got] == [2**53 + 1, 2**53 + 3, None]


def test_semantic_duplicates_bigint_beside_null_stays_exact(spark):
    from pure_python_geospatial_export_spark.operators.similarity import (
        semantic_duplicates,
    )

    df = _frame(spark, StructField("vec", ArrayType(DoubleType()), True),
                [[1.0, 0.0]] * 3)
    pairs = semantic_duplicates(df, "id", "vec", centroids=[[1.0, 0.0]],
                                threshold=0.5).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(2**53 + 1, 2**53 + 3)]
