"""End-to-end parity on the reference repo's OWN CSV fixtures: Spark reads
the CSVs (SURVEY S1), the engine's process_* API exports them, and every
output byte must equal the reference's process_* output (GeoJSON, CSV,
shp/shx/dbf). Plus the reference e2e semantic assertions
(ref ppge-tests/test-ppge.py:55-68): Cheyenne lands in Wyoming, Denver in
Colorado, via the engine's own spatial join.
"""

import io
import json
import os

import pytest
from pyspark.sql import functions as F

from pure_python_geospatial_export_spark.operators.spatial_join import (
    spatial_join,
)
from pure_python_geospatial_export_spark.sources.api import (
    process_bigquery_df_to_csv,
    process_bigquery_df_to_geojson,
    process_bigquery_df_to_shapefile,
    process_snowflake_df_to_csv,
    process_snowflake_df_to_geojson,
    process_snowflake_df_to_shapefile,
)
from pure_python_geospatial_export_spark.sources.export import (
    Field,
    FieldType,
)

HERE = os.path.dirname(__file__)
with open(os.path.join(HERE, "fixtures", "golden_e2e.json")) as f:
    GOLDEN = json.load(f)
# the reference repo checkout holding the fixture CSVs
REFERENCE = os.path.dirname(GOLDEN["wy_co_wkt"]["csv_path"])
needs_reference = pytest.mark.skipif(
    not os.path.isdir(REFERENCE),
    reason="reference checkout missing: %s not found" % REFERENCE,
)


def _read_csv(spark, path):
    # preserve input order via an explicit index for single-file exports
    df = spark.read.csv(path, header=True, quote='"', escape='"',
                        multiLine=True)
    return df.withColumn("_ord", F.monotonically_increasing_id())


def _schema(mode):
    if mode == "bigquery":
        return [Field("geom", FieldType.GEOM), Field("name", FieldType.STR)]
    return [Field("GEOM", FieldType.GEOG), Field("name", FieldType.STR)]


@needs_reference
@pytest.mark.parametrize("case", sorted(GOLDEN))
def test_process_outputs_match_reference_bytes(spark, case):
    g = GOLDEN[case]
    df = _read_csv(spark, g["csv_path"])
    schema = _schema(g["mode"])

    gj = io.BytesIO()
    cs = io.BytesIO()
    shp, shx, dbf, prj = (io.BytesIO() for _ in range(4))
    if g["mode"] == "bigquery":
        process_bigquery_df_to_geojson(df, schema, gj, order_col="_ord")
        process_bigquery_df_to_csv(df, schema, cs, order_col="_ord")
        process_bigquery_df_to_shapefile(df, schema, shp, shx, dbf, prj,
                                         order_col="_ord")
    else:
        process_snowflake_df_to_geojson(df, schema, gj, order_col="_ord")
        process_snowflake_df_to_csv(df, schema, cs, order_col="_ord")
        process_snowflake_df_to_shapefile(df, schema, shp, shx, dbf, prj,
                                          order_col="_ord")

    assert gj.getvalue().decode("utf-8") == g["geojson"]
    assert cs.getvalue().decode("utf-8") == g["csv"]
    assert shp.getvalue().hex() == g["shp"]
    assert shx.getvalue().hex() == g["shx"]
    db = bytearray(dbf.getvalue())
    db[1:4] = b"\0\0\0"
    assert bytes(db).hex() == g["dbf"]


@needs_reference
def test_cheyenne_in_wyoming_denver_in_colorado(spark):
    """The reference's semantic oracle (ppge-tests/test-ppge.py:55-68)
    through the engine's spatial join: city points from one fixture CSV
    against the state polygons of the other."""
    states = _read_csv(
        spark, "/root/reference/wy-co-wkt-bigquery.csv"
    ).select(
        F.monotonically_increasing_id().alias("polygon_id"),
        "name",
        F.col("geom").alias("wkt"),
    )
    cities = _read_csv(
        spark, "/root/reference/denver-cheyenne-wkt-bigquery.csv"
    )
    # city geometry is 'POINT (x y)' WKT; parse via engine codec columns
    from pure_python_geospatial_export_spark.geo import wkt as wktmod

    # the fixture labels each city point with its EXPECTED state (that is
    # how the reference test asserts containment): Cheyenne's point is
    # named "Wyoming", Denver's "Colorado"
    rows = cities.select("name", "geom").collect()
    pts = spark.createDataFrame(
        [
            (r["name"],) + tuple(wktmod.loads(r["geom"])["coordinates"])
            for r in rows
        ],
        ["expected_state", "lon", "lat"],
    )
    got = {
        (r["expected_state"], r["name"])
        for r in spatial_join(pts, states, res=6)
        .select("expected_state", "name").collect()
    }
    assert got == {("Wyoming", "Wyoming"), ("Colorado", "Colorado")}
