"""GeoParquet export/import (public GeoParquet 1.0.0 spec).

The interchange bridge between this engine's tables and the wider geo
ecosystem (GeoPandas, GDAL/OGR, DuckDB spatial, BigQuery): geometry
travels as a WKB ``binary`` column and the file carries the spec's
``geo`` metadata key in the parquet footer (version, primary column,
encoding, geometry types, bbox, CRS).

Spark's parquet writer cannot attach custom footer metadata, so the
writer runs EXECUTOR-SIDE through pyarrow inside ``mapInArrow`` —
one file per partition, each with correct per-file metadata (the
spec's bbox is per file, computed from that file's geometries), bytes
never collecting on the driver. The reader is plain
``spark.read.parquet`` (WKB column included); ``read_geo_metadata``
parses the footer for consumers that want the spec fields.

WKB comes from the engine's own byte-exact codec (geo/wkb.py), so
round-trips through this module are bit-stable.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

GEOPARQUET_VERSION = "1.0.0"

_WGS84_PROJJSON = {
    "$schema": ("https://proj.org/schemas/v0.5/projjson.schema.json"),
    "type": "GeographicCRS",
    "name": "WGS 84",
    "datum": {
        "type": "GeodeticReferenceFrame",
        "name": "World Geodetic System 1984",
        "ellipsoid": {
            "name": "WGS 84",
            "semi_major_axis": 6378137,
            "inverse_flattening": 298.257223563,
        },
    },
    "coordinate_system": {
        "subtype": "ellipsoidal",
        "axis": [
            {"name": "Geodetic longitude", "abbreviation": "Lon",
             "direction": "east", "unit": "degree"},
            {"name": "Geodetic latitude", "abbreviation": "Lat",
             "direction": "north", "unit": "degree"},
        ],
    },
    "id": {"authority": "EPSG", "code": 4326},
}


def _geo_meta(geometry_col: str, geometry_types, bbox) -> dict:
    return {
        "version": GEOPARQUET_VERSION,
        "primary_column": geometry_col,
        "columns": {
            geometry_col: {
                "encoding": "WKB",
                "geometry_types": sorted(geometry_types),
                "bbox": [round(v, 12) for v in bbox],
                "crs": _WGS84_PROJJSON,
            }
        },
    }


def export_geoparquet(
    df: DataFrame,
    path: str,
    wkt_col: str = "wkt",
    geometry_col: str = "geometry",
) -> DataFrame:
    """Write ``df`` as GeoParquet: the WKT column becomes a WKB
    ``geometry`` column, every other column passes through, and each
    file's footer carries the spec's ``geo`` metadata (per-file bbox
    and geometry types). Returns a LAZY frame of per-file stats
    (file, n_rows, n_geoms) — materialize it (``.collect()``) to
    execute the write, the Spark action idiom.

    Rows whose WKT fails to parse get a NULL geometry (the P8
    null-on-failure convention) and are excluded from bbox/type
    metadata.

    Idempotency: files are named by Spark partition id and published
    via write-temp + atomic replace, so task retries, AQE stage
    re-execution, and repeated actions on the returned frame OVERWRITE
    their own file instead of duplicating rows. Memory: geometry is
    transcoded per Arrow batch, but the file writes once at partition
    end, so a partition's Arrow tables are held in memory — size
    partitions accordingly (``df.repartition(n)`` upstream). The other
    columns go to the file as Spark hands them over in Arrow, with
    their Spark types: a nullable bigint stays an exact int64."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..geo import wkb as wkbmod
    from ..geo import wkt as wktmod

    if geometry_col in df.columns and geometry_col != wkt_col:
        raise ValueError(
            "column %r already exists in the frame; pass a different "
            "geometry_col instead of silently overwriting it"
            % (geometry_col,)
        )
    os.makedirs(path, exist_ok=True)
    pass_cols = [c for c in df.columns if c != wkt_col]

    out_schema = StructType([
        StructField("file", StringType(), False),
        StructField("n_rows", LongType(), False),
        StructField("n_geoms", LongType(), False),
    ])

    def _write(batches: Iterator[pa.RecordBatch]):
        import uuid

        from pyspark import TaskContext

        tables = []
        types = set()
        bbox = [float("inf"), float("inf"),
                float("-inf"), float("-inf")]
        have_bounds = False
        n_rows = 0
        n_geoms = 0
        for batch in batches:
            if not batch.num_rows:
                continue
            wkbs = []
            for s in batch.column(wkt_col).to_pylist():
                # parse/encode and bounds as ONE unit: a failure
                # anywhere means a NULL geometry and exactly one
                # append (a split try block once double-appended and
                # misaligned every later row)
                try:
                    geom = wktmod.loads(s)
                    buf = wkbmod.dumps(geom)
                    x0, y0, x1, y1 = _geom_bounds(geom)
                except Exception:
                    wkbs.append(None)
                    continue
                wkbs.append(buf)
                types.add(geom["type"])
                n_geoms += 1
                bbox[0] = min(bbox[0], x0)
                bbox[1] = min(bbox[1], y0)
                bbox[2] = max(bbox[2], x1)
                bbox[3] = max(bbox[3], y1)
                have_bounds = True
            n_rows += batch.num_rows
            arrays = [batch.column(c) for c in pass_cols]
            # explicit binary type: an all-NULL batch must not infer
            # a null-typed column (unreadable against binary files)
            arrays.append(pa.array(wkbs, type=pa.binary()))
            tables.append(pa.Table.from_arrays(
                arrays, names=pass_cols + [geometry_col]
            ))
        if not tables:
            return
        if not have_bounds:
            bbox = [0.0, 0.0, 0.0, 0.0]  # JSON must stay finite
        table = pa.concat_tables(tables)
        meta = dict(table.schema.metadata or {})
        meta[b"geo"] = json.dumps(
            _geo_meta(geometry_col, types, bbox)
        ).encode("utf-8")
        table = table.replace_schema_metadata(meta)
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        fname = "part-%05d.parquet" % pid
        tmp = os.path.join(
            path, ".%s.%s.tmp" % (fname, uuid.uuid4().hex[:8])
        )
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(path, fname))
        yield pa.RecordBatch.from_pydict({
            "file": [fname], "n_rows": [n_rows], "n_geoms": [n_geoms],
        })

    return df.mapInArrow(_write, out_schema)


def _geom_bounds(geom: dict):
    """(xmin, ymin, xmax, ymax) of any GeoJSON-dict geometry,
    including GeometryCollection (recurses into members)."""
    xs = []
    ys = []

    def walk(coords):
        if not coords:
            return
        if isinstance(coords[0], (int, float)):
            xs.append(float(coords[0]))
            ys.append(float(coords[1]))
        else:
            for c in coords:
                walk(c)

    def visit(g):
        if g.get("type") == "GeometryCollection":
            for m in g.get("geometries", []):
                visit(m)
        else:
            walk(g["coordinates"])

    visit(geom)
    if not xs:
        raise ValueError("geometry has no coordinates")
    return min(xs), min(ys), max(xs), max(ys)


def read_geo_metadata(path: str) -> dict:
    """Parse the ``geo`` footer key of every parquet file under
    ``path`` -> {filename: parsed metadata dict}; files without the
    key are omitted."""
    import pyarrow.parquet as pq

    out = {}
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.read_schema(os.path.join(path, name)).metadata or {}
        if b"geo" in md:
            out[name] = json.loads(md[b"geo"].decode("utf-8"))
    return out


def read_geoparquet(
    spark: SparkSession,
    path: str,
    geometry_col: str = "geometry",
    wkt_col: str = "wkt",
) -> DataFrame:
    """Read a GeoParquet directory back with the geometry decoded to
    WKT (the engine's working representation): plain parquet scan +
    an Arrow WKB->WKT kernel. NULL geometries stay NULL; the other
    columns pass through in Arrow, exact."""
    import pyarrow as pa

    from ..geo import wkb as wkbmod
    from ..geo import wkt as wktmod

    df = spark.read.parquet(path)
    fields = [f for f in df.schema.fields if f.name != geometry_col]
    out_schema = StructType(
        fields + [StructField(wkt_col, StringType(), True)]
    )

    def _decode(batches: Iterator[pa.RecordBatch]):
        for batch in batches:
            outs = []
            for b in batch.column(geometry_col).to_pylist():
                if b is None:
                    outs.append(None)
                    continue
                try:
                    outs.append(
                        wktmod.dumps(wkbmod.loads(bytes(b)), 16)
                    )
                except Exception:
                    outs.append(None)
            yield batch.drop_columns([geometry_col]).append_column(
                wkt_col, pa.array(outs, pa.string())
            )

    return df.mapInArrow(_decode, out_schema)
