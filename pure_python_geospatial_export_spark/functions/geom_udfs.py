"""Arrow-batched geometry UDFs + pure-column spatial expressions.

Two tiers, chosen per the UDFs-are-the-slow-path rule:

* PURE COLUMN expressions (JVM, whole-stage codegen): cell ids, grid
  coords, bbox predicates, tile math — everything arithmetic.
* pandas UDFs (Arrow batch transfer): only where geometry PARSING is
  genuinely needed (WKT/WKB codecs, geodesic measures).
  All of them call the vectorized batch kernels from ``geo/``; none loop
  per row at the Spark boundary.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    StringType,
)

from ..geo import wkb as wkbmod
from ..geo import wkt as wktmod

# ---------------------------------------------------------------------------
# pure-column spatial expressions (JVM side, no Python)
# ---------------------------------------------------------------------------


def grid_xy_cols(lon: Column, lat: Column, res: int) -> tuple[Column, Column]:
    """Integer grid coords at ``res`` — same clamping as geo.cells.cell_xy."""
    n = 1 << res
    x = F.least(
        F.greatest(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n)),
                   F.lit(0)),
        F.lit(n - 1),
    )
    y = F.least(
        F.greatest(F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(n)),
                   F.lit(0)),
        F.lit(n - 1),
    )
    return x.cast("long"), y.cast("long")


def cell_id_col(lon: Column, lat: Column, res: int) -> Column:
    """Canonical cell id as plain arithmetic (matches geo.cells.encode and
    the DuckDB oracle formula exactly)."""
    x, y = grid_xy_cols(lon, lat, res)
    return (F.lit(res * (2**58)) + x * F.lit(2**29) + y).cast("long")


def bbox_overlap_col(
    xmin1: Column, ymin1: Column, xmax1: Column, ymax1: Column,
    xmin2: Column, ymin2: Column, xmax2: Column, ymax2: Column,
) -> Column:
    """Vectorized bbox-overlap predicate (SURVEY P3) as a column expr."""
    return (
        (xmin1 <= xmax2) & (xmax1 >= xmin2) & (ymin1 <= ymax2)
        & (ymax1 >= ymin2)
    )


def point_in_bbox_col(
    lon: Column, lat: Column,
    xmin: float, ymin: float, xmax: float, ymax: float,
) -> Column:
    return (
        (lon >= F.lit(xmin)) & (lon <= F.lit(xmax))
        & (lat >= F.lit(ymin)) & (lat <= F.lit(ymax))
    )


# ---------------------------------------------------------------------------
# pandas UDFs (Arrow batches; vectorized kernels inside)
# ---------------------------------------------------------------------------


@F.pandas_udf(StringType())
def wkt_roundtrip(wkt_in: pd.Series) -> pd.Series:
    """WKT -> GeoJSON dict -> WKT at 16 decimals (the C1/C2 composition the
    north rule requires byte-for-byte; malformed -> null)."""
    geoms = wktmod.loads_batch(wkt_in.tolist())
    return pd.Series(wktmod.dumps_batch(geoms), dtype=object)


@F.pandas_udf(StringType())
def geom_type_of_wkt(wkt_in: pd.Series) -> pd.Series:
    geoms = wktmod.loads_batch(wkt_in.tolist())
    return pd.Series(
        [g["type"] if g else None for g in geoms], dtype=object
    )


@F.pandas_udf(BinaryType())
def wkt_to_wkb(wkt_in: pd.Series) -> pd.Series:
    """WKT -> big-endian WKB (C1 -> C3 pipeline)."""
    geoms = wktmod.loads_batch(wkt_in.tolist())
    return pd.Series(wkbmod.dumps_batch(geoms), dtype=object)


@F.pandas_udf(StringType())
def wkb_to_wkt(wkb_in: pd.Series) -> pd.Series:
    """WKB -> WKT at 16 decimals (C4 -> C1)."""
    geoms = wkbmod.loads_batch(wkb_in.tolist())
    return pd.Series(wktmod.dumps_batch(geoms), dtype=object)


#: little-endian 2D POINT WKB prefix (byte order + geometry type)
_WKB_POINT_LE = b"\x01\x01\x00\x00\x00"


@F.pandas_udf(BinaryType())
def lonlat_to_wkb_point(lon: pd.Series, lat: pd.Series) -> pd.Series:
    """(lon, lat) doubles -> 21-byte little-endian POINT WKB, fully
    vectorized (one (n, 21) uint8 matrix, coordinate bits copied via
    dtype views — the doubles round-trip bit-exactly by
    construction)."""
    n = len(lon)
    buf = np.empty((n, 21), dtype=np.uint8)
    buf[:, 0:5] = np.frombuffer(_WKB_POINT_LE, dtype=np.uint8)
    buf[:, 5:13] = (
        lon.to_numpy(dtype=np.float64).astype("<f8")
        .view(np.uint8).reshape(n, 8)
    )
    buf[:, 13:21] = (
        lat.to_numpy(dtype=np.float64).astype("<f8")
        .view(np.uint8).reshape(n, 8)
    )
    return pd.Series([row.tobytes() for row in buf], dtype=object)


def _wkb_point_coords(wkb_in: pd.Series) -> np.ndarray:
    """(n, 2) lon/lat from POINT WKBs. Fast path: every blob is the
    21-byte little-endian form -> one reshape + view, no per-row
    parse; anything else falls back to the full codec."""
    vals = [None if b is None else bytes(b) for b in wkb_in]
    n = len(vals)
    out = np.full((n, 2), np.nan, dtype=np.float64)
    if n and all(
        b is not None and len(b) == 21 and b[:5] == _WKB_POINT_LE
        for b in vals
    ):
        raw = np.frombuffer(b"".join(vals), dtype=np.uint8)
        raw = raw.reshape(n, 21)
        out[:, 0] = np.ascontiguousarray(raw[:, 5:13]).view("<f8")[:, 0]
        out[:, 1] = np.ascontiguousarray(
            raw[:, 13:21]
        ).view("<f8")[:, 0]
        return out
    for i, b in enumerate(vals):
        if b is None:
            continue
        g = wkbmod.loads(b)
        if g["type"] != "Point":
            raise ValueError("expected Point WKB, got %s" % g["type"])
        out[i, 0], out[i, 1] = g["coordinates"][0], g["coordinates"][1]
    return out


@F.pandas_udf(DoubleType())
def wkb_point_lon(wkb_in: pd.Series) -> pd.Series:
    return pd.Series(_wkb_point_coords(wkb_in)[:, 0])


@F.pandas_udf(DoubleType())
def wkb_point_lat(wkb_in: pd.Series) -> pd.Series:
    return pd.Series(_wkb_point_coords(wkb_in)[:, 1])


@F.pandas_udf(DoubleType())
def geodesic_area_km2(wkt_in: pd.Series) -> pd.Series:
    """Polygon/MultiPolygon WKT -> spherical area (km^2) with
    great-circle edges: signed ring excesses summed (holes subtract;
    sign follows the exterior winding — see
    geo/geodesic.spherical_ring_area_sr). Other types / malformed ->
    null."""
    from ..geo import geodesic as geod

    geoms = wktmod.loads_batch(wkt_in.tolist())
    out = []
    for g in geoms:
        if not g:
            out.append(None)
        elif g["type"] == "Polygon":
            out.append(geod.geodesic_polygon_area_km2(g["coordinates"]))
        elif g["type"] == "MultiPolygon":
            out.append(sum(
                geod.geodesic_polygon_area_km2(p)
                for p in g["coordinates"]
            ))
        else:
            out.append(None)
    return pd.Series(out, dtype="float64")


@F.pandas_udf(DoubleType())
def geodesic_len_km(wkt_in: pd.Series) -> pd.Series:
    """WKT -> great-circle length (km): LineString length,
    MultiLineString sum, Polygon/MultiPolygon ring perimeters (all
    rings). Points / malformed -> null."""
    from ..geo import geodesic as geod

    geoms = wktmod.loads_batch(wkt_in.tolist())

    def one(g):
        if not g:
            return None
        t, c = g["type"], g["coordinates"]
        if t == "LineString":
            return geod.geodesic_length_km(c)
        if t == "MultiLineString":
            return sum(geod.geodesic_length_km(line) for line in c)
        if t == "Polygon":
            return sum(geod.geodesic_length_km(r) for r in c)
        if t == "MultiPolygon":
            return sum(
                geod.geodesic_length_km(r) for p in c for r in p
            )
        return None

    return pd.Series([one(g) for g in geoms], dtype="float64")
