"""Geometry validity checking — the ingestion-QA gate (ST_IsValid's
role, scoped to the engine's even-odd polygon model).

The reference has no validity surface (its readers trust their
inputs); at corpus scale, upstream polygon layers arrive with bowties,
open rings, and duplicate vertices, and a spatial join silently
misclassifies against them (even-odd parity over a self-crossing ring
flips regions). This module classifies each geometry BEFORE it reaches
a join:

* :func:`validate_rings` — pure kernel over a GeoJSON ring list;
* :func:`validate_geometry` — a parsed geometry dict (non-areal types
  have no ring structure to check and report valid);
* :func:`validate_geometries` — the DataFrame form (one
  ``mapInArrow`` pass, WKT parsed once, malformed text reported — not
  dropped: unlike the P8 null-guard paths, a QA gate's job is to KEEP
  the bad rows visible).

Checks per ring, in reason-precedence order (each geometry reports
its FIRST failure): ``unparseable`` > ``too_few_points`` >
``open_ring`` > ``repeated_point`` > ``spike`` >
``self_intersection`` > ``rings_cross`` (distinct rings of one
polygon properly crossing — boundary touches between shell and hole
are allowed, as in OGC). Valid rows carry reason NULL.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo import kernels

__all__ = ["validate_rings", "validate_geometry", "validate_geometries"]

VALID = (True, None)


def _ring_arrays(rings) -> List[np.ndarray]:
    return [np.asarray(r, dtype=np.float64)[:, :2] for r in rings]


def validate_rings(rings) -> Tuple[bool, Optional[str]]:
    """(is_valid, reason) for a polygon's ring list (exterior +
    holes, the engine's even-odd convention)."""
    arrs = _ring_arrays(rings)
    if not arrs:
        return False, "too_few_points"
    for arr in arrs:
        if len(arr) < 4:
            return False, "too_few_points"
    for arr in arrs:
        if arr[0, 0] != arr[-1, 0] or arr[0, 1] != arr[-1, 1]:
            return False, "open_ring"
    for arr in arrs:
        if (np.all(arr[1:] == arr[:-1], axis=1)).any():
            return False, "repeated_point"
    for arr in arrs:
        # spike: consecutive edges doubling back collinearly — the
        # boundary touches itself along a segment, which the
        # non-adjacent crossing test below deliberately masks out
        a, b, c = arr[:-2], arr[1:-1], arr[2:]
        ab = b - a
        bc = c - b
        collinear = ab[:, 0] * bc[:, 1] - ab[:, 1] * bc[:, 0] == 0.0
        reverses = ab[:, 0] * bc[:, 0] + ab[:, 1] * bc[:, 1] < 0.0
        if (collinear & reverses).any():
            return False, "spike"
    for arr in arrs:
        if kernels.ring_self_intersects(arr):
            return False, "self_intersection"
    for i in range(len(arrs)):
        for j in range(i + 1, len(arrs)):
            if kernels.rings_properly_cross(arrs[i], arrs[j]):
                return False, "rings_cross"
    return VALID


def validate_geometry(geom: dict) -> Tuple[bool, Optional[str]]:
    """(is_valid, reason) for a parsed GeoJSON-style geometry dict.
    Non-areal types (Point/LineString/Multi* thereof) have no ring
    structure to validate and report valid."""
    t = geom.get("type")
    if t == "Polygon":
        return validate_rings(geom["coordinates"])
    if t == "MultiPolygon":
        for member in geom["coordinates"]:
            ok, reason = validate_rings(member)
            if not ok:
                return ok, reason
        return VALID
    return VALID


def validate_geometries(
    df: DataFrame,
    wkt_col: str = "wkt",
    out_valid: str = "is_valid",
    out_reason: str = "reason",
) -> DataFrame:
    """Attach ``(is_valid boolean, reason string|NULL)`` to every row —
    one Arrow pass, WKT parsed once; unparseable text reports
    ``(false, 'unparseable')`` instead of dropping. The input columns
    pass through in Arrow, so a bigint id beside a NULL stays exact."""
    import pyarrow as pa
    from pyspark.sql.types import (
        BooleanType,
        StringType,
        StructField,
        StructType,
    )

    from ..geo import wkt as wktmod

    out_schema = StructType(
        list(df.schema.fields) + [
            StructField(out_valid, BooleanType(), False),
            StructField(out_reason, StringType(), True),
        ]
    )
    src = df.withColumn("_wkt_v", F.col(wkt_col))

    def kernel(batches):
        for batch in batches:
            oks, reasons = [], []
            for s in batch.column("_wkt_v").to_pylist():
                try:
                    geom = wktmod.loads(s)
                except Exception:
                    oks.append(False)
                    reasons.append("unparseable")
                    continue
                try:
                    ok, reason = validate_geometry(geom)
                except Exception:
                    ok, reason = False, "unparseable"
                oks.append(bool(ok))
                reasons.append(reason)
            yield (
                batch.drop_columns(["_wkt_v"])
                .append_column(out_valid, pa.array(oks, pa.bool_()))
                .append_column(out_reason, pa.array(reasons, pa.string()))
            )

    return src.mapInArrow(kernel, out_schema)
