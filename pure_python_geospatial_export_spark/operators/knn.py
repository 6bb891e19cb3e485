"""Grid-partitioned kNN join (SURVEY J4).

Semantics: for every left point, the k nearest right points (squared
Euclidean distance in degree space, deterministic (dist, id) tiebreak)
among candidates within the (2*ring+1)^2 cell neighborhood at ``res``.

Plan: the right side is exploded to its neighbor cells (x (2*ring+1)^2,
a column-level ``explode`` over a constant offset array — no UDF), then an
equi shuffle join on the neighbor cell key, distance math in columns, and
a window top-k. The explode factor is the classic space/shuffle trade:
9x replication of the (smaller) right side buys an equi-join the shuffle
planner and AQE can handle, vs an unbounded theta join.

Exactness: candidates outside the neighborhood are excluded BY DEFINITION
(grid kNN). Choose ``res`` so the neighborhood radius (360/2^res * ring
degrees) bounds the expected kth-neighbor distance; ``knn_exact`` is the
brute-force oracle for validation and small dims.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geom_udfs import grid_xy_cols
from .fixpoint import fixpoint, frontier_empty


def _with_xy(df: DataFrame, res: int, lon: str, lat: str) -> DataFrame:
    x, y = grid_xy_cols(F.col(lon), F.col(lat), res)
    return df.withColumn("_gx", x).withColumn("_gy", y)


EARTH_RADIUS_KM = 6371.0088


def haversine_km(lon1, lat1, lon2, lat2):
    """Great-circle distance in km as a column expression (JVM trig)."""
    rlat1 = F.radians(lat1)
    rlat2 = F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    a = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) * F.sin(dlon)
    )
    # clamp to [0, 1]: fp rounding on near-antipodal pairs can push a
    # fractionally past 1, and asin(sqrt(a>1)) = NaN would poison the
    # window ranking downstream
    a = F.greatest(F.least(a, F.lit(1.0)), F.lit(0.0))
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def knn_join(
    left: DataFrame,
    right: DataFrame,
    id_left: str,
    id_right: str,
    k: int = 3,
    res: int = 4,
    ring: int = 1,
    lon: str = "lon",
    lat: str = "lat",
    metric: str = "euclidean_sq",
) -> DataFrame:
    """Returns (id_left, id_right, dist_sq, rank) with rank<=k.

    CONTRACT — RING-BOUNDED kNN, not global kNN: candidates are the
    right points within the (2*ring+1)^2 cell neighborhood of the
    left point's cell at ``res``, BY DEFINITION of grid kNN. Two
    consequences a caller must accept (or use
    :func:`knn_join_complete`):

    * a true nearest neighbor lying OUTSIDE the neighborhood is not
      seen — a farther in-ring point takes its rank;
    * a left point in a sparse neighborhood can get FEWER than k rows
      (or none: lefts with zero in-ring candidates are absent from the
      output entirely).

    Choose ``res``/``ring`` so the neighborhood radius bounds the
    expected kth-neighbor distance; :func:`knn_exact` is the
    brute-force oracle and :func:`knn_join_complete` upgrades this
    operator to EXACT kNN via a per-left distance certificate plus
    ring expansion for the (few) uncertified lefts.

    ``metric``: ``euclidean_sq`` (degree-space, bit-reproducible in SQL)
    or ``haversine`` (great-circle km; dist_sq column then carries km).
    """
    n = 1 << res
    lft = _with_xy(left, res, lon, lat).select(
        F.col(id_left).alias("_lid"),
        F.col(lon).alias("_llon"),
        F.col(lat).alias("_llat"),
        "_gx",
        "_gy",
    )
    # clamp dx to one canonical mod-n cycle: with 2*ring+1 > n the raw
    # range would alias cells through pmod and duplicate candidates
    # (knn_join_complete doubles the ring up to full cover)
    dx_lo, dx_hi = -min(ring, n // 2), min(ring, (n - 1) // 2)
    offsets = [(dx, dy) for dx in range(dx_lo, dx_hi + 1)
               for dy in range(-ring, ring + 1)]
    rgt = (
        _with_xy(right, res, lon, lat)
        .select(
            F.col(id_right).alias("_rid"),
            F.col(lon).alias("_rlon"),
            F.col(lat).alias("_rlat"),
            "_gx",
            "_gy",
        )
        .withColumn(
            "_off",
            F.explode(
                F.array(*[
                    F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx, dy in offsets
                ])
            ),
        )
        # neighbor cell this right point is visible from: lon wraps, lat clamps
        .withColumn("_nx", F.pmod(F.col("_gx") + F.col("_off.dx"), F.lit(n)))
        .withColumn("_ny", F.col("_gy") + F.col("_off.dy"))
        .where((F.col("_ny") >= 0) & (F.col("_ny") < n))
        .drop("_off", "_gx", "_gy")
    )
    joined = lft.join(
        rgt, (lft["_gx"] == rgt["_nx"]) & (lft["_gy"] == rgt["_ny"])
    ).where(F.col("_lid") != F.col("_rid"))
    if metric == "haversine":
        dist = haversine_km(F.col("_llon"), F.col("_llat"),
                            F.col("_rlon"), F.col("_rlat"))
    else:
        dlon = F.col("_llon") - F.col("_rlon")
        dlat = F.col("_llat") - F.col("_rlat")
        # explicit multiply (not pow): the DuckDB oracle's d*d bit-matches
        dist = dlon * dlon + dlat * dlat
    # Window keyed by (_gx, _gy, _lid), NOT just _lid: every left id has
    # exactly one cell, so the grouping is identical — but the join
    # output is already hash-partitioned by (_gx, _gy), which SATISFIES
    # the clustered distribution for the superset key. Catalyst then
    # plans the top-k as a partition-local sort with NO second exchange;
    # windowing on _lid alone would re-shuffle the entire 9x-replicated
    # candidate relation. (Under AQE-broadcast of a tiny side the
    # exchange reappears — harmless at that size.)
    w = Window.partitionBy("_gx", "_gy", "_lid").orderBy(
        F.col("dist_sq").asc(), F.col("_rid").asc()
    )
    return (
        joined.withColumn("dist_sq", dist)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("_lid").alias(id_left),
            F.col("_rid").alias(id_right),
            "dist_sq",
            "rank",
        )
    )


def knn_join_complete(
    left: DataFrame,
    right: DataFrame,
    id_left: str,
    id_right: str,
    k: int = 3,
    res: int = 4,
    ring: int = 1,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """EXACT kNN (degree-space euclidean) with the grid join's cost
    profile: (id_left, id_right, dist_sq, rank), rank <= k, equal to
    :func:`knn_exact` row for row.

    Round i runs the ring-bounded :func:`knn_join`, then CERTIFIES
    each left point: its in-ring kth distance must not exceed the
    distance from the point to the nearest open edge of its ring
    neighborhood (any excluded right point is at least that far away
    in the linear-degree metric — edges the neighborhood pushes past
    the grid boundary are vacuously safe, since no points exist
    beyond them and this metric does not wrap). Certified lefts are
    done; the rest — under-filled neighborhoods or a kth distance
    past the edge — re-run with the ring DOUBLED, until certified or
    the neighborhood covers the whole grid (which is exact by
    construction). Expected behavior at a sane ``res``: round 1
    certifies ~everything and the loop degenerates to one extra
    aggregate; each further round re-explodes the right side only
    for the shrinking uncertified left set.

    Haversine is not offered here: the edge certificate is a
    linear-degree bound. For great-circle semantics use
    :func:`radius_join` (exact by construction) or :func:`knn_exact`.
    """
    n = 1 << res
    cell_w = 360.0 / n
    cell_h = 180.0 / n
    inf = float("inf")

    if int(ring) < 1:
        # ring=0 would never expand (r *= 2 keeps it at 0) and the
        # loop would exhaust its rounds instead of converging
        raise ValueError("ring must be >= 1, got %d" % int(ring))

    def round_(state):
        parts, pending, r = state
        knn = knn_join(pending, right, id_left, id_right, k=k,
                       res=res, ring=r, lon=lon, lat=lat,
                       metric="euclidean_sq")
        stats = knn.groupBy(id_left).agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.max("dist_sq").alias("_maxd"),
        )
        meta = _with_xy(pending, res, lon, lat).select(
            F.col(id_left), F.col(lon).alias("_plon"),
            F.col(lat).alias("_plat"), "_gx", "_gy",
        )
        d_e = F.when(F.col("_gx") + r >= n - 1, F.lit(inf)).otherwise(
            (F.col("_gx") + 1 + r) * cell_w - 180.0 - F.col("_plon")
        )
        d_w = F.when(F.col("_gx") - r <= 0, F.lit(inf)).otherwise(
            F.col("_plon") - ((F.col("_gx") - r) * cell_w - 180.0)
        )
        d_n = F.when(F.col("_gy") + r >= n - 1, F.lit(inf)).otherwise(
            (F.col("_gy") + 1 + r) * cell_h - 90.0 - F.col("_plat")
        )
        d_s = F.when(F.col("_gy") - r <= 0, F.lit(inf)).otherwise(
            F.col("_plat") - ((F.col("_gy") - r) * cell_h - 90.0)
        )
        cert = F.least(d_e, d_w, d_n, d_s)
        full = F.lit(2 * r + 1 >= n) & (F.col("_gy") - r <= 0) & (
            F.col("_gy") + r >= n - 1
        )
        decided = meta.join(stats, id_left, "left").select(
            F.col(id_left),
            (
                full
                | (
                    (F.coalesce("_cnt", F.lit(0)) >= k)
                    # STRICT: a right point can sit exactly on the
                    # excluded region's edge at dist_sq == cert^2 and
                    # tie the in-ring kth candidate; knn_exact's
                    # (dist, id) tie-break could then rank it in.
                    # _maxd < cert^2 makes every excluded point
                    # strictly farther, so no tie can displace an
                    # accepted result — equality just doubles once
                    # more.
                    & (F.col("_maxd") < cert * cert)
                )
            ).alias("_ok"),
        )
        ok_ids = decided.where("_ok").select(id_left)
        return (
            parts + [knn.join(ok_ids, id_left, "left_semi")],
            pending.join(ok_ids, id_left, "left_anti"),
            r * 2,
        )

    # doubling reaches full cover in <= log2(n)+2 rounds from ring>=1,
    # which certifies every left, so the bound never trips
    parts = fixpoint(
        round_, ([], left, int(ring)), res + 3, frontier_empty,
        "knn_join_complete", bound="res+3",
    )[0]
    return reduce(DataFrame.unionByName, parts)


def radius_join(
    left: DataFrame,
    right: DataFrame,
    id_left: str,
    id_right: str,
    radius_km: float,
    res: int = 6,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """EXACT within-radius spatial join: (id_left, id_right, dist_km)
    for every cross pair at great-circle distance <= ``radius_km``
    (self-pairs on equal ids excluded).

    Plan: grid the world at ``res``; each RIGHT point is exploded to
    every cell a within-radius LEFT point could occupy, then an equi
    shuffle join on the cell key and the exact haversine filter. The
    latitude fan-out is a constant (degrees of latitude are uniform);
    the LONGITUDE fan-out is computed PER ROW from the row's latitude
    band — lon degrees shrink by cos(lat), so a fixed ring would either
    miss pairs near the poles or over-replicate at the equator. The
    bound uses haversine's lower bound
    ``dist >= (2/pi) * R * dlon_rad * cos(phi_band)`` (so
    ``dlon_deg <= 90 * radius / (R * cos(phi_band))``), +1 cell of
    slack; bands touching a pole wrap the full circle. Exact by
    construction: every qualifying pair is a candidate, and the final
    filter is the true distance.
    """
    import math

    n = 1 << res
    cell_h = 180.0 / n
    cell_w = 360.0 / n
    dlat_deg = math.degrees(radius_km / EARTH_RADIUS_KM)
    ring_y = int(math.ceil(dlat_deg / cell_h)) + 1

    lft = _with_xy(left, res, lon, lat).select(
        F.col(id_left).alias("_lid"),
        F.col(lon).alias("_llon"),
        F.col(lat).alias("_llat"),
        "_gx",
        "_gy",
    )
    phi_band = F.least(
        F.abs(F.col(lat)) + F.lit(dlat_deg), F.lit(90.0)
    )
    dlon_deg = F.lit(90.0 * radius_km / EARTH_RADIUS_KM) / F.cos(
        F.radians(phi_band)
    )
    max_dx = F.when(
        phi_band >= 90.0, F.lit(n // 2)
    ).otherwise(
        F.least(
            F.ceil(dlon_deg / F.lit(cell_w)).cast("int") + F.lit(1),
            F.lit(n // 2),
        )
    )
    rgt = (
        _with_xy(right, res, lon, lat)
        .select(
            F.col(id_right).alias("_rid"),
            F.col(lon).alias("_rlon"),
            F.col(lat).alias("_rlat"),
            "_gx",
            "_gy",
            max_dx.alias("_mdx"),
        )
        .withColumn(
            "_dy",
            F.explode(F.array(*[
                F.lit(d) for d in range(-ring_y, ring_y + 1)
            ])),
        )
        .withColumn("_ny", F.col("_gy") + F.col("_dy"))
        .where((F.col("_ny") >= 0) & (F.col("_ny") < n))
        .withColumn(
            "_dx", F.explode(F.sequence(-F.col("_mdx"), F.col("_mdx")))
        )
        # full-wrap rows (mdx == n/2) produce n+1 offsets whose +-n/2
        # ends alias the same column: drop the negative end — cheaper
        # than a distinct, and the only duplication the cap allows
        .where(
            ~((F.col("_mdx") == F.lit(n // 2))
              & (F.col("_dx") == -F.col("_mdx")))
        )
        .withColumn("_nx", F.pmod(F.col("_gx") + F.col("_dx"), F.lit(n)))
        .select("_rid", "_rlon", "_rlat", "_nx", "_ny")
    )
    joined = lft.join(
        rgt, (lft["_gx"] == rgt["_nx"]) & (lft["_gy"] == rgt["_ny"])
    ).where(F.col("_lid") != F.col("_rid"))
    dist = haversine_km(F.col("_llon"), F.col("_llat"),
                        F.col("_rlon"), F.col("_rlat"))
    return (
        joined.withColumn("dist_km", dist)
        .where(F.col("dist_km") <= F.lit(float(radius_km)))
        .select(
            F.col("_lid").alias(id_left),
            F.col("_rid").alias(id_right),
            "dist_km",
        )
    )


def knn_exact(
    left: DataFrame,
    right: DataFrame,
    id_left: str,
    id_right: str,
    k: int = 3,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Brute-force kNN via broadcast cross join — the validation oracle and
    the right plan when one side is small enough to broadcast."""
    lft = left.select(
        F.col(id_left).alias("_lid"),
        F.col(lon).alias("_llon"),
        F.col(lat).alias("_llat"),
    )
    rgt = right.select(
        F.col(id_right).alias("_rid"),
        F.col(lon).alias("_rlon"),
        F.col(lat).alias("_rlat"),
    )
    joined = lft.crossJoin(F.broadcast(rgt)).where(
        F.col("_lid") != F.col("_rid")
    )
    dlon = F.col("_llon") - F.col("_rlon")
    dlat = F.col("_llat") - F.col("_rlat")
    # explicit multiply (not pow) so the DuckDB oracle's d*d bit-matches
    dist = dlon * dlon + dlat * dlat
    w = Window.partitionBy("_lid").orderBy(
        F.col("dist_sq").asc(), F.col("_rid").asc()
    )
    return (
        joined.withColumn("dist_sq", dist)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("_lid").alias(id_left),
            F.col("_rid").alias(id_right),
            "dist_sq",
            "rank",
        )
    )
