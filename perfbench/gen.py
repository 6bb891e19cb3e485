"""Seeded input generation: pure column expressions over ``spark.range``.

The same ``(seed, size)`` always gives byte-identical tables (each row is
a function of its id and the seed only). The seed changes the page URLs
(hence every derived point), which pages link to which, the probe ids
(hence probe positions and sizes) and the query boxes.

Inputs never put a point or a probe edge exactly on an edge of the
polygon layer (:func:`off_edges`, :func:`probes`), and query boxes sit
half a grid step off the 1e-4 grid the derived points lie on
(:func:`bboxes`): there, boundary conventions decide the answer, and the
benchmark wants workloads on which every verified repetition succeeds.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as em

LANGS = ["en", "de", "fr", "es", "pt"]
#: page URLs are https://site-<id % HOSTS>-s<seed>.test/d<id // HOSTS %
#: DIRS>/p<id>.html, so two pages share a directory exactly when their
#: ids agree modulo HOSTS * DIRS — which lets relative links land on
#: pages that exist.
HOSTS = 50
DIRS = 8
#: coordinates are compared with layer edges at this many decimals
EDGE_DECIMALS = 6


def _layer_edges() -> tuple[list[float], list[float]]:
    """x and y coordinates of every ring edge of the polygon layer."""
    xs, ys = set(), set()
    for _pid, _name, outer, hole in em._rects():
        for x0, y0, x1, y1 in filter(None, (outer, hole)):
            xs |= {x0, x1}
            ys |= {y0, y1}
    return sorted(xs), sorted(ys)


def _on_any(c: Column, values: list[float]) -> Column:
    return F.round(c, EDGE_DECIMALS).isin(
        sorted({round(v, EDGE_DECIMALS) for v in values}))


def _point(key: Column) -> tuple[Column, Column]:
    """(lon, lat) of a page key, by the engine's derivation formula: two
    32-bit slices of sha256 on a 1e-4 degree grid."""
    h = F.sha2(key, 256)
    lon = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 3_600_000
           ) / F.lit(10_000.0) - F.lit(180.0)
    lat = (F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 1_800_000
           ) / F.lit(10_000.0) - F.lit(90.0)
    return lon, lat


def _url(seed: int, i: Column) -> Column:
    return F.concat(
        F.lit("https://site-"), (i % HOSTS).cast("string"),
        F.lit("-s%d.test/d" % seed),
        (F.floor(i / HOSTS) % DIRS).cast("string"),
        F.lit("/p"), i.cast("string"), F.lit(".html"),
    )


def _pick(seed: int, i: Column, k: int, n: int) -> Column:
    """A seeded pseudo-random page id in [0, n) for link ``k`` of page i."""
    return F.pmod(F.xxhash64(F.lit(seed), i, F.lit(k)), F.lit(n))


def pages(spark: SparkSession, n: int, seed: int, links: int,
          partitions: int) -> DataFrame:
    """Pages table in the ``(url, warc_ts, html, text, lang)`` input
    schema. ``links`` > 0 makes the html link-rich: ``links`` absolute
    links to other pages, a relative link to a page in the same
    directory, a ``../`` link, a scheme-relative link and a
    fragment-only and a ``mailto:`` link that resolution must drop.
    ``n`` must be a multiple of HOSTS * DIRS when ``links`` > 0."""
    if links and n % (HOSTS * DIRS):
        raise ValueError("n must be a multiple of %d" % (HOSTS * DIRS))
    i = F.col("id")
    url = _url(seed, i)
    text = F.concat(F.lit("page "), i.cast("string"), F.lit(" body "),
                    F.substring(F.sha2(url, 256), 1, 8))
    body = [F.lit("<html><head><title>p"), i.cast("string"),
            F.lit("</title></head><body><p>"), text, F.lit("</p>")]
    for k in range(links):
        body += [F.lit('<a href="'), _url(seed, _pick(seed, i, k, n)),
                 F.lit('">l%d</a>' % k)]
    if links:
        step = HOSTS * DIRS
        sibling = F.pmod(i + step * (1 + _pick(seed, i, links, 7)), n)
        body += [
            F.lit('<a href="p'), sibling.cast("string"),
            F.lit('.html">s</a><a href="../index.html">up</a>'
                  '<a href="//cdn-'), (i % 3).cast("string"),
            F.lit('.test/lib.js">c</a><a href="#top">t</a>'
                  '<a href="mailto:x@y.test">m</a>'),
        ]
    body.append(F.lit("</body></html>"))
    return spark.range(0, n, 1, partitions).select(
        url.alias("url"),
        F.expr("timestamp'2025-01-01 00:00:00' "
               "+ make_interval(0, 0, 0, 0, 0, 0, id)").alias("warc_ts"),
        F.encode(F.concat(*body), "UTF-8").alias("html"),
        text.alias("text"),
        F.element_at(F.array(*[F.lit(x) for x in LANGS]),
                     (i % len(LANGS) + 1).cast("int")).alias("lang"),
    )


def off_edges(pages_df: DataFrame) -> DataFrame:
    """Drop the pages whose derived point lies on a layer edge line."""
    xs, ys = _layer_edges()
    lon, lat = _point(F.col("url"))
    return pages_df.where(~(_on_any(lon, xs) | _on_any(lat, ys)))


def probes(spark: SparkSession, n: int, seed: int,
           partitions: int) -> DataFrame:
    """``(doc_id, wkt)`` probe squares in the shape of the repo's
    ``polygon_overlap`` query: the square around doc ``d``'s point
    (sha256 of ``doc://<d>``) has half-width ``0.2 + (d % 4) * 0.15``,
    corners rounded to 6 decimals. ``doc_id`` is offset by the seed, so
    the seed moves every probe and reshuffles the sizes. Probes with an
    edge on a layer edge line are dropped."""
    d = F.col("id") + F.lit(seed * 1_000_000_000)
    lon, lat = _point(F.concat(F.lit("doc://"), d.cast("string")))
    half = F.lit(0.2) + (d % 4).cast("double") * F.lit(0.15)
    x0, x1 = F.round(lon - half, 6), F.round(lon + half, 6)
    y0, y1 = F.round(lat - half, 6), F.round(lat + half, 6)
    wkt = F.format_string(
        "POLYGON ((%.6f %.6f, %.6f %.6f, %.6f %.6f, %.6f %.6f, %.6f %.6f))",
        x0, y0, x1, y0, x1, y1, x0, y1, x0, y0,
    )
    xs, ys = _layer_edges()
    on_edge = (_on_any(x0, xs) | _on_any(x1, xs) | _on_any(y0, ys)
               | _on_any(y1, ys))
    return spark.range(0, n, 1, partitions).where(~on_edge).select(
        d.alias("doc_id"), wkt.alias("wkt"))


def bboxes(seed: int) -> list[tuple]:
    """Seeded query boxes of mixed extent: one state-sized, one
    country-sized and one continent-sized box. Corners end in 5e-5, half
    a step off the derived points' grid."""
    rng = random.Random(seed)
    out = []
    for (w0, w1), (h0, h1) in (((4, 9), (3, 6)), ((20, 35), (10, 20)),
                               ((50, 80), (30, 45))):
        w, h = rng.uniform(w0, w1), rng.uniform(h0, h1)
        x0 = rng.uniform(-180.0, 180.0 - w)
        y0 = rng.uniform(-90.0, 90.0 - h)
        out.append(tuple(round(v, 4) + 5e-5
                         for v in (x0, y0, x0 + w, y0 + h)))
    return out
