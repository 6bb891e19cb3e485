"""Expected outputs, computed by DuckDB from the generated parquet files.

Every oracle reuses the repository's existing SQL twins, so the code under
test never computes its own expected answer: ``functions.points.point_sql``
for point derivation, ``__spark_entry__._rect_pred_sql`` / ``_tile_sql``
for containment and cells, the ``polygon_overlap`` entry of
``__spark_entry__.oracle_sql()`` verbatim, and
``functions.html.html_links_sql`` / ``functions.urls.resolve_href_sql``
for link extraction. The PageRank chain follows the update formula of the
``page_rank`` oracle, generalised from its fixed 50-node graph to a table.
"""

from __future__ import annotations

import duckdb

import __spark_entry__ as em
from pure_python_geospatial_export_spark.functions import html as H
from pure_python_geospatial_export_spark.functions import urls as U
from pure_python_geospatial_export_spark.functions.points import point_sql


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET temp_directory = '%s'" % tmp_dir)
    return con


def count(con, input_glob: str) -> int:
    """Rows of the generated input."""
    return int(con.execute("SELECT COUNT(*) FROM read_parquet('%s')"
                           % input_glob).fetchone()[0])


def _pts(pages_glob: str) -> str:
    lon, lat = point_sql("url")
    return ("pts AS MATERIALIZED (SELECT %s AS lon, %s AS lat "
            "FROM read_parquet('%s'))" % (lon, lat, pages_glob))


def pip_tiles(con, pages_glob: str, res: int) -> dict:
    """{(name, cell_id): pages} of the containment join."""
    hits = " UNION ALL ".join(
        "SELECT '%s' AS name, %s AS cell_id FROM pts WHERE %s"
        % (name, em._tile_sql(res), em._rect_pred_sql(outer, hole))
        for _pid, name, outer, hole in em._rects()
    )
    rows = con.execute(
        "WITH %s, hits AS (%s) SELECT name, cell_id, COUNT(*) FROM hits "
        "GROUP BY 1, 2" % (_pts(pages_glob), hits)
    ).fetchall()
    return {(name, int(cell)): int(n) for name, cell, n in rows}


def areal_overlap(con, probes_glob: str) -> set:
    """{(doc_id, name)} pairs of the polygon-overlap join."""
    con.execute("CREATE OR REPLACE TEMP VIEW documents AS "
                "SELECT doc_id FROM read_parquet('%s')" % probes_glob)
    rows = con.execute(em.oracle_sql()["polygon_overlap"]).fetchall()
    return {(int(d), name) for d, name in rows}


def bbox_counts(con, pages_glob: str, boxes: list) -> list[int]:
    """Rows inside each box (edges inclusive, as ``read_bbox``)."""
    counts = ", ".join(
        "COUNT(*) FILTER (WHERE %s)" % em._rect_pred_sql(b, None)
        for b in boxes
    )
    row = con.execute("WITH %s SELECT %s FROM pts"
                      % (_pts(pages_glob), counts)).fetchone()
    return [int(c) for c in row]


def link_rank(con, pages_glob: str, iterations: int,
              scale: int) -> tuple[int, dict]:
    """(edge count, {node: rank}) of exact-integer PageRank, damping
    85/100, over the resolved page-link graph."""
    num, den = 85, 100
    con.execute(
        "CREATE OR REPLACE TEMP TABLE e AS SELECT src, dst FROM "
        "(SELECT src, %s AS dst FROM (SELECT url AS src, unnest(%s) AS "
        "href FROM (SELECT url, decode(html) AS html FROM "
        "read_parquet('%s')))) WHERE dst IS NOT NULL"
        % (U.resolve_href_sql("src", "href"), H.html_links_sql("html"),
           pages_glob)
    )
    con.execute(
        "CREATE OR REPLACE TEMP TABLE nd AS SELECT n.node, "
        "COALESCE(d.deg, 0) AS deg FROM (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM e UNION ALL SELECT dst FROM e)) n "
        "LEFT JOIN (SELECT src AS node, COUNT(*) AS deg FROM e "
        "GROUP BY 1) d USING (node)"
    )
    n_edges = con.execute("SELECT COUNT(*) FROM e").fetchone()[0]
    n = con.execute("SELECT COUNT(*) FROM nd").fetchone()[0]
    teleport = ((den - num) * scale) // (den * n)
    con.execute("CREATE OR REPLACE TEMP TABLE r0 AS SELECT node, deg, "
                "CAST(%d AS BIGINT) AS pr FROM nd" % (scale // n))
    for r in range(1, iterations + 1):
        con.execute(
            "CREATE OR REPLACE TEMP TABLE r{r} AS SELECT nd.node, nd.deg, "
            "CAST({tp} + ({num} * (COALESCE(sv.sv, 0) + dg.dgl)) // {den} "
            "AS BIGINT) AS pr FROM nd LEFT JOIN (SELECT e.dst AS node, "
            "SUM(p.pr // p.deg) AS sv FROM r{p} p JOIN e ON p.node = e.src "
            "WHERE p.deg > 0 GROUP BY 1) sv USING (node) CROSS JOIN "
            "(SELECT COALESCE(SUM(pr), 0) // {n} AS dgl FROM r{p} "
            "WHERE deg = 0) dg".format(r=r, p=r - 1, tp=teleport, num=num,
                                       den=den, n=n)
        )
    ranks = dict(con.execute("SELECT node, pr FROM r%d"
                             % iterations).fetchall())
    return int(n_edges), {k: int(v) for k, v in ranks.items()}
