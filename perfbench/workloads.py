"""The workloads. Each one generates its input, asks DuckDB for the
expected output, prepares driver-side state, runs one verified repetition
at a time, and turns the SQL-node metrics of a traced repetition into
per-layer numbers.

``BENCHMARK.json`` measures ``pip_tiles`` and ``areal_overlap``.
``table_io`` and ``link_rank`` run on their own by name; in the measured
set they ride along as verified prefixes of ``pip_tiles``' traced
repetitions (``link_rank`` inside ``table_io``), so the ``sources.layout``,
``operators.web`` and ``operators.graph`` layers are measured too. A run of
their own would add 40-60 s of session start, generation and cold set-up
each, and the runs of four workloads do not fit the benchmark's time
budget on a shared 4-core host.

Sizes are picked so that one repetition takes about two seconds at
local[4] on a shared 4-core host: long enough that task time, not
scheduling, dominates, and short enough that a run fits session start,
input generation, set-up, a warm-up and several measured repetitions in
about half a minute.
"""

from __future__ import annotations

import glob
import os
import statistics

import __spark_entry__ as em
from pure_python_geospatial_export_spark.functions.points import with_point
from pure_python_geospatial_export_spark.operators.graph import pagerank
from pure_python_geospatial_export_spark.operators.spatial_join import (
    polygon_overlap_join,
    spatial_join,
)
from pure_python_geospatial_export_spark.operators.web import page_link_edges
from pure_python_geospatial_export_spark.sources.layout import (
    read_bbox,
    write_spatial_table,
)
from pure_python_geospatial_export_spark.sources.polygons import (
    load_rings,
    polygon_cells,
)

from . import gen, oracle
from .sparkui import Plan, job_layers, refine_layers


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    #: rows generated; inputs drop a few (see ``gen``), so rows_per_s is
    #: taken over ``n_rows``, the input rows the oracle counted
    rows = 0
    table = "pages"

    def __init__(self, seed: int, nproc: int, work_dir: str, tracer,
                 traced: bool = False):
        self.seed = seed
        self.nproc = nproc
        self.work_dir = work_dir
        self.tr = tracer
        self.traced = traced
        self.spark = None
        self.layer = None
        self.n_rows = 0

    # -- input -------------------------------------------------------------

    @property
    def input_dir(self) -> str:
        return os.path.join(self.work_dir, "input", self.table)

    @property
    def input_glob(self) -> str:
        return os.path.join(self.input_dir, "*.parquet")

    def input_files(self) -> list[str]:
        return sorted(glob.glob(self.input_glob))

    def generate(self, spark) -> None:
        """Write the input (2 files per core, so a 1/nproc slice is whole
        files)."""
        self.make_input(spark, 2 * self.nproc).write.parquet(self.input_dir)

    def make_input(self, spark, partitions: int):
        raise NotImplementedError

    def read(self, files=None):
        return self.spark.read.parquet(*(files or [self.input_dir]))

    def slice_files(self) -> list[str]:
        files = self.input_files()
        return files[: max(1, len(files) // self.nproc)]

    # -- driver-side state ---------------------------------------------------

    def prepare(self) -> None:
        """Layer prep on the driver; repeated per set-up."""

    def load_layer(self) -> None:
        self.layer = em._layer_df(self.spark)
        with self.tr.span("load_rings"):
            self.rings = load_rings(self.layer)

    # -- repetitions -------------------------------------------------------

    def run(self):
        """One repetition; returns what :meth:`check` verifies."""
        raise NotImplementedError

    def check(self, out) -> bool:
        return out == self.expected

    def rep(self) -> bool:
        return self.check(self.run())

    def prefix(self) -> bool:
        """Extra jobs of a traced repetition, run before it; returns
        whether the outputs it verifies are correct."""
        return True

    # -- per-layer numbers -------------------------------------------------

    def layers(self, view, rep) -> dict:
        return {}


class PipTiles(Workload):
    """Point derivation, broadcast cell join and boundary refine, then a
    (polygon, cell) count: JVM-dominated.

    A traced run also runs ``table_io`` (with ``link_rank``) as a verified
    prefix of every traced repetition and takes its ``layout.*``,
    ``web.*`` and ``graph.*`` numbers."""

    name = "pip_tiles"
    rows = 400_000
    RES = 8
    RIDER_LAYERS = ("layout.", "web.", "graph.")

    def __init__(self, seed, nproc, work_dir, tracer, traced=False):
        super().__init__(seed, nproc, work_dir, tracer, traced)
        self.io = TableIO(seed, nproc, os.path.join(work_dir, "io"), tracer,
                          traced)

    def make_input(self, spark, partitions):
        return gen.off_edges(gen.pages(spark, self.rows, self.seed, 0,
                                       partitions))

    def generate(self, spark):
        super().generate(spark)
        if self.traced:
            self.io.spark = spark
            self.io.generate(spark)

    def expect(self, con) -> None:
        self.n_rows = oracle.count(con, self.input_glob)
        self.expected = oracle.pip_tiles(con, self.input_glob, self.RES)
        if self.traced:
            self.io.expect(con)

    def prepare(self):
        self.load_layer()
        with self.tr.span("polygon_cells"):
            self.cover = polygon_cells(self.spark, self.rings, self.RES)
        if self.traced:
            # a warm-up, so traced repetitions measure it warm
            self.io.prepare()
            self.io.run()

    def job(self, pages):
        joined = spatial_join(with_point(pages), self.layer, res=self.RES,
                              rings_by_id=self.rings, cover=self.cover)
        return joined.groupBy("name", "cell_id").count().collect()

    def run(self):
        with self.tr.span("job"):
            out = self.job(self.read())
        return {(r[0], int(r[1])): int(r[2]) for r in out}

    def prefix(self):
        with self.tr.span("points.derive"):
            _noop(with_point(self.read()))
        ok = self.io.prefix()
        return self.io.rep() and ok

    def scaling(self, full_s: float) -> float:
        """Full-input rows/s (``full_s`` a repetition's median wall) over
        nproc times the rows/s of the same job on a 1/nproc slice read as
        one partition: the in-process stand-in for N -> 4N scaling
        efficiency."""
        files = self.slice_files()
        slice_rows = self.spark.read.parquet(*files).count()
        with self.tr.span("slice") as s:
            self.job(self.read(files).coalesce(1))
        return (self.n_rows / full_s) / (
            self.nproc * slice_rows / self.tr.seconds(s))

    def layers(self, view, rep):
        plans = view.plans(self.tr.named("job", rep))
        out = job_layers(plans, self.n_rows)
        out.update(refine_layers(plans, view.stage_by_id, "ArrowEvalPython"))
        out["points.derive_s"] = self.tr.seconds(
            self.tr.named("points.derive", rep)[0])
        out.update((k, v) for k, v in self.io.layers(view, rep).items()
                   if k.startswith(self.RIDER_LAYERS))
        return out


class ArealOverlap(Workload):
    """WKT bbox pass, candidate-cell join, pair dedupe and exact
    polygon-vs-polygon refine: Python-dominated."""

    name = "areal_overlap"
    rows = 20_000
    table = "probes"
    RES = 6

    def make_input(self, spark, partitions):
        return gen.probes(spark, self.rows, self.seed, partitions)

    def expect(self, con):
        self.n_rows = oracle.count(con, self.input_glob)
        self.expected = oracle.areal_overlap(con, self.input_glob)

    def prepare(self):
        # polygon_overlap_join builds its own cover in every repetition
        self.load_layer()

    def run(self):
        with self.tr.span("job"):
            out = polygon_overlap_join(
                self.read(), self.layer, res=self.RES, id_col="doc_id",
                rings_by_id=self.rings,
            ).select("doc_id", "name").collect()
        return {(int(r[0]), r[1]) for r in out}

    def layers(self, view, rep):
        plans = view.plans(self.tr.named("job", rep))
        out = job_layers(plans, self.n_rows)
        # the bbox pass sits nearest the scan, the refine above it
        out.update(refine_layers(plans, view.stage_by_id, "MapInPandas",
                                 index=1))
        bbox = [n for p in plans for n in p.named("MapInPandas")[:1]]
        out["wkt.rows_parsed"] = sum(
            Plan.metric(n, "number of output rows").total for n in bbox)
        out["wkt.python_s"] = sum(
            Plan.metric(n, "time to run Python workers").total for n in bbox)
        return out


class TableIO(Workload):
    """Spatial-layout write of derived points, then a fixed list of
    regional bbox reads of the written table: the sink and stored reads.

    A traced run also runs ``link_rank`` as a verified prefix of every
    traced repetition, so the link-extraction and PageRank layers are
    measured by the benchmark's own workloads."""

    name = "table_io"
    rows = 50_000

    def __init__(self, seed, nproc, work_dir, tracer, traced=False):
        super().__init__(seed, nproc, work_dir, tracer, traced)
        self.links = LinkRank(seed, nproc, os.path.join(work_dir, "links"),
                              tracer)

    def make_input(self, spark, partitions):
        return gen.pages(spark, self.rows, self.seed, 0, partitions)

    def generate(self, spark):
        super().generate(spark)
        if self.traced:
            self.links.generate(spark)

    def expect(self, con):
        self.boxes = gen.bboxes(self.seed)
        self.n_rows = oracle.count(con, self.input_glob)
        self.expected = oracle.bbox_counts(con, self.input_glob, self.boxes)
        if self.traced:
            self.links.expect(con)

    def prepare(self):
        self.links.spark = self.spark
        if self.traced:
            # a warm-up, so traced repetitions measure it warm
            self.links.rep()

    def run(self):
        path = os.path.join(self.work_dir, "table")
        with self.tr.span("write_spatial_table"):
            write_spatial_table(with_point(self.read()), path)
        counts = []
        for b in self.boxes:
            with self.tr.span("read_bbox"):
                counts.append(read_bbox(self.spark, path, b).count())
        return counts

    def prefix(self):
        with self.tr.span("points.derive"):
            _noop(with_point(self.read()))
        self.links.prefix()
        return self.links.rep()

    def layers(self, view, rep):
        (write,) = self.tr.named("write_spatial_table", rep)
        reads = self.tr.named("read_bbox", rep)
        wplans = view.plans([write])
        out = job_layers(wplans, self.n_rows)
        out["points.derive_s"] = self.tr.seconds(
            self.tr.named("points.derive", rep)[0])
        out["layout.write_s"] = self.tr.seconds(write)
        cmd = [n for p in wplans for n in p.named("Execute InsertInto")]
        out["layout.files_written"] = sum(
            Plan.metric(n, "number of written files").total for n in cmd)
        out["layout.bytes_written"] = sum(
            Plan.metric(n, "written output").total for n in cmd)
        rplans = view.plans(reads)
        files = sum(p.total("Scan parquet", "number of files read")
                    for p in rplans)
        scanned = sum(p.total("Scan parquet", "number of output rows")
                      for p in rplans)
        out["layout.files_read_per_query"] = files / len(reads)
        out["layout.rows_scanned_per_row_returned"] = scanned / max(
            1, sum(self.expected))
        out["layout.read_p50_s"] = statistics.median(
            self.tr.seconds(r) for r in reads)
        out.update(self.links.graph_layers(view, rep))
        return out


class LinkRank(Workload):
    """Page-level link extraction (html regex + RFC 3986 resolution) and
    exact-integer PageRank: iterative and driver-round-trip bound."""

    name = "link_rank"
    rows = 4_000
    ITERATIONS = 3
    SCALE = 2 ** 40
    LINKS = 4

    def make_input(self, spark, partitions):
        return gen.pages(spark, self.rows, self.seed, self.LINKS, partitions)

    def expect(self, con):
        self.n_rows = oracle.count(con, self.input_glob)
        self.n_edges, self.expected = oracle.link_rank(
            con, self.input_glob, self.ITERATIONS, self.SCALE)

    def run(self):
        with self.tr.span("pagerank"):
            ranks = pagerank(page_link_edges(self.read()),
                             iterations=self.ITERATIONS,
                             scale=self.SCALE).toPandas()
        return dict(zip(ranks["node"], ranks["rank"].astype("int64")))

    def prefix(self):
        with self.tr.span("page_link_edges"):
            _noop(page_link_edges(self.read()))
        return True

    def layers(self, view, rep):
        (job,) = self.tr.named("pagerank", rep)
        out = job_layers(view.plans([job]), self.n_rows)
        out.update(self.graph_layers(view, rep))
        return out

    def graph_layers(self, view, rep) -> dict:
        """The ``operators.web`` and ``operators.graph`` numbers."""
        (job,) = self.tr.named("pagerank", rep)
        (edges,) = self.tr.named("page_link_edges", rep)
        out = {}
        out["web.edges_s"] = self.tr.seconds(edges)
        out["web.edges_per_page"] = self.n_edges / self.n_rows
        out["graph.rounds"] = self.ITERATIONS
        out["graph.jobs"] = view.jobs([job])
        out["graph.round_s"] = self.tr.seconds(job) / self.ITERATIONS
        return out


WORKLOADS = {w.name: w for w in (PipTiles, ArealOverlap, TableIO, LinkRank)}
