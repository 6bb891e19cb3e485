"""Seeded end-to-end and per-layer benchmark of the engine.

    python3 perfbench/run.py --workload pip_tiles --seed 1 --seconds 10 \\
        --trace 0

Run from the repository root. One run starts one local[nproc] Spark
session, generates the workload's input for the seed under the run's
scratch directory (in every run, so that every run warms the JVM alike)
and computes the expected output with DuckDB. It then sets up once
(driver-side layer prep and a warm-up repetition on the full input) and
repeats the workload for ``--seconds`` seconds, verifying every
repetition. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics: ``cpu_s``, the median CPU
time of the JVM, its Python workers and the driver per repetition, and
``setup_s``, the session start plus the cold set-up.
``--trace 1`` alternates plain and traced repetitions, reports the
per-layer metrics (medians over traced repetitions; wall-clock
``rows_per_s`` and ``executor_s`` over plain ones, ``peak_rss_mb`` over
every one) and writes every span, with the stage and SQL-node metrics its
Spark jobs produced, to ``perfbench/.out/trace-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: measured repetitions per run even when they outlast --seconds. CPU
#: time per repetition still falls over the first several as the JVM
#: warms, so with --seconds below what these take every run measures the
#: same repetitions and the median sits at the same one.
MIN_REPS = 5
#: repetitions of a traced run: plain, traced, plain
TRACED_REPS = 3
NORTH_RULE_SCALING = 0.8

#: end-to-end metrics carry a bound, so they are ones that stay put when
#: other tenants load a shared host: CPU time, not wall time (set-up time
#: excepted). Wall-clock throughput is a per-layer metric.
END_TO_END = {"cpu_s": "s", "setup_s": "s"}
PER_LAYER = {
    "rows_per_s": "rows/s", "executor_s": "s", "peak_rss_mb": "MiB",
    "session.start_s": "s", "session.python_init_s": "s",
    "input.gen_s": "s", "oracle.build_s": "s", "trace.overhead_s": "s",
    "scan.files_read": "count", "scan.bytes_read": "bytes",
    "scan.time_s": "s", "scan.rows_per_input_row": "ratio",
    "points.derive_s": "s",
    "polygons.load_rings_s": "s", "polygons.cover_s": "s",
    "polygons.cover_cells": "count", "join.broadcast_ms": "ms",
    "join.candidate_rows_per_input_row": "ratio",
    "refine.rows_in": "count", "refine.rows_out": "count",
    "refine.hit_ratio": "ratio", "refine.python_s": "s",
    "refine.tasks": "count", "refine.max_task_share": "ratio",
    "wkt.rows_parsed": "count", "wkt.python_s": "s",
    "exchange.shuffle_write_bytes": "bytes", "exchange.records": "count",
    "exchange.reduce_partitions": "count",
    "agg.build_s": "s", "agg.groups": "count",
    "layout.write_s": "s", "layout.files_written": "count",
    "layout.bytes_written": "bytes", "layout.files_read_per_query": "count",
    "layout.rows_scanned_per_row_returned": "ratio",
    "layout.read_p50_s": "s",
    "web.edges_s": "s", "web.edges_per_page": "ratio",
    "graph.rounds": "count", "graph.jobs": "count", "graph.round_s": "s",
    "scaling.eff": "ratio",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> dict:
    """Point every scratch location of Spark, the JVM, Python and DuckDB
    inside ``work``; returns the session's extra configuration."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    return {
        "spark.ui.enabled": "true",
        "spark.ui.port": "0",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "1000000",
        "spark.driver.extraJavaOptions":
            "-Djava.io.tmpdir=%s -XX:-UsePerfData" % tmp,
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    from perfbench.trace import alive, descendants

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    # Python workers outlive the JVM by the moment they take to see
    # their pipes close
    deadline = time.monotonic() + 30
    while any(map(alive, started)) and time.monotonic() < deadline:
        time.sleep(0.05)


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        from pure_python_geospatial_export_spark.session import get_spark
    except ImportError as exc:
        print("perfbench: the program is missing: %s" % exc, file=sys.stderr)
        return 2
    from perfbench import oracle
    from perfbench.sparkui import SparkUI, View
    from perfbench.trace import CpuClock, RssSampler, Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print("perfbench: unknown workload %r (have %s)"
              % (args.workload, ", ".join(WORKLOADS)), file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", "run-%d" % os.getpid())
    conf = _environment(work)
    tr = Tracer("%s-s%d" % (args.workload, args.seed))
    w = cls(args.seed, nproc, work, tr, traced=args.trace == 1)
    t_origin = time.perf_counter()

    def session():
        spark = get_spark(app_name="perfbench", master="local[%d]" % nproc,
                          shuffle_partitions=nproc, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    spark = None
    try:
        # input generation and the oracle need the session but are timed
        # on their own and kept out of setup_s
        with tr.span("get_spark") as start:
            spark = session()
        tr.spark = w.spark = spark
        with tr.span("generate") as gen:
            w.generate(spark)
        with tr.span("oracle") as orc:
            con = oracle.connect(os.path.join(work, "tmp"))
            w.expect(con)
            con.close()
        with tr.span("setup") as setup:
            w.prepare()
            with tr.span("warmup"):
                w.run()
        setup_s = tr.seconds(start) + tr.seconds(setup)
        print("perfbench: get_spark %.2f s, generate %.2f s, oracle %.2f s,"
              " set-up %.2f s" % (tr.seconds(start), tr.seconds(gen),
                                  tr.seconds(orc), tr.seconds(setup)),
              file=sys.stderr)

        reps = []
        # memory is sampled in traced runs only: the sampler's own CPU
        # time would count in cpu_s
        rss = RssSampler() if args.trace else None
        cpu_clock = CpuClock()
        with rss or contextlib.nullcontext():
            deadline = time.perf_counter() + args.seconds
            want = TRACED_REPS if args.trace else MIN_REPS
            while len(reps) < want or time.perf_counter() < deadline:
                traced = args.trace == 1 and len(reps) % 2 == 1
                with tr.span("traced" if traced else "plain") as outer:
                    ok = True
                    if traced:
                        ok = _attempt(w.prefix)
                    if rss:
                        rss.lap()
                    cpu = cpu_clock.seconds()
                    with tr.span("rep") as rep:
                        ok = _attempt(w.rep) and ok
                    rep["cpu_s"] = cpu_clock.seconds() - cpu
                    if rss:
                        rep["rss_bytes"] = rss.lap()
                reps.append((outer, rep, ok))
        walls = [tr.seconds(rep) for _, rep, _ in reps]
        scaling = (w.scaling(statistics.median(walls))
                   if args.trace and hasattr(w, "scaling") else 0)

        ui = SparkUI(spark)
        ui.settle({s["label"] for s in tr.spans})
        view = View(ui, tr)
        print("perfbench: repetitions %s s, executor %s s, cpu %s s"
              % tuple(" ".join("%.2f" % x for x in xs) for xs in (
                  walls, [view.executor_s(r) for _, r, _ in reps],
                  [r["cpu_s"] for _, r, _ in reps])),
              file=sys.stderr)
        failed = sum(1 for _, _, ok in reps if not ok)
        if args.trace == 0:
            metrics = {
                "cpu_s": statistics.median(
                    rep["cpu_s"] for _, rep, _ in reps),
                "setup_s": setup_s,
            }
            units = END_TO_END
        else:
            metrics = _per_layer(w, tr, view, reps, scaling)
            units = PER_LAYER
            out_dir = os.path.join(HERE, ".out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, "trace-%s-s%d.json"
                                % (cls.name, args.seed))
            _attach(tr, view)
            tr.write(path, t_origin)
            print("trace written to %s" % os.path.relpath(path, ROOT))
            if scaling:
                print("scaling_eff %.3f (north rule bar %.1f)"
                      % (scaling, NORTH_RULE_SCALING))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(reps),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }))
    return 0


def _attempt(call) -> bool:
    """``call()``'s verdict; an exception counts as a failure."""
    try:
        return call()
    except Exception:
        traceback.print_exc()
        return False


def _per_layer(w, tr, view, reps, scaling) -> dict:
    """Per-layer metrics: medians over traced repetitions, with the
    set-up spans' layer prep and the plain-vs-traced wall difference."""
    traced = [rep for outer, rep, _ in reps if outer["name"] == "traced"]
    plain = [rep for outer, rep, _ in reps if outer["name"] == "plain"]
    per_rep = [w.layers(view, tr.named("traced")[i])
               for i in range(len(traced))]
    out = {k: 0.0 for k in PER_LAYER}
    for key in per_rep[0]:
        out[key] = statistics.median(float(r[key]) for r in per_rep)

    def med(name):
        spans = tr.named(name)
        return statistics.median(map(tr.seconds, spans)) if spans else 0.0

    out["session.start_s"] = tr.seconds(tr.named("get_spark")[0])
    out["input.gen_s"] = med("generate")
    out["oracle.build_s"] = med("oracle")
    out["polygons.load_rings_s"] = med("load_rings")
    out["polygons.cover_s"] = med("polygon_cells")
    out["trace.overhead_s"] = (
        statistics.median(map(tr.seconds, traced))
        - statistics.median(map(tr.seconds, plain)))
    out["scaling.eff"] = scaling
    out["peak_rss_mb"] = statistics.median(
        rep["rss_bytes"] for _, rep, _ in reps) / 2**20
    out["rows_per_s"] = w.n_rows / statistics.median(map(tr.seconds, plain))
    out["executor_s"] = statistics.median(map(view.executor_s, plain))
    return out


def _attach(tr, view) -> None:
    """Attach stage totals and SQL-node metrics to each span whose label
    produced them (the span's own label, not its children's)."""
    for s in tr.spans:
        stages = view.stages_by.get(s["label"], [])
        if stages:
            s["stages"] = {
                "count": len(stages),
                "executor_s": sum(x["executorRunTime"] for x in stages)
                / 1000.0,
                "shuffle_write_bytes": sum(x["shuffleWriteBytes"]
                                           for x in stages),
            }
        plans = view.plans_own(s)
        if plans:
            s["sql"] = [
                {"execution": p.execution["id"],
                 "nodes": [{"name": n["nodeName"],
                            "metrics": {m["name"]: m["value"]
                                        for m in n.get("metrics", [])}}
                           for n in p.nodes.values() if n.get("metrics")]}
                for p in plans
            ]


if __name__ == "__main__":
    sys.exit(main())
