"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point, scaled down for local[N]:
AQE on (runtime re-plan + skew-join splitting), Arrow on (all engine UDFs
are pandas/Arrow batched), shuffle partitions sized to cores locally (on a
real cluster AQE coalesces the 2000-partition default).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Create a driver-local DataFrame as a JVM ``LocalTableScan``.

    ``spark.createDataFrame(list_of_tuples)`` produces a Python-RDD-backed
    plan (``Scan ExistingRDD`` via applySchemaToPythonRDD) whose every
    materialization spins up Python workers across defaultParallelism
    partitions — measured ~10s of pure worker-spawn latency at local[32]
    just to read a 3k-row dimension table. Routing through pandas takes
    the Arrow conversion path instead, which lands as a pure-JVM local
    relation: zero Python at scan time, trivially broadcastable.
    """
    if isinstance(schema, (list, tuple)):
        names = list(schema)
        pdf = pd.DataFrame(list(rows), columns=names)
        return spark.createDataFrame(pdf)
    pdf = pd.DataFrame(list(rows), columns=[f.name for f in schema.fields])
    return spark.createDataFrame(pdf, schema=schema)


def get_spark(
    app_name: str = "ppge-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or "local[%d]" % cpus
    shuffle_partitions = shuffle_partitions or cpus
    if "local[" in master:
        try:
            n_threads = int(master.split("[")[1].rstrip("]"))
        except ValueError:  # local[*]
            n_threads = cpus
    else:
        n_threads = cpus
    # heap must grow with thread count: a local[32] JVM on an 8g heap
    # spends its time in GC (measured 3x slowdown vs local[8]); give each
    # task slot ~1g like a sanely-configured cluster executor would have
    default_mem = "%dg" % min(max(8, n_threads + 4), 56)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", default_mem))
        .config("spark.sql.session.timeZone", "UTC")
        # warehouse for saveAsTable (bucketed tables): keep it out of
        # the repo working dir, and scope it BY USER — a world-shared
        # /tmp/ppge_warehouse collides across users on a multi-tenant
        # host (permission failures / cross-user table mixups)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(
                    __import__("tempfile").gettempdir(),
                    "ppge_warehouse-uid%d" % os.getuid(),
                ),
            ),
        )
        # fork workers from a daemon that has numpy/pandas/pyarrow already
        # imported — fresh Python stages otherwise pay ~2s import per
        # worker slot (see daemon_preload docstring)
        .config(
            "spark.python.daemon.module",
            "pure_python_geospatial_export_spark.daemon_preload",
        )
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # last-wins overrides, e.g. {"spark.ui.enabled": "true"} for
    # benchmark scripts that read the UI REST API for shuffle metrics
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ui_completed_stages(spark) -> tuple:
    """(ui_url, app_id, completed stages) from the Spark UI REST API —
    the shared client for benchmark scripts that read stage metrics
    (requires the session to have been built with
    ``extra_conf={"spark.ui.enabled": "true"}``)."""
    import json
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    if ui is None:
        raise RuntimeError(
            "Spark UI is disabled; build the session with "
            'extra_conf={"spark.ui.enabled": "true"}'
        )
    apps = json.load(
        urllib.request.urlopen(ui + "/api/v1/applications")
    )
    app = apps[0]["id"]
    stages = json.load(urllib.request.urlopen(
        "%s/api/v1/applications/%s/stages?status=complete" % (ui, app)
    ))
    return ui, app, stages


def ui_stage_snapshot(spark):
    """Snapshot of completed stages keyed by (stageId, attemptId), or
    None if the UI is unreachable — pair with :func:`ui_stage_delta`
    to attribute executor metrics to one timed job (the shared helper
    for every benchmark script; wall clocks on this co-tenant host are
    burst-sensitive, stage metrics are not)."""
    try:
        _ui, _app, stages = ui_completed_stages(spark)
    except Exception:
        return None
    return {(s["stageId"], s["attemptId"]): s for s in stages}


def ui_stage_delta(spark, before):
    """Metrics of stages completed since ``before`` (a
    :func:`ui_stage_snapshot`): dict with ``task_time_s`` (executor
    run time) and ``shuffle_write_mb`` (MiB, 2**20 bytes), or None when
    either snapshot is unavailable. The UI publishes stage completion
    slightly after the job returns, so the listing is polled until it
    stops growing — the last stage's async status flip is not missed."""
    import time as _time

    if before is None:
        return None
    after = ui_stage_snapshot(spark)
    if after is None:
        return None
    stable = 0
    for _ in range(20):
        _time.sleep(0.05)
        nxt = ui_stage_snapshot(spark) or after
        if len(nxt) == len(after):
            stable += 1
            if stable >= 2 and len(after) > len(before):
                break
        else:
            stable = 0
        after = nxt
    new = [s for k, s in after.items() if k not in before]
    return {
        "task_time_s": round(sum(
            int(s.get("executorRunTime", 0)) for s in new
        ) / 1000.0, 3),
        "shuffle_write_mb": round(sum(
            int(s.get("shuffleWriteBytes", 0)) for s in new
        ) / 2**20, 2),
    }
