"""Spark's own monitoring surfaces, read from outside the program.

* :func:`parse_metric` turns the human-formatted SQL-node metric strings
  of ``/api/v1/applications/<app>/sql?details=true`` back into numbers:
  ``"8,000,000"``, ``"1056.0 KiB"``, ``"229 ms"`` and the per-task form
  ``"total (min, med, max (stageId: taskId))\\n55.4 s (1.0 s, 13.0 s,
  14.1 s (stage 3.0: task 40))"``. Sizes come back in bytes (the UI's
  ``KiB``/``MiB`` are powers of 1024) and times in seconds.
* :class:`SparkUI` is a small REST client for the running application.
* :class:`Plan` is one SQL execution's node graph, with the lookups the
  per-layer metrics need.

Jobs are attributed by their job description: Spark copies the
``setJobDescription`` label onto every SQL execution, job and stage the
call produces, broadcast and AQE sub-jobs included.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from typing import NamedTuple

_BYTE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30,
               "TiB": 2**40, "PiB": 2**50, "EiB": 2**60}
_TIME_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0,
               "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM = r"-?[0-9][0-9,]*(?:\.[0-9]+)?(?:[eE][-+]?[0-9]+)?"
_QTY = re.compile(r"^(%s)(?:\s*([A-Za-z]+))?$" % _NUM)
#: seconds to wait for the UI to list every finished job
SETTLE_TIMEOUT = 20.0
_STAGE = re.compile(r"\(stage ([0-9]+)\.([0-9]+): task ([0-9]+)\)")


class Metric(NamedTuple):
    """One parsed SQL-node metric. ``total`` is the value summed over
    tasks (for a plain value, the value itself); ``min``/``med``/``max``
    are per-task statistics when Spark printed them; ``stage`` is the
    stage id of the task holding the maximum."""

    total: float | None
    min: float | None
    med: float | None
    max: float | None
    unit: str
    stage: int | None


def _quantity(text: str) -> tuple[float, str]:
    m = _QTY.match(text.strip())
    if m is None:
        raise ValueError("unparseable metric quantity %r" % text)
    number = float(m.group(1).replace(",", ""))
    suffix = m.group(2)
    if suffix is None:
        return number, "count"
    if suffix in _BYTE_UNITS:
        return number * _BYTE_UNITS[suffix], "bytes"
    if suffix in _TIME_UNITS:
        return number * _TIME_UNITS[suffix], "s"
    raise ValueError("unknown metric unit %r in %r" % (suffix, text))


def _split_top(text: str) -> list[str]:
    """Split ``a, b, c (x: y)`` on commas outside parentheses."""
    parts, depth, cur = [], 0, []
    for ch in text:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return [p.strip() for p in parts]


def parse_metric(value: str) -> Metric:
    """Parse one SQL-node metric value string (see the module doc)."""
    text = value.strip()
    stage_m = _STAGE.search(text)
    stage = int(stage_m.group(1)) if stage_m else None
    if "\n" not in text:
        total, unit = _quantity(text)
        return Metric(total, None, None, None, unit, stage)
    header, body = text.split("\n", 1)
    body = _STAGE.sub("", body).strip()
    if header.startswith("total"):
        # "<total> (<min>, <med>, <max> )"
        head, _, rest = body.partition("(")
        total, unit = _quantity(head)
        stats = _split_top(rest.rstrip().rstrip(")").strip())
    else:
        # "(min, med, max (stageId: taskId)):" — statistics, no total
        total, unit = None, None
        stats = _split_top(body.strip().lstrip("(").rstrip(")").strip())
    if len(stats) != 3:
        raise ValueError("expected min, med, max in %r" % value)
    vals = [_quantity(s) for s in stats]
    unit = unit or vals[0][1]
    return Metric(total, vals[0][0], vals[1][0], vals[2][0], unit, stage)


class Plan:
    """One SQL execution's plan graph (``sql?details=true`` entry)."""

    def __init__(self, execution: dict):
        self.execution = execution
        self.nodes = {n["nodeId"]: n for n in execution.get("nodes", [])}
        self.parent: dict[int, int] = {}
        for e in execution.get("edges", []):
            self.parent[e["fromId"]] = e["toId"]

    def named(self, prefix: str) -> list[dict]:
        """Nodes whose name starts with ``prefix``, deepest (nearest the
        scans: highest node id) first."""
        found = [n for n in self.nodes.values()
                 if n["nodeName"].startswith(prefix)]
        return sorted(found, key=lambda n: -n["nodeId"])

    @staticmethod
    def metric(node: dict, name: str) -> Metric | None:
        for m in node.get("metrics", []):
            if m["name"] == name:
                return parse_metric(m["value"])
        return None

    def total(self, prefix: str, name: str) -> float:
        """Sum of one metric's totals over every node named ``prefix``."""
        out = 0.0
        for node in self.named(prefix):
            m = self.metric(node, name)
            if m is not None and m.total is not None:
                out += m.total
        return out

    def ancestor(self, node: dict, prefix: str) -> dict | None:
        """Nearest node above ``node`` whose name starts with ``prefix``."""
        nid = self.parent.get(node["nodeId"])
        while nid is not None:
            if self.nodes[nid]["nodeName"].startswith(prefix):
                return self.nodes[nid]
            nid = self.parent.get(nid)
        return None


class SparkUI:
    """REST client for the running application's UI."""

    def __init__(self, spark):
        self.base = spark.sparkContext.uiWebUrl
        if not self.base:
            raise RuntimeError("the Spark UI is disabled")
        self.app = self.get("/applications")[0]["id"]

    def get(self, path: str):
        url = self.base + "/api/v1" + path
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def app_get(self, path: str):
        return self.get("/applications/%s%s" % (self.app, path))

    def settle(self, labels: set[str]) -> None:
        """Wait until every job labelled with one of ``labels`` has
        finished and each of its stages is listed as finished: the UI
        learns of completions from the listener bus, after the action
        that caused them has returned."""
        deadline = time.monotonic() + SETTLE_TIMEOUT
        while True:
            jobs = [j for j in self.app_get("/jobs")
                    if j.get("description") in labels]
            done = all(j["status"] != "RUNNING" for j in jobs)
            if done:
                want = {s for j in jobs for s in j["stageIds"]}
                stages = self.app_get("/stages")
                listed = {s["stageId"] for s in stages
                          if s["status"] in ("COMPLETE", "SKIPPED",
                                             "FAILED")}
                execs = [e for e in self.app_get(
                    "/sql?details=false&offset=0&length=1000000")
                    if e.get("description") in labels]
                if want <= listed and all(e["status"] != "RUNNING"
                                          for e in execs):
                    return
            if time.monotonic() > deadline:
                raise TimeoutError("Spark UI did not settle for %s"
                                   % sorted(labels))
            time.sleep(0.05)

    def stages_by_label(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for s in self.app_get("/stages"):
            if s.get("description") and s["status"] == "COMPLETE":
                out.setdefault(s["description"], []).append(s)
        return out

    def plans_by_label(self) -> dict[str, list[Plan]]:
        out: dict[str, list[Plan]] = {}
        for e in self.app_get("/sql?details=true&planDescription=false"
                              "&offset=0&length=1000000"):
            if e.get("description"):
                out.setdefault(e["description"], []).append(Plan(e))
        return out


def _value(node: dict, name: str) -> float:
    m = Plan.metric(node, name)
    return m.total if m is not None and m.total is not None else 0.0


class View:
    """Stage, job and SQL-node metrics grouped by the spans whose labels
    produced them. SQL details are fetched on first use only, so an
    untraced run reads no more than the stage list."""

    def __init__(self, ui: SparkUI, tracer):
        self.ui = ui
        self.tr = tracer
        self.stages_by = ui.stages_by_label()
        self.stage_by_id = {s["stageId"]: s for ss in self.stages_by.values()
                            for s in ss}
        self._plans_by = None
        self._jobs_by = None

    def labels(self, spans) -> set[str]:
        return {s["label"] for sp in spans for s in self.tr.subtree(sp)}

    def executor_s(self, span) -> float:
        return sum(st["executorRunTime"]
                   for label in self.labels([span])
                   for st in self.stages_by.get(label, [])) / 1000.0

    def plans(self, spans) -> list[Plan]:
        if self._plans_by is None:
            self._plans_by = self.ui.plans_by_label()
        return [p for label in sorted(self.labels(spans))
                for p in self._plans_by.get(label, [])]

    def plans_own(self, span) -> list[Plan]:
        """Plans labelled by ``span`` itself, not by its children."""
        self.plans([])
        return self._plans_by.get(span["label"], [])

    def jobs(self, spans) -> int:
        if self._jobs_by is None:
            self._jobs_by = {}
            for j in self.ui.app_get("/jobs"):
                self._jobs_by.setdefault(j.get("description"), []).append(j)
        return sum(len(self._jobs_by.get(label, []))
                   for label in self.labels(spans))


def job_layers(plans: list[Plan], rows: int) -> dict:
    """Scan, broadcast join, exchange, aggregate and Python-worker numbers
    of one job's SQL executions; ``rows`` is the input size the per-row
    ratios are taken over."""
    out = {}

    def total(prefix, name):
        return sum(p.total(prefix, name) for p in plans)

    out["scan.files_read"] = total("Scan parquet", "number of files read")
    out["scan.bytes_read"] = total("Scan parquet", "size of files read")
    out["scan.time_s"] = total("Scan parquet", "scan time")
    out["scan.rows_per_input_row"] = total(
        "Scan parquet", "number of output rows") / rows
    # the cover is the only driver-local relation these jobs scan
    out["polygons.cover_cells"] = total("LocalTableScan",
                                        "number of output rows")
    out["join.broadcast_ms"] = 1000.0 * sum(
        total("BroadcastExchange", m)
        for m in ("time to collect", "time to build", "time to broadcast"))
    out["join.candidate_rows_per_input_row"] = total(
        "BroadcastHashJoin", "number of output rows") / rows
    out["session.python_init_s"] = sum(
        total(prefix, m)
        for prefix in ("ArrowEvalPython", "MapInPandas")
        for m in ("time to start Python workers",
                  "time to initialize Python workers"))
    out["exchange.shuffle_write_bytes"] = total(
        "Exchange", "shuffle bytes written")
    out["exchange.records"] = total("Exchange", "shuffle records written")
    partitions = 0.0
    for p in plans:
        for ex in p.named("Exchange"):
            above = p.nodes.get(p.parent.get(ex["nodeId"]))
            if above and above["nodeName"].startswith("AQEShuffleRead"):
                partitions += _value(above, "number of partitions")
            else:
                partitions += _value(ex, "number of partitions")
    out["exchange.reduce_partitions"] = partitions
    out["agg.build_s"] = total("HashAggregate", "time in aggregation build")
    tops = [p.named("HashAggregate")[-1] for p in plans
            if p.named("HashAggregate")]
    out["agg.groups"] = (_value(tops[-1], "number of output rows")
                         if tops else 0.0)
    return out


def refine_layers(plans: list[Plan], stage_by_id: dict, prefix: str,
                  index: int = 0) -> dict:
    """The Python refine: the ``index``-th ``prefix`` node from the scan
    side, and the Filter that keeps its accepted rows. ``stage_by_id``
    gives the task count of the stage that ran it."""
    out = {"refine.rows_in": 0.0, "refine.rows_out": 0.0,
           "refine.python_s": 0.0, "refine.tasks": 0.0,
           "refine.max_task_share": 0.0}
    for p in plans:
        found = p.named(prefix)
        if len(found) <= index:
            continue
        node = found[index]
        out["refine.rows_in"] += _value(node, "number of output rows")
        keep = p.ancestor(node, "Filter")
        if keep is not None:
            out["refine.rows_out"] += _value(keep, "number of output rows")
        run = Plan.metric(node, "time to run Python workers")
        if run is not None and run.total:
            out["refine.python_s"] += run.total
            share = (run.max if run.max is not None else run.total
                     ) / run.total
            out["refine.max_task_share"] = max(
                out["refine.max_task_share"], share)
            stage = stage_by_id.get(run.stage)
            out["refine.tasks"] += stage["numTasks"] if stage else 1
    out["refine.hit_ratio"] = (out["refine.rows_out"]
                               / max(1.0, out["refine.rows_in"]))
    return out
