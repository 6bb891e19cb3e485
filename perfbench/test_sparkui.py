"""Tests of the SQL-node metric parser and the per-layer readings, against
REST payloads captured from a real run (``fixtures/pip_tiles_rest.json``:
``/sql?details=true`` executions and ``/stages`` entries of one
``pip_tiles``-shaped job over 2,000,000 pages, local[4]).

    python3 -m pytest perfbench -q
"""

import json
import os

import pytest

from perfbench.sparkui import Plan, job_layers, parse_metric, refine_layers

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures",
                       "pip_tiles_rest.json")
KiB, MiB = 2**10, 2**20


@pytest.fixture(scope="module")
def rest():
    with open(FIXTURE) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def plan(rest):
    (execution,) = [e for e in rest["sql"] if e["description"] == "rep0"]
    return Plan(execution)


@pytest.mark.parametrize("text, total, unit", [
    ("8,000,000", 8_000_000, "count"),
    ("938", 938, "count"),
    ("1056.0 KiB", 1056 * KiB, "bytes"),
    ("17.5 MiB", 17.5 * MiB, "bytes"),
    ("0.0 B", 0, "bytes"),
    ("229 ms", 0.229, "s"),
    ("0 ms", 0, "s"),
])
def test_plain_values(text, total, unit):
    m = parse_metric(text)
    assert m.total == pytest.approx(total)
    assert m.unit == unit
    assert (m.min, m.med, m.max, m.stage) == (None, None, None, None)


def test_per_task_total_form():
    m = parse_metric("total (min, med, max (stageId: taskId))\n"
                     "55.4 s (1.0 s, 13.0 s, 14.1 s (stage 3.0: task 40))")
    assert (m.total, m.min, m.med, m.max) == pytest.approx(
        (55.4, 1.0, 13.0, 14.1))
    assert (m.unit, m.stage) == ("s", 3)


def test_per_task_mixed_units():
    m = parse_metric("total (min, med, max (stageId: taskId))\n"
                     "4.1 KiB (1024.0 B, 1056.0 B, 1056.0 B "
                     "(stage 7.0: task 29))")
    assert m.total == pytest.approx(4.1 * KiB)
    assert (m.min, m.max) == pytest.approx((1024, 1056))
    m = parse_metric("total (min, med, max (stageId: taskId))\n"
                     "1.0 s (245 ms, 261 ms, 272 ms (stage 7.0: task 24))")
    assert (m.total, m.min, m.max) == pytest.approx((1.0, 0.245, 0.272))


def test_statistics_without_total():
    m = parse_metric("(min, med, max (stageId: taskId)):\n"
                     "(1, 1, 1 (stage 7.0: task 24))")
    assert m.total is None
    assert (m.min, m.med, m.max, m.unit, m.stage) == (1, 1, 1, "count", 7)


@pytest.mark.parametrize("text", ["", "fast", "12 parsecs",
                                  "total (min, med, max)\n1 s (2 s)"])
def test_malformed_values_raise(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def test_every_captured_value_parses(rest):
    values = [m["value"] for e in rest["sql"] for n in e["nodes"]
              for m in n.get("metrics", [])]
    assert len(values) > 100
    for v in values:
        m = parse_metric(v)
        assert m.unit in ("count", "bytes", "s")
        assert (m.total if m.total is not None else m.max) >= 0


def test_plan_lookups(plan):
    scans = plan.named("Scan parquet")
    assert [n["nodeId"] for n in scans] == [26, 13]
    assert plan.total("Scan parquet", "number of output rows") == 4_000_000
    (refine,) = plan.named("ArrowEvalPython")
    assert plan.ancestor(refine, "Filter")["nodeId"] == 18
    assert plan.ancestor(refine, "Sort") is None


def test_job_layers(plan):
    out = job_layers([plan], rows=2_000_000)
    # each branch of the refine union re-reads and re-derives the input
    assert out["scan.rows_per_input_row"] == 2.0
    assert out["scan.files_read"] == 16
    assert out["scan.bytes_read"] == pytest.approx(2 * 17.5 * MiB)
    assert out["scan.time_s"] == pytest.approx(1.328)
    assert out["join.broadcast_ms"] == pytest.approx(149 + 18 + 7
                                                     + 134 + 46 + 9)
    assert out["join.candidate_rows_per_input_row"] == pytest.approx(
        (28_723 + 62_820) / 2_000_000)
    assert out["polygons.cover_cells"] == 938 + 2_045
    assert out["session.python_init_s"] == pytest.approx(7.6 + 2.9)
    assert out["exchange.records"] == 11_326
    assert out["exchange.shuffle_write_bytes"] == pytest.approx(134.8 * KiB)
    # AQE coalesced the aggregate's exchange to one reduce partition
    assert out["exchange.reduce_partitions"] == 1
    assert out["agg.build_s"] == pytest.approx(16.8 + 0.025)
    assert out["agg.groups"] == 2_914


def test_refine_layers(rest, plan):
    stage_by_id = {s["stageId"]: s for s in rest["stages"]}
    out = refine_layers([plan], stage_by_id, "ArrowEvalPython")
    assert (out["refine.rows_in"], out["refine.rows_out"]) == (28_723,
                                                               14_039)
    assert out["refine.hit_ratio"] == pytest.approx(14_039 / 28_723)
    assert out["refine.python_s"] == pytest.approx(15.0)
    assert out["refine.tasks"] == 8
    assert out["refine.max_task_share"] == pytest.approx(3.8 / 15.0)
