"""The one round driver for the iterative operators
(operators/fixpoint.py): every converging operator raises the one
NonConvergenceError at its bound, the fixture round counts are pinned,
and no hand-rolled Spark round loop is left in the package."""

import ast
import os

import pytest

import pure_python_geospatial_export_spark as pkg
from pure_python_geospatial_export_spark.operators import (
    dedup,
    distance,
    graph,
)
from pure_python_geospatial_export_spark.operators.fixpoint import (
    NonConvergenceError,
)
from pure_python_geospatial_export_spark.session import local_df

_RING = [(i, (i + 1) % 6) for i in range(6)]
# a 6-deep chain of 2-cycles: condensation depth 6
_CHAIN2 = [(2 * k, 2 * k + 1) for k in range(6)] + [
    (2 * k + 1, 2 * k) for k in range(6)
] + [(2 * (k - 1), 2 * k) for k in range(1, 6)]


def _nearest(spark, r):
    layer = local_df(
        spark, [(1, "a", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")],
        ["polygon_id", "name", "wkt"],
    )
    # unit squares 1, 3 and 6 units east of the layer polygon
    probes = local_df(
        spark,
        [
            (i, "POLYGON ((%d 0, %d 0, %d 1, %d 1, %d 0))"
             % (x, x + 1, x + 1, x, x))
            for i, x in enumerate([2, 4, 7])
        ],
        ["probe_id", "wkt"],
    )
    return distance.nearest_polygon_join(
        probes, layer, start_dist=1.0, max_rounds=r, res=5
    )


# (case, run(spark, bound), op, bound name, smallest converging bound R)
# R was measured on the code before the round driver existed; the
# driver must keep every fixture's round count.
CASES = [
    (
        "shortest_paths",
        lambda s, r: graph.shortest_paths(
            local_df(s, [(i, i + 1, 1) for i in range(5)],
                     ["src", "dst", "w"]),
            [0], directed=True, max_rounds=r,
        ),
        "shortest_paths", "max_rounds", 6,
    ),
    (
        # back edges i -> 0 make the sweep short; the color needs the
        # whole ring
        "scc_color",
        lambda s, r: graph.strongly_connected_components(
            local_df(s, _RING + [(i, 0) for i in range(1, 6)],
                     ["src", "dst"]),
            max_rounds=r,
        ),
        "SCC color propagation", "max_rounds", 6,
    ),
    (
        # shortcuts 0 -> i make the color short; the sweep walks the
        # ring backwards
        "scc_sweep",
        lambda s, r: graph.strongly_connected_components(
            local_df(s, _RING + [(0, i) for i in range(1, 6)],
                     ["src", "dst"]),
            max_rounds=r,
        ),
        "SCC backward sweep", "max_rounds", 6,
    ),
    (
        "scc_peel",
        lambda s, r: graph.strongly_connected_components(
            local_df(s, _CHAIN2, ["src", "dst"]), max_peels=r
        ),
        "SCC peeling", "max_peels", 6,
    ),
    (
        "core_numbers",
        lambda s, r: graph.core_numbers(
            local_df(s, [(i, i + 1) for i in range(6)], ["src", "dst"]),
            max_rounds=r,
        ),
        "core_numbers", "max_rounds", 4,
    ),
    (
        "duplicate_clusters",
        lambda s, r: dedup.duplicate_clusters(
            local_df(s, [(i, i + 1) for i in range(40)],
                     ["id_a", "id_b"]),
            "id", max_iters=r,
        ),
        "duplicate_clusters", "max_iters", 6,
    ),
    ("nearest_polygon_join", _nearest, "nearest_polygon_join",
     "max_rounds", 4),
]


@pytest.mark.parametrize(
    "run,op,bound,rounds", [c[1:] for c in CASES], ids=[c[0] for c in CASES]
)
def test_non_convergence_error_and_round_counts(spark, run, op, bound,
                                                rounds):
    assert run(spark, rounds).count() > 0
    with pytest.raises(NonConvergenceError) as info:
        run(spark, rounds - 1)
    err = info.value
    assert (err.op, err.bound, err.rounds) == (op, bound, rounds - 1)
    assert isinstance(err, ValueError) and isinstance(err, RuntimeError)
    assert str(err).startswith(
        "%s did not converge within %s=%d" % (op, bound, rounds - 1)
    )


def test_shortest_paths_takes_a_one_shot_iterable(spark):
    df = local_df(spark, [(0, 1, 1), (1, 2, 1)], ["src", "dst", "w"])
    got = graph.shortest_paths(df, (s for s in [0]))
    assert {r["node"]: r["dist"] for r in got.collect()} == {
        0: 0, 1: 1, 2: 2,
    }


def test_hits_rejects_iterations_before_touching_the_edges():
    # no DataFrame at all: the check must fire before any Spark work
    with pytest.raises(ValueError, match="iterations"):
        graph.hits(None, iterations=0)


#: calls that make a loop a Spark round loop
_ROUND_CALLS = {"localCheckpoint", "isEmpty", "checkpoint"}


def hand_rolled_round_loops(root):
    """``file:line`` of every for/while loop under ``root`` (outside
    operators/fixpoint.py) that checkpoints or probes for emptiness."""
    found = []
    for dirpath, _dirs, files in os.walk(root):
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root)
            if not name.endswith(".py") or rel == os.path.join(
                "operators", "fixpoint.py"
            ):
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for loop in ast.walk(tree):
                if not isinstance(loop, (ast.For, ast.While)):
                    continue
                for node in ast.walk(loop):
                    fn = getattr(node, "func", None)
                    called = getattr(fn, "attr", getattr(fn, "id", None))
                    if isinstance(node, ast.Call) and called in _ROUND_CALLS:
                        found.append("%s:%d" % (rel, loop.lineno))
                        break
    return found


def test_no_hand_rolled_round_loops_anywhere():
    """Global hygiene: every Spark-side iterative loop runs through
    operators.fixpoint — one round bound, one checkpoint discipline,
    one NonConvergenceError."""
    assert hand_rolled_round_loops(os.path.dirname(pkg.__file__)) == []
