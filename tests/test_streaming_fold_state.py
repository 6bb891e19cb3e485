"""The one versioned state behind every foreachBatch fold
(streaming/epoch_state.EpochVersionedState): the empty-batch contract
holds for all eight folds, older state dirs still open, and a reopened
DistinctState refuses a different HLL lattice."""

import datetime as dt
import json
import os

import pytest

from pure_python_geospatial_export_spark.session import local_df
from pure_python_geospatial_export_spark.streaming.cluster import (
    ClusterState,
)
from pure_python_geospatial_export_spark.streaming.distinct import (
    DistinctState,
)
from pure_python_geospatial_export_spark.streaming.epoch_state import (
    EpochVersionedState,
)
from pure_python_geospatial_export_spark.streaming.hh import (
    HeavyHitterState,
)
from pure_python_geospatial_export_spark.streaming.hotspot import (
    HotspotState,
)
from pure_python_geospatial_export_spark.streaming.hull import HullState
from pure_python_geospatial_export_spark.streaming.od import OdState
from pure_python_geospatial_export_spark.streaming.quantiles import (
    QuantileState,
)
from pure_python_geospatial_export_spark.streaming.web import (
    LinkGraphState,
)

_T0 = dt.datetime(2024, 3, 1)


def _seg(u, t0, t1, x):
    return (u, _T0 + dt.timedelta(minutes=t0),
            _T0 + dt.timedelta(minutes=t1), 3,
            (t1 - t0) * 60_000_000, 0, x, 0.0, x + 0.01, 0.0, True)


# name -> (state factory, one data batch's rows, its schema)
CASES = {
    "quantile": (
        lambda spark, d: QuantileState(spark, d, ["grp"], "value", k=8),
        [(0, float(i)) for i in range(20)],
        "grp long, value double",
    ),
    "hh": (
        lambda spark, d: HeavyHitterState(spark, d, ["grp"], "key", m=8),
        [(0, "a"), (0, "a"), (0, "b")],
        "grp long, key string",
    ),
    "hotspot": (
        lambda spark, d: HotspotState(spark, d, res=4),
        [(1, 0.5, 0.5), (2, 0.6, 0.6)],
        "pid long, lon double, lat double",
    ),
    "od": (
        lambda spark, d: OdState(spark, d, res=6),
        [_seg(1, 0, 40, -40.0), _seg(1, 120, 160, -15.0)],
        "user_id long, t_start timestamp, t_end timestamp, "
        "n_points long, dur_us long, path_mm long, xmin double, "
        "ymin double, xmax double, ymax double, is_stay boolean",
    ),
    "web": (
        lambda spark, d: LinkGraphState(spark, d),
        [("https://s0.test/p/%d" % i,
          '<html><body><a href="https://d%d.test/x">a</a></body></html>'
          % (i % 3)) for i in range(6)],
        "url string, html string",
    ),
    "distinct": (
        lambda spark, d: DistinctState(spark, d, ["grp"], "value", p=8),
        [(0, "v%d" % i) for i in range(50)],
        "grp long, value string",
    ),
    "hull": (
        lambda spark, d: HullState(spark, d),
        [(0, 0.0, 0.0), (0, 2.0, 0.0), (0, 0.0, 2.0), (0, 0.5, 0.5)],
        "group_id long, lon double, lat double",
    ),
    "cluster": (
        lambda spark, d: ClusterState(spark, d),
        [(1, 2), (2, 3), (7, 8)],
        "id_a long, id_b long",
    ),
}


def _versions(state):
    return sorted(n for n in os.listdir(state.state_dir)
                  if n.startswith("v") and n[1:].isdigit())


def _rows(df):
    return sorted(str(r) for r in df.collect())


@pytest.mark.parametrize("name", list(CASES))
def test_empty_batch_advances_epoch_only(spark, tmp_path, name):
    make, rows, schema = CASES[name]
    state = make(spark, str(tmp_path / "state"))
    assert isinstance(state, EpochVersionedState)
    state.foreach_batch(spark.createDataFrame(rows, schema), 0)
    versions = _versions(state)
    before = _rows(state.current())
    assert versions and before

    state.foreach_batch(spark.createDataFrame([], schema), 1)
    assert state._read_pointer() == (versions[-1], 1)
    assert _versions(state) == versions
    assert _rows(state.current()) == before


def test_every_fold_state_is_one_base():
    for cls in (QuantileState, HeavyHitterState, HotspotState, OdState,
                LinkGraphState, DistinctState, HullState, ClusterState):
        assert issubclass(cls, EpochVersionedState)
    # only the idempotent folds skip the epoch gate
    assert all(c.gate_epochs for c in (QuantileState, HeavyHitterState,
                                       HotspotState, OdState,
                                       LinkGraphState))
    assert not any(c.gate_epochs
                   for c in (DistinctState, HullState, ClusterState))


def test_cluster_dir_with_bare_pointer_reopens(spark, tmp_path):
    """A ClusterState dir whose pointer is a bare version name (the
    format written before the pointer carried an epoch) still serves
    its rows and folds new batches."""
    d = str(tmp_path / "state")
    os.makedirs(d)
    name = "v%020d" % 1
    local_df(spark, [(1, 1), (2, 1), (7, 7), (8, 7)],
             ["id", "cluster_id"]).write.parquet(os.path.join(d, name))
    with open(os.path.join(d, "_CURRENT"), "w") as f:
        f.write(name)

    state = ClusterState(spark, d)
    assert state._read_pointer() == (name, -1)
    assert _rows(state.current()) == _rows(
        spark.read.parquet(os.path.join(d, name))
    )
    state.foreach_batch(local_df(spark, [(8, 2), (9, 10)],
                                 ["id_a", "id_b"]), 0)
    got = {r["id"]: r["cluster_id"] for r in state.current().collect()}
    assert got == {1: 1, 2: 1, 7: 1, 8: 1, 9: 9, 10: 9}
    assert state._read_pointer() == ("v%020d" % 2, 0)


def test_distinct_dir_without_config_gets_one(spark, tmp_path):
    """A DistinctState dir written before the lattice was pinned has
    no _CONFIG: it opens, and the first open writes one."""
    d = str(tmp_path / "state")
    state = DistinctState(spark, d, ["grp"], "value", p=8)
    state.foreach_batch(
        local_df(spark, [(0, "a"), (0, "b")], ["grp", "value"]), 0
    )
    before = _rows(state.current())
    os.remove(os.path.join(d, "_CONFIG"))

    reopened = DistinctState(spark, d, ["grp"], "value", p=8)
    with open(os.path.join(d, "_CONFIG")) as f:
        assert json.load(f) == {"group_cols": ["grp"], "p": 8}
    assert _rows(reopened.current()) == before


def test_distinct_reopen_with_other_precision_raises(spark, tmp_path):
    """Registers of two HLL precisions must never max into one
    bucket: reopening with a different ``p`` (or group key) raises."""
    d = str(tmp_path / "state")
    DistinctState(spark, d, ["grp"], "value", p=12)
    DistinctState(spark, d, ["grp"], "value", p=12)  # same: fine
    with pytest.raises(ValueError, match="fresh state dir"):
        DistinctState(spark, d, ["grp"], "value", p=14)
    with pytest.raises(ValueError, match="fresh state dir"):
        DistinctState(spark, d, ["cell"], "value", p=12)
