"""The preload daemon's per-task import-cache handling: install archives
are not re-read on every task, while files shipped with ``addPyFile``
still import in the next task (the contract ``invalidate_caches``
exists for)."""

import os
import uuid
import zipfile

from pure_python_geospatial_export_spark import daemon_preload


def test_install_archive_predicate(tmp_path):
    base = tmp_path.resolve()  # roots hold real paths
    home = base / "spark"
    own = base / "elsewhere" / "pyspark.zip"
    roots = (os.path.join(str(home), ""), str(own))
    check = daemon_preload._is_install_archive
    assert check(str(home / "python" / "lib" / "pyspark.zip"), roots)
    assert check(str(own), roots)
    assert not check(str(base / "spark-other" / "x.zip"), roots)
    assert not check(str(base / "userFiles-1" / "dep.zip"), roots)


def test_added_pyfiles_import_in_next_task(spark, tmp_path):
    sc = spark.sparkContext
    # one task first: the worker has now run setup_spark_files and
    # cached its finders before anything new is shipped
    assert sc.parallelize([0], 1).map(lambda x: x + 1).collect() == [1]

    tag = uuid.uuid4().hex[:12]
    mod_name, pkg_name = "addpy_mod_" + tag, "addpy_pkg_" + tag
    mod_path = tmp_path / (mod_name + ".py")
    mod_path.write_text("VALUE = 'module'\n")
    zip_path = tmp_path / (pkg_name + ".zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.writestr(pkg_name + "/__init__.py", "VALUE = 'package'\n")
    sc.addPyFile(str(mod_path))
    sc.addPyFile(str(zip_path))

    def probe(_):
        import importlib

        return (importlib.import_module(mod_name).VALUE,
                importlib.import_module(pkg_name).VALUE)

    assert sc.parallelize([0], 1).map(probe).collect() == [
        ("module", "package")
    ]


def test_invalidate_caches_is_cheap_in_workers(spark):
    def invalidate_cost(_):
        import importlib
        import time

        costs = []
        for _ in range(3):
            t = time.process_time()
            importlib.invalidate_caches()
            costs.append(time.process_time() - t)
        return min(costs)

    sc = spark.sparkContext
    costs = sc.parallelize(range(4), 4).map(invalidate_cost).collect()
    assert max(costs) < 0.020, costs


def test_worker_gc_skips_preloaded_heap(spark):
    """The daemon freezes its preloaded heap before forking, so the
    full ``gc.collect()`` pyspark's daemon runs after every task of a
    reused worker walks only what tasks allocated, and a reference
    cycle made inside a task is still freed."""
    def gc_probe(_):
        import gc
        import time
        import weakref

        class Node:
            pass

        node = Node()
        node.self = node
        ref = weakref.ref(node)
        del node
        costs = []
        for _ in range(3):
            t = time.process_time()
            gc.collect()
            costs.append(time.process_time() - t)
        return (gc.get_freeze_count(), len(gc.get_objects()), min(costs),
                ref() is None)

    sc = spark.sparkContext
    for frozen, tracked, cost, freed in (
        sc.parallelize(range(4), 4).map(gc_probe).collect()
    ):
        assert frozen > tracked, (frozen, tracked)
        assert cost < 0.010, cost
        assert freed
