"""Dump .explain('formatted') for the core operators (see docs/PLANS.md).

  python scripts/dump_plans.py > /tmp/plans.txt
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))


def main() -> None:
    import __spark_entry__ as em
    from pure_python_geospatial_export_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.001"
    for name in ["pip_join", "knn_grid", "tile_stats", "dedup_exact",
                 "similarity_topk", "zonal_stats", "events_range",
                 "kmv_cells", "doc_sample"]:
        print("=" * 25, name, "=" * 25)
        em.REGISTRY[name].fn(spark, sf).explain("formatted")


if __name__ == "__main__":
    main()
