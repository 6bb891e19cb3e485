"""In-process timing of ``polygon_overlap_join``'s per-batch kernel.

Generates perfbench ``areal_overlap``'s seeded probe squares (20k rows,
``perfbench.gen.probes``) against the repo layer, captures the
``mapInArrow`` kernel the join would ship instead of running a Spark
job, and calls it directly on the probes' Arrow batches (8 batches, as
the workload's 8 input files give on a 4-core host). Reports the
process CPU seconds per repetition of the whole kernel and of the
refine step alone (the callback ``layer_candidate_map`` hands each
``ProbeBatch``), medians over ``--reps``, the number of refined pairs
and of hits among them, and a digest of the output pairs so two
checkouts can be compared for identical answers.

Run: python scripts/overlap_refine_bench.py [--seed 1] [--reps 15]
"""

import argparse
import hashlib
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=15)
    ap.add_argument("--batches", type=int, default=8)
    args = ap.parse_args()

    import __spark_entry__ as em
    from perfbench import gen
    from pure_python_geospatial_export_spark.operators import spatial_join
    from pure_python_geospatial_export_spark.session import get_spark
    from pure_python_geospatial_export_spark.sources.polygons import (
        load_rings,
    )

    spark = get_spark(master="local[2]", shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    probes = gen.probes(spark, 20_000, args.seed, args.batches)
    # the kernel reads the columns layer_candidate_map selects
    table = probes.toArrow().rename_columns(["doc_id", "_wkt"])
    layer = em._layer_df(spark)
    rings = load_rings(layer)

    refine_s = [0.0]
    refined = [0, 0]  # pairs refined, pairs settled by the shortcut
    real_lcm = spatial_join.layer_candidate_map

    def timed_lcm(*a, **kw):
        a = list(a)
        inner = a[7] if len(a) > 7 else kw["refine"]

        def refine(b):
            refined[0] += int((~b.sure).sum())
            refined[1] += int(b.sure.sum())
            t0 = time.process_time()
            try:
                return inner(b)
            finally:
                refine_s[0] += time.process_time() - t0

        if len(a) > 7:
            a[7] = refine
        else:
            kw["refine"] = refine
        return real_lcm(*a, **kw)

    spatial_join.layer_candidate_map = timed_lcm
    type(probes).mapInArrow = lambda self, f, schema, *a, **kw: f
    kernel = spatial_join.polygon_overlap_join(
        probes, layer, res=6, id_col="doc_id", rings_by_id=rings)
    spark.stop()

    size = -(-table.num_rows // args.batches)
    batches = table.to_batches(max_chunksize=size)
    total, refine, digest = [], [], None
    for _rep in range(args.reps + 1):  # the first is a warm-up
        refine_s[0] = 0.0
        refined[:] = [0, 0]
        t0 = time.process_time()
        out = list(kernel(iter(batches)))
        total.append(time.process_time() - t0)
        refine.append(refine_s[0])
        pairs = sorted(
            (r["doc_id"], r["polygon_id"])
            for b in out for r in b.to_pylist()
        )
        d = hashlib.sha256(repr(pairs).encode()).hexdigest()[:16]
        assert digest in (None, d)
        digest = d
    print(json.dumps({
        "seed": args.seed, "rows": table.num_rows,
        "batches": len(batches), "pairs": len(pairs), "digest": digest,
        "refined_pairs": refined[0],
        "refined_hits": len(pairs) - refined[1],
        "kernel_cpu_s": round(statistics.median(total[1:]), 4),
        "refine_cpu_s": round(statistics.median(refine[1:]), 4),
    }))


if __name__ == "__main__":
    main()
