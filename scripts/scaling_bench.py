"""Two-parallelism scaling bench (north rule: efficiency >= 0.8 N -> 4N).

Runs the flagship job in FRESH subprocesses at local[8] and local[32] on
the identical input (deterministic synthesis), computes throughput at both
and the scaling efficiency, and writes BENCH/BASELINE.md.

  python scripts/scaling_bench.py [--pages-n 2000000] [--repeats 2]

Efficiency definition: speedup(8->32) / 4, with speedup = T8 / T32
(ideal linear scaling gives 1.0). Best-of-``repeats`` wall times are used
to suppress JVM warmup noise. The host's usable core count is recorded
with the result; a ``--high`` above it oversubscribes the cores, and the
section says so: its efficiency then measures the host, not the engine.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(cpus: int, pages_n: int) -> dict:
    cmd = [
        sys.executable,
        os.path.join(REPO, "scripts", "flagship_job.py"),
        "--pages-n", str(pages_n),
        "--master", "local[%d]" % cpus,
        "--cpus", str(cpus),
    ]
    out = subprocess.run(
        cmd, capture_output=True, text=True, cwd=REPO, check=True
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages-n", type=int, default=48_000_000)
    ap.add_argument("--low", type=int, default=4)
    ap.add_argument("--high", type=int, default=16)
    ap.add_argument("--repeats", type=int, default=2)
    args = ap.parse_args()

    # interleave the two parallelism levels so host-level noise (shared
    # sandbox CPU capacity drifts minute-to-minute) hits both equally;
    # best-of-N per level then compares like with like
    results = {cpus: {"all": []} for cpus in (args.low, args.high)}
    for _ in range(args.repeats):
        for cpus in (args.low, args.high):
            results[cpus]["all"].append(run_once(cpus, args.pages_n))
            print("local[%d]: %s" % (cpus, results[cpus]["all"][-1]))
    for cpus in (args.low, args.high):
        results[cpus]["best"] = min(results[cpus]["all"],
                                    key=lambda r: r["wall_sec"])

    t_low = results[args.low]["best"]["wall_sec"]
    t_high = results[args.high]["best"]["wall_sec"]
    factor = args.high / args.low
    speedup = t_low / t_high
    efficiency = speedup / factor
    cores = len(os.sched_getaffinity(0))
    oversubscribed = args.high > cores

    summary = {
        "host_cores": cores,
        "oversubscribed": oversubscribed,
        "pages_n": args.pages_n,
        "low_cpus": args.low,
        "high_cpus": args.high,
        "wall_low_sec": t_low,
        "wall_high_sec": t_high,
        "pages_per_sec_low": results[args.low]["best"]["pages_per_sec"],
        "pages_per_sec_high": results[args.high]["best"]["pages_per_sec"],
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(efficiency, 3),
    }
    print(json.dumps(summary))

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    section = (
            "## Scaling (north rule: efficiency >= 0.8 from N to 4N)\n\n"
            + ("**oversubscribed: efficiency is a host property** "
               "(local[%d] on %d usable cores).\n\n" % (args.high, cores)
               if oversubscribed else "")
            + "Sandbox proxy for two cluster sizes: the identical flagship "
            "job (synthesize %d pages -> derive points -> spatial join vs "
            "18-polygon layer -> per-(polygon,cell) rollup) run in fresh "
            "JVMs at local[%d] and local[%d] on a host with %d usable "
            "cores.\n\n"
            "| parallelism | wall (s) | pages/sec |\n"
            "| --- | --- | --- |\n"
            "| local[%d] | %.3f | %.1f |\n"
            "| local[%d] | %.3f | %.1f |\n\n"
            "- speedup %d->%d cores: **%.2fx**\n"
            "- scaling efficiency (speedup / %.0f): **%.3f**\n\n"
            "Raw runs (best-of-%d reported above):\n\n```json\n%s\n```\n"
            % (
                args.pages_n, args.low, args.high, cores,
                args.low, t_low, summary["pages_per_sec_low"],
                args.high, t_high, summary["pages_per_sec_high"],
                args.low, args.high, speedup, factor, efficiency,
                args.repeats,
                json.dumps(
                    {str(k): v for k, v in results.items()}, indent=1
                ),
            )
    )
    # REPLACE only this script's section — the file accumulates other
    # measured sections (steady-state bench, operator A/Bs, linearity)
    # that a full rewrite would destroy.
    header = "# BENCH/BASELINE — measured engine numbers\n\n"
    if os.path.exists(path):
        old = open(path).read()
        start = old.find("## Scaling")
        if start == -1:
            new = old.rstrip() + "\n\n" + section
        else:
            end = old.find("\n## ", start + 1)
            tail = "" if end == -1 else old[end + 1:]
            new = old[:start] + section.rstrip() + "\n\n" + tail
    else:
        new = header + section
    with open(path, "w") as f:
        f.write(new)
    print("wrote BENCH/BASELINE.md (scaling section)")


if __name__ == "__main__":
    main()
