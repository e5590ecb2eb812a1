"""Two-parallelism scaling evidence for the iterative graph-join shape
(urls.redirect_chains — pointer doubling: 4 self-join rounds at
max_hops=16).

The north rule's two-cluster-size criterion can't use a real cluster in
this sandbox, so (as in BENCH/BASELINE.md) the same job runs at two
local parallelism levels on the SAME input and we report throughput at
both plus the scaling efficiency.  Each level runs in a FRESH JVM via a
subprocess (the r3 lesson: a parent SparkSession skews standalone
measurements), with one warm-up pass and min-of-2 measured passes per
level.

Usage:
    python tools/graph_scaling.py            # run levels, write BENCH/graph_scaling.json
    python tools/graph_scaling.py --cpus N   # one measured level (internal)
"""

from __future__ import annotations

import argparse
import json
import pathlib
import subprocess
import sys
import time

N_EDGES = 8_000_000


def run_level(cpus: int) -> dict:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
    from pdf_to_epub_spark.operators import redirect_chains

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(8, cpus)))
        .config("spark.ui.enabled", "false")
        # the doubling rounds pin 4 generations of lazy localCheckpoint
        # blocks; the 1g default heap evicts them at 32 threads (lost
        # rdd block -> FetchFailed), so size the driver heap up front
        .config("spark.driver.memory", "16g")
        .appName(f"graph-scaling-{cpus}")
        .getOrCreate()
    )
    # deterministic decade chains + every-5th-decade cycles, same shape
    # as the driver query but at 8M edges
    i = F.col("id")
    dst_i = F.when(i % 10 != 9, i + 1).otherwise(i - 9)
    edges = (
        spark.range(N_EDGES)
        .filter((i % 10 != 9) | (F.floor(i / 10) % 5 == 0))
        .select(
            F.concat(F.lit("u"), i.cast("string")).alias("src"),
            F.concat(F.lit("u"), dst_i.cast("string")).alias("dst"),
        )
    )
    times = []
    for attempt in range(3):  # 1 warm-up + 2 measured
        t0 = time.monotonic()
        n = redirect_chains(edges, max_hops=16).count()
        dt = time.monotonic() - t0
        if attempt > 0:
            times.append(dt)
    spark.stop()
    best = min(times)
    return {
        "cpus": cpus,
        "rows": n,
        "sec": round(best, 3),
        "edges_per_sec": round(N_EDGES / best, 1),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()
    if args.cpus:
        print(json.dumps(run_level(args.cpus)))
        return
    levels = []
    for cpus in (2, 8, 32):
        out = subprocess.run(
            [sys.executable, __file__, "--cpus", str(cpus)],
            capture_output=True, text=True, check=True,
        )
        levels.append(json.loads(out.stdout.strip().splitlines()[-1]))
        print(levels[-1])
    by = {l["cpus"]: l for l in levels}
    eff_2_8 = (by[8]["edges_per_sec"] / by[2]["edges_per_sec"]) / 4.0
    eff_8_32 = (by[32]["edges_per_sec"] / by[8]["edges_per_sec"]) / 4.0
    artifact = {
        "job": "redirect_chains pointer doubling (4 join rounds, 8M edges)",
        "levels": levels,
        "scaling_efficiency_2_to_8": round(eff_2_8, 3),
        "scaling_efficiency_8_to_32": round(eff_8_32, 3),
        "note": (
            "same input, three local parallelism levels, fresh JVM per "
            "level, min-of-2 after warm-up; 2->8 is this VM's linear "
            "region (the BASELINE.md N->4N protocol); 8->32 crosses the "
            "SMT ceiling AND the job's fixed per-round barrier costs "
            "(9 shuffle-bounded rounds), so its lower number is the "
            "hardware/overhead bound, not the plan"
        ),
    }
    path = pathlib.Path(__file__).resolve().parents[1] / "BENCH" / "graph_scaling.json"
    path.write_text(json.dumps(artifact, indent=2) + "\n")
    print(json.dumps(artifact))


if __name__ == "__main__":
    main()
