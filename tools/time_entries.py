#!/usr/bin/env python3
"""Round-12 measurement harness: time named catalog entries in
isolation with the bench's exact methodology (noop sink, in-window
unpersist, steal + process-tree CPU sampling) and optionally capture
their .explain("formatted") output into plans/r12/.

Usage:
  python tools/time_entries.py [--runs N] [--plan-suffix before|after]
                               [--cpus N] name [name ...]

Prints one JSON line per entry: {"name", "walls": [...], "min",
"steal": [...], "cpu_ow": [...], "frames": [...]}, where "frames" is
the number of staged frames ``unpersist_all()`` released per run. Plan capture happens once per entry
(the plan does not change between runs) into
plans/r12/<name>_<suffix>.txt when --plan-suffix is given.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import bench  # noqa: E402  (reuse _jiffies/_tree_cpu_sec)
from las_vpe_platform_spark.operators.staging import unpersist_all  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plan-suffix", default=None)
    ap.add_argument("--plans-round", default="r13")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    if args.cpus:
        os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from las_vpe_platform_spark.queries import CATALOG  # noqa: E402
    from las_vpe_platform_spark.session import get_spark  # noqa: E402

    spark = get_spark("time_entries")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    cores = spark.sparkContext.defaultParallelism
    spark.range(cores).repartition(cores).mapInPandas(lambda it: it, "id long").count()

    plans_dir = Path(_REPO) / "plans" / args.plans_round
    if args.plan_suffix:
        plans_dir.mkdir(parents=True, exist_ok=True)

    tracker = spark.sparkContext.statusTracker()

    for name in args.names:
        fn = CATALOG[name][0]
        walls, steals, cows, jobs, iows, churns, frames = [], [], [], [], [], [], []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            n0 = len(tracker.getJobIdsForGroup(None) or [])
            j0, c0 = bench._jiffies(), bench._tree_cpu_sec()
            g0 = bench._jvm_churn_ms(spark)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            frames.append(unpersist_all())
            wall = time.perf_counter() - t0
            j1, c1 = bench._jiffies(), bench._tree_cpu_sec()
            g1 = bench._jvm_churn_ms(spark)
            jobs.append(len(tracker.getJobIdsForGroup(None) or []) - n0)
            walls.append(round(wall, 3))
            if j0 and j1 and j1[0] > j0[0]:
                steals.append(round(100.0 * (j1[1] - j0[1]) / (j1[0] - j0[0]), 2))
                iows.append(round(100.0 * (j1[2] - j0[2]) / (j1[0] - j0[0]), 2))
            if c0 is not None and c1 is not None and wall > 0 and c1 >= c0:
                cows.append(round((c1 - c0) / wall, 2))
            if g0 is not None and g1 is not None:
                churns.append((g1[0] - g0[0]) + (g1[1] - g0[1]))
        if args.plan_suffix:
            import io
            from contextlib import redirect_stdout

            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            out = plans_dir / f"{name}_{args.plan_suffix}.txt"
            out.write_text(buf.getvalue())
            unpersist_all()
        print(json.dumps({
            "name": name,
            "walls": walls,
            "min": min(walls),
            "steal": steals,
            "iowait": iows,
            "cpu_ow": cows,
            "jobs": jobs,
            "jvm_churn_ms": churns,
            "frames": frames,
        }), flush=True)


if __name__ == "__main__":
    main()
