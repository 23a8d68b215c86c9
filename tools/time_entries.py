#!/usr/bin/env python3
"""Time named catalog entries in isolation through the bench's own
per-entry window (``bench.measure_entry``: noop sink, in-window
unpersist, host-noise, GC/JIT and stage totals) and optionally capture
their .explain("formatted") output into plans/<round>/.

Usage:
  python tools/time_entries.py [--runs N] [--plan-suffix before|after]
                               [--plans-round rNN] name [name ...]

Prints one JSON line per entry: {"name", "walls": [...], "min",
"steal": [...], "iowait": [...], "cpu_ow": [...], "jobs": [...],
"jvm_churn_ms": [...], "frames": [...], "runs": [...]}, one list item
per run. "frames" is the number of staged frames ``unpersist_all()``
released, "jvm_churn_ms" is GC + JIT summed, and "runs" holds the
runs' full records (see bench.py). Set SPARK_GRAFT_CPUS to pick the
core count. Plan capture happens once per entry (the plan does not
change between runs) into plans/<round>/<name>_<suffix>.txt when
--plan-suffix is given.

Each entry first runs once untimed and that record is dropped, so its
one-off source landing and caches are warm in every reported run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import bench  # noqa: E402
from las_vpe_platform_spark.operators.staging import unpersist_all  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plan-suffix", default=None)
    ap.add_argument("--plans-round", default="r14")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench.get_spark("time_entries")
    bench.warm_session(spark, sf_dir)

    plans_dir = Path(_REPO) / "plans" / args.plans_round
    if args.plan_suffix:
        plans_dir.mkdir(parents=True, exist_ok=True)

    for name in args.names:
        bench.measure_entry(spark, name, sf_dir)  # warm-up: landings, caches
        runs = [bench.measure_entry(spark, name, sf_dir)[0] for _ in range(args.runs)]
        if args.plan_suffix:
            import io
            from contextlib import redirect_stdout

            df = bench.CATALOG[name][0](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            out = plans_dir / f"{name}_{args.plan_suffix}.txt"
            out.write_text(buf.getvalue())
            unpersist_all()

        def each(key: str) -> list:
            return [r[key] for r in runs if r[key] is not None]

        walls = each("wall_s")
        print(json.dumps({
            "name": name,
            "walls": walls,
            "min": min(walls),
            "steal": [round(v, 2) for v in each("steal_pct")],
            "iowait": [round(v, 2) for v in each("iowait_pct")],
            "cpu_ow": [round(v, 2) for v in each("cpu_over_wall")],
            "jobs": each("jobs"),
            "jvm_churn_ms": [bench.churn_ms(r) for r in runs],
            "frames": each("frames"),
            "runs": runs,
        }), flush=True)


if __name__ == "__main__":
    main()
