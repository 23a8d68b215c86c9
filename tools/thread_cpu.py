#!/usr/bin/env python3
"""Per-thread CPU attribution for the local-mode Spark process tree.

The r12 driver runs showed entries burning 10-25x wall in CPU-seconds
(cpu_ow) at low steal on 32 cores while the same entries run clean at
8 cores and on quiet builder windows — telemetry that names the wall
but not the burner. This tool closes that gap: snapshot utime+stime of
EVERY thread of every process in this session's tree, grouped by
thread name (/proc/<pid>/task/<tid>/comm), and diff across a query
window. GC threads ("GC Thread#k"), JIT ("C2 CompilerThre"), executor
task threads ("Executor task l"), netty, py4j and Python workers all
carry distinct names, so the delta table says WHERE the CPU went.

Usage:
  python tools/thread_cpu.py [--cpus N] [--runs N] [--contend K] name...

--contend K forks K pure-python busy-loop processes for the duration
(approximates the driver environment's 10-15% contention on a 32-core
box with K~4-6). Their CPU is excluded from the attribution by pid:
they are forked children of this process, and every snapshot skips
the pids recorded at fork time.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections import defaultdict
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import bench  # noqa: E402
from las_vpe_platform_spark.operators.staging import unpersist_all  # noqa: E402


def _tree_pids(root: int) -> list[int]:
    info = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw[raw.rindex(")") + 2:].split()
        info[int(entry)] = int(rest[1])
    kids = defaultdict(list)
    for pid, ppid in info.items():
        kids[ppid].append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def thread_cpu_by_name(root: int, skip: set[int] = frozenset()) -> dict[str, float]:
    """utime+stime seconds per thread-name across the process tree."""
    hz = os.sysconf("SC_CLK_TCK")
    acc: dict[str, float] = defaultdict(float)
    for pid in _tree_pids(root):
        if pid in skip:
            continue
        tdir = f"/proc/{pid}/task"
        try:
            tids = os.listdir(tdir)
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"{tdir}/{tid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            name = raw[raw.index("(") + 1: raw.rindex(")")]
            rest = raw[raw.rindex(")") + 2:].split()
            cpu = (int(rest[11]) + int(rest[12])) / hz
            # collapse numbered pool threads into one bucket
            base = name.rstrip("0123456789#- ")
            acc[base] += cpu
    return acc


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--contend", type=int, default=0)
    args = ap.parse_args()

    if args.cpus:
        os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spinners = []
    for _ in range(args.contend):
        pid = os.fork()
        if pid == 0:
            while True:
                pass
        spinners.append(pid)

    try:
        from las_vpe_platform_spark.queries import CATALOG
        from las_vpe_platform_spark.session import get_spark

        spark = get_spark("thread_cpu")
        bench.warm_session(spark, sf_dir)
        me = os.getpid()

        for name in args.names:
            fn = CATALOG[name][0]
            skip = set(spinners)
            for i in range(args.runs):
                c0 = thread_cpu_by_name(me, skip)
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                unpersist_all()
                wall = time.perf_counter() - t0
                c1 = thread_cpu_by_name(me, skip)
                delta = {
                    k: round(c1.get(k, 0.0) - c0.get(k, 0.0), 2)
                    for k in c1
                    if c1.get(k, 0.0) - c0.get(k, 0.0) >= 0.25
                }
                delta = dict(sorted(delta.items(), key=lambda kv: -kv[1]))
                total = round(sum(delta.values()), 1)
                print(
                    json.dumps(
                        {
                            "name": name,
                            "run": i,
                            "wall": round(wall, 3),
                            "cpu_total": total,
                            "cpu_ow": round(total / wall, 2),
                            "threads": delta,
                        }
                    ),
                    flush=True,
                )
    finally:
        for pid in spinners:
            try:
                os.kill(pid, 9)
                os.waitpid(pid, 0)
            except OSError:
                pass


if __name__ == "__main__":
    main()
