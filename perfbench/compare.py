#!/usr/bin/env python3
"""Compare two sets of benchmark records, workload by workload.

    python3 perfbench/compare.py BASE_DIR_OR_FILES... -- NEW_DIR_OR_FILES...

Each side is a list of sidecar records (``.perfbench/results/*.json``)
or directories holding them. For every workload and end-to-end metric
the report gives each side's median and quartiles, the change of the
median, and the spread of the base (inter-quartile distance over the
median). Records taken at different ``SPARK_GRAFT_CPUS`` are refused:
their numbers are not comparable.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path


def load(paths: list[str]) -> list[dict]:
    records = []
    for raw in paths:
        path = Path(raw)
        files = sorted(path.glob("*.json")) if path.is_dir() else [path]
        for f in files:
            with open(f) as fh:
                records.append(json.load(fh))
    return records


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def compare(base: list[dict], new: list[dict]) -> list[str]:
    cpus = {r["cpus"] for r in base + new}
    if len(cpus) != 1:
        raise ValueError(f"records taken at different SPARK_GRAFT_CPUS {sorted(cpus)}")
    lines = []
    for workload in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        metrics: dict[str, tuple[list[float], list[float]]] = {}
        for side, records in enumerate((base, new)):
            for r in records:
                if r["workload"] != workload or r["trace"]:
                    continue
                for name, value in r["end_to_end"].items():
                    metrics.setdefault(name, ([], []))[side].append(value)
        for name, (b, n) in sorted(metrics.items()):
            if not b or not n:
                continue
            b1, b2, b3 = quartiles(b)
            n1, n2, n3 = quartiles(n)
            lines.append(
                f"{workload:14s} {name:18s} base {b2:.4g} [{b1:.4g}, {b3:.4g}] n={len(b)}"
                f"  new {n2:.4g} [{n1:.4g}, {n3:.4g}] n={len(n)}"
                f"  change {n2 / b2 - 1:+.1%}  base spread {(b3 - b1) / b2:.1%}"
            )
    return lines


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    try:
        lines = compare(load(argv[:cut]), load(argv[cut + 1 :]))
    except ValueError as exc:
        print(f"compare: {exc}", file=sys.stderr)
        return 2
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
