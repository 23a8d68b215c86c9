#!/usr/bin/env python3
"""Fixed-workload benchmark for las_vpe_platform_spark.

Run from the repository root, one workload per process:

    python3 perfbench/run.py --workload simjoin_graph --seed 1 --seconds 15 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` runs the
same workload with the per-layer split and prints the per-layer
metrics. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (name -> value and unit); the
line before it gives the sample counts and the host noise. The full
record of the run (noise, per-entry or per-trigger detail, trace spans)
goes to ``.perfbench/results/``. Everything the run writes stays under
``.perfbench/`` in the repository root. See README.md next to this
file.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "throughput_per_s": "1/s",
}

PER_LAYER = {
    "queries.build_s": "s",
    "catalyst.plan_s": "s",
    "jvm.jit_s": "s",
    "jvm.gc_s": "s",
    "operators.exec_s": "s",
    "operators.task_cpu_s": "s",
    "operators.task_run_s": "s",
    "operators.shuffle_read_mb": "MB",
    "operators.shuffle_write_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.peak_mem_mb": "MB",
    "operators.stages": "count",
    "operators.tasks": "count",
    "sources.input_mb": "MB",
    "providers.python_run_s": "s",
    "staging.cleanup_s": "s",
    "staging.frames": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB",
    "streaming.triggers": "count",
    "generator.lag_s": "s",
    "generator.backlog_files_max": "count",
    "process.peak_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
}

# per-layer metrics a workload kind does not exercise; it reports them
# as 0.0, and a missing metric outside this set is a failure
NOT_EXERCISED = {
    "batch": {m for m in PER_LAYER if m.startswith(("streaming.", "generator."))},
    # the stream's traced metrics are read after its timed window
    "stream": {"staging.cleanup_s", "staging.frames", "trace.overhead_ratio"},
}


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    sf_dir: str
    workspace: str
    oracle_cache: str
    setup_t0: float
    spans: object
    run_span: int


def prepare_environment(workspace: Path) -> None:
    """Keep every scratch file of the run (Python and JVM temp files,
    shuffle and staging blocks, streaming checkpoints) in ``workspace``
    and pin the session to this host's usable cores."""
    for sub in ("tmp", "local", "stream"):
        (workspace / sub).mkdir(parents=True, exist_ok=True)
    tmp = str(workspace / "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(workspace / "local")
    os.environ["SPARK_GRAFT_STREAM_SCRATCH"] = str(workspace / "stream")
    # Spark's own env var outranks spark.local.dir
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # py4j: the JVM side already went away
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run_workload(spark, name: str, ctx: Context) -> dict:
    from perfbench import batch, stream, workloads

    if name in workloads.BATCH:
        return batch.run(spark, workloads.BATCH[name], ctx)
    return stream.run(spark, workloads.REID_STREAM, ctx)


def result_line(outcome: dict, trace: bool, kind: str) -> dict:
    units = PER_LAYER if trace else END_TO_END
    values = outcome["per_layer"] if trace else outcome["end_to_end"]
    skip = NOT_EXERCISED[kind] if trace else set()
    failed = outcome["failed"]
    metrics = {}
    for name, unit in units.items():
        value = float(values.get(name, 0.0 if name in skip else float("nan")))
        if not math.isfinite(value):
            failed += 1  # a metric the run could not measure
            value = 0.0
        metrics[name] = {"value": value, "unit": unit}
    return {
        "correct": failed == 0,
        "attempted": max(1, outcome["attempted"]),
        "failed": failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--sf-dir", help="tables the batch entries read (default: data/sf0.1)")
    args = parser.parse_args(argv)

    if not (ROOT / "las_vpe_platform_spark").is_dir() or not (ROOT / "bench.py").is_file():
        print("perfbench: las_vpe_platform_spark not found next to perfbench/", file=sys.stderr)
        return 2
    # import perfbench as a package from the root, not its files bare
    sys.path[:] = [str(ROOT)] + [p for p in sys.path if Path(p or ".").resolve() != HERE]
    from perfbench import workloads

    if args.workload not in workloads.NAMES:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sf_dir = str(Path(args.sf_dir).resolve()) if args.sf_dir else str(workloads.SF_DIR)
    base = ROOT / ".perfbench"
    workspace = base / f"run-{os.getpid()}"
    prepare_environment(workspace)
    try:
        setup_t0 = time.perf_counter()
        from perfbench import probes
        from las_vpe_platform_spark.session import get_spark

        spans = probes.Spans()
        run_span = spans.begin(f"run:{args.workload}")
        spark = get_spark("perfbench")
        try:
            ctx = Context(
                seed=args.seed,
                seconds=args.seconds,
                trace=bool(args.trace),
                sf_dir=sf_dir,
                workspace=str(workspace),
                oracle_cache=str(base / "oracle"),
                setup_t0=setup_t0,
                spans=spans,
                run_span=run_span,
            )
            outcome = run_workload(spark, args.workload, ctx)
        finally:
            stop_spark(spark)
        spans.end(run_span)
    finally:
        shutil.rmtree(workspace, ignore_errors=True)

    kind = "batch" if args.workload in workloads.BATCH else "stream"
    line = result_line(outcome, bool(args.trace), kind)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf_dir": sf_dir,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "result": line,
        "end_to_end": outcome["end_to_end"],
        "per_layer": outcome["per_layer"],
        "detail": outcome["detail"],
        "spans": spans.items,
    }
    results = base / "results"
    results.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(results / f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(summary_line(record), flush=True)
    print(json.dumps(line), flush=True)
    return 0


def summary_line(record: dict) -> str:
    """Sample counts and host noise of a run, for the line before the
    result."""
    detail = record["detail"]
    noise = detail["noise"]
    parts = [
        f"perfbench {record['workload']}",
        f"seed={record['seed']}",
        f"cpus={record['cpus']}",
        f"sf={Path(record['sf_dir']).name}",
    ]
    if "pass_s" in detail:
        parts.append(f"passes={detail['pass_s']['n']}")
    else:
        parts.append(f"drain_videos={detail['drain_videos']}")
    latency = detail["latency_s"]
    parts.append(f"latency_p50_s={latency.get('median', float('nan')):.4f}")
    if "tail_pct" in latency:
        parts.append(f"latency_p{latency['tail_pct']:g}_s={latency['tail']:.4f}")
    parts.append(f"latency_samples={latency['n']}")
    for key in ("steal_pct", "iowait_pct"):
        if key in noise:
            parts.append(f"{key}={noise[key]:.2f}")
    return " ".join(parts)


if __name__ == "__main__":
    sys.exit(main())
