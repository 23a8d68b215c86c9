#!/usr/bin/env python3
"""Benchmark harness: run the full query catalog at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec / n, "unit": "sec",
"queries": {name: sec}, "sf": sf, ...}.

Each entry is measured by ``measure_entry``, the one per-entry window:
plan build (``fn(spark, sf)``), a noop-format write (full plan
execution, no driver-side collect, as a sink-terminated pipeline runs
on a cluster) and ``unpersist_all()``, all inside the timed wall. The
window yields one record per run with the keys

    wall_s, build_s, write_s, cleanup_s, frames   the wall and its split
    steal_pct, iowait_pct, cpu_over_wall          host noise
    gc_s, jit_s                                   JVM overhead, kept apart
    jobs, stages, tasks, task_run_s, task_cpu_s,  what the entry's jobs
    shuffle_read_mb, shuffle_write_mb, spill_mb,  ran, summed over their
    peak_mem_mb, input_mb, python_run_s           stages

and every record of a run, re-measures included, goes to the sidecar
``.bench/bench-sf<sf>-cpus<n>-<UTC time>.json``. The stdout line stays
small (the driver keeps only its last ~2 KB): it carries the records'
outliers and a ``layer_tail`` for the slowest entries.

The host-noise record classifies a wall-time excursion from the
artifact alone. Flat CPU with high steal is a descheduling pause, with
high iowait a disk-writeback stall; high cpu-over-wall with a large
gc+jit delta is JVM churn; high cpu-over-wall without one is the plan.
Every entry exceeding 2x its committed cross-run minimum is re-run once
at end-of-bench and both numbers are reported, so the artifact
adjudicates its own outliers without hiding first-pass data.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from las_vpe_platform_spark.operators.staging import unpersist_all  # noqa: E402
from las_vpe_platform_spark.queries import CATALOG  # noqa: E402
from las_vpe_platform_spark.session import get_spark  # noqa: E402

# end-of-bench re-measure budget: enough to cover a noisy run's flag
# set without letting a systemically slow day double the bench
REMEASURE_MAX = 12
# where each run's per-entry records go (tests point it elsewhere)
SIDECAR_DIR = Path(_REPO) / ".bench"
# the record fields the stdout line's layer_tail carries per entry
LAYER_TAIL = (
    "build_s", "write_s", "cleanup_s", "gc_s", "jit_s", "task_cpu_s", "shuffle_write_mb",
    "python_run_s",
)


def _jiffies() -> tuple[int, int, int] | None:
    """(total, steal, iowait) cpu jiffies from /proc/stat — the vmstat
    'st' and 'wa' columns' raw counters. Sampled around every query so
    the bench artifact carries its own contention evidence (VERDICT
    r10 #2 for steal; r12 added iowait after run-4 showed collapsed
    cpu_over_wall windows with ZERO steal — wall advancing, ~1 core
    busy, healthy plan — which only disk-writeback stalls explain;
    the artifact must distinguish the two from its own numbers)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [int(x) for x in parts]
        # denominator = user..steal only: the kernel already folds
        # guest/guest_nice (fields 9-10) into user/nice, so summing
        # them too would double-count and bias steal% low
        return (
            sum(vals[:8]),
            vals[7] if len(vals) > 7 else 0,
            vals[4] if len(vals) > 4 else 0,
        )
    except (OSError, ValueError, IndexError):
        return None


def _tree_cpu_sec() -> float | None:
    """Cumulative CPU-seconds (utime+stime, plus reaped children via
    cutime+cstime) of this process and every live descendant — in
    local mode that is the ENTIRE Spark stack: this driver python, the
    py4j-launched JVM hosting all executor threads, and the Arrow
    python workers the JVM forks. Deltas across a query window give
    executor CPU-vs-wall (VERDICT r11 #2): a full-VM descheduling
    pause shows wall advancing with CPU flat, a genuinely slow plan
    shows CPU tracking wall x parallelism. One /proc scan per call
    (~a few ms); live descendants' own utime/stime never appear in an
    ancestor's cutime (that field only folds in WAITED-FOR dead
    children), so the sum counts every jiffy exactly once."""
    try:
        hz = os.sysconf("SC_CLK_TCK")
        info: dict[int, tuple[int, int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    raw = f.read()
            except OSError:  # raced a process exit
                continue
            # comm (field 2) may itself contain spaces or parens —
            # fields resume after the LAST ')'
            rest = raw[raw.rindex(")") + 2 :].split()
            ppid = int(rest[1])
            cpu = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
            info[int(entry)] = (ppid, cpu)
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in info.items():
            kids.setdefault(ppid, []).append(pid)
        total = 0
        stack = [os.getpid()]
        while stack:
            pid = stack.pop()
            if pid in info:
                total += info[pid][1]
                stack.extend(kids.get(pid, []))
        return total / hz
    except (OSError, ValueError):
        return None


def _jvm_churn_ms(spark) -> tuple[int, int] | None:
    """(gc_ms, jit_ms): cumulative stop-the-world collection time and
    JIT compilation time of the local-mode JVM, via the management
    beans over py4j. Added r12 after run 5 showed a third excursion
    class the existing telemetry could NOT classify: entries inflating
    2-3x mid-run with ZERO steal, ZERO iowait and a HIGH cpu_over_wall
    (the CPU really was burned), then re-running fast at end-of-bench.
    Steal separates VM pauses, iowait separates writeback stalls; this
    separates JVM churn (GC pressure from the session's accreted
    status/broadcast/codegen state, or C2 recompilation storms across
    262 unique query plans) from a genuinely expensive plan: a churn
    window shows a large gc+jit delta, a slow plan does not."""
    try:
        mf = spark._jvm.java.lang.management.ManagementFactory
        gc = 0
        it = mf.getGarbageCollectorMXBeans().iterator()
        while it.hasNext():
            t = it.next().getCollectionTime()
            if t > 0:
                gc += t
        jit = mf.getCompilationMXBean().getTotalCompilationTime()
        return int(gc), int(jit)
    except Exception:
        return None


def _committed_minima(sf, cpus: int) -> dict[str, float]:
    """Per-entry cross-run minimum wall times from the newest
    bench_runs_r*/cross_run_minima.json — the variance protocol's
    committed reference for 'how fast this entry runs on a quiet
    box'. Empty dict (no flagging, no re-measures) if absent or the
    run is not at the scale and core count the minima were committed
    at (sf0.1 on 32 cores, BENCH_r12.json): a smoke run or a smaller
    host would flag, and re-measure, entries that are merely slower
    there."""
    if (sf, cpus) != (0.1, 32):
        return {}
    runs = sorted(glob.glob(f"{_REPO}/bench_runs_r*/cross_run_minima.json"))
    if not runs:
        return {}
    try:
        with open(runs[-1]) as f:
            data = json.load(f)
        return {k: float(v) for k, v in data.items()}
    except (OSError, ValueError):
        return {}


def warm_session(spark, sf_dir: str) -> None:
    """Warm the JVM and parquet footers with one tiny action, and the
    Arrow/Python worker pool with one row per core, so every worker
    forks now: otherwise the first mapInPandas entry is charged ~2 s of
    one-time interpreter spin-up that a long-running cluster never
    repays."""
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    cores = spark.sparkContext.defaultParallelism
    spark.range(cores).repartition(cores).mapInPandas(lambda it: it, "id long").count()


def measure_entry(spark, name: str, sf_dir: str) -> tuple[dict, float]:
    """Run catalog entry ``name`` once in the timed window and return
    ``(record, read_s)``: the record described in the module docstring,
    and the seconds its post-window stage read took, which a caller
    keeps out of its own totals.

    The window holds only ``perf_counter`` reads besides the entry's
    own work; host noise and GC/JIT are sampled at its edges, and the
    stage totals are read after it closes. The entry's jobs run under a
    job group unique to this call, so a re-measure never merges with
    the first run. A streaming entry runs its query to the end inside
    ``fn()``, so its ``build_s`` holds the stream's run, and its
    micro-batch jobs run under the query's own group: its stage totals
    cover only the jobs the driver thread ran."""
    from perfbench import probes

    sc = spark.sparkContext
    fn = CATALOG[name][0]
    group = f"bench-{name}-{time.monotonic_ns()}"
    sc.setJobGroup(group, name)
    try:
        gc0, jit0 = probes.jvm_gc_jit_s(spark)
        noise = probes.Noise()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        # release this entry's persist(DISK_ONLY) stages INSIDE its
        # window — the caller-controlled unpersist half of the staging
        # contract (operators/staging.py): a multi-hundred-entry
        # session must not accrete blocks, and each entry pays its own
        # cleanup
        frames = unpersist_all()
        t3 = time.perf_counter()
        host = noise.report()
        gc1, jit1 = probes.jvm_gc_jit_s(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    t_read = time.perf_counter()
    jobs = probes.group_jobs(spark, group)
    stages = probes.stage_metrics(spark, jobs)
    read_s = time.perf_counter() - t_read
    rec = {
        "wall_s": t3 - t0,
        "build_s": t1 - t0,
        "write_s": t2 - t1,
        "cleanup_s": t3 - t2,
        "frames": frames,
        "steal_pct": host.get("steal_pct"),
        "iowait_pct": host.get("iowait_pct"),
        "cpu_over_wall": host.get("cpu_over_wall"),
        "gc_s": gc1 - gc0,
        "jit_s": jit1 - jit0,
        "jobs": len(jobs),
        **stages,
        "stages": int(stages["stages"]),
        "tasks": int(stages["tasks"]),
    }
    return {k: round(v, 3) if isinstance(v, float) else v for k, v in rec.items()}, read_s


def churn_ms(rec: dict) -> int:
    """A record's GC + JIT milliseconds summed: the ``jvm_churn_ms``
    figure the bench line has always carried."""
    return round((rec["gc_s"] + rec["jit_s"]) * 1000)


def _r2(v: float | None) -> float | None:
    return None if v is None else round(v, 2)


def _telemetry(rec: dict) -> dict:
    """The classifying telemetry of one run, as the bench line's
    ``flagged`` and ``remeasured`` entries carry it."""
    return {
        "wall": rec["wall_s"],
        "steal": _r2(rec["steal_pct"]),
        "cpu_ow": _r2(rec["cpu_over_wall"]),
        "iowait": _r2(rec["iowait_pct"]),
        "jvm_churn_ms": churn_ms(rec),
    }


def main() -> None:
    from perfbench import probes

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf)
    except ValueError:
        sf = sf_dir

    spark = get_spark("bench")
    cpus = spark.sparkContext.defaultParallelism
    minima = _committed_minima(sf, cpus)
    warm_session(spark, sf_dir)

    runs: dict[str, list[dict]] = {}
    read_s = 0.0
    noise = probes.Noise()
    gc0, jit0 = probes.jvm_gc_jit_s(spark)
    t_all = time.perf_counter()
    for name in sorted(CATALOG):
        rec, read = measure_entry(spark, name, sf_dir)
        runs[name] = [rec]
        read_s += read
    # the post-window stage reads are telemetry, not the entries' cost:
    # total_sec stays the figure earlier rounds recorded
    total = round(time.perf_counter() - t_all - read_s, 3)
    run_noise = noise.report()
    gc1, jit1 = probes.jvm_gc_jit_s(spark)

    first = {n: recs[0] for n, recs in runs.items()}
    timings = {n: r["wall_s"] for n, r in first.items()}
    tele = {n: _telemetry(r) for n, r in first.items()}

    def hot(field: str, floor: float) -> dict:
        """The 8 worst entries on one telemetry field among non-trivial
        windows: the line's tail is all the driver keeps, so the
        per-entry record stays small."""
        vals = ((n, t[field]) for n, t in tele.items() if t[field] is not None)
        return dict(
            sorted(
                ((n, v) for n, v in vals if v >= floor and timings[n] >= 1.0),
                key=lambda kv: -kv[1],
            )[:8]
        )

    # --- self-adjudication (VERDICT r11 #2/#5) ---------------------------
    # flag every non-trivial entry exceeding 2x its committed cross-run
    # minimum, carrying the telemetry that classifies it: collapsed
    # cpu_over_wall (wall advanced, CPU did not) = descheduling pause;
    # healthy cpu_over_wall = the plan really did the work
    flagged = {
        n: {**tele[n], "min": minima[n], "x_min": round(timings[n] / minima[n], 1)}
        for n in timings
        if n in minima
        and minima[n] >= 0.5
        and timings[n] >= 2.0 * minima[n]
        and timings[n] >= 2.0
    }
    # re-run the worst offenders once at end-of-bench: the second pass
    # IS the adjudicator (still >=2x min twice in one process = plan or
    # data; back under = a transient the first window happened to eat).
    # First-pass numbers are never replaced — both are reported.
    remeasured: dict[str, dict] = {}
    for name in sorted(flagged, key=lambda n: -flagged[n]["x_min"])[:REMEASURE_MAX]:
        rec, read = measure_entry(spark, name, sf_dir)
        runs[name].append(rec)
        read_s += read
        remeasured[name] = {
            **_telemetry(rec),
            "x_min": round(rec["wall_s"] / minima[name], 1),
        }

    SIDECAR_DIR.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    label = f"sf{sf}" if isinstance(sf, float) else Path(sf_dir).name
    sidecar = SIDECAR_DIR / f"bench-{label}-cpus{cpus}-{stamp}.json"
    sidecar.write_text(
        json.dumps(
            {"sf": sf, "cpus": cpus, "total_sec": total,
             "stage_read_s": round(read_s, 3), "runs": runs},
            indent=1,
        )
    )

    slowest = sorted(timings, key=lambda n: -timings[n])
    # CHEAPEST first: the driver's BENCH_r{N}.json capture preserves
    # only the LAST ~2 KB of this line (VERDICT r6 'What's wrong' #3 —
    # rounds 5/6 shipped with the slow head truncated away), so the
    # expensive queries must sit at the END to survive the cut
    by_cost = dict(sorted(timings.items(), key=lambda kv: kv[1]))
    print(
        json.dumps(
            {
                # mean per catalog query: coverage-neutral (the catalog
                # grows every round; total alone would penalize breadth)
                "metric": "mean_query_runtime",
                "value": round(total / max(len(timings), 1), 3),
                "unit": "sec",
                "queries": by_cost,
                "sf": sf,
                "total_sec": total,
                "n_queries": len(timings),
                # in-band contention evidence: whole-run hypervisor CPU
                # steal %, plus the entries that ran under the worst of
                # it — a spiky entry with high steal_hot is environment,
                # not plan (SCALE.md round-10 variance protocol)
                "steal_run_pct": _r2(run_noise.get("steal_pct")),
                "steal_hot": hot("steal", 3.0),
                # disk-stall evidence next to the steal evidence — a
                # collapsed cpu_over_wall with zero steal but high
                # iowait is writeback/IO contention, not a VM pause
                "iowait_run_pct": _r2(run_noise.get("iowait_pct")),
                "iowait_hot": hot("iowait", 3.0),
                # JVM stop-the-world GC + JIT compilation time, whole
                # run and the 8 worst windows — classifies the
                # zero-steal zero-iowait high-cpu_ow excursion class
                # (JVM churn, not plan)
                "jvm_churn_run_ms": round((gc1 - gc0 + jit1 - jit0) * 1000),
                "jvm_churn_hot": hot("jvm_churn_ms", 500),
                # cpu_over_wall for the 12 most expensive entries: the
                # wall-vs-CPU ratio that separates a paused entry
                # (collapsed ratio) from a genuinely slow plan
                "cpu_ow_tail": {
                    n: tele[n]["cpu_ow"]
                    for n in slowest[:12]
                    if tele[n]["cpu_ow"] is not None
                },
                # >2x-committed-minimum entries with their classifying
                # telemetry, then their end-of-bench second pass
                "flagged": flagged,
                "remeasured": remeasured,
                "cpus": cpus,
                "sidecar": str(sidecar),
                # where the slowest entries' walls went; every entry's
                # full record is in the sidecar
                "layer_tail": {
                    n: {k: round(first[n][k], 2) for k in LAYER_TAIL}
                    for n in slowest[:5]
                },
            }
        )
    )


if __name__ == "__main__":
    main()
