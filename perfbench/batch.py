"""The closed-loop batch workload (``simjoin_graph``).

One client runs the workload's catalog entries back to back, in an
order the seed shuffles anew for every pass. The untimed warm-up pass
collects every entry's rows; after the timed window they are compared
with the entry's DuckDB oracle. Timed passes force each entry with a
noop write and release its staged frames inside the entry's window, as
``bench.py`` does. The window holds as many whole passes as fit in
``--seconds`` (judged by the previous pass), and at least one.

With tracing on, untraced and traced passes alternate, starting and
ending untraced. A traced entry runs under its own job group and is split into
phases: plan build (``fn(spark, sf)``), a forced ``executedPlan()``,
the noop write, and ``unpersist_all()``; stage metrics come from the
app status store.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import random
import time

from perfbench import probes, stats


def check_entry(rows, columns, oracle_rows, oracle_columns) -> str | None:
    """None when Spark's rows equal the oracle's under the parity
    suite's order-insensitive normalization, else what differs."""
    from tests.test_oracle_parity import _normalize

    if sorted(columns) != sorted(oracle_columns):
        return f"columns {sorted(columns)} != {sorted(oracle_columns)}"
    if len(rows) != len(oracle_rows):
        return f"row count {len(rows)} != {len(oracle_rows)}"
    for a, b in zip(_normalize(rows, columns), _normalize(oracle_rows, oracle_columns)):
        if a != b:
            return f"first mismatch {a} != {b}"
    return None


def verify(collected: dict, oracle) -> dict[str, str]:
    """Compare every collected ``(rows, columns)`` with ``oracle(name)``,
    which returns ``(rows, columns)``. Returns the failures by entry."""
    failures: dict[str, str] = {}
    for name, (rows, columns) in sorted(collected.items()):
        try:
            o_rows, o_columns = oracle(name)
            problem = check_entry(rows, columns, o_rows, o_columns)
        except Exception as exc:  # an oracle that cannot run is a failure too
            problem = f"oracle: {exc!r}"
        if problem:
            failures[name] = problem
    return failures


def duckdb_oracle(sf_dir: str, cache_dir: str):
    """``oracle(name) -> (rows, columns)`` from the entry's oracle SQL.

    Results are kept in ``cache_dir`` under a digest of the SQL text,
    the DuckDB version and the bytes of every table it could read (the
    sf tables and the committed fixtures), so only the first run in a
    checkout pays for the slow ones (d16 ~5 s, q154 ~7 s on 4 cores)."""
    import duckdb

    from las_vpe_platform_spark.fixtures import FIXTURES_DIR
    from las_vpe_platform_spark.queries import CATALOG
    from las_vpe_platform_spark.session import TABLE_NAMES

    con = duckdb.connect()
    inputs = hashlib.sha256(duckdb.__version__.encode())
    tables = [f"{sf_dir}/{t}.parquet" for t in TABLE_NAMES]
    for table, path in zip(TABLE_NAMES, tables):
        if os.path.exists(path):  # the data dir holds only what the entries read
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
    for path in [p for p in tables if os.path.exists(p)] + sorted(map(str, FIXTURES_DIR.glob("*.parquet"))):
        with open(path, "rb") as f:
            inputs.update(f.read())
    os.makedirs(cache_dir, exist_ok=True)

    def oracle(name: str):
        sql = CATALOG[name][1]
        if sql is None:
            raise ValueError(f"{name} has no oracle SQL")
        key = inputs.copy()
        key.update(sql.encode())
        path = os.path.join(cache_dir, f"{name}-{key.hexdigest()[:20]}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        res = con.execute(sql)
        out = (res.fetchall(), [d[0] for d in res.description])
        with open(path + ".tmp", "wb") as f:
            pickle.dump(out, f)
        os.replace(path + ".tmp", path)
        return out

    return oracle


def end_to_end(setup_s: float, untraced: list[dict]) -> dict:
    """The end-to-end metrics of a batch run from its untraced passes."""
    walls = [p["wall_s"] for p in untraced]
    entry_walls = [e["wall_s"] for p in untraced for e in p["entries"].values()]
    if not entry_walls:  # every timed entry failed; nothing was measured
        return {"setup_s": setup_s}
    return {
        "setup_s": setup_s,
        "pass_s": stats.median(walls),
        "throughput_per_s": len(entry_walls) / sum(walls),
    }


def run(spark, workload, ctx) -> dict:
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries import CATALOG

    sc = spark.sparkContext
    order_rng = random.Random(f"order:{ctx.seed}")
    entries = list(workload.entries)
    errors: dict[str, str] = {}
    attempted = failed = 0
    spans = ctx.spans

    # --- warm-up: compiles every plan and captures rows to verify ------
    collected = {}
    warm = spans.begin("warmup", ctx.run_span)
    for name in order_rng.sample(entries, len(entries)):
        attempted += 1
        span = spans.begin(name, warm)
        try:
            df = CATALOG[name][0](spark, ctx.sf_dir)
            collected[name] = ([tuple(r) for r in df.collect()], df.columns)
        except Exception as exc:
            failed += 1
            errors[name] = f"warm-up: {exc!r}"
        finally:
            unpersist_all()
            spans.end(span)
    spans.end(warm)
    setup_s = time.perf_counter() - ctx.setup_t0

    # --- timed passes --------------------------------------------------
    untraced: list[dict] = []
    traced: list[dict] = []
    noise = probes.Noise()
    t0 = time.perf_counter()
    last = 0.0
    with probes.RssSampler() as rss:
        while (
            time.perf_counter() - t0 + last <= ctx.seconds
            or not untraced
            # traced runs end U T U at least: the untraced median then
            # straddles the traced pass, so JIT warming biases neither
            or (ctx.trace and len(untraced) <= len(traced))
            or (ctx.trace and not traced)
        ):
            trace_pass = ctx.trace and len(untraced) > len(traced)
            idx = len(untraced) + len(traced)
            pspan = spans.begin(f"pass{idx}", ctx.run_span)
            record: dict = {"traced": trace_pass, "entries": {}}
            for name in order_rng.sample(entries, len(entries)):
                attempted += 1
                try:
                    if trace_pass:
                        rec = _traced_entry(spark, CATALOG[name][0], name, idx, ctx, pspan)
                    else:
                        rec = {"wall_s": _noop_entry(spark, CATALOG[name][0], ctx.sf_dir)}
                    record["entries"][name] = rec
                except Exception as exc:
                    failed += 1
                    errors.setdefault(name, f"pass {idx}: {exc!r}")
                    unpersist_all()
            if trace_pass:
                sc.setLocalProperty("spark.jobGroup.id", None)
            record["wall_s"] = last = spans.end(pspan)
            (traced if trace_pass else untraced).append(record)
    window = noise.report()

    # --- correctness, outside the timed window ---------------------------
    mismatches = verify(collected, duckdb_oracle(ctx.sf_dir, ctx.oracle_cache))
    failed += len(mismatches)
    errors.update(mismatches)

    per_layer = {}
    if ctx.trace:
        per_layer = _layer_summary(traced, stats.median([p["wall_s"] for p in untraced]))
        per_layer["process.peak_rss_mb"] = rss.peak_mb
    entry_walls = [e["wall_s"] for p in untraced for e in p["entries"].values()]
    return {
        "attempted": attempted,
        "failed": failed,
        "end_to_end": end_to_end(setup_s, untraced),
        "per_layer": per_layer,
        "detail": {
            "entries": entries,
            "errors": errors,
            "noise": window,
            "pass_s": stats.summary([p["wall_s"] for p in untraced]),
            "latency_s": stats.summary(entry_walls),
            "peak_rss_mb": rss.peak_mb,
            "passes": untraced + traced,
        },
    }


def _noop_entry(spark, fn, sf_dir: str) -> float:
    """Wall of one entry forced with a noop write, staged frames
    released inside the window."""
    from las_vpe_platform_spark.operators.staging import unpersist_all

    t0 = time.perf_counter()
    try:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    finally:
        unpersist_all()
    return time.perf_counter() - t0


def _traced_entry(spark, fn, name: str, idx: int, ctx, parent: int) -> dict:
    from las_vpe_platform_spark.operators.staging import unpersist_all

    sc = spark.sparkContext
    spans = ctx.spans
    group = f"perfbench-{idx}-{name}"
    sc.setJobGroup(group, name)
    gc0, jit0 = probes.jvm_gc_jit_s(spark)
    espan = spans.begin(name, parent)
    rec: dict = {}
    s = spans.begin("build", espan)
    df = fn(spark, ctx.sf_dir)
    rec["build_s"] = spans.end(s)
    s = spans.begin("plan", espan)
    df._jdf.queryExecution().executedPlan()
    rec["plan_s"] = spans.end(s)
    s = spans.begin("exec", espan)
    df.write.format("noop").mode("overwrite").save()
    rec["exec_s"] = spans.end(s)
    s = spans.begin("cleanup", espan)
    rec["frames"] = unpersist_all()
    rec["cleanup_s"] = spans.end(s)
    rec["wall_s"] = spans.end(espan)
    gc1, jit1 = probes.jvm_gc_jit_s(spark)
    rec["gc_s"], rec["jit_s"] = gc1 - gc0, jit1 - jit0
    rec.update(probes.stage_metrics(spark, probes.group_jobs(spark, group)))
    spans.items[espan].update(rec)
    return rec


# per-layer metric -> field of a traced entry record, summed per pass
BATCH_LAYERS = {
    "queries.build_s": "build_s",
    "catalyst.plan_s": "plan_s",
    "operators.exec_s": "exec_s",
    "staging.cleanup_s": "cleanup_s",
    "staging.frames": "frames",
    "jvm.gc_s": "gc_s",
    "jvm.jit_s": "jit_s",
    "operators.task_cpu_s": "task_cpu_s",
    "operators.task_run_s": "task_run_s",
    "operators.shuffle_read_mb": "shuffle_read_mb",
    "operators.shuffle_write_mb": "shuffle_write_mb",
    "operators.spill_mb": "spill_mb",
    "operators.stages": "stages",
    "operators.tasks": "tasks",
    "sources.input_mb": "input_mb",
    "providers.python_run_s": "python_run_s",
}


def _layer_summary(traced: list[dict], untraced_pass_wall: float) -> dict:
    """Median over traced passes of each per-pass total; peak memory is
    the largest stage peak of the pass instead of a sum."""
    out = {
        metric: stats.median(
            [sum(e.get(field, 0.0) for e in p["entries"].values()) for p in traced]
        )
        for metric, field in BATCH_LAYERS.items()
    }
    out["operators.peak_mem_mb"] = stats.median(
        [max((e.get("peak_mem_mb", 0.0) for e in p["entries"].values()), default=0.0) for p in traced]
    )
    out["trace.overhead_ratio"] = stats.median([p["wall_s"] for p in traced]) / untraced_pass_wall
    return out
