"""The ``reid_stream`` workload: ``s24_build_stream`` open-loop, then
drained.

Open loop: one generator thread lands video-slice parquet files at a
fixed rate, each written in a staging directory and renamed into the
source glob, its name stamped with its due time. The schedule never
waits for the query. A file's latency runs from its due time to the end
of the first trigger whose cumulative input rows cover it, so a stalled
trigger also delays every file due while it ran.

Drain: a fresh query reads the same landed files as a backlog. Its
output must equal the open-loop output.

Trigger progress always comes from a benchmark-side
``StreamingQueryListener``, which keeps every event; Spark's own
``recentProgress`` keeps only the last
``spark.sql.streaming.numRecentProgressUpdates``.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
import uuid
from datetime import datetime, timedelta, timezone

from perfbench import probes, stats

WAIT_TIMEOUT_S = 120.0

# Video ids are drawn from the committed video fixture so the fake
# tracker's tracklet keys meet the feature gallery and every matched
# tracklet is really ranked; the seed picks the order and the start
# times are synthetic. One video starts every VIDEO_STEP: longer than
# the tracker's largest start offset (~13.3 min), so files stay in
# event-time order and no row is ever late, and long enough that the
# 30-minute watermark closes hour windows within the few videos a run
# lands, so the append sink emits rows to compare.
VIDEO_STEP = timedelta(minutes=30)
STREAM_EPOCH = datetime(2016, 3, 10, 8, 0, tzinfo=timezone.utc)


def video_plan(
    seed: int, fixture_ids: list[str], n_files: int, per_file: int
) -> list[list[tuple[str, int]]]:
    """``n_files`` lists of ``per_file`` ``(video_id, ts_micros)`` rows.

    The ids cycle through one seeded permutation of ``fixture_ids``, so
    an id recurs only a full cycle (len(ids) x VIDEO_STEP) later, never
    inside the same hour window as its previous copy.
    """
    order = sorted(fixture_ids)
    random.Random(f"videos:{seed}").shuffle(order)
    step_us = int(VIDEO_STEP.total_seconds() * 1_000_000)
    t0 = int(STREAM_EPOCH.timestamp() * 1_000_000)
    plan = []
    for f in range(n_files):
        rows = []
        for j in range(per_file):
            i = f * per_file + j
            rows.append((order[i % len(order)], t0 + i * step_us))
        plan.append(rows)
    return plan


def trigger_ends(progress: list[dict]) -> list[tuple[float, int]]:
    """``(end_epoch_s, input_rows)`` per trigger, in batch order."""
    out = []
    for p in sorted(progress, key=lambda p: p["batchId"]):
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        out.append((start + p["durationMs"].get("triggerExecution", 0) / 1000.0, p["numInputRows"]))
    return out


def file_latencies(
    due: list[float], rows_per_file: list[int], triggers: list[tuple[float, int]], offset_rows: int = 0
) -> list[float | None]:
    """Per landed file, in landing order: end of the first trigger whose
    cumulative input rows cover the file, minus the file's due time;
    None for a file no trigger covered. ``offset_rows`` are rows landed
    before the first file in ``due``."""
    covered_at: list[tuple[float, int]] = []
    total = 0
    for end, rows in triggers:
        total += rows
        covered_at.append((end, total))
    out: list[float | None] = []
    need = offset_rows
    t = 0
    for d, rows in zip(due, rows_per_file):
        need += rows
        while t < len(covered_at) and covered_at[t][1] < need:
            t += 1
        out.append(covered_at[t][0] - d if t < len(covered_at) else None)
    return out


def backlog_max(landed: list[float], latencies: list[float | None], due: list[float]) -> int:
    """Most files landed but not yet committed at any landing instant."""
    done = sorted(d + lat for d, lat in zip(due, latencies) if lat is not None)
    worst = 0
    for k, at in enumerate(landed):
        committed = sum(1 for c in done if c <= at)
        worst = max(worst, k + 1 - committed)
    return worst


class Generator(threading.Thread):
    """Lands ``files`` at ``files_per_s`` from the moment it starts."""

    def __init__(self, files, first_index: int, files_per_s: float, stage: str, land: str):
        super().__init__(daemon=True)
        self.files, self.first_index = files, first_index
        self.files_per_s, self.stage, self.land = files_per_s, stage, land
        self.due: list[float] = []
        self.landed: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            start = time.time()
            for k, rows in enumerate(self.files):
                due = start + k / self.files_per_s
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                land_file(rows, self.first_index + k, due, self.stage, self.land)
                self.due.append(due)
                self.landed.append(time.time())
        except BaseException as exc:  # surfaced by the caller after join()
            self.error = exc


def land_file(rows, index: int, due: float, stage: str, land: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    name = f"f{index:05d}_due{int(due * 1000)}.parquet"
    table = pa.table(
        {"video_id": [r[0] for r in rows], "ts_micros": [r[1] for r in rows]},
        schema=pa.schema([("video_id", pa.string()), ("ts_micros", pa.int64())]),
    )
    pq.write_table(table, os.path.join(stage, name))
    os.rename(os.path.join(stage, name), os.path.join(land, name))


class ProgressListener:
    """Benchmark-side StreamingQueryListener keeping each progress event
    (durationMs phases, stateOperators) as a dict."""

    def __new__(cls):
        from pyspark.sql.streaming import StreamingQueryListener

        class _Listener(StreamingQueryListener):
            def __init__(self) -> None:
                self.progress: list[dict] = []
                self.lock = threading.Lock()

            def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
                pass

            def onQueryProgress(self, event) -> None:  # noqa: N802
                with self.lock:
                    self.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event) -> None:  # noqa: N802
                pass

            def onQueryTerminated(self, event) -> None:  # noqa: N802
                pass

            def for_run(self, run_id: str) -> list[dict]:
                with self.lock:
                    return [p for p in self.progress if p["runId"] == run_id]

        return _Listener()


def _start(spark, glob: str, name: str, checkpoint: str):
    from las_vpe_platform_spark.queries_streaming import s24_build_stream

    t0 = time.perf_counter()
    df = s24_build_stream(spark, glob)
    build_s = time.perf_counter() - t0
    query = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    return query, build_s


def _wait(predicate, what: str) -> None:
    deadline = time.perf_counter() + WAIT_TIMEOUT_S
    while not predicate():
        if time.perf_counter() > deadline:
            raise TimeoutError(f"reid_stream: timed out waiting for {what}")
        time.sleep(0.02)


def _settled(progress: list[dict], rows: int) -> bool:
    """True once triggers have read ``rows`` input rows and a later
    trigger read none: the no-data batch that moves the watermark has
    run, so the open loop starts on an idle query."""
    total = 0
    for p in sorted(progress, key=lambda p: p["batchId"]):
        if total >= rows and p["numInputRows"] == 0:
            return True
        total += p["numInputRows"]
    return False


def _progress(query, listener) -> list[dict]:
    """All progress events of ``query`` once it has stopped."""
    last = query.lastProgress["batchId"] if query.lastProgress else -1
    run_id = str(query.runId)
    _wait(
        lambda: any(p["batchId"] == last for p in listener.for_run(run_id)),
        "the listener's last progress event",
    )
    return listener.for_run(run_id)


def _rows(spark, table: str):
    from tests.test_oracle_parity import _normalize

    df = spark.table(table)
    return _normalize([tuple(r) for r in df.collect()], df.columns)


def run(spark, workload, ctx) -> dict:
    import pyarrow.parquet as pq

    from las_vpe_platform_spark.fixtures import FIXTURES_DIR

    spans = ctx.spans
    ws = ctx.workspace
    stage, land = os.path.join(ws, "stage"), os.path.join(ws, "land")
    os.makedirs(stage, exist_ok=True)
    os.makedirs(land, exist_ok=True)
    glob = os.path.join(land, "*.parquet")

    ids = pq.read_table(str(FIXTURES_DIR / "videos.parquet"), columns=["video_id"])
    n_open = max(1, round(workload.files_per_s * ctx.seconds))
    plan = video_plan(
        ctx.seed,
        ids.column("video_id").to_pylist(),
        workload.warmup_files + n_open,
        workload.videos_per_file,
    )
    warm_files, open_files = plan[: workload.warmup_files], plan[workload.warmup_files :]
    warm_rows = sum(len(rows) for rows in warm_files)

    prev_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(workload.shuffle_partitions))
    listener = ProgressListener()
    spark.streams.addListener(listener)
    try:
        # --- warm-up: the open-loop query's first trigger ----------------
        warm = spans.begin("warmup", ctx.run_span)
        for i, rows in enumerate(warm_files):
            land_file(rows, i, time.time(), stage, land)
        open_name = f"perfbench_open_{uuid.uuid4().hex[:8]}"
        query, _ = _start(spark, glob, open_name, os.path.join(ws, open_name))
        run_id = str(query.runId)
        _wait(lambda: _settled(listener.for_run(run_id), warm_rows), "the warm-up triggers")
        spans.end(warm)
        setup_s = time.perf_counter() - ctx.setup_t0

        # --- open loop -----------------------------------------------------
        noise = probes.Noise()
        gc0, jit0 = probes.jvm_gc_jit_s(spark)
        with probes.RssSampler() as rss:
            ospan = spans.begin("open_loop", ctx.run_span)
            gen = Generator(open_files, len(warm_files), workload.files_per_s, stage, land)
            try:
                gen.start()
                gen.join()
                if gen.error is not None:
                    raise gen.error
                query.processAllAvailable()
            finally:
                query.stop()
            spans.end(ospan, files=len(open_files))
            gc1, jit1 = probes.jvm_gc_jit_s(spark)
            progress = _progress(query, listener)

            # --- drain -----------------------------------------------------
            dspan = spans.begin("drain", ctx.run_span)
            drain_name = f"perfbench_drain_{uuid.uuid4().hex[:8]}"
            drain, build_s = _start(spark, glob, drain_name, os.path.join(ws, drain_name))
            try:
                drain.processAllAvailable()
            finally:
                drain.stop()
            drain_s = spans.end(dspan)
        window = noise.report()
        drain_progress = _progress(drain, listener)
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set("spark.sql.shuffle.partitions", prev_partitions)

    # --- correctness and latency, outside the timed window ---------------
    latencies = file_latencies(
        gen.due, [len(rows) for rows in open_files], trigger_ends(progress), offset_rows=warm_rows
    )
    done = [lat for lat in latencies if lat is not None]
    uncommitted = len(latencies) - len(done)
    open_rows, drain_rows = _rows(spark, open_name), _rows(spark, drain_name)
    mismatch = open_rows != drain_rows or not open_rows
    n_videos = sum(len(rows) for rows in plan)
    lags = [l - d for l, d in zip(gen.landed, gen.due)]

    detail = {
        "files": len(plan),
        "warmup_files": len(warm_files),
        "videos_per_file": workload.videos_per_file,
        "files_per_s": workload.files_per_s,
        "latency_s": stats.summary(done),
        "uncommitted_files": uncommitted,
        "output_rows": len(open_rows),
        "drain_matches_open_loop": not mismatch,
        "drain_s": drain_s,
        "drain_videos": n_videos,
        "generator_lag_s": stats.summary(lags),
        "noise": window,
        "triggers": _trigger_detail(progress),
        "drain_triggers": _trigger_detail(drain_progress),
    }
    detail["peak_rss_mb"] = rss.peak_mb
    out = {
        "attempted": len(open_files) + 1,
        "failed": uncommitted + int(mismatch),
        "end_to_end": {"setup_s": setup_s, "pass_s": drain_s, "throughput_per_s": n_videos / drain_s},
        "per_layer": {},
        "detail": detail,
    }
    if ctx.trace:
        data_triggers = [p for p in progress if p["numInputRows"] > 0 and p["batchId"] > 0]
        out["per_layer"] = _layer_summary(
            spark,
            query,
            data_triggers,
            gc1 - gc0,
            jit1 - jit0,
            build_s,
            max(lags),
            backlog_max(gen.landed, latencies, gen.due),
        )
        out["per_layer"]["process.peak_rss_mb"] = rss.peak_mb
    return out


def _trigger_detail(progress: list[dict]) -> list[dict]:
    return [
        {"batch": p["batchId"], "rows": p["numInputRows"], "duration_ms": p["durationMs"]}
        for p in sorted(progress, key=lambda p: p["batchId"])
    ]


def _layer_summary(spark, query, triggers, gc_s, jit_s, build_s, lag_s, backlog) -> dict:
    """Per-trigger medians over the open loop's data triggers (the
    warm-up trigger excluded), plus the run's counts. The status-store
    reads happen after the timed window, so they add nothing to it."""
    jobs = probes.batch_jobs_by_description(spark, str(query.runId))
    per_trigger = [
        probes.stage_metrics(spark, jobs.get(p["batchId"], [])) for p in triggers
    ]

    def med(values):
        values = list(values)
        return stats.median(values) if values else 0.0

    def dur(key):
        return med(p["durationMs"].get(key, 0) / 1000.0 for p in triggers)

    def state(key, scale=1.0):
        return med(sum(op.get(key, 0) for op in p.get("stateOperators", [])) / scale for p in triggers)

    n = max(len(triggers), 1)
    out = {
        "queries.build_s": build_s,
        "catalyst.plan_s": dur("queryPlanning"),
        "operators.exec_s": dur("addBatch"),
        "jvm.gc_s": gc_s / n,
        "jvm.jit_s": jit_s / n,
        "streaming.trigger_s": dur("triggerExecution"),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.query_planning_s": dur("queryPlanning"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.commit_offsets_s": dur("commitOffsets"),
        "streaming.state_commit_s": state("commitTimeMs", 1000.0),
        "streaming.state_rows": state("numRowsTotal"),
        "streaming.state_mem_mb": state("memoryUsedBytes", probes.MB),
        "streaming.triggers": float(len(triggers)),
        "generator.lag_s": lag_s,
        "generator.backlog_files_max": float(backlog),
    }
    for metric, field in (
        ("operators.task_cpu_s", "task_cpu_s"),
        ("operators.task_run_s", "task_run_s"),
        ("operators.shuffle_read_mb", "shuffle_read_mb"),
        ("operators.shuffle_write_mb", "shuffle_write_mb"),
        ("operators.spill_mb", "spill_mb"),
        ("operators.peak_mem_mb", "peak_mem_mb"),
        ("operators.stages", "stages"),
        ("operators.tasks", "tasks"),
        ("sources.input_mb", "input_mb"),
        ("providers.python_run_s", "python_run_s"),
    ):
        out[metric] = med(m[field] for m in per_trigger)
    return out
