"""Tests of the benchmark itself.

    python -m pytest perfbench/tests -q

All but the last test are pure Python and take well under a second.
``test_smoke_run`` runs ``simjoin_graph`` end to end on the committed
sf0.001 documents table (about 30 s on 4 cores); ``-k "not smoke"``
leaves it out.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import batch, compare, stats, stream, workloads  # noqa: E402
from perfbench.run import END_TO_END, NOT_EXERCISED, PER_LAYER, result_line  # noqa: E402

SMOKE_SF = ROOT / "perfbench" / "data" / "sf0.001"


def _bench() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(workloads.NAMES)
    assert {m["name"] for m in bench["end_to_end"] if m["name"] == "setup_s"} == {"setup_s"}


def test_batch_end_to_end_gives_every_metric():
    untraced = [
        {"wall_s": 3.0, "entries": {"a": {"wall_s": 1.0}, "b": {"wall_s": 2.0}}},
        {"wall_s": 5.0, "entries": {"a": {"wall_s": 2.0}, "b": {"wall_s": 3.0}}},
    ]
    e2e = batch.end_to_end(10.0, untraced)
    assert set(e2e) == set(END_TO_END)
    assert e2e["pass_s"] == 4.0
    assert e2e["throughput_per_s"] == 4 / 8.0


@pytest.mark.parametrize(
    "n, expected",
    [(19, None), (20, 50.0), (40, 75.0), (99, 80.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert stats.tail_percentile(n) == expected


def test_summary_reports_the_supported_tail():
    values = list(range(1, 101))
    s = stats.summary(values)
    assert (s["n"], s["tail_pct"], s["tail"]) == (100, 90.0, 90.0)
    assert sum(v > s["tail"] for v in values) == 10


def test_open_loop_latency_counts_from_due_time():
    # one row per file, due every second; the consumer commits the
    # first two promptly, then stalls until t=8 and commits the rest
    due = [float(t) for t in range(6)]
    triggers = [(0.5, 1), (1.5, 1), (8.0, 4)]
    lat = stream.file_latencies(due, [1] * 6, triggers)
    assert lat == [0.5, 0.5, 6.0, 5.0, 4.0, 3.0]
    # files due during the stall wait for it, however late they landed
    assert min(lat[2:]) > max(lat[:2])
    assert stream.backlog_max([d + 0.01 for d in due], lat, due) == 4


def test_open_loop_latency_marks_uncommitted_files():
    lat = stream.file_latencies([0.0, 1.0, 2.0], [2, 2, 2], [(0.5, 2), (1.5, 2)])
    assert lat == [0.5, 0.5, None]


def test_open_loop_latency_with_more_than_a_hundred_triggers():
    # Spark's recentProgress keeps only the last 100 triggers; the
    # latency must use every one, with warm-up rows ahead of the files
    n = 150
    due = [float(k) for k in range(n)]
    triggers = [(0.2, 3)] + [(k + 0.25, 1) for k in range(n)]
    lat = stream.file_latencies(due, [1] * n, triggers, offset_rows=3)
    assert lat == [0.25] * n


def test_settled_waits_for_the_no_data_batch():
    progress = [{"batchId": 0, "numInputRows": 3}]
    assert not stream._settled(progress, 3)
    progress.append({"batchId": 1, "numInputRows": 0})
    assert stream._settled(progress, 3)
    assert not stream._settled(progress, 4)


def test_video_plan_is_fixed_by_the_seed():
    ids = [f"v{k}" for k in range(10)]
    assert stream.video_plan(7, ids, 5, 2) == stream.video_plan(7, ids, 5, 2)
    assert stream.video_plan(7, ids, 5, 2) != stream.video_plan(8, ids, 5, 2)
    starts = [ts for rows in stream.video_plan(7, ids, 5, 2) for _, ts in rows]
    assert starts == sorted(starts)


def test_corrupted_result_is_counted_as_failed():
    rows = [(1, "a", 0.5), (2, "b", 0.25)]
    columns = ["id", "name", "score"]

    def oracle(name):
        return list(rows), list(columns)

    assert batch.verify({"q": (list(rows), columns)}, oracle) == {}
    corrupt = [(1, "a", 0.5), (2, "b", 0.75)]
    failures = batch.verify({"q": (corrupt, columns), "r": (list(rows), columns)}, oracle)
    assert list(failures) == ["q"]
    assert "mismatch" in failures["q"]
    assert "row count" in batch.verify({"q": (rows[:1], columns)}, oracle)["q"]

    e2e = dict.fromkeys(END_TO_END, 1.0)
    line = result_line({"attempted": 4, "failed": len(failures), "end_to_end": e2e, "per_layer": {}}, False, "batch")
    assert (line["correct"], line["failed"]) == (False, 1)


def test_clean_traced_batch_outcome_has_no_failures():
    measured = {m: 1.0 for m in PER_LAYER if m not in NOT_EXERCISED["batch"]}
    outcome = {"attempted": 10, "failed": 0, "end_to_end": {}, "per_layer": measured}
    line = result_line(outcome, True, "batch")
    assert (line["correct"], line["failed"]) == (True, 0)
    assert set(line["metrics"]) == set(PER_LAYER)
    assert line["metrics"]["streaming.trigger_s"]["value"] == 0.0


def test_missing_measured_metric_is_a_failure():
    measured = {m: 1.0 for m in PER_LAYER if m not in NOT_EXERCISED["stream"]}
    del measured["streaming.trigger_s"]
    line = result_line({"attempted": 5, "failed": 0, "end_to_end": {}, "per_layer": measured}, True, "stream")
    assert (line["correct"], line["failed"]) == (False, 1)


def test_compare_refuses_different_cpu_counts():
    rec = {"workload": "simjoin_graph", "trace": 0, "cpus": 4, "end_to_end": {"pass_s": 1.0}}
    assert compare.compare([rec], [dict(rec, end_to_end={"pass_s": 1.1})])
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        compare.compare([rec], [dict(rec, cpus=8)])


def test_smoke_run():
    proc = subprocess.run(
        [
            sys.executable,
            str(ROOT / "perfbench" / "run.py"),
            "--workload", "simjoin_graph",
            "--seed", "1",
            "--seconds", "1",
            "--trace", "0",
            "--sf-dir", str(SMOKE_SF),
        ],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    assert lines[-2].startswith("perfbench simjoin_graph seed=1")
    result = json.loads(lines[-1])
    assert (result["correct"], result["failed"]) == (True, 0)
    assert set(result["metrics"]) == set(END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())
