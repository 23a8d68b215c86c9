"""The bench harness (bench.py) and the tools built on its per-entry
window: host-noise and JVM probes, self-adjudication (VERDICT r11
#2/#5), the sidecar record and tools/time_entries.py."""

from __future__ import annotations

import importlib.util
import json
import sys
import time
from pathlib import Path

from pyspark.sql import functions as F

import bench

# every key the bench's stdout line carried before the per-entry record
# existed; the line is additive-only
PARENT_LINE_KEYS = {
    "metric", "value", "unit", "queries", "sf", "total_sec", "n_queries",
    "steal_run_pct", "steal_hot", "iowait_run_pct", "iowait_hot",
    "jvm_churn_run_ms", "jvm_churn_hot", "cpu_ow_tail", "flagged", "remeasured",
}
RECORD_KEYS = {
    "wall_s", "build_s", "write_s", "cleanup_s", "frames",
    "steal_pct", "iowait_pct", "cpu_over_wall", "gc_s", "jit_s", "jobs",
    "stages", "tasks", "task_run_s", "task_cpu_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "peak_mem_mb", "input_mb", "python_run_s",
}


def test_tree_cpu_sec_counts_own_work():
    c0 = bench._tree_cpu_sec()
    assert c0 is not None and c0 >= 0
    t0 = time.process_time()
    x = 0
    while time.process_time() - t0 < 0.3:  # burn ~0.3 s of CPU
        x += 1
    c1 = bench._tree_cpu_sec()
    assert c1 - c0 >= 0.2  # jiffy resolution is 10 ms; own burn visible


def test_bench_flags_and_remeasures(monkeypatch, capsys, spark, tmp_path):
    """main() must flag an entry >= 2x its committed minimum, carry
    steal/cpu_ow telemetry for it, and re-run it once — with the
    first-pass number preserved. Every run's record lands in the
    sidecar; the stdout line only grows."""
    calls = {"n": 0}

    def fast(spark_, sf_dir):
        return spark_.range(5).select(F.col("id").alias("v"))

    def slowish(spark_, sf_dir):
        calls["n"] += 1
        time.sleep(2.2)
        return spark_.range(3).select(F.col("id").alias("v"))

    monkeypatch.setattr(
        bench, "CATALOG", {"fastq": (fast, None), "slowq": (slowish, None)}
    )
    monkeypatch.setattr(
        bench, "_committed_minima", lambda sf, cpus: {"fastq": 5.0, "slowq": 1.0}
    )
    monkeypatch.setattr(bench, "get_spark", lambda name: spark)
    monkeypatch.setattr(bench, "SIDECAR_DIR", tmp_path)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    bench.main()
    d = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert d["n_queries"] == 2
    assert "slowq" in d["flagged"] and "fastq" not in d["flagged"]
    fl = d["flagged"]["slowq"]
    assert fl["min"] == 1.0 and fl["x_min"] >= 2.0
    assert "cpu_ow" in fl and "steal" in fl and "iowait" in fl
    assert "slowq" in d["remeasured"]
    assert "iowait" in d["remeasured"]["slowq"]
    assert "iowait_run_pct" in d and "iowait_hot" in d
    assert calls["n"] == 2  # first pass + one re-measure
    assert d["queries"]["slowq"] == fl["wall"]  # first pass preserved

    assert set(d) >= PARENT_LINE_KEYS
    assert d["cpus"] == spark.sparkContext.defaultParallelism
    assert 0 < len(d["layer_tail"]) <= 5
    assert set(d["layer_tail"]["slowq"]) == set(bench.LAYER_TAIL)
    assert d["layer_tail"]["slowq"]["build_s"] >= 2.0  # the sleep is plan build

    side = json.loads(Path(d["sidecar"]).read_text())
    assert Path(d["sidecar"]).parent == tmp_path
    assert {n: len(recs) for n, recs in side["runs"].items()} == {"fastq": 1, "slowq": 2}
    for recs in side["runs"].values():
        for rec in recs:
            assert set(rec) == RECORD_KEYS
            assert rec["jobs"] >= 1 and rec["stages"] >= 1
    assert side["runs"]["slowq"][0]["wall_s"] == d["queries"]["slowq"]
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_jiffies_reports_iowait_component():
    j = bench._jiffies()
    assert j is not None and len(j) == 3
    total, steal, iowait = j
    assert 0 <= steal <= total and 0 <= iowait <= total


def test_bench_no_flagging_off_committed_scale(monkeypatch, capsys, spark, tmp_path):
    """Smoke runs at other SFs, or at another core count, must not
    flag against the sf0.1 32-core minima."""
    assert bench._committed_minima(0.1, 8) == {}
    assert bench._committed_minima(0.001, 32) == {}
    committed = bench._committed_minima(0.1, 32)
    assert len(committed) == 262 and committed["d02_attribute_average"] == 2.467

    def slowish(spark_, sf_dir):
        time.sleep(2.1)
        return spark_.range(3).select(F.col("id").alias("v"))

    monkeypatch.setattr(bench, "CATALOG", {"slowq": (slowish, None)})
    monkeypatch.setattr(bench, "get_spark", lambda name: spark)
    monkeypatch.setattr(bench, "SIDECAR_DIR", tmp_path)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    bench.main()
    d = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert d["flagged"] == {} and d["remeasured"] == {}


def test_jvm_churn_ms_monotone_and_present(spark):
    g0 = bench._jvm_churn_ms(spark)
    assert g0 is not None and len(g0) == 2
    gc0, jit0 = g0
    assert gc0 >= 0 and jit0 >= 0
    # burn a little JVM work; counters must not go backwards
    spark.range(2_000_000).selectExpr("sum(id * 3)").collect()
    gc1, jit1 = bench._jvm_churn_ms(spark)
    assert gc1 >= gc0 and jit1 >= jit0


def test_time_entries_reports_from_measure_entry(monkeypatch, capsys, spark, sf_dir):
    """tools/time_entries.py prints every key it printed before it ran
    on bench.measure_entry, each derived from the runs' records."""
    from las_vpe_platform_spark.operators.staging import persist_disk

    def staged(spark_, sf_dir_):
        return persist_disk(spark_.range(50).select((F.col("id") % 7).alias("v"))).distinct()

    spec = importlib.util.spec_from_file_location(
        "time_entries", Path(bench.__file__).parent / "tools" / "time_entries.py"
    )
    time_entries = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(time_entries)
    monkeypatch.setattr(bench, "CATALOG", {"stagedq": (staged, None)})
    monkeypatch.setattr(bench, "get_spark", lambda name: spark)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setattr(sys, "argv", ["time_entries.py", "--runs", "2", "stagedq"])
    time_entries.main()
    d = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(d) >= {
        "name", "walls", "min", "steal", "iowait", "cpu_ow", "jobs", "jvm_churn_ms", "frames",
    }
    assert d["name"] == "stagedq" and len(d["runs"]) == 2
    assert d["walls"] == [r["wall_s"] for r in d["runs"]] and d["min"] == min(d["walls"])
    assert d["frames"] == [1, 1]
    assert all(j >= 1 for j in d["jobs"])
    assert d["jvm_churn_ms"] == [bench.churn_ms(r) for r in d["runs"]]
    assert all(set(r) == RECORD_KEYS for r in d["runs"])
