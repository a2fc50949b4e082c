"""Tests of the benchmark itself: generator, oracle, span reduction, and a
tiny-seed smoke run of every workload.

Run from the repository root::

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import data, layers  # noqa: E402
from perfbench.run import Loop  # noqa: E402
from perfbench.spans import _covered_ms, reduce_event_log  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def test_same_seed_writes_identical_granules(tmp_path):
    a = data.write_granules(str(tmp_path / "a"), 5, 0, 2, 30, days=10, n_corrupt=1)
    b = data.write_granules(str(tmp_path / "b"), 5, 0, 2, 30, days=10, n_corrupt=1)
    c = data.write_granules(str(tmp_path / "c"), 6, 0, 2, 30, days=10)
    for pa_, pb in zip(a.paths + a.corrupt, b.paths + b.corrupt):
        assert os.path.basename(pa_) == os.path.basename(pb)
        assert open(pa_, "rb").read() == open(pb, "rb").read()
    assert not np.array_equal(a.frame["value"], c.frame["value"])
    with pytest.raises(Exception):
        data.read_granule(a.corrupt[0])


def test_granule_ids_times_and_name():
    start = data.granule_start(3, 10, days=30)
    f = data.swath(7, start, 40, np.random.default_rng(0))
    assert len(f) == 40 * data.N_CROSS
    assert f["gpm_id"].iloc[-1] == "7-39" and f["gpm_cross_track_id"].max() == data.N_CROSS - 1
    assert f["time"].min() == start and f["time"].dtype == "datetime64[ms]"
    assert f["lat"].abs().max() <= 66 and f["lon"].between(-180, 180).all()


def test_oracle_geometry():
    lon = np.array([0.0, 0.5, 2.0, 0.0])
    lat = np.array([0.0, 0.5, 0.5, 1.5])
    square = [(-1.0, -1.0), (1.0, -1.0), (1.0, 1.0), (-1.0, 1.0)]
    assert data.in_polygon(lon, lat, square).tolist() == [True, True, False, False]
    assert data.in_extent(lon, lat, [0, 1, 0, 1]).tolist() == [True, True, False, False]
    d = data.haversine_m(np.array([1.0]), np.array([0.0]), 0.0, 0.0)[0]
    assert d == pytest.approx(111_195, rel=1e-3)
    assert data.cell_index(np.array([-180.0, -170.0, -169.9, 180.0]), -180.0, 10.0, 36).tolist() == [0, 0, 1, 35]


def test_oracle_overpasses_and_grids():
    t = np.array(["2024-01-01T00:00", "2024-01-01T00:30", "2024-01-01T01:30", "2024-01-01T03:00"],
                 dtype="datetime64[ms]")
    # a gap of exactly one hour does not split; 90 minutes does
    assert [(str(a), str(b)) for a, b in data.overpasses(t)] == [
        ("2024-01-01T00:00:00.000", "2024-01-01T01:30:00.000"),
        ("2024-01-01T03:00:00.000", "2024-01-01T03:00:00.000"),
    ]
    assert data.along_track_span(np.array(["7-3", "7-5", "8-0", "8-1"]), np.array([7, 7, 8, 8])) == 3 + 2
    lon, lat, val = np.array([0.5, 0.6, -179.5]), np.array([0.5, 0.5, 89.5]), np.array([1.0, 3.0, 5.0])
    n, mean = data.grid_counts_means(lon, lat, val, 360, 180, 1.0)
    assert n.sum() == 3 and n[90, 180] == 2 and mean[90, 180] == 2.0 and mean[179, 0] == 5.0
    assert np.isnan(mean[0, 0])
    days = np.array(["2024-01-01T01", "2024-01-01T02", "2024-01-02T00"], dtype="datetime64[ms]")
    # the corner cell has 4 in-grid neighbours, the others 9; the first two
    # rows share their cells and day
    assert data.idw_fanout(lon, lat, days, 360, 180, 1.0) == (9 + 4, 9 + 9 + 4)


def test_covered_ms_unions_overlaps():
    assert _covered_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert _covered_ms([]) == 0


def test_reduce_event_log_attributes_jobs_to_spans(tmp_path):
    props = {"Properties": {"spark.jobGroup.id": "s"}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1010, **props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}, **props},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 30, "JVM GC Time": 2, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Input Metrics": {"Bytes Read": 7, "Records Read": 3},
            "Output Metrics": {"Bytes Written": 0, "Records Written": 0}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1050},
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = reduce_event_log(str(log), {"s": [(1000.0, 1100.0)]}, cores=2)
    s = out["spans"]["s"]
    assert (s["jobs"], s["wall_ms"], s["driver_ms"], s["task_run_ms"]) == (1, 100, 60, 30)
    assert (s["shuffle_write_bytes"], s["input_records"], s["slot_idle_ms"]) == (100, 3, 50)
    assert out["app"] == {"jobs": 1, "gc_ms": 2}


def test_op_ms_sums_each_steps_median():
    loop = Loop(wl=None)
    # the stall in the second op's step "a" and the third op's step "b" are
    # both dropped; a plain median of whole ops would keep one of them
    loop.ops = [{"a": 1.0, "b": 0.1}, {"a": 9.0, "b": 0.2}, {"a": 1.2, "b": 5.0}]
    assert loop.op_ms() == pytest.approx(1000.0 * (1.2 + 0.2))
    loop.ops = []
    with pytest.raises(RuntimeError):
        loop.op_ms()


def test_benchmark_json_lists_every_per_layer_metric():
    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == layers.names()
    assert {w["name"] for w in BENCH["workloads"]} == set(WORKLOADS)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.2"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_run_is_correct(workload):
    out = _run(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    assert set(out["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_traced_smoke_runs_report_every_layer_and_repeat_their_counts():
    first, second = _run("archive_query", 1), _run("archive_query", 1)
    assert first["correct"] and first["failed"] == 0
    assert set(first["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    for name in ("readers.collect.point.jobs", "gridding.idw_to_grid.jobs", "analysis.overpasses",
                 "writers.merged_files"):
        assert first["metrics"][name]["value"] >= 1, name
    assert first["metrics"]["trace.overhead_ratio"]["value"] > 0
    counts = [k for k, m in first["metrics"].items() if m["unit"] in ("count", "B")]
    assert {k: first["metrics"][k] for k in counts} == {k: second["metrics"][k] for k in counts}


def test_refuses_to_run_outside_a_checkout(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", "archive_ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout == ""
