"""Tests of the benchmark itself: the generator against its numpy twin,
the printed metric names against BENCHMARK.json, and the accounting of
wrong reads as failed operations.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen, run, workloads  # noqa: E402
from perfbench.tracing import Tracer, self_times  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from ngff_zarr_spark.session import get_spark

    return get_spark("perfbench-tests", cpus=2)


def _benchmark():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("shape", [{"z": 3, "y": 17, "x": 13}, {"c": 2, "y": 9, "x": 11}])
def test_spark_generator_matches_numpy(spark, shape):
    seed = gen.op_seed(7, 3)
    table = gen.spark_volume(spark, shape, seed).toArrow()
    expected = gen.numpy_volume(shape, seed)
    got = np.zeros(expected.shape, dtype=np.float64)
    idx = tuple(table.column(d).to_numpy() for d in shape)
    got[idx] = table.column("v").to_numpy()
    assert table.num_rows == expected.size
    assert np.array_equal(got, expected.astype(np.float64))


def test_generator_is_seeded_noisy_and_fits_uint16():
    a = gen.numpy_volume(workloads.CONVERT_SHAPE, 1)
    assert np.array_equal(a, gen.numpy_volume(workloads.CONVERT_SHAPE, 1))
    assert not np.array_equal(a, gen.numpy_volume(workloads.CONVERT_SHAPE, 2))
    # noise spans its full ten bits on top of the ramp
    assert np.ptp(a[0, 0, :] - 3 * np.arange(a.shape[2])) > 900
    for shape in (workloads.ROI_SHAPE, workloads.CONVERT_SHAPE, workloads.FIELD_SHAPE):
        assert gen.max_value(shape) < 2**16


def test_metric_names_match_benchmark_json():
    doc = _benchmark()
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == run.PER_LAYER_UNITS
    assert {w["name"] for w in doc["workloads"]} == set(workloads.WORKLOADS)
    assert doc["paths"] == ["perfbench"]


class _FakeWorkload:
    KINDS = ("tile", "slab")

    def __init__(self, ops):
        self.ops = ops
        self.read_scans = []

    def fixture_bytes(self):
        return 100, 50

    def codec_chunks(self):
        return []


def _box(lo, expected):
    dz, dy, dx = expected.shape
    z, y, x = np.meshgrid(*(np.arange(a, a + n) for a, n in zip(lo, (dz, dy, dx))),
                          indexing="ij")
    return pa.table({"z": z.ravel(), "y": y.ravel(), "x": x.ravel(),
                     "v": expected.ravel().astype(np.float64)})


def test_end_to_end_and_per_layer_print_every_named_metric(tmp_path):
    wl = _FakeWorkload([workloads.Op("tile", 0.5, 0.0, 0.5, True, voxels=10),
                        workloads.Op("slab", 0.25, 0.5, 0.75, True, voxels=10)])
    e2e = run.end_to_end(wl, setup_s=1.0, rss_mb=10.0)
    assert set(e2e) == set(run.END_TO_END_UNITS)
    assert e2e["bytes_stored_per_voxel"] == 2.0
    assert (e2e["op_a_ms_p50"], e2e["op_b_ms_p50"]) == (500.0, 250.0)
    assert all(v != 0 for v in e2e.values())
    (tmp_path / "events").mkdir()
    layer = run.per_layer(wl, Tracer(), tmp_path / "events", 0.0)
    assert set(run.PER_LAYER_UNITS) <= set(layer)


def test_kind_latency_is_the_mean_of_per_store_medians_scaled_by_host_speed():
    def op(kind, seconds, group):
        return workloads.Op(kind, seconds, 0.0, seconds, True, voxels=10, group=group)

    # store 0 is fast and store 1 slow: a pooled median of the four tiles
    # would fall in the gap between them
    wl = _FakeWorkload([op("tile", 0.1, 0), op("tile", 0.2, 0), op("tile", 0.9, 1),
                        op("tile", 1.0, 1), op("slab", 2.0, 0)])
    assert run.kind_ms_p50(wl, 0) == pytest.approx((150.0 + 950.0) / 2)
    e2e = run.end_to_end(wl, setup_s=4.0, rss_mb=10.0, speed=0.5)
    plain = run.end_to_end(wl, setup_s=4.0, rss_mb=10.0)
    assert e2e["op_a_ms_p50"] == pytest.approx(plain["op_a_ms_p50"] / 2)
    assert e2e["setup_s"] == 2.0 and e2e["voxels_per_s"] == pytest.approx(
        plain["voxels_per_s"] * 2)
    assert e2e["peak_rss_mb"] == plain["peak_rss_mb"]


def test_run_length_is_whole_cycles_at_reference_speed():
    assert run.cycles(16, workloads.RoiRead.CYCLE_S) == 2
    assert run.cycles(16, workloads.Write.CYCLE_S) == 1
    assert run.cycles(1, 8.0) == 1


def test_host_speed_factor_is_reference_over_median_burst():
    from perfbench.host import REF_BURST_MS, HostSpeed

    speed = HostSpeed()
    for _ in range(3):
        speed.sample()
    assert all(ms > 0 for ms in speed.samples_ms)
    speed.samples_ms = [10.0, 40.0, 1000.0]
    assert speed.factor() == pytest.approx(REF_BURST_MS / 40.0)


def test_corrupted_read_counts_as_failed_operation():
    expected = gen.numpy_volume({"z": 2, "y": 5, "x": 4}, 11)
    lo = (1, 3, 2)
    good = _box(lo, expected)
    v = good.column("v").to_numpy().copy()
    v[7] += 1
    bad = good.set_column(3, "v", pa.array(v))

    def read(table):
        return lambda: workloads.OpOutput(voxels=expected.size, value=table)

    def check(t):
        return workloads.check_box(t, lo, expected)

    ok = workloads.run_op("tile", read(good), check)
    corrupted = workloads.run_op("tile", read(bad), check)
    missing = workloads.run_op("tile", read(good.slice(1)), check)
    assert ok.ok and not corrupted.ok and not missing.ok

    def boom():
        raise OSError("chunk unreadable")

    raised = workloads.run_op("slab", boom, check)
    assert not raised.ok and "chunk unreadable" in raised.error
    e2e = run.end_to_end(_FakeWorkload([ok, corrupted, missing, raised]), 1.0, 1.0)
    assert e2e["ok_op_ratio"] == 0.25


def test_self_time_subtracts_children_once():
    t = Tracer()
    spans = [
        {"id": 1, "name": "op", "parent": None, "op": 1, "start": 0.0, "end": 10.0},
        {"id": 2, "name": "a", "parent": 1, "op": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "name": "b", "parent": 1, "op": 1, "start": 3.0, "end": 6.0},
    ]
    t.spans = spans
    assert self_times(spans)[1] == pytest.approx(5.0)
    assert t.totals() == {"op": 10.0, "a": 3.0, "b": 3.0}


def test_run_fails_without_the_library(tmp_path):
    """Copied alone, the benchmark exits non-zero and prints no result."""
    import shutil
    import subprocess

    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "roi_read", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
