#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload roi_read --seed 1 --seconds 16 --trace 0

Starts one local Spark session with every core, sets up the workload
(session start, warm-up on a different geometry, fixture stores), runs
its closed loop for ``--seconds`` at the reference host speed (see
``cycles``) and checks every operation. The last
line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run wraps the library's public functions in spans,
records Spark's event log and executed-plan metrics, and reports the
per-layer metrics instead, writing the spans to
``.perfbench/spans/<workload>.json``. The line before the
result stamps the host: load average, CPU time other processes used
while the run measured, and whether that made the run contended.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench"
# driver heap limit, pinned so it fits the host instead of the library's
# 16g default
DRIVER_MEM = "1g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_a_ms_p50": "ms",
    "op_b_ms_p50": "ms",
    "op_ms_p90": "ms",
    "voxels_per_s": "voxel/s",
    "bytes_stored_per_voxel": "B/voxel",
    "ok_op_ratio": "ratio",
    "peak_rss_mb": "MB",
}

API_FUNCS = ("to_multiscales", "to_ngff_zarr", "write_image", "write_image_batch", "read_image",
             "from_ngff_zarr")

PER_LAYER_UNITS = {
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_busy_s": "s",
    "spark.task_wait_s": "s",
    "spark.driver_gap_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "operators.downsample_s": "s",
    **{f"ome_zarr_api.{f}_s": "s" for f in API_FUNCS},
    "ome_zarr_api.write_image.calls": "count",
    "sources.ome_zarr.scan_rows_per_result_voxel": "ratio",
    "sources.ome_zarr.scan_python_bytes": "B",
    "sources.ome_zarr.scan_tasks": "count",
    "sources.zarr_store.encode_mb_per_s": "MB/s",
    "sources.zarr_store.decode_mb_per_s": "MB/s",
    "sources.zarr_store.objects_written": "count",
    "sources.zarr_store.bytes_written": "B",
    "sources.zarr_store.consolidate_s": "s",
    "hcs.attr_upsert_s": "s",
    "hcs.pixel_jobs_s": "s",
    "hcs.consolidate_s": "s",
    "hcs.from_hcs_zarr_s": "s",
    "trace.op_a_ms_p50": "ms",
    "trace.op_b_ms_p50": "ms",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("roi_read", "write"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def percentile(values, q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q))


def configure_env(workdir: Path, trace: bool) -> None:
    """Everything the session and its Python workers need, set before the
    JVM starts: the import path (workers import the library from disk),
    the core count, a pinned heap, and scratch space inside ``workdir``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    for d in ("spark-local", "tmp", "events"):
        (workdir / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "spark-local")
    os.environ["TMPDIR"] = str(workdir / "tmp")
    # the short-lived JVM that builds the spark-submit command likewise
    # writes no hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    if trace:
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = json.dumps({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (workdir / "events").as_uri(),
            # one plain JSON-lines file, parsed after the session stops
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    else:
        os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)


def start_session(workdir: Path):
    from ngff_zarr_spark.session import get_spark

    return get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(workdir / "warehouse"),
        # no hsperfdata file under /tmp: the run writes only inside ROOT
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={workdir / 'tmp'} -XX:-UsePerfData",
    })


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in and the Python workers under
    it, and wait until each process has ended."""
    from perfbench.host import descendants

    gateway = spark.sparkContext._gateway
    pids = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    # the workers are the JVM's children: wait for them by pid, since
    # they leave this process's tree once the JVM is gone
    deadline = time.monotonic() + 15
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                os.kill(p, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def cycles(seconds: float, cycle_s: float) -> int:
    """Whole cycles a run measures: as many as fill ``seconds`` on the
    reference host (see host.HostSpeed), where one takes ``cycle_s``.
    Fixed for a workload and ``--seconds``, so every run does the same
    work and takes as many samples, on a slow host as on a fast one."""
    return max(1, round(seconds / cycle_s))


def kind_ms_p50(wl, i: int) -> float:
    """Median latency of the workload's i-th operation kind, so a change
    to one path moves a figure by its own size, not diluted by the other.
    Where the kind reads several stores, the median is taken per store and
    the medians are averaged: a median over two clusters of latencies
    would fall in the gap between them and jump from run to run."""
    by_group = {}
    for o in wl.ops:
        if o.kind == wl.KINDS[i]:
            by_group.setdefault(o.group, []).append(o.seconds * 1000.0)
    return statistics.mean(statistics.median(v) for v in by_group.values())


def end_to_end(wl, setup_s: float, rss_mb: float, speed: float = 1.0) -> dict:
    """The end-to-end metrics. Every timing is multiplied by ``speed``,
    the run's host-speed factor (see host.HostSpeed)."""
    ops = wl.ops
    ms = [o.seconds * 1000.0 for o in ops]
    stored_b = sum(o.stored_bytes for o in ops)
    stored_v = sum(o.stored_voxels for o in ops)
    if stored_v == 0:
        stored_b, stored_v = wl.fixture_bytes()
    return {
        "setup_s": setup_s * speed,
        "op_a_ms_p50": kind_ms_p50(wl, 0) * speed,
        "op_b_ms_p50": kind_ms_p50(wl, 1) * speed,
        "op_ms_p90": percentile(ms, 90) * speed,
        "voxels_per_s": sum(o.voxels for o in ops) / sum(o.seconds for o in ops) / speed,
        # 0 only when every operation failed before storing anything
        "bytes_stored_per_voxel": stored_b / stored_v if stored_v else 0.0,
        "ok_op_ratio": sum(o.ok for o in ops) / len(ops),
        "peak_rss_mb": rss_mb,
    }


def per_layer(wl, tracer, events_dir: Path, downsample_s: float, speed: float = 1.0) -> dict:
    """The per-layer metrics, as measured; only ``trace.*``, which the
    tracing overhead compares with the untraced run, is scaled by the
    host-speed factor ``speed`` as the end-to-end timings are."""
    from perfbench.tracing import codec_rates, parse_event_log, spark_per_op

    ops = wl.ops
    n = len(ops)
    tot, cnt = tracer.totals(), tracer.counts()
    m = spark_per_op(ops, *parse_event_log(str(events_dir)))
    m["operators.downsample_s"] = downsample_s
    for f in API_FUNCS:
        m[f"ome_zarr_api.{f}_s"] = tot.get(f"ome_zarr_api.{f}", 0.0) / n
    m["ome_zarr_api.write_image.calls"] = cnt.get("ome_zarr_api.write_image", 0) / n
    scans = wl.read_scans
    voxels = sum(s["voxels"] for s in scans)
    m["sources.ome_zarr.scan_rows_per_result_voxel"] = (
        sum(s["rows"] for s in scans) / voxels if voxels else 0.0)
    m["sources.ome_zarr.scan_python_bytes"] = (
        statistics.mean(s["python_bytes"] for s in scans) if scans else 0.0)
    m["sources.ome_zarr.scan_tasks"] = statistics.mean(s["tasks"] for s in scans) if scans else 0.0
    enc, dec = codec_rates(wl.codec_chunks())
    m["sources.zarr_store.encode_mb_per_s"] = enc
    m["sources.zarr_store.decode_mb_per_s"] = dec
    m["sources.zarr_store.objects_written"] = sum(o.stored_files for o in ops) / n
    m["sources.zarr_store.bytes_written"] = sum(o.stored_bytes for o in ops) / n
    m["sources.zarr_store.consolidate_s"] = tot.get("sources.zarr_store.consolidate", 0.0) / n
    for ph in ("attr_upsert", "pixel_jobs", "consolidate"):
        m[f"hcs.{ph}_s"] = sum(
            o.extra.get("phases", {}).get(ph, {}).get("sec", 0.0) for o in ops) / n
    m["hcs.from_hcs_zarr_s"] = tot.get("hcs.from_hcs_zarr", 0.0) / n
    m["trace.op_a_ms_p50"] = kind_ms_p50(wl, 0) * speed
    m["trace.op_b_ms_p50"] = kind_ms_p50(wl, 1) * speed
    return m


def run(args, workdir: Path) -> dict:
    from perfbench import host
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    speed = host.HostSpeed()
    speed.sample()
    t0 = time.perf_counter()
    spark = start_session(workdir)
    try:
        tracer = Tracer() if args.trace else None
        wl = WORKLOADS[args.workload](spark, str(workdir), args.seed, tracer, speed)
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        t = time.perf_counter()
        wl.setup()
        fixture_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.open()
        open_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t0
        speed.sample()

        if tracer is not None:
            tracer.install()
        stamp = host.HostStamp()
        t_run = time.perf_counter()
        for _ in range(cycles(args.seconds, wl.CYCLE_S)):
            wl.cycle()
        hostinfo = stamp.finish(time.perf_counter() - t_run)
        if tracer is not None:
            tracer.uninstall()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = host.peak_rss_mb(os.getpid(), jvm_pid)
        downsample_s = wl.downsample_seconds() if tracer is not None else 0.0
    finally:
        stop_session(spark)

    for op in wl.ops:
        print(f"perfbench: {op.kind} {op.seconds:.3f} s {'ok' if op.ok else op.error}",
              file=sys.stderr)
    factor = speed.factor()
    hostinfo["burst_ms"] = speed.burst_ms()
    hostinfo["speed_factor"] = factor
    print(json.dumps({"host": hostinfo, "setup": {
        "warm_s": warm_s, "open_s": open_s, "fixture_s": fixture_s, "ops": len(wl.ops)},
        "unscaled": end_to_end(wl, setup_s, rss_mb) if tracer is None else None}))
    if hostinfo["contended"]:
        print("perfbench: contended run: other processes used "
              f"{hostinfo['other_cpu_s']} CPU s", file=sys.stderr)
    if tracer is None:
        metrics = end_to_end(wl, setup_s, rss_mb, factor)
        units = END_TO_END_UNITS
    else:
        metrics = per_layer(wl, tracer, workdir / "events", downsample_s, factor)
        units = PER_LAYER_UNITS
        spans = OUT / "spans"
        spans.mkdir(parents=True, exist_ok=True)
        tracer.dump(str(spans / f"{args.workload}.json"), seed=args.seed, host=hostinfo,
                    ops=[[o.kind, o.seconds, o.ok] for o in wl.ops])
    failed = sum(not o.ok for o in wl.ops)
    return {
        "correct": failed == 0,
        "attempted": len(wl.ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    import ngff_zarr_spark  # noqa: F401 - fail before writing anything when it is absent

    workdir = OUT / f"run-{os.getpid()}"
    try:
        configure_env(workdir, bool(args.trace))
        result = run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
