"""Traced-run machinery: spans around public library functions, Spark
event-log parsing, executed-plan metric harvest and codec throughput.

Spans are kept in memory (name, start, end, parent, operation id) and
written to a file when the run ends. Every span opened while an
operation runs carries that operation's id; spans opened on library
worker threads (the pyramid writer's pool) have no parent on their own
thread and hang under the operation's root span.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

import numpy as np

# (module, attribute, span name) of every wrapped public function. The
# library calls these through module globals, so nested calls are
# traced too (from_ngff_zarr -> read_image, to_ngff_zarr -> write_image).
WRAPPED = [
    ("ngff_zarr_spark.ome_zarr_api", "to_multiscales", "ome_zarr_api.to_multiscales"),
    ("ngff_zarr_spark.ome_zarr_api", "to_ngff_zarr", "ome_zarr_api.to_ngff_zarr"),
    ("ngff_zarr_spark.ome_zarr_api", "write_image", "ome_zarr_api.write_image"),
    ("ngff_zarr_spark.ome_zarr_api", "write_image_batch", "ome_zarr_api.write_image_batch"),
    ("ngff_zarr_spark.ome_zarr_api", "read_image", "ome_zarr_api.read_image"),
    ("ngff_zarr_spark.ome_zarr_api", "from_ngff_zarr", "ome_zarr_api.from_ngff_zarr"),
    ("ngff_zarr_spark.hcs", "write_hcs_fields", "hcs.write_hcs_fields"),
    ("ngff_zarr_spark.hcs", "from_hcs_zarr", "hcs.from_hcs_zarr"),
    ("ngff_zarr_spark.sources.zarr_store.StoreBase", "consolidate_metadata_v2",
     "sources.zarr_store.consolidate"),
    ("ngff_zarr_spark.sources.zarr_store.StoreBase", "consolidate_metadata_v3",
     "sources.zarr_store.consolidate"),
]


def _resolve(dotted: str):
    import importlib

    try:
        return importlib.import_module(dotted)
    except ModuleNotFoundError:
        mod, attr = dotted.rsplit(".", 1)
        return getattr(importlib.import_module(mod), attr)


class Tracer:
    """The spans of one run, and the wrappers that record them."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._op_id = None
        self._op_root = None
        self._patches: list = []

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._op_root
        sid = next(self._ids)
        op_id = self._op_id
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append({"id": sid, "name": name, "parent": parent,
                                   "op": op_id, "start": start, "end": end})

    @contextmanager
    def op(self, kind: str, op_id: int):
        self._op_id = op_id
        try:
            with self.span(f"op.{kind}") as sid:
                self._op_root = sid
                yield
        finally:
            self._op_root = None
            self._op_id = None

    def install(self) -> None:
        for owner_name, attr, name in WRAPPED:
            owner = _resolve(owner_name)
            fn = getattr(owner, attr)
            setattr(owner, attr, self._wrap(fn, name))
            self._patches.append((owner, attr, fn))

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    def totals(self) -> dict[str, float]:
        """Inclusive seconds per span name over every operation."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["op"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for s in self.spans:
            if s["op"] is not None:
                out[s["name"]] = out.get(s["name"], 0) + 1
        return out

    def dump(self, path: str, **meta) -> None:
        """Write every span with its self time, plus ``meta``, as JSON."""
        selfs = self_times(self.spans)
        rows = [dict(s, self_s=selfs[s["id"]]) for s in sorted(self.spans, key=lambda s: s["start"])]
        with open(path, "w") as f:
            json.dump({**meta, "spans": rows}, f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = [(max(lo, s["start"]), min(hi, s["end"]))
                for lo, hi in children.get(s["id"], []) if hi > s["start"] and lo < s["end"]]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out


# -- Spark event log ---------------------------------------------------------


def parse_event_log(directory: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from every event-log file in ``directory``. Times are
    epoch milliseconds."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks = []
    for name in os.listdir(directory):
        with open(os.path.join(directory, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {"start": ev["Submission Time"], "end": None}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "launch": info["Launch Time"],
                        "finish": info["Finish Time"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "failed": bool(info.get("Failed")) or bool(info.get("Killed")),
                    })
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    job_list = [dict(v, id=k) for k, v in jobs.items() if v["end"] is not None]
    return job_list, tasks


def spark_per_op(ops, jobs: list[dict], tasks: list[dict]) -> dict[str, float]:
    """Session-layer metrics, averaged per operation. A job belongs to the
    operation during whose wall interval it was submitted."""
    n = max(1, len(ops))
    acc = dict.fromkeys(("jobs", "tasks", "busy", "wait", "gap", "shuffle", "gc", "failed"), 0.0)
    for op in ops:
        lo, hi = op.wall_start * 1000.0, op.wall_end * 1000.0
        mine = [j for j in jobs if lo <= j["start"] <= hi]
        ids = {j["id"] for j in mine}
        ts = [t for t in tasks if t["job"] in ids]
        acc["jobs"] += len(mine)
        acc["tasks"] += len(ts)
        acc["busy"] += sum(t["run_ms"] for t in ts) / 1000.0
        acc["wait"] += sum(max(0, (t["finish"] - t["launch"]) - t["run_ms"]) for t in ts) / 1000.0
        covered = union_length([(max(lo, j["start"]), min(hi, j["end"])) for j in mine])
        acc["gap"] += (hi - lo - covered) / 1000.0
        acc["shuffle"] += sum(t["shuffle_write"] for t in ts) / 1e6
        acc["gc"] += sum(t["gc_ms"] for t in ts) / 1000.0
        acc["failed"] += sum(1 for t in ts if t["failed"])
    return {
        "spark.jobs_per_op": acc["jobs"] / n,
        "spark.tasks_per_op": acc["tasks"] / n,
        "spark.task_busy_s": acc["busy"] / n,
        "spark.task_wait_s": acc["wait"] / n,
        "spark.driver_gap_s": acc["gap"] / n,
        "spark.shuffle_write_mb": acc["shuffle"] / n,
        "spark.gc_s": acc["gc"] / n,
        "spark.failed_tasks": acc["failed"],
    }


# -- executed-plan metrics ---------------------------------------------------


def _plan_nodes(node):
    """Physical plan nodes under ``node``, looking through adaptive plans
    and query stages."""
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))
    inner = node.innerChildren()
    for i in range(inner.size()):
        yield from _plan_nodes(inner.apply(i))


def _metric_values(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def scan_metrics(df) -> dict[str, float]:
    """Metrics of the ome_zarr scan in ``df``'s executed plan: rows it
    emitted, bytes exchanged with Python workers, and its task count."""
    plan = df._jdf.queryExecution().executedPlan()
    rows = python_bytes = tasks = 0
    for node in _plan_nodes(plan):
        m = _metric_values(node)
        python_bytes += m.get("pythonDataSent", 0) + m.get("pythonDataReceived", 0)
        if node.nodeName().startswith("BatchScan"):
            rows += m.get("numOutputRows", 0)
            tasks += node.inputRDD().getNumPartitions()
    return {"rows": rows, "python_bytes": python_bytes, "tasks": tasks}


# -- codec throughput --------------------------------------------------------


def stored_chunks(store_path: str, array_path: str):
    """(compressed bytes, raw nbytes, compressor, dtype, chunk shape) of
    every stored chunk of an array, reading inner chunks of shards
    through the shard index."""
    from ngff_zarr_spark.sources.zarr_store import open_store

    store = open_store(store_path)
    fmt = 3 if store.exists(f"{array_path}/zarr.json") else 2
    am = store.read_array_meta(array_path, fmt)
    nbytes = int(np.prod(am.chunks)) * am.dtype.itemsize
    out = []
    if am.chunks_per_shard is None:
        for idx in itertools.product(*(range(g) for g in am.chunk_grid)):
            data = store.get_or_none(am.chunk_key(idx))
            if data is not None:
                out.append((data, nbytes, am.compressor, am.dtype, am.chunks))
        return out
    for sidx in itertools.product(*(range(g) for g in am.shard_grid)):
        index = store.shard_index(am, sidx)
        if index is None:
            continue
        key = am.shard_key(sidx)
        for off, nb in index:
            if int(off) != 0xFFFFFFFFFFFFFFFF:
                out.append((store.get_range(key, int(off), int(nb)), nbytes,
                            am.compressor, am.dtype, am.chunks))
    return out


def codec_rates(chunks, min_seconds: float = 0.2) -> tuple[float, float]:
    """(encode MB/s, decode MB/s) of raw bytes over ``chunks``, repeating
    the pass until it has run at least ``min_seconds``."""
    from ngff_zarr_spark.sources.zarr_store import decode_chunk_bytes, encode_chunk

    if not chunks:
        return 0.0, 0.0
    raw = [np.frombuffer(decode_chunk_bytes(d, nb, c), dtype=dt).reshape(shape)
           for d, nb, c, dt, shape in chunks]
    mb = sum(r.nbytes for r in raw) / 1e6

    def rate(fn):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            dt = time.perf_counter() - t0
            if dt >= min_seconds:
                return n * mb / dt

    enc = rate(lambda: [encode_chunk(r, c) for r, (_, _, c, _, _) in zip(raw, chunks)])
    dec = rate(lambda: [decode_chunk_bytes(d, nb, c) for d, nb, c, _, _ in chunks])
    return enc, dec
