"""The benchmark's workloads: closed loops with one client, each
operation timed on its own and checked after the timer stops.

``roi_read``  seeded reads from a 0.4/gzip and a 0.5/zstd sharded pyramid
              written at set-up: viewer tiles on stores a viewer opened
              once, mostly next to the previous tile, and unaligned
              multi-chunk analysis slabs that open the store with
              from_ngff_zarr on every read, 8 and 4 to a cycle.
``write``     two rotations of two write paths: convert (a fresh volume
              into a 3-level Gaussian pyramid) and plate_ingest (one
              96-well acquisition micro-batch plus catalog read-back).
"""

from __future__ import annotations

import os
import random
import shutil
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

import numpy as np

from ngff_zarr_spark import hcs
from ngff_zarr_spark import ome_zarr_api as oza
from ngff_zarr_spark import phases
from ngff_zarr_spark.model import NgffImage

from perfbench.gen import numpy_volume, op_seed, spark_volume
from perfbench.stores import decode_array, disk_usage, write_pyramid


@dataclass
class OpOutput:
    """What an operation hands to its check and to the accounting."""

    voxels: int  # voxels read or converted by the operation
    value: Any = None  # what the check inspects
    stored_paths: list = field(default_factory=list)  # what it wrote
    stored_voxels: int = 0


@dataclass
class Op:
    kind: str
    seconds: float
    wall_start: float
    wall_end: float
    ok: bool
    voxels: int = 0
    stored_voxels: int = 0
    stored_files: int = 0
    stored_bytes: int = 0
    error: Optional[str] = None
    extra: dict = field(default_factory=dict)
    group: int = 0  # the store an operation used, where a workload has several


def run_op(kind: str, work: Callable[[], OpOutput], check: Callable[[Any], bool],
           tracer=None, op_id: int = 0) -> Op:
    """Time ``work``, then check its output outside the timer. An operation
    that raises or whose check fails counts as failed."""
    wall0, t0 = time.time(), time.perf_counter()
    try:
        if tracer is not None:
            with tracer.op(kind, op_id):
                out = work()
        else:
            out = work()
    except Exception:  # noqa: BLE001 - a failed operation is a result
        dt = time.perf_counter() - t0
        return Op(kind, dt, wall0, wall0 + dt, False, error=traceback.format_exc())
    dt = time.perf_counter() - t0
    op = Op(kind, dt, wall0, wall0 + dt, False, voxels=out.voxels,
            stored_voxels=out.stored_voxels)
    op.stored_files, op.stored_bytes = disk_usage(*out.stored_paths)
    try:
        op.ok = bool(check(out.value))
        if not op.ok:
            op.error = "check failed"
    except Exception:  # noqa: BLE001 - a check that raises is a failed check
        op.error = "check raised " + traceback.format_exc()
    return op


def check_box(table, lo: tuple[int, int, int], expected: np.ndarray) -> bool:
    """True when the Arrow pixel table holds exactly the voxels of the
    (z, y, x) box at ``lo`` with values ``expected``."""
    dz, dy, dx = expected.shape
    z, y, x, v = (table.column(c).to_numpy() for c in ("z", "y", "x", "v"))
    if len(v) != expected.size:
        return False
    flat = ((z - lo[0]) * dy + (y - lo[1])) * dx + (x - lo[2])
    order = np.argsort(flat, kind="stable")
    return bool(np.array_equal(flat[order], np.arange(expected.size))
                and np.array_equal(v[order], expected.ravel().astype(np.float64)))


def _box_filter(df, lo, hi):
    from pyspark.sql import functions as F

    cond = None
    for d, a, b in zip(("z", "y", "x"), lo, hi):
        c = (F.col(d) >= a) & (F.col(d) < b)
        cond = c if cond is None else cond & c
    return df.filter(cond)


def run_pinned(spark, fns) -> None:
    """Run ``fns`` on threads of their own and wait for all of them. Each
    thread makes ``spark`` its JVM active session first, as the library's
    own writer pools do, so Python data sources resolve there."""
    from concurrent.futures import ThreadPoolExecutor

    def pinned(fn):
        spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
            spark._jsparkSession)
        fn()

    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        for fut in [pool.submit(pinned, fn) for fn in fns]:
            fut.result()


class Workload:
    """A closed loop over ``cycle()``: each cycle is a fixed list of
    operations, and a run always ends on a whole cycle. ``KINDS`` names
    the two operation kinds a cycle mixes; each gets a latency figure of
    its own. ``CYCLE_S`` is about how long a cycle, with its checks, takes
    on the reference host of host.HostSpeed."""

    KINDS: tuple[str, str]
    CYCLE_S: float

    def __init__(self, spark, workdir: str, seed: int, tracer=None, speed=None):
        self.spark, self.workdir, self.seed, self.tracer = spark, workdir, seed, tracer
        self.speed = speed  # host.HostSpeed sampled after every operation
        self.ops: list[Op] = []
        self.read_scans: list[dict] = []  # traced runs: scan metrics per read

    def path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def _run(self, kind, work, check) -> Op:
        op = run_op(kind, work, check, self.tracer, len(self.ops) + 1)
        if self.speed is not None:
            self.speed.sample()
        self.ops.append(op)
        return op

    def fixture_bytes(self) -> tuple[int, int]:
        """(bytes, voxels) stored at set-up, for workloads whose
        operations store nothing."""
        return 0, 0

    def open(self) -> None:
        """Set-up work done once after the fixture stores exist."""

    def downsample_seconds(self) -> float:
        """Traced runs: seconds to run the pyramid's level plans to a noop
        sink; 0 for workloads that build no pyramid."""
        return 0.0

    def fresh_fixtures(self) -> str:
        """An empty directory for set-up's stores."""
        path = self.path("fixtures")
        os.makedirs(path)
        return path


# -- roi_read ----------------------------------------------------------------

ROI_SHAPE = {"z": 20, "y": 330, "x": 300}  # partial edge chunks on every axis
ROI_CHUNKS = {"z": 8, "y": 64, "x": 64}
ROI_LEVELS = 3
TILE = 64
# one cycle: 8 viewer tiles (T) and 4 analysis slabs (S), the same mix
# in every cycle so the latency percentiles compare like with like; read
# i goes to store i % 2, so each store gets 4 tiles and 2 slabs
CYCLE = "TTS" * 4
# the levels of each store's 4 tiles in a cycle, in order: the seed moves
# tiles, never the mix of levels
TILE_LEVELS = (0, 1, 0, 2)
# the slabs' levels, and their (z, y, x) extent and offset into a chunk:
# unaligned, and each crosses 2x2x2 chunks wherever it lands
SLAB_LEVELS = (0, 0, 1, 1)
SLAB_EXTENT = (4, 100, 90)
SLAB_OFFSET = (5, 21, 37)
WARM_SHAPE = {"z": 6, "y": 90, "x": 70}


class RoiRead(Workload):
    name = "roi_read"
    KINDS = ("tile", "slab")
    CYCLE_S = 8.0

    def setup(self) -> None:
        fix = self.fresh_fixtures()
        vol = numpy_volume(ROI_SHAPE, self.seed)
        self.stores = [os.path.join(fix, "roi.ome.zarr"), os.path.join(fix, "roi-sharded.ome.zarr")]
        self.level0 = vol
        write_pyramid(self.stores[0], vol, ["z", "y", "x"], ROI_CHUNKS, ROI_LEVELS,
                      version="0.4", compressor="gzip")
        write_pyramid(self.stores[1], vol, ["z", "y", "x"], ROI_CHUNKS, ROI_LEVELS,
                      version="0.5", compressor="zstd",
                      chunks_per_shard={"z": 1, "y": 2, "x": 2})
        # coarser levels are checked against the driver's own decode of
        # what each store holds
        self.decoded = [[decode_array(s, f"scale{i}/image") for i in range(ROI_LEVELS)]
                        for s in self.stores]
        self.rng = random.Random(self.seed)
        # (z, ty, tx) of each store's last tile at each level
        self.tiles = [[None] * ROI_LEVELS for _ in self.stores]

    def open(self) -> None:
        """The viewer opens each store once."""
        self.opened = [oza.from_ngff_zarr(self.spark, s) for s in self.stores]

    def warm_up(self) -> None:
        warm = self.path("warm.ome.zarr")
        write_pyramid(warm, numpy_volume(WARM_SHAPE, self.seed + 1), ["z", "y", "x"],
                      {"z": 4, "y": 32, "x": 32}, 2)
        ms = oza.from_ngff_zarr(self.spark, warm)
        for lo, hi in (((0, 0, 0), (1, 32, 32)), ((1, 10, 20), (5, 70, 60))):
            _box_filter(ms.images[0].data, lo, hi).toArrow()
        shutil.rmtree(warm)

    def fixture_bytes(self) -> tuple[int, int]:
        _, nbytes = disk_usage(*self.stores)
        voxels = sum(a.size for a in self.decoded[0]) * len(self.stores)
        return nbytes, voxels

    def _next_tile(self, s: int, lvl: int):
        """(level, lo, hi) of store ``s``'s next viewer tile at ``lvl``:
        mostly the neighbour of its previous tile there, sometimes a jump."""
        r = self.rng
        zs, ys, xs = self.decoded[s][lvl].shape
        if self.tiles[s][lvl] is not None and r.random() < 0.8:
            z, ty, tx = self.tiles[s][lvl]
            dy, dx = r.choice(((0, 1), (0, -1), (1, 0), (-1, 0)))
            ty = min(max(ty + dy, 0), -(-ys // TILE) - 1)
            tx = min(max(tx + dx, 0), -(-xs // TILE) - 1)
        else:
            z, ty, tx = r.randrange(zs), r.randrange(-(-ys // TILE)), r.randrange(-(-xs // TILE))
        self.tiles[s][lvl] = (z, ty, tx)
        lo = (z, ty * TILE, tx * TILE)
        return lvl, lo, (z + 1, min(ys, lo[1] + TILE), min(xs, lo[2] + TILE))

    def _slab(self, j: int, s: int):
        """(level, lo, hi) of the cycle's j-th slab in a seeded chunk."""
        lvl = SLAB_LEVELS[j]
        shape = self.decoded[s][lvl].shape
        chunks = [ROI_CHUNKS[d] for d in ("z", "y", "x")]
        lo = tuple(self.rng.randrange((n - o - e) // c + 1) * c + o
                   for n, c, o, e in zip(shape, chunks, SLAB_OFFSET, SLAB_EXTENT))
        return lvl, lo, tuple(a + e for a, e in zip(lo, SLAB_EXTENT))

    def cycle(self) -> None:
        slabs, tiles = 0, [0, 0]
        for i, kind in enumerate(CYCLE):
            s = i % 2
            if kind == "T":
                self._read(True, s, *self._next_tile(s, TILE_LEVELS[tiles[s]]))
                tiles[s] += 1
            else:
                self._read(False, s, *self._slab(slabs, s))
                slabs += 1

    def _read(self, tile: bool, s: int, lvl: int, lo, hi) -> None:
        """One read: a tile through the store the viewer opened, a slab
        through from_ngff_zarr as an analysis script opens it."""
        frame = {}

        def work():
            ms = self.opened[s] if tile else oza.from_ngff_zarr(self.spark, self.stores[s])
            frame["df"] = _box_filter(ms.images[lvl].data, lo, hi)
            table = frame["df"].toArrow()
            return OpOutput(voxels=int(np.prod([b - a for a, b in zip(lo, hi)])), value=table)

        src = self.level0 if lvl == 0 else self.decoded[s][lvl]
        expected = src[tuple(slice(a, b) for a, b in zip(lo, hi))]
        op = self._run("tile" if tile else "slab", work, lambda t: check_box(t, lo, expected))
        op.group = s
        if self.tracer is not None and "df" in frame:
            from perfbench.tracing import scan_metrics

            m = scan_metrics(frame["df"])
            m["voxels"] = op.voxels
            self.read_scans.append(m)

    def codec_chunks(self):
        from perfbench.tracing import stored_chunks

        return stored_chunks(self.stores[0], "scale0/image") + stored_chunks(
            self.stores[1], "scale0/image")


# -- write -------------------------------------------------------------------

CONVERT_SHAPE = {"z": 20, "y": 136, "x": 120}
CONVERT_CHUNKS = {"z": 16, "y": 64, "x": 64}
SCALE_FACTORS = [2, 4]
FIELD_SHAPE = {"c": 2, "y": 48, "x": 40}
FIELD_CHUNKS = {"c": 1, "y": 32, "x": 32}
PLATE_ROWS = "ABCDEFGH"
PLATE_COLS = [str(c) for c in range(1, 13)]
ROTATIONS = 2
# warm-up geometries: other shapes, but as many chunks and partitions as
# the operations have, so warm-up starts every Python worker they use
WARM_CONVERT = {"z": 18, "y": 130, "x": 112}
WARM_FIELD = {"c": 2, "y": 44, "x": 36}


def _image(spark, shape: dict, seed: int) -> NgffImage:
    dims = list(shape)
    return NgffImage(
        data=spark_volume(spark, shape, seed), dims=dims, shape=dict(shape),
        scale={d: 1.0 for d in dims}, translation={d: 0.0 for d in dims},
        dtype="uint16",
    )


def _plate(rows, cols) -> hcs.Plate:
    return hcs.Plate(
        columns=[hcs.PlateColumn(c) for c in cols],
        rows=[hcs.PlateRow(r) for r in rows],
        wells=[hcs.PlateWell(f"{r}/{c}", ri, ci)
               for ri, r in enumerate(rows) for ci, c in enumerate(cols)],
        field_count=1,
    )


def _level_shapes(shape: dict, n: int) -> list[tuple]:
    out = [tuple(shape.values())]
    for _ in range(n - 1):
        out.append(tuple(s // 2 for s in out[-1]))
    return out


class Write(Workload):
    name = "write"
    KINDS = ("convert", "plate_ingest")
    CYCLE_S = 27.0

    def setup(self) -> None:
        fix = self.fresh_fixtures()
        self.plate = _plate(PLATE_ROWS, PLATE_COLS)
        self.plate_path = os.path.join(fix, "plate.ome.zarr")
        hcs.to_hcs_zarr(self.plate, self.plate_path)
        self.n_cycles = 0

    def warm_up(self) -> None:
        """Each write path once on inputs of other shapes but the same
        chunk counts, the paths side by side: this starts the Python
        workers and compiles the plans the rotation uses, so the first
        rotation runs as fast as the later ones."""
        spark = self.spark

        def convert():
            ms = oza.to_multiscales(_image(spark, WARM_CONVERT, self.seed + 1),
                                    scale_factors=SCALE_FACTORS, chunks=CONVERT_CHUNKS)
            oza.to_ngff_zarr(self.path("warm.ome.zarr"), ms)

        def plate():
            plate = _plate(PLATE_ROWS, PLATE_COLS)
            plate_path = self.path("warm-plate.ome.zarr")
            hcs.to_hcs_zarr(plate, plate_path)
            fields = [(*w.path.split("/"), 0,
                       oza.to_multiscales(_image(spark, WARM_FIELD, self.seed + 2 + i),
                                          scale_factors=[], chunks=FIELD_CHUNKS))
                      for i, w in enumerate(plate.wells)]
            hcs.write_hcs_fields(spark, plate_path, fields, plate)
            hcs.from_hcs_zarr(spark, plate_path)["well_images"].select("image_path").collect()

        run_pinned(spark, [convert, plate])
        for p in ("warm.ome.zarr", "warm-plate.ome.zarr"):
            shutil.rmtree(self.path(p))

    def cycle(self) -> None:
        """ROTATIONS conversions and plate batches, alternating: every
        operation is long, so a run needs several to steady its medians."""
        for _ in range(ROTATIONS):
            k = self.n_cycles
            self.n_cycles += 1
            self._convert(k)
            self._plate_ingest(k)

    def _convert(self, k: int) -> None:
        seed = op_seed(self.seed, k)
        out = self.path(f"convert-{k}.ome.zarr")
        shapes = _level_shapes(CONVERT_SHAPE, len(SCALE_FACTORS) + 1)

        # the generator's lazy frame is the input, built before the timer
        img = _image(self.spark, CONVERT_SHAPE, seed)

        def work():
            ms = oza.to_multiscales(img, scale_factors=SCALE_FACTORS, chunks=CONVERT_CHUNKS)
            oza.to_ngff_zarr(out, ms)
            return OpOutput(voxels=int(np.prod(shapes[0])), value=None, stored_paths=[out],
                            stored_voxels=sum(int(np.prod(s)) for s in shapes))

        def check(_):
            expected = numpy_volume(CONVERT_SHAPE, seed)
            if not np.array_equal(decode_array(out, "scale0/image"), expected):
                return False
            for i, shp in enumerate(shapes[1:], start=1):
                lvl = decode_array(out, f"scale{i}/image")
                if lvl.shape != shp or lvl.min() < expected.min() or lvl.max() > expected.max():
                    return False
            return True

        self._run("convert", work, check)
        self.last_convert = out
        # keep the newest store for the traced run's codec pass
        if k > 0:
            shutil.rmtree(self.path(f"convert-{k - 1}.ome.zarr"), ignore_errors=True)

    def _plate_ingest(self, k: int) -> None:
        wells = [w.path.split("/") for w in self.plate.wells]
        seeds = [op_seed(self.seed, 10_000 + k * len(wells) + i) for i in range(len(wells))]
        field_voxels = int(np.prod(list(FIELD_SHAPE.values())))
        # the acquisition's fields are the input: the generator's lazy
        # frames are built before the timer, as a microscope hands them over
        images = [_image(self.spark, FIELD_SHAPE, s) for s in seeds]
        phases.reset()

        def work():
            fields = [
                (r, c, k, oza.to_multiscales(img, scale_factors=[], chunks=FIELD_CHUNKS))
                for (r, c), img in zip(wells, images)
            ]
            hcs.write_hcs_fields(self.spark, self.plate_path, fields, self.plate)
            cat = hcs.from_hcs_zarr(self.spark, self.plate_path)
            paths = [row[0] for row in cat["well_images"].select("image_path").collect()]
            return OpOutput(
                voxels=field_voxels * len(wells), value=paths,
                stored_paths=[os.path.join(self.plate_path, r, c, str(k)) for r, c in wells],
                stored_voxels=field_voxels * len(wells),
            )

        def check(paths):
            want = {f"{r}/{c}/{j}" for r, c in wells for j in range(k + 1)}
            if len(paths) != len(want) or set(paths) != want:
                return False
            return all(
                np.array_equal(decode_array(os.path.join(self.plate_path, r, c, str(k)),
                                            "scale0/image"), numpy_volume(FIELD_SHAPE, s))
                for (r, c), s in zip(wells, seeds)
            )

        op = self._run("plate_ingest", work, check)
        op.extra["phases"] = phases.snapshot()

    def codec_chunks(self):
        from perfbench.tracing import stored_chunks

        return stored_chunks(self.last_convert, "scale0/image")

    def downsample_seconds(self) -> float:
        img = _image(self.spark, CONVERT_SHAPE, op_seed(self.seed, 777777))
        ms = oza.to_multiscales(img, scale_factors=SCALE_FACTORS, chunks=CONVERT_CHUNKS)
        t0 = time.perf_counter()
        for level in ms.images[1:]:
            level.data.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


WORKLOADS = {"roi_read": RoiRead, "write": Write}
