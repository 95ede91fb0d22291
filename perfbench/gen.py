"""Seeded noisy-uint16 volumes with an exact numpy twin.

Each voxel is a smooth ramp plus ten bits of hash noise::

    h = (c*K_C + z*K_Z + y*K_Y + x*K_X + seed*K_S) mod P
    h = (h * M1) mod P;  h = h xor (h >> 11);  h = (h * M2) mod P
    v = RAMP0 + c*RAMP_C + z*RAMP_Z + y*RAMP_Y + x*RAMP_X + (h mod 1024)

Every intermediate stays below 2^53 in signed 64-bit arithmetic, so the
Spark SQL expression and the numpy function agree bit for bit. The noise
makes the data compress like microscopy (gzip stores about 0.8 bytes per
raw byte), unlike a periodic test pattern that compresses 100:1 or more
and hides codec cost.
"""

from __future__ import annotations

import numpy as np

P = 2147483647  # 2^31 - 1
K_C, K_Z, K_Y, K_X, K_S = 7919, 83492791, 19349663, 73856093, 2654435761 % P
M1, M2 = 48271, 69621
RAMP0, RAMP_C, RAMP_Z, RAMP_Y, RAMP_X = 1000, 5000, 17, 5, 3
DIMS = ("c", "z", "y", "x")


def op_seed(seed: int, op: int) -> int:
    """Seed of the op-th generated volume of a run (kept below P)."""
    return (seed * 1000003 + op) % P


def max_value(shape: dict[str, int]) -> int:
    """Largest value the generator can produce for ``shape``; callers keep
    it below 2^16 so the volume fits uint16."""
    s = {d: shape.get(d, 1) for d in DIMS}
    return (
        RAMP0 + (s["c"] - 1) * RAMP_C + (s["z"] - 1) * RAMP_Z
        + (s["y"] - 1) * RAMP_Y + (s["x"] - 1) * RAMP_X + 1023
    )


def numpy_volume(shape: dict[str, int], seed: int) -> np.ndarray:
    """The volume as a uint16 array over the dims of ``shape`` that are in
    (c, z, y, x), in that order."""
    dims = [d for d in DIMS if d in shape]
    coord = dict.fromkeys(DIMS, 0)
    coord.update(zip(dims, np.indices([shape[d] for d in dims], dtype=np.int64)))
    h = (coord["c"] * K_C + coord["z"] * K_Z + coord["y"] * K_Y
         + coord["x"] * K_X + seed * K_S) % P
    h = (h * M1) % P
    h = h ^ (h >> 11)
    h = (h * M2) % P
    v = (RAMP0 + coord["c"] * RAMP_C + coord["z"] * RAMP_Z
         + coord["y"] * RAMP_Y + coord["x"] * RAMP_X + h % 1024)
    return v.astype(np.uint16)


def value_sql(seed: int) -> str:
    """Spark SQL expression of the voxel value over columns c, z, y, x."""
    h = f"((c * {K_C} + z * {K_Z} + y * {K_Y} + x * {K_X} + {seed * K_S}) % {P})"
    h = f"(({h} * {M1}) % {P})"
    h = f"({h} ^ shiftright({h}, 11))"
    h = f"(({h} * {M2}) % {P})"
    ramp = f"({RAMP0} + c * {RAMP_C} + z * {RAMP_Z} + y * {RAMP_Y} + x * {RAMP_X})"
    return f"CAST({ramp} + {h} % 1024 AS DOUBLE)"


def spark_volume(spark, shape: dict[str, int], seed: int):
    """The same volume as a lazy pixel-table DataFrame (t, c, z, y, x, v),
    built from ``spark.range`` with three driver calls."""
    s = {d: shape.get(d, 1) for d in DIMS}
    zyx, yx = s["z"] * s["y"] * s["x"], s["y"] * s["x"]
    return spark.range(s["c"] * zyx).selectExpr(
        "0L AS t",
        f"id div {zyx} AS c",
        f"(id div {yx}) % {s['z']} AS z",
        f"(id div {s['x']}) % {s['y']} AS y",
        f"id % {s['x']} AS x",
    ).selectExpr("t", "c", "z", "y", "x", f"{value_sql(seed)} AS v")
