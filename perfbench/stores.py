"""Driver-side store helpers: write a fixture pyramid through the
library's store layer, decode a stored array back, and count what an
operation left on disk."""

from __future__ import annotations

import itertools
import os

import numpy as np

from ngff_zarr_spark.metadata import group_attributes
from ngff_zarr_spark.model import (
    Axis,
    Dataset,
    Metadata,
    ScaleTransform,
    TranslationTransform,
    dim_axis_type,
)
from ngff_zarr_spark.sources.zarr_store import ZarrArrayMeta, open_store


def downsample2(arr: np.ndarray, spatial: tuple[bool, ...]) -> np.ndarray:
    """2x block mean over the spatial axes (trailing partial blocks
    dropped), rounded back to the input dtype."""
    crop = tuple(slice(0, (s // 2) * 2) if sp else slice(None)
                 for s, sp in zip(arr.shape, spatial))
    out = arr[crop].astype(np.float64)
    for ax, sp in enumerate(spatial):
        if sp:
            out = out.reshape(
                out.shape[:ax] + (out.shape[ax] // 2, 2) + out.shape[ax + 1:]
            ).mean(axis=ax + 1)
    return np.rint(out).astype(arr.dtype)


def write_pyramid(
    path: str,
    level0: np.ndarray,
    dims: list[str],
    chunks: dict[str, int],
    n_levels: int,
    version: str = "0.4",
    compressor: str = "gzip",
    chunks_per_shard: dict[str, int] | None = None,
) -> list[np.ndarray]:
    """Write an OME-Zarr pyramid of ``level0`` and its 2x block-mean
    levels. Returns the level arrays."""
    spatial = tuple(d in ("z", "y", "x") for d in dims)
    levels = [level0]
    for _ in range(n_levels - 1):
        levels.append(downsample2(levels[-1], spatial))
    zarr_format = 3 if version == "0.5" else 2
    meta = Metadata(
        axes=[Axis(name=d, type=dim_axis_type(d)) for d in dims],
        datasets=[
            Dataset(
                path=f"scale{i}/image",
                coordinateTransformations=[
                    ScaleTransform(scale=[float(2 ** i if sp else 1) for sp in spatial]),
                    TranslationTransform(
                        translation=[(2 ** i - 1) / 2 if sp else 0.0 for sp in spatial]
                    ),
                ],
            )
            for i in range(n_levels)
        ],
        name="image",
        version=version,
    )
    store = open_store(path)
    store.write_group("", group_attributes(meta, version), zarr_format)
    for i, arr in enumerate(levels):
        store.write_group(f"scale{i}", {}, zarr_format)
        lvl_chunks = tuple(min(chunks[d], s) for d, s in zip(dims, arr.shape))
        cps = None
        if chunks_per_shard:
            cps = tuple(
                max(1, min(chunks_per_shard.get(d, 1), -(-s // c)))
                for d, s, c in zip(dims, arr.shape, lvl_chunks)
            )
        am = ZarrArrayMeta(
            path=f"scale{i}/image", shape=arr.shape, chunks=lvl_chunks,
            dtype=arr.dtype, compressor=compressor, zarr_format=zarr_format,
            dimension_names=list(dims) if zarr_format == 3 else None,
            chunks_per_shard=cps,
        )
        store.write_array_meta(
            am, attributes=None if zarr_format == 3 else {"_ARRAY_DIMENSIONS": list(dims)}
        )
        shards: dict = {}
        for idx in itertools.product(*(range(g) for g in am.chunk_grid)):
            o, e = am.chunk_origin(idx), am.chunk_extent(idx)
            block = arr[tuple(slice(a, a + b) for a, b in zip(o, e))]
            if cps:
                sidx, inner = am.shard_index_of(idx)
                shards.setdefault(sidx, {})[inner] = block
            else:
                store.write_chunk(am, idx, block)
        for sidx, members in shards.items():
            store.write_shard(am, sidx, members)
    if zarr_format == 2:
        store.consolidate_metadata_v2()
    else:
        store.consolidate_metadata_v3()
    return levels


def decode_array(store_path: str, array_path: str) -> np.ndarray:
    """Decode a whole stored array on the driver."""
    store = open_store(store_path)
    fmt = 3 if store.exists(f"{array_path}/zarr.json") else 2
    am = store.read_array_meta(array_path, fmt)
    out = np.empty(am.shape, dtype=am.dtype)
    for idx in itertools.product(*(range(g) for g in am.chunk_grid)):
        o, e = am.chunk_origin(idx), am.chunk_extent(idx)
        out[tuple(slice(a, a + b) for a, b in zip(o, e))] = store.read_chunk(am, idx)
    return out


def disk_usage(*paths: str) -> tuple[int, int]:
    """(files, bytes) under each path."""
    files = size = 0
    for path in paths:
        for dirpath, _, names in os.walk(path):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size
