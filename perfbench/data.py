"""Seeded inputs and the numpy oracles the benchmark checks answers against.

Everything here is a pure function of a `numpy.random.Generator`, so one
seed always yields the same volumes, object tables and request streams.
Arrays use the engine's [z, y, x] layout per time sample.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

CUBOID = (512, 512, 16)  # (x, y, z) voxels per cuboid, the engine's tile


def image_volume(rng: np.random.Generator, shape_zyx: tuple[int, int, int]) -> np.ndarray:
    """Dense EM-like uint8 image: a smooth field (coarse random grid,
    block-upsampled and box-blurred) plus per-voxel noise. Every voxel is
    in 1..255, so no voxel is background."""
    nz, ny, nx = shape_zyx
    coarse = rng.uniform(40, 215, size=(nz // 4 + 1, ny // 32 + 1, nx // 32 + 1))
    field = coarse.repeat(4, 0).repeat(32, 1).repeat(32, 2)[:nz, :ny, :nx]
    for axis, k in ((1, 16), (2, 16)):  # separable box blur in y and x
        c = np.cumsum(field, axis=axis)
        shifted = np.roll(c, k, axis=axis)
        idx = [slice(None)] * 3
        idx[axis] = slice(0, k)
        shifted[tuple(idx)] = 0
        field = (c - shifted) / k
    noise = rng.normal(0, 12, size=shape_zyx)
    return np.clip(field + noise, 1, 255).astype(np.uint8)


def paint_ellipsoids(
    out: np.ndarray,
    rng: np.random.Generator,
    ids: np.ndarray,
    radii_xy: tuple[int, int] = (8, 40),
    radii_z: tuple[int, int] = (2, 6),
) -> None:
    """Paint one ellipsoid per id into `out` (in place, later ids win)."""
    nz, ny, nx = out.shape
    for obj in ids:
        rx, ry = rng.integers(radii_xy[0], radii_xy[1] + 1, size=2)
        rz = int(rng.integers(radii_z[0], radii_z[1] + 1))
        cx, cy, cz = int(rng.integers(0, nx)), int(rng.integers(0, ny)), int(rng.integers(0, nz))
        x0, x1 = max(cx - rx, 0), min(cx + rx + 1, nx)
        y0, y1 = max(cy - ry, 0), min(cy + ry + 1, ny)
        z0, z1 = max(cz - rz, 0), min(cz + rz + 1, nz)
        zz, yy, xx = np.ogrid[z0:z1, y0:y1, x0:x1]
        inside = (
            ((xx - cx) / rx) ** 2 + ((yy - cy) / ry) ** 2 + ((zz - cz) / rz) ** 2
        ) <= 1.0
        out[z0:z1, y0:y1, x0:x1][inside] = obj


def label_volume(
    rng: np.random.Generator, shape_zyx: tuple[int, int, int], n_objects: int
) -> np.ndarray:
    """uint32 label volume of `n_objects` seeded ellipsoids (5-10 %
    occupancy at the benchmark's sizes). Ids are distinct and below 2**31,
    so the model fits uint32 while the channel stores uint64."""
    ids = rng.choice(2**31 - 1, size=n_objects, replace=False) + 1
    out = np.zeros(shape_zyx, dtype=np.uint32)
    paint_ellipsoids(out, rng, ids)
    return out


def object_table(labels: np.ndarray) -> pd.DataFrame:
    """id -> tight bounding box (inclusive min/max per axis) of every id
    present in a [z, y, x] label volume."""
    zz, yy, xx = np.nonzero(labels)
    vals = labels[zz, yy, xx]
    order = np.argsort(vals, kind="stable")
    vals, zz, yy, xx = vals[order], zz[order], yy[order], xx[order]
    ids, starts = np.unique(vals, return_index=True)
    table = {"id": ids.astype(np.int64)}
    for name, coord in (("x", xx), ("y", yy), ("z", zz)):
        table[f"{name}_min"] = np.minimum.reduceat(coord, starts).astype(np.int64)
        table[f"{name}_max"] = np.maximum.reduceat(coord, starts).astype(np.int64)
    return pd.DataFrame(table).set_index("id")


def cuboids_of_id(labels: np.ndarray, obj_id: int) -> set[tuple[int, int, int]]:
    """(x_idx, y_idx, z_idx) of every cuboid holding a voxel of `obj_id`."""
    zz, yy, xx = np.nonzero(labels == obj_id)
    cx, cy, cz = CUBOID
    return set(zip((xx // cx).tolist(), (yy // cy).tolist(), (zz // cz).tolist()))


def downsample_labels(level: np.ndarray) -> np.ndarray:
    """2x2 xy getAnnValue reduction (addData.c), including its quirk of
    taking v10 when the running value is still 0 at the v11 step."""
    v00, v01 = level[:, 0::2, 0::2], level[:, 0::2, 1::2]
    v10, v11 = level[:, 1::2, 0::2], level[:, 1::2, 1::2]
    a = np.where(v00 == 0, v01, v00)
    b = np.where(
        (v10 != 0) & (a == 0), v10,
        np.where((v10 != 0) & ((v10 == v00) | (v10 == v01)), v10, a),
    )
    return np.where(
        (v11 != 0) & (b == 0), v10,
        np.where((v11 != 0) & ((v11 == v00) | (v11 == v01) | (v11 == v10)), v11, b),
    )


def pyramid(level0: np.ndarray, levels: int, reduce) -> list[np.ndarray]:
    out = [level0]
    for _ in range(1, levels):
        out.append(reduce(out[-1]))
    return out


def zipf_index(rng: np.random.Generator, n: int, a: float = 1.3) -> int:
    """Zipf-skewed pick in [0, n): rank r is drawn with weight 1/(r+1)**a."""
    w = 1.0 / np.arange(1, n + 1) ** a
    return int(rng.choice(n, p=w / w.sum()))


def write_voxel_file(labels: np.ndarray, path: str, corner=(0, 0, 0)) -> None:
    """The non-zero voxels of a [z, y, x] box at `corner` (x, y, z) as one
    parquet file in the engine's voxel schema (the input of
    `ingest_voxel_files`)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    zz, yy, xx = np.nonzero(labels)
    n = len(zz)
    table = pa.table(
        {
            "lookup_key": pa.array([""] * n, pa.string()),
            "resolution": pa.array(np.zeros(n, np.int32)),
            "t": pa.array(np.zeros(n, np.int64)),
            "x": pa.array(xx.astype(np.int64) + corner[0]),
            "y": pa.array(yy.astype(np.int64) + corner[1]),
            "z": pa.array(zz.astype(np.int64) + corner[2]),
            "value": pa.array(labels[zz, yy, xx].astype(np.int64)),
        }
    )
    pq.write_table(table, path)
