"""The benchmark's workloads. Each one draws its inputs and model in
`inputs`, builds its store in `build` (timed as set-up) and issues one
fixed mix of operations per `cycle`; every operation goes through
`Run.op`, which times it, checks its answer against the benchmark's own
model and records the outcome.

Sizes are fixed per workload (`SIZES`); tests pass smaller ones. Every
store fits in the page cache many times over, and the program keeps no
cuboid cache of its own.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from collections import deque
from dataclasses import dataclass, field

import numpy as np

from perfbench import data
from perfbench.data import CUBOID

CX, CY, CZ = CUBOID

SIZES = {
    "cutout_read": {"labels_zyx": (32, 1024, 1024), "objects": 240, "image_zyx": (16, 512, 512)},
    "annotate_write": {"labels_zyx": (32, 1024, 1024), "objects": 300},
}
# The same workloads on one label cuboid, for the benchmark's own tests.
TOY_SIZES = {
    "cutout_read": {"labels_zyx": (16, 512, 512), "objects": 20, "image_zyx": (16, 128, 128)},
    "annotate_write": {"labels_zyx": (16, 512, 512), "objects": 20},
}


@dataclass
class Op:
    cell: str
    kind: str
    ms: float
    ok: bool
    error: str | None = None
    reuse: bool | None = None
    detail: dict = field(default_factory=dict)


class Run:
    """One benchmark run's state: the session, the work directory, the
    recorded ops and, in a traced run, the tracer and Spark probe."""

    def __init__(self, spark, work_dir: str, tracer=None, probe=None):
        self.spark = spark
        self.work_dir = work_dir
        self.tracer = tracer
        self.probe = probe
        self.tracing = False
        self.ops: list[Op] = []
        self._recent: deque = deque(maxlen=8)

    def op(self, cell, kind, fn, check, cuboids=None, **detail):
        """Time `fn()`, then check its result untimed. `check` returns None
        when the answer is right and a description of the fault otherwise.
        A raised exception, a wrong answer or a left-over stage directory
        each mark the op failed. `cuboids` names the cuboids the request
        needs; it feeds the reuse fraction and the pruning ratio."""
        op_id = f"op{len(self.ops)}"
        span = None
        if self.tracing:
            self.probe.begin(op_id)
            span = self.tracer.begin_op(op_id, cell)
        epoch0 = time.time() * 1e3
        t0 = time.perf_counter()
        error, result = None, None
        try:
            result = fn()
        except Exception as exc:  # noqa: BLE001 - a failed op is a counted outcome
            error = f"raised {type(exc).__name__}: {str(exc)[:200]}"
        ms = (time.perf_counter() - t0) * 1e3
        if span is not None:
            self.tracer.end_op(span)
            detail["spark"] = self.probe.end(op_id)
            detail["self_s"] = self.tracer.self_times(op_id)
            detail["op_id"] = op_id
            detail["epoch_ms"] = (epoch0, time.time() * 1e3)
        if error is None:
            try:
                error = check(result)
            except Exception as exc:  # noqa: BLE001 - a crashing check is a wrong answer
                error = f"check raised {type(exc).__name__}: {exc}"
        leftovers = glob.glob(os.path.join(self.work_dir, "**", "*.stage-*"), recursive=True)
        if leftovers:
            error = error or f"left stage directories: {leftovers}"
            for d in leftovers:
                shutil.rmtree(d, ignore_errors=True)
        reuse = None
        if cuboids is not None:
            cuboids = set(cuboids)
            reuse = any(cuboids & seen for seen in self._recent)
            self._recent.append(cuboids)
            detail["needed"] = len(cuboids)
        self.ops.append(Op(cell, kind, ms, error is None, error, reuse, detail))
        return result


def _same(got: np.ndarray, want: np.ndarray) -> str | None:
    if got.shape != want.shape:
        return f"shape {got.shape} != {want.shape}"
    bad = np.count_nonzero(got != want)
    return None if bad == 0 else f"{bad} voxels differ"


def _cuboids(corner, extent, res_tag) -> set:
    (x0, y0, z0), (dx, dy, dz) = corner, extent
    return {
        res_tag + (xi, yi, zi)
        for xi in range(x0 // CX, (x0 + dx - 1) // CX + 1)
        for yi in range(y0 // CY, (y0 + dy - 1) // CY + 1)
        for zi in range(z0 // CZ, (z0 + dz - 1) // CZ + 1)
    }


def _box_in_cuboid(rng, cuboid, extent, shape_zyx):
    """Corner of an `extent` box lying inside one cuboid (clipped to the
    volume)."""
    xi, yi, zi = cuboid
    nz, ny, nx = shape_zyx
    dx, dy, dz = extent
    hi = (min((xi + 1) * CX, nx) - dx, min((yi + 1) * CY, ny) - dy, min((zi + 1) * CZ, nz) - dz)
    lo = (xi * CX, yi * CY, zi * CZ)
    return tuple(int(rng.integers(a, b + 1)) for a, b in zip(lo, hi))


def _zipf_cuboid(rng, order):
    return order[data.zipf_index(rng, len(order))]


def _grid(shape_zyx):
    nz, ny, nx = shape_zyx
    return [
        (xi, yi, zi)
        for zi in range(-(-nz // CZ))
        for yi in range(-(-ny // CY))
        for xi in range(-(-nx // CX))
    ]


def _box(arr, corner, extent):
    (x0, y0, z0), (dx, dy, dz) = corner, extent
    return arr[z0 : z0 + dz, y0 : y0 + dy, x0 : x0 + dx]


def _check_levels(store, levels, first=0):
    """Compare stored levels `first..` of a single-time-sample channel with
    dense model arrays, decoding every stored blob on the driver."""
    from spdb_spark.codec import unpack_array

    for res in range(first, len(levels)):
        want = levels[res]
        dense = np.zeros(want.shape, dtype=want.dtype)
        for r in store.blocks(res).select("x_idx", "y_idx", "z_idx", "blob").collect():
            arr = unpack_array(bytes(r.blob))
            z0, y0, x0 = r.z_idx * CZ, r.y_idx * CY, r.x_idx * CX
            sl = dense[z0 : z0 + CZ, y0 : y0 + CY, x0 : x0 + CX]
            sl[...] = arr[: sl.shape[0], : sl.shape[1], : sl.shape[2]]
        problem = _same(dense, want)
        if problem:
            return f"level {res}: {problem}"
    return None


def store_bytes(root: str) -> int:
    return sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    )


# ---------------------------------------------------------------------------
# cutout_read
# ---------------------------------------------------------------------------


class CutoutRead:
    """Set-up writes the label volume, writes the dense image with
    mode='replace' and builds the label pyramid. The loop is closed, one
    client, read-only: dense image and sparse label cutouts across box
    classes and resolutions, plus id queries."""

    name = "cutout_read"
    setup_reps = 1
    levels = 2

    def __init__(self, sizes):
        self.sizes = sizes

    def inputs(self, rng):
        self.image = data.image_volume(rng, self.sizes["image_zyx"])
        labels = data.label_volume(rng, self.sizes["labels_zyx"], self.sizes["objects"])
        self.label_levels = data.pyramid(labels, self.levels, data.downsample_labels)
        self.objects = data.object_table(labels)
        # Zipf rank order of the cuboids of each channel and level
        self.order = {"img": [tuple(c) for c in rng.permutation(_grid(self.image.shape))]}
        for r, lvl in enumerate(self.label_levels):
            self.order[r] = [tuple(c) for c in rng.permutation(_grid(lvl.shape))]

    def build(self, run, rng, root):
        from spdb_spark.spatialdb import SpatialDB, make_resource

        nz, ny, nx = self.sizes["labels_zyx"]
        self.db = SpatialDB(run.spark, root)
        self.img = make_resource("img", "image", "uint8", levels=1, extent=self.image.shape[::-1])
        self.lab = make_resource("lab", "annotation", "uint64", levels=self.levels, extent=(nx, ny, nz))
        img_store, lab_store = self.db._store(self.img), self.db._store(self.lab)
        labels = self.label_levels[0]
        run.op("write_labels", "write",
               lambda: self.db.write_cuboid(self.lab, (0, 0, 0), 0, labels.astype(np.uint64)),
               lambda _: _check_levels(lab_store, [labels]), user_bytes=labels.size * 8)
        run.op("replace_image", "replace",
               lambda: img_store.write_cuboid(self.image, (0, 0, 0), mode="replace"),
               lambda _: _check_levels(img_store, [self.image]))
        run.op("pyramid_labels", "pyramid", lambda: self.db.downsample(self.lab),
               lambda _: _check_levels(lab_store, self.label_levels, first=1))
        self.store_root = root

    def channels(self):
        return {"image": self.db._store(self.img), "anno": self.db._store(self.lab)}

    def user_bytes(self) -> int:
        return self.image.nbytes + self.label_levels[0].size * 8

    def _cutout(self, run, rng, cell, channel, res, extent, where, filtered=False):
        arr = self.image if channel == "image" else self.label_levels[res]
        if where == "aligned":
            c = _zipf_cuboid(rng, self.order[res if channel == "anno" else "img"])
            corner = (c[0] * CX, c[1] * CY, c[2] * CZ)
            extent = tuple(min(e, s - o) for e, s, o in zip((CX, CY, CZ), arr.shape[::-1], corner))
        elif where == "inside":
            c = _zipf_cuboid(rng, self.order[res if channel == "anno" else "img"])
            corner = _box_in_cuboid(rng, c, extent, arr.shape)
        else:  # spanning: unaligned box crossing every cuboid boundary it can
            extent = tuple(min(e, s - 1) for e, s in zip(extent, arr.shape[::-1]))
            corner = tuple(
                int(rng.integers(1, max(2, s - e))) for e, s in zip(extent, arr.shape[::-1])
            )
        want = _box(arr, corner, extent)
        ids = None
        if filtered:
            present = np.unique(want[want != 0])
            keep = rng.choice(present, size=min(3, len(present)), replace=False) if len(present) else []
            ids = [int(i) for i in keep] + [int(2**31 - 1)]  # plus one absent id
            want = np.where(np.isin(want, ids), want, 0)
        resource = self.img if channel == "image" else self.lab
        dtype = np.uint8 if channel == "image" else np.uint64
        run.op(
            cell,
            f"cutout_{channel}",
            lambda: self.db.cutout(resource, corner, extent, res, filter_ids=ids),
            lambda got: _same(got, want[None].astype(dtype)),
            cuboids=_cuboids(corner, extent, (channel, res)),
            voxels=int(np.count_nonzero(want)),
        )

    def cycle(self, run, rng):
        small = (64, 64, 4)
        self._cutout(run, rng, "image_inside_r0", "image", 0, small, "inside")
        self._cutout(run, rng, "anno_inside_r0_filter", "anno", 0, small, "inside", filtered=True)
        self._cutout(run, rng, "anno_cuboid_r0", "anno", 0, None, "aligned")
        self._cutout(run, rng, "anno_span8_r0", "anno", 0, (CX, CY, CZ), "spanning")
        self._cutout(run, rng, "anno_inside_r1", "anno", 1, small, "inside")
        self._cutout(run, rng, "anno_span_r1_filter", "anno", 1, (256, 256, CZ), "spanning", filtered=True)
        self._id_queries(run, rng)

    def _id_queries(self, run, rng):
        from spdb_spark.morton import xyz_morton
        from spdb_spark.operators import voxel as V

        labels = self.label_levels[0]
        extent = (CX, CY, CZ)
        c = _zipf_cuboid(rng, self.order[0])
        corner = (c[0] * CX, c[1] * CY, c[2] * CZ)
        want_ids = [str(i) for i in np.unique(_box(labels, corner, extent)) if i != 0]
        run.op(
            "ids_in_region_r0",
            "idquery",
            lambda: self.db.get_ids_in_region(self.lab, 0, corner, extent),
            lambda got: None if got == {"ids": want_ids} else f"{len(got['ids'])} ids != {len(want_ids)}",
            cuboids=_cuboids(corner, extent, ("anno", 0)),
        )
        ids = self.objects.index.to_numpy()
        for bb_type in ("loose", "tight"):
            obj = int(ids[data.zipf_index(rng, len(ids))])
            row = self.objects.loc[obj]
            lo = [int(row[f"{a}_min"]) for a in "xyz"]
            hi = [int(row[f"{a}_max"]) for a in "xyz"]
            if bb_type == "loose":
                lo = [(v // c) * c for v, c in zip(lo, CUBOID)]
                hi = [(v // c + 1) * c - 1 for v, c in zip(hi, CUBOID)]
            want = {
                "x_range": [lo[0], hi[0] + 1], "y_range": [lo[1], hi[1] + 1],
                "z_range": [lo[2], hi[2] + 1], "t_range": [0, 1],
            }
            cubs = {("anno", 0) + c for c in data.cuboids_of_id(labels, obj)}
            run.op(
                f"bbox_{bb_type}_r0",
                "idquery",
                lambda obj=obj, bb_type=bb_type: self.db.get_bounding_box(self.lab, 0, obj, bb_type),
                lambda got, want=want: None if got == want else f"{got} != {want}",
                cuboids=cubs,
            )
        obj = int(ids[data.zipf_index(rng, len(ids))])
        want_m = sorted(xyz_morton(*c) for c in data.cuboids_of_id(labels, obj))
        store = self.db._store(self.lab)
        run.op(
            "cuboids_with_id_r0",
            "idquery",
            lambda: sorted(r.morton for r in V.cuboids_containing_id(store.voxels(0), obj).collect()),
            lambda got: None if got == want_m else f"{got} != {want_m}",
            cuboids={("anno", 0) + c for c in data.cuboids_of_id(labels, obj)},
        )


# ---------------------------------------------------------------------------
# annotate_write
# ---------------------------------------------------------------------------


class AnnotateWrite:
    """Closed loop, one client: painted label writes (overwrite, exception
    and to_black merges, and a voxel-file ingest), each followed by a
    cutout of the written box."""

    name = "annotate_write"
    setup_reps = 1
    # (mode, landing, extent, spans) of the four writes in one cycle. Three
    # merge into stored labels (overwrite, exception, to_black); one
    # bulk-ingests a painted box from a voxel file into an empty cuboid
    # (the fresh path). Each write's box has a fixed size and crosses a
    # fixed number of cuboid boundaries, so seeds move where it lands and
    # what it paints but not how many cuboids it touches.
    MIX = [
        ("overwrite", "stored", (256, 256, 16), True),
        ("ingest", "empty", (256, 256, 16), False),
        ("exception", "stored", (192, 192, 12), False),
        ("to_black", "stored", (128, 128, 8), False),
    ]

    def __init__(self, sizes):
        self.sizes = sizes
        self.written_bytes = 0

    def inputs(self, rng):
        nz, ny, nx = self.sizes["labels_zyx"]
        labels = data.label_volume(rng, (nz, ny, nx), self.sizes["objects"])
        # model spans twice the labelled width: x >= nx starts empty
        self.model = np.zeros((nz, ny, 2 * nx), dtype=np.uint32)
        self.model[:, :, :nx] = labels
        self.empty = [c for c in _grid(self.model.shape) if c[0] * CX >= nx]
        self.stored = [tuple(c) for c in rng.permutation([c for c in _grid(labels.shape)])]
        self.next_id = 2**31

    def build(self, run, rng, root):
        from spdb_spark.spatialdb import SpatialDB, make_resource
        from spdb_spark.store import CuboidStore

        nz, ny, nx = self.sizes["labels_zyx"]
        self.db = SpatialDB(run.spark, root)
        self.lab = make_resource("lab", "annotation", "uint64", levels=1, extent=(2 * nx, ny, nz))
        key = self.lab.lookup_key
        self.store = CuboidStore(
            run.spark, os.path.join(root, key.replace("&", "_")), datatype="uint64", lookup_key=key
        )
        labels = self.model[:, :, :nx]
        run.op("write_labels", "write",
               lambda: self.db.write_cuboid(self.lab, (0, 0, 0), 0, labels.astype(np.uint64)),
               lambda _: _check_levels(self.store, [labels]), user_bytes=labels.size * 8)
        # one painted overwrite merged into the stored labels, so the
        # merge path's first-use cost lands in set-up, not in the loop
        self._write(run, rng, *self.MIX[0], prefix="setup_")
        self.store_root = root

    def channels(self):
        return {"anno": self.store}

    def user_bytes(self) -> int:
        nz, ny, nx = self.sizes["labels_zyx"]
        return nz * ny * nx * 8 + self.written_bytes

    def _paint(self, rng, extent, mode):
        dx, dy, dz = extent
        box = np.zeros((dz, dy, dx), dtype=np.uint32)
        if mode == "to_black":
            data.paint_ellipsoids(box, rng, np.array([1]), (dx // 4, dx // 2), (dz // 4, dz // 2))
            return box
        ids = np.arange(self.next_id, self.next_id + 3)
        self.next_id += 3
        data.paint_ellipsoids(box, rng, ids, (dx // 8, dx // 3), (2, max(2, dz // 3)))
        return box

    def cycle(self, run, rng):
        for write in self.MIX:
            self._write(run, rng, *write)

    def _write(self, run, rng, mode, landing, extent, spans, prefix=""):
        """One painted write, then the cutout that reads its box back."""
        from spdb_spark.sources import volumetric

        dx, dy, dz = extent
        if landing == "empty" and self.empty:
            corner = _box_in_cuboid(rng, self.empty.pop(0), extent, self.model.shape)
            self.written_bytes += dx * dy * dz * 8
        else:
            xi, yi, zi = _zipf_cuboid(rng, self.stored)
            corner = _box_in_cuboid(rng, (xi, yi, zi), extent, self.model.shape)
            if spans:  # straddle the cuboid's x boundary (to the left, or right at x=0)
                x0 = xi * CX - dx // 2 if xi > 0 else CX - dx // 2
                corner = (x0,) + corner[1:]
        paint = self._paint(rng, extent, mode)
        cubs = _cuboids(corner, extent, ("anno", 0))
        region = _box(self.model, corner, extent)
        if mode == "ingest":  # whole cuboids are replaced
            for _, _, xi, yi, zi in cubs:
                self.model[zi * CZ : (zi + 1) * CZ, yi * CY : (yi + 1) * CY, xi * CX : (xi + 1) * CX] = 0
            region[...] = paint
        elif mode == "overwrite":
            region[...] = np.where(paint != 0, paint, region)
        elif mode == "exception":
            region[...] = np.where(region != 0, region, paint)
        else:
            region[paint == 1] = 0

        arr = paint.astype(np.uint64)
        if mode == "ingest":
            path = os.path.join(run.work_dir, f"paint{len(run.ops)}.parquet")
            data.write_voxel_file(paint, path, corner)
            fn = lambda: volumetric.ingest_voxel_files(self.store, path)  # noqa: E731
        elif mode == "exception":
            fn = lambda: self.store.write_cuboid(arr, corner, 0, mode="exception")  # noqa: E731
        else:
            fn = lambda: self.db.write_cuboid(  # noqa: E731
                self.lab, corner, 0, arr, to_black=(mode == "to_black")
            )
        kind = "ingest" if mode == "ingest" else "write"
        run.op(f"{prefix}write_{mode}_{landing}", kind, fn, lambda _: None,
               cuboids=cubs, user_bytes=arr.nbytes)
        want = region.astype(np.uint64)[None]
        run.op(
            f"{prefix}readback_{mode}_{landing}",
            "cutout_anno",
            lambda: self.db.cutout(self.lab, corner, extent, 0),
            lambda got: _same(got, want),
            cuboids=cubs,
            voxels=int(np.count_nonzero(want)),
        )


WORKLOADS = {w.name: w for w in (CutoutRead, AnnotateWrite)}
