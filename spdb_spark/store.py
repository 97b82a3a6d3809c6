"""CuboidStore: the block-table storage engine (spdb's SpatialDB re-expressed
on Spark + Parquet).

Layout: one parquet table partitioned by (lookup_key, resolution, pgroup),
one row per cuboid per time sample — (t, morton, x_idx, y_idx, z_idx, blob)
with the blob a compressed [z,y,x] ndarray (codec.py). This is the Spark
analog of spdb's S3 object store keyed md5&lookup&res&t&morton
(object.py:338-363); Morton + the idx columns give space-filling locality
and min/max row-group pruning, and `pgroup = morton >> 12` (a 16x16x16
super-block of cuboids) is the physical partition unit: writes read and
rewrite ONLY the super-blocks they touch, so write cost tracks the write,
not the channel size.

Write path parity (spatialdb.py:719-867): input array -> tiles -> merge into
store with non-zero-overwrite (overwriteDense.c), fill-only
(exceptionDense.c) or to_black erase (cube.py:264-291) semantics, then one
staged rewrite of the touched super-block partitions (Spark dynamic
partition overwrite).

Read path parity (spatialdb.py:360-717): box -> covering cuboid range filter
(partition+stats pruning) -> Arrow-batched blob decode -> trim to exact box;
absent cuboids are implicit zeros (zero-suppression, spatialdb.py:571-585).
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence
from urllib.parse import unquote

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spdb_spark.codec import (
    blocks_to_voxels,
    make_merge_voxels_to_blocks,
    make_voxels_to_blocks,
    pack_array,
)
from spdb_spark.constants import CUBOID_X, CUBOID_Y, CUBOID_Z
from spdb_spark.morton import xyz_morton
from spdb_spark.schema import CUBOID_SCHEMA, VOXEL_SCHEMA

# Super-block granularity: morton >> 12 groups 4096 cuboids (a 16^3 grid)
# into one physical partition.
PGROUP_SHIFT = 12

# NOTE: StructType.add mutates in place — build the read schema by copy.
from pyspark.sql.types import IntegerType, StructField, StructType  # noqa: E402

_READ_SCHEMA = StructType(
    list(CUBOID_SCHEMA.fields) + [StructField("pgroup", IntegerType(), True)]
)


def _with_pgroup(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "pgroup", F.shiftright(F.col("morton"), PGROUP_SHIFT).cast("int")
    )


def _list_partition_dirs(root: str) -> dict[tuple[str, int, int], str]:
    """Map (lookup_key, resolution, pgroup) -> partition directory under a
    Hive-layout parquet table root. Values are unescaped the way Spark
    escapes partition path names (%XX, same as URL quoting)."""
    out: dict[tuple[str, int, int], str] = {}
    if not os.path.isdir(root):
        return out
    for lk_dir in os.listdir(root):
        if not lk_dir.startswith("lookup_key="):
            continue
        lk = unquote(lk_dir[len("lookup_key="):])
        lk_path = os.path.join(root, lk_dir)
        for res_dir in os.listdir(lk_path):
            if not res_dir.startswith("resolution="):
                continue
            res = int(res_dir[len("resolution="):])
            res_path = os.path.join(lk_path, res_dir)
            for pg_dir in os.listdir(res_path):
                if not pg_dir.startswith("pgroup="):
                    continue
                pg = int(pg_dir[len("pgroup="):])
                out[(lk, res, pg)] = os.path.join(res_path, pg_dir)
    return out


class OverwritePublisher:
    """Publish staged partitions via Spark dynamic partition overwrite —
    the plain-parquet stand-in for a table-format MERGE commit. Reads the
    already-materialized stage files, never the table being replaced, so a
    mid-write executor recompute can't race the overwrite's deletes."""

    def publish(self, store: "CuboidStore", stage_dir: str) -> None:
        staged = (
            store.spark.read.option("basePath", stage_dir).parquet(stage_dir)
        )
        (
            staged.write.mode("overwrite")
            .partitionBy("lookup_key", "resolution", "pgroup")
            .parquet(store.path)
        )


class CuboidStore:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        datatype: str = "uint8",
        lookup_key: str = "4&3&2",
    ):
        self.spark = spark
        self.path = path
        self.datatype = datatype
        self.lookup_key = lookup_key
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    # -- helpers ------------------------------------------------------------

    def _exists(self) -> bool:
        return os.path.exists(self.path)

    def blocks(
        self, resolution: int = 0, pgroups: Sequence[int] | None = None
    ) -> DataFrame:
        """The block table for one resolution (schema: CUBOID_SCHEMA +
        pgroup). `pgroups` restricts the scan to those partitions (pruned
        at the file-listing level, never read)."""
        if not self._exists():
            return _with_pgroup(self.spark.createDataFrame([], CUBOID_SCHEMA))
        df = (
            self.spark.read.schema(_READ_SCHEMA)
            .option("basePath", self.path)
            .parquet(self.path)
            .where(
                (F.col("lookup_key") == self.lookup_key)
                & (F.col("resolution") == resolution)
            )
        )
        if pgroups is not None:
            df = df.where(F.col("pgroup").isin([int(g) for g in pgroups]))
        return df

    def voxels(self, resolution: int = 0) -> DataFrame:
        """Distributed voxel view (decoded, zero-suppressed)."""
        return self.blocks(resolution).mapInPandas(
            blocks_to_voxels, VOXEL_SCHEMA
        )

    # -- write path ---------------------------------------------------------

    def _array_to_block_rows(
        self,
        data: np.ndarray,
        corner: Sequence[int],
        resolution: int,
        time_sample_start: int,
    ) -> list[tuple]:
        """Tile a [t,z,y,x] (or [z,y,x]) array into padded cuboid rows
        (driver-side numpy slicing — the array already lives on the driver,
        like the reference's write_cuboid input, spatialdb.py:754-788)."""
        if data.ndim == 3:
            data = data[None, ...]
        if data.ndim != 4:
            raise ValueError(f"expected [t,z,y,x] or [z,y,x], got {data.shape}")
        x0, y0, z0 = corner
        nt, nz, ny, nx = data.shape
        rows = []
        xi0, xi1 = x0 // CUBOID_X, (x0 + nx - 1) // CUBOID_X
        yi0, yi1 = y0 // CUBOID_Y, (y0 + ny - 1) // CUBOID_Y
        zi0, zi1 = z0 // CUBOID_Z, (z0 + nz - 1) // CUBOID_Z
        np_dtype = np.dtype(self.datatype)
        for ti in range(nt):
            for zi in range(zi0, zi1 + 1):
                for yi in range(yi0, yi1 + 1):
                    for xi in range(xi0, xi1 + 1):
                        tile = np.zeros((CUBOID_Z, CUBOID_Y, CUBOID_X), dtype=np_dtype)
                        # intersection of the cuboid with the input box
                        gx0 = max(x0, xi * CUBOID_X)
                        gx1 = min(x0 + nx, (xi + 1) * CUBOID_X)
                        gy0 = max(y0, yi * CUBOID_Y)
                        gy1 = min(y0 + ny, (yi + 1) * CUBOID_Y)
                        gz0 = max(z0, zi * CUBOID_Z)
                        gz1 = min(z0 + nz, (zi + 1) * CUBOID_Z)
                        tile[
                            gz0 - zi * CUBOID_Z : gz1 - zi * CUBOID_Z,
                            gy0 - yi * CUBOID_Y : gy1 - yi * CUBOID_Y,
                            gx0 - xi * CUBOID_X : gx1 - xi * CUBOID_X,
                        ] = data[
                            ti, gz0 - z0 : gz1 - z0, gy0 - y0 : gy1 - y0,
                            gx0 - x0 : gx1 - x0,
                        ]
                        rows.append(
                            (
                                self.lookup_key,
                                resolution,
                                time_sample_start + ti,
                                xyz_morton(xi, yi, zi),
                                xi,
                                yi,
                                zi,
                                bytearray(pack_array(tile)),
                            )
                        )
        return rows

    def write_cuboid(
        self,
        data: np.ndarray,
        corner: Sequence[int],
        resolution: int = 0,
        time_sample_start: int = 0,
        mode: str = "overwrite",
    ) -> None:
        """THE write operator (reference: spatialdb.py:719-867). Modes:
        'overwrite' — non-zero input voxels overwrite (overwriteDense.c);
        'exception' — input lands only where store is 0 (exceptionDense.c);
        'to_black'  — store voxels erased where input == 1 (cube.py:264-291);
        'replace'   — whole cuboids replaced (bulk ingest fast path).
        """
        if mode not in ("overwrite", "exception", "to_black", "replace"):
            raise ValueError(f"bad mode {mode!r}")
        rows = self._array_to_block_rows(data, corner, resolution, time_sample_start)
        new_blocks = _with_pgroup(self.spark.createDataFrame(rows, CUBOID_SCHEMA))
        # only the touched super-blocks are read and rewritten
        touched = sorted({r[3] >> PGROUP_SHIFT for r in rows})
        existing = self.blocks(resolution, pgroups=touched)

        if mode == "replace" or not self._exists():
            merged = existing.join(
                new_blocks.select("t", "morton").distinct(),
                on=["t", "morton"],
                how="left_anti",
            ).unionByName(new_blocks)
        else:
            # voxel-level merge only for cuboids present on BOTH sides;
            # everything else passes through block-level (no decode cost).
            keys = new_blocks.select("t", "morton").distinct()
            overlap_old = existing.join(keys, ["t", "morton"], "left_semi")
            rest_old = existing.join(keys, ["t", "morton"], "left_anti")
            old_keys = existing.select("t", "morton").distinct()
            overlap_new = new_blocks.join(old_keys, ["t", "morton"], "left_semi")
            fresh_new = new_blocks.join(old_keys, ["t", "morton"], "left_anti")

            # Fused merge+pack: decode both sides, tag them, and resolve
            # each cuboid in ONE grouped Arrow task that overlays dense
            # arrays with the reference's dense-merge semantics
            # (overwriteDense.c et al.) and packs the result. The prior
            # shape — full-outer join on the voxel key, then a re-block
            # groupBy — exchanged the voxel volume three times; this
            # exchanges it once, keyed by cuboid.
            ov = overlap_old.mapInPandas(blocks_to_voxels, VOXEL_SCHEMA).withColumn(
                "side", F.lit("o")
            )
            nv = overlap_new.mapInPandas(blocks_to_voxels, VOXEL_SCHEMA).withColumn(
                "side", F.lit("n")
            )
            both = ov.unionByName(nv).select(
                F.lit(self.lookup_key).alias("lookup_key"),
                F.lit(resolution).alias("resolution"),
                "t", "x", "y", "z", "value", "side",
                F.floor(F.col("x") / CUBOID_X).cast("int").alias("x_idx"),
                F.floor(F.col("y") / CUBOID_Y).cast("int").alias("y_idx"),
                F.floor(F.col("z") / CUBOID_Z).cast("int").alias("z_idx"),
            )
            kernel = make_merge_voxels_to_blocks(self.datatype, mode)
            merged_overlap = _with_pgroup(
                both.groupBy(
                    "lookup_key", "resolution", "t", "x_idx", "y_idx", "z_idx"
                ).applyInPandas(kernel, CUBOID_SCHEMA)
            )
            if mode == "to_black":
                # fresh cuboids of an erase mask write nothing
                merged = rest_old.unionByName(merged_overlap)
            else:
                merged = rest_old.unionByName(merged_overlap).unionByName(fresh_new)

        self._commit(merged, resolution, touched=touched)

    def _voxels_to_blocks(self, voxels: DataFrame, resolution: int) -> DataFrame:
        kernel = make_voxels_to_blocks(self.datatype)
        with_idx = voxels.select(
            "lookup_key",
            "resolution",
            "t",
            "x",
            "y",
            "z",
            "value",
            F.floor(F.col("x") / CUBOID_X).cast("int").alias("x_idx"),
            F.floor(F.col("y") / CUBOID_Y).cast("int").alias("y_idx"),
            F.floor(F.col("z") / CUBOID_Z).cast("int").alias("z_idx"),
        )
        return with_idx.groupBy(
            "lookup_key", "resolution", "t", "x_idx", "y_idx", "z_idx"
        ).applyInPandas(kernel, CUBOID_SCHEMA)

    def _commit(
        self,
        blocks: DataFrame,
        resolution: int,
        touched: Sequence[int] | None = None,
    ) -> None:
        """Super-block rewrite in two steps: (1) stage `blocks` to a temp
        directory on disk — fully materialized before any table file is
        deleted, so the publish step never recomputes from files it is
        replacing (unlike a cache, whose evicted blocks would); (2) publish
        the staged partitions by dynamic partition overwrite
        (`OverwritePublisher`). `touched` lists the pgroups this write read
        and merged: a touched pgroup with NO surviving rows never appears in
        `blocks`, so the overwrite can't replace it — we delete those
        partition directories explicitly (the stale-erase fix: a to_black
        erase that empties a super-block must actually remove it)."""
        stage_dir = f"{self.path}.stage-{uuid.uuid4().hex[:12]}"
        try:
            (
                blocks.sortWithinPartitions("t", "morton")
                .write.mode("overwrite")
                .partitionBy("lookup_key", "resolution", "pgroup")
                .parquet(stage_dir)
            )
            # pgroups that survived the merge, from the stage listing (no
            # extra Spark job)
            stage_parts = _list_partition_dirs(stage_dir)
            present = {
                pg
                for (lk, res, pg) in stage_parts
                if lk == self.lookup_key and res == resolution
            }
            if stage_parts:  # nothing staged (e.g. erase-all) -> only deletes
                OverwritePublisher().publish(self, stage_dir)
        finally:
            shutil.rmtree(stage_dir, ignore_errors=True)
        if touched:
            table_dirs = _list_partition_dirs(self.path)
            for pg in touched:
                if int(pg) in present:
                    continue
                stale = table_dirs.get((self.lookup_key, resolution, int(pg)))
                if stale is not None:
                    shutil.rmtree(stale, ignore_errors=True)

    def get_cubes(
        self, mortons: Sequence[int], t: int = 0, resolution: int = 0
    ) -> dict[int, np.ndarray]:
        """Fetch specific cuboids by Morton id, decoded and Morton-sorted
        (reference: SpatialDB.get_cubes/sort_cubes, spatialdb.py:120-185).
        Absent cuboids come back as zero cubes (zero-suppression)."""
        from spdb_spark.codec import unpack_array

        wanted = sorted(set(int(m) for m in mortons))
        pgroups = sorted({m >> PGROUP_SHIFT for m in wanted})
        rows = (
            self.blocks(resolution, pgroups=pgroups)
            .where((F.col("t") == t) & (F.col("morton").isin(wanted)))
            .select("morton", "blob")
            .collect()
        )
        out = {int(r.morton): unpack_array(bytes(r.blob)) for r in rows}
        zeros_shape = (CUBOID_Z, CUBOID_Y, CUBOID_X)
        for m in wanted:
            if m not in out:
                out[m] = np.zeros(zeros_shape, dtype=np.dtype(self.datatype))
        return dict(sorted(out.items()))

    # -- maintenance ----------------------------------------------------------

    def compact(self, resolution: int = 0, blocks_per_file: int = 64) -> None:
        """Small-file compaction: rewrite each super-block partition into
        ~ceil(n/blocks_per_file) Morton-ranged files, staged and published
        by `_commit` like any write. Repeated incremental writes fragment
        partitions (one file per write); compaction restores the
        scan-friendly layout (the OPTIMIZE/ZORDER maintenance job of a real
        table format)."""
        blocks = self.blocks(resolution)
        n = blocks.count()
        if n == 0:
            return
        num_files = max(1, -(-n // blocks_per_file))
        self._commit(
            blocks.repartitionByRange(num_files, "pgroup", "morton", "t"),
            resolution,
        )

    # -- resolution hierarchy ------------------------------------------------

    def build_pyramid(
        self,
        num_levels: int,
        channel_type: str = "image",
        method: str = "avg",
        isotropic: bool = False,
    ) -> None:
        """Materialize resolution levels 1..num_levels-1, each from the
        previous (reference: the downsample pipeline over addData.c /
        zoomData.c kernels). Image channels reduce 2x2 xy by average
        (method='avg') or stride pick (method='stride' == zoomOutData);
        annotation channels use the exact getAnnValue reduction. Each level
        is one job writing its own (lookup_key, resolution) partition."""
        from spdb_spark.operators import voxel as V

        for level in range(1, num_levels):
            vox = self.voxels(resolution=level - 1)
            if channel_type == "annotation":
                down = V.downsample_annotation(vox, isotropic=isotropic)
            elif method == "stride":
                down = V.downsample_image_stride(vox, factor=1)
            else:
                down = V.downsample_image_avg(vox, factor=1).withColumn(
                    "value", F.col("value").cast("long")
                )
            down = down.where(F.col("value") != 0).select(
                F.lit(self.lookup_key).alias("lookup_key"),
                F.lit(level).alias("resolution"),
                "t",
                "x",
                "y",
                "z",
                "value",
            )
            blocks = _with_pgroup(self._voxels_to_blocks(down, level))
            # re-runs must drop super-blocks that no longer exist at this
            # level (same stale-partition class as an erasing write)
            prior = {
                pg
                for (lk, res, pg) in _list_partition_dirs(self.path)
                if lk == self.lookup_key and res == level
            }
            self._commit(blocks, level, touched=sorted(prior))

    # -- read path ----------------------------------------------------------

    def _box_pgroups(
        self, corner: Sequence[int], extent: Sequence[int], cap: int = 256
    ) -> list[int] | None:
        """Super-block partitions covering a box, or None when the box is
        large enough that partition pruning stops paying (scan filters
        still prune via x/y/z_idx stats)."""
        (x0, y0, z0), (dx, dy, dz) = corner, extent
        xs = range(x0 // CUBOID_X, (x0 + dx - 1) // CUBOID_X + 1)
        ys = range(y0 // CUBOID_Y, (y0 + dy - 1) // CUBOID_Y + 1)
        zs = range(z0 // CUBOID_Z, (z0 + dz - 1) // CUBOID_Z + 1)
        if len(xs) * len(ys) * len(zs) > 32768:
            return None
        groups = {
            xyz_morton(xi, yi, zi) >> PGROUP_SHIFT
            for xi in xs for yi in ys for zi in zs
        }
        return sorted(groups) if len(groups) <= cap else None

    def cutout_voxels(
        self,
        corner: Sequence[int],
        extent: Sequence[int],
        resolution: int = 0,
        time_sample_range: Sequence[int] | None = None,
        filter_ids: Sequence[int] | None = None,
    ) -> DataFrame:
        """Distributed cutout: pruned block scan -> decode -> exact box trim
        -> optional id filter. Returns the voxel DataFrame (no collect)."""
        (x0, y0, z0), (dx, dy, dz) = corner, extent
        pgroups = self._box_pgroups(corner, extent)
        blocks = self.blocks(resolution, pgroups=pgroups).where(
            (F.col("x_idx") >= x0 // CUBOID_X)
            & (F.col("x_idx") <= (x0 + dx - 1) // CUBOID_X)
            & (F.col("y_idx") >= y0 // CUBOID_Y)
            & (F.col("y_idx") <= (y0 + dy - 1) // CUBOID_Y)
            & (F.col("z_idx") >= z0 // CUBOID_Z)
            & (F.col("z_idx") <= (z0 + dz - 1) // CUBOID_Z)
        )
        if time_sample_range is not None:
            blocks = blocks.where(
                (F.col("t") >= time_sample_range[0])
                & (F.col("t") < time_sample_range[1])
            )
        vox = blocks.mapInPandas(blocks_to_voxels, VOXEL_SCHEMA).where(
            (F.col("x") >= x0) & (F.col("x") < x0 + dx)
            & (F.col("y") >= y0) & (F.col("y") < y0 + dy)
            & (F.col("z") >= z0) & (F.col("z") < z0 + dz)
        )
        if filter_ids is not None:
            vox = vox.where(F.col("value").isin(list(filter_ids)))
        return vox

    def cutout(
        self,
        corner: Sequence[int],
        extent: Sequence[int],
        resolution: int = 0,
        time_sample_range: Sequence[int] | None = None,
        filter_ids: Sequence[int] | None = None,
    ) -> np.ndarray:
        """Dense cutout as a [t,z,y,x] ndarray (driver assembly — the Cube
        return of the reference, zeros for absent voxels)."""
        t0, t1 = time_sample_range or (0, 1)
        vox = self.cutout_voxels(
            corner, extent, resolution, (t0, t1), filter_ids
        ).toPandas()
        (x0, y0, z0), (dx, dy, dz) = corner, extent
        out = np.zeros((t1 - t0, dz, dy, dx), dtype=np.dtype(self.datatype))
        if len(vox):
            out[
                vox["t"].to_numpy() - t0,
                vox["z"].to_numpy() - z0,
                vox["y"].to_numpy() - y0,
                vox["x"].to_numpy() - x0,
            ] = vox["value"].to_numpy().astype(np.dtype(self.datatype))
        return out
