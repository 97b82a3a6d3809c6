"""Structured Streaming ingest: the Spark-native replacement for the
reference's write-buffer -> SQS -> Lambda flush pipeline (SURVEY.md §2.8;
kvio.py:84-109, object.py:729-763, state.py:219-330).

Incoming voxel batches (file/Kafka/rate source) land in micro-batches;
each batch applies the same non-zero-overwrite merge as write_cuboid with
latest-write-wins ordering INSIDE the batch (the reference serializes
concurrent writes via its page-out set + delayed-write queue — here a
row_number over a monotonic sequence column does it declaratively), then
commits atomically. Readers always see a consistent snapshot (the
dirty-key read barrier, rediskvio.py:260-286, is obviated).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

VOXEL_KEY = ["lookup_key", "resolution", "t", "x", "y", "z"]


def latest_wins(batch: DataFrame, seq_col: str = "seq") -> DataFrame:
    """Collapse a micro-batch to one row per voxel, keeping the highest
    sequence number (arrival order) — in-batch write serialization."""
    w = Window.partitionBy(*VOXEL_KEY).orderBy(F.desc(seq_col))
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", seq_col)
    )


def merge_batch(existing: DataFrame, batch: DataFrame, seq_col: str = "seq") -> DataFrame:
    """Non-zero-overwrite merge of a deduplicated micro-batch into the
    stored voxel state (same semantics as operators.voxel.overwrite_merge,
    but keyed by the full voxel key incl. lookup_key/resolution).

    Single-shuffle union-aggregate form (see voxel.overwrite_merge_union):
    the full-outer join exchanged the pruned state AND the batch and then
    merge-sorted both; the tag-union groupBy exchanges the union once
    with map-side partials. Both inputs are keyed (state is unique per
    key; latest_wins dedups the batch), so MAX per side is the identity
    and the output is unchanged (stream==batch tests pin it)."""
    b = latest_wins(batch, seq_col)
    o = existing.select(
        *VOXEL_KEY,
        F.col("value").alias("o_val"),
        F.lit(None).cast("long").alias("n_val"),
    )
    n = b.select(
        *VOXEL_KEY,
        F.lit(None).cast("long").alias("o_val"),
        F.col("value").alias("n_val"),
    )
    return (
        o.unionByName(n)
        .groupBy(*VOXEL_KEY)
        .agg(F.max("o_val").alias("o_val"), F.max("n_val").alias("n_val"))
        .select(
            *VOXEL_KEY,
            F.coalesce(
                F.nullif(F.col("n_val"), F.lit(0)), F.col("o_val"), F.lit(0)
            ).alias("value"),
        )
        .where(F.col("value") != 0)
    )


def _pgroup_col():
    """Partition column for the streaming voxel state: the pgroup of the
    cuboid containing the voxel (same 16x16x16-cuboid super-block grouping
    as CuboidStore, store.py PGROUP_SHIFT)."""
    from spdb_spark.constants import CUBOID_X, CUBOID_Y, CUBOID_Z
    from spdb_spark.morton import morton_encode
    from spdb_spark.store import PGROUP_SHIFT

    m = morton_encode(
        F.floor(F.col("x") / CUBOID_X),
        F.floor(F.col("y") / CUBOID_Y),
        F.floor(F.col("z") / CUBOID_Z),
    )
    return F.shiftright(m, PGROUP_SHIFT).cast("int")


class StreamingVoxelIngest:
    """foreachBatch sink maintaining a voxel table under `table_path`,
    Hive-partitioned by (lookup_key, resolution, pgroup).

    Each micro-batch merges ONLY into the super-block partitions it
    touches: the batch's distinct partition keys are collected (one tiny
    job over the batch, not the table), the state read is pruned to those
    partitions, and the merged result is staged to disk and then swapped
    in per-partition — untouched partitions are never read or rewritten,
    so per-batch cost is O(batch + touched partitions), not O(table).
    The stage step fully materializes before any table file is deleted,
    and the swap moves the old partition ASIDE (rename into a trash dir
    outside the table root) before renaming the staged one in, so no step
    ever deletes the only copy: a crash mid-publish leaves the old data
    in the trash dir, and the recovery pass at the next batch start (or
    `recover()`) restores it before merging — the redelivered batch then
    produces the correct merge. Single writer, and readers should not
    list the table DURING a publish (a partition is briefly absent
    mid-swap); for concurrent readers / multi-writer use
    TransactionalVoxelIngest, whose manifest commit never unpublishes a
    file. With Delta/Iceberg this whole method is `MERGE INTO`; the
    streaming topology (readStream -> transform -> writeStream/
    foreachBatch) is identical either way.
    """

    PART_COLS = ("lookup_key", "resolution", "pgroup")

    def __init__(self, spark, table_path: str):
        self.spark = spark
        self.table_path = table_path
        self._version = 0

    def read_state(self) -> DataFrame:
        from spdb_spark.schema import VOXEL_SCHEMA
        from spdb_spark.store import _list_partition_dirs

        # guard on partition dirs, not the root: a table whose partitions
        # were all dropped still has a root dir, and reading it would fail
        # schema inference
        if not _list_partition_dirs(self.table_path):
            return self.spark.createDataFrame([], VOXEL_SCHEMA)
        return self.spark.read.parquet(self.table_path).select(
            *VOXEL_SCHEMA.fieldNames()
        )

    def _read_partitions(self, keys) -> DataFrame:
        """State rows from exactly the given (lookup_key, resolution,
        pgroup) partitions — pruned at file-listing time by the filters on
        the Hive partition columns."""
        from spdb_spark.schema import VOXEL_SCHEMA
        from spdb_spark.store import _list_partition_dirs

        if not keys or not _list_partition_dirs(self.table_path):
            return self.spark.createDataFrame([], VOXEL_SCHEMA)
        df = self.spark.read.parquet(self.table_path)
        # exact OR-of-conjunctions, not a per-column isin cross product —
        # a batch spanning channels would otherwise read (and re-merge)
        # partitions it never touched
        from functools import reduce

        cond = reduce(
            lambda a, b: a | b,
            [
                (F.col("lookup_key") == lk)
                & (F.col("resolution") == res)
                & (F.col("pgroup") == pg)
                for lk, res, pg in keys
            ],
        )
        return df.where(cond).select(*VOXEL_SCHEMA.fieldNames())

    def recover(self) -> None:
        """Restore partitions from any interrupted publish. A trash entry
        whose table leaf is missing means the crash hit between the
        move-aside and the swap — the trash copy is the only one; put it
        back. A trash entry whose leaf exists means the swap completed —
        the trash copy is the superseded version; drop it."""
        import glob
        import os
        import shutil

        from spdb_spark.store import _list_partition_dirs

        for trash_root in glob.glob(f"{self.table_path}.trash-*"):
            table_dirs = _list_partition_dirs(self.table_path)
            for key, src in _list_partition_dirs(trash_root).items():
                if key not in table_dirs:
                    dest = os.path.join(
                        self.table_path, os.path.relpath(src, trash_root)
                    )
                    os.makedirs(os.path.dirname(dest), exist_ok=True)
                    os.rename(src, dest)
            shutil.rmtree(trash_root, ignore_errors=True)

    def _prune_empty_parents(self, leaf_dir: str) -> None:
        """Remove now-empty lookup_key=/resolution= parents after a leaf
        drop, so an emptied table doesn't accumulate husk directories
        (and rmdir never touches a non-empty dir, so this is safe)."""
        import os

        p = os.path.dirname(leaf_dir)
        root = os.path.abspath(self.table_path)
        while os.path.abspath(p) != root:
            try:
                os.rmdir(p)
            except OSError:
                break
            p = os.path.dirname(p)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        import os
        import shutil
        import uuid

        from spdb_spark.store import _list_partition_dirs

        self.recover()
        touched = [
            (r.lookup_key, int(r.resolution), int(r.pgroup))
            for r in batch.withColumn("pgroup", _pgroup_col())
            .select(*self.PART_COLS)
            .distinct()
            .collect()
        ]
        if not touched:
            self._version += 1
            return
        merged = merge_batch(self._read_partitions(touched), batch)
        merged = merged.withColumn("pgroup", _pgroup_col())

        token = uuid.uuid4().hex[:12]
        stage_dir = f"{self.table_path}.stage-{token}"
        trash_dir = f"{self.table_path}.trash-{token}"
        try:
            (
                merged.sortWithinPartitions("t", "z", "y", "x")
                .write.mode("overwrite")
                .partitionBy(*self.PART_COLS)
                .parquet(stage_dir)
            )
            staged = _list_partition_dirs(stage_dir)
            table_dirs = _list_partition_dirs(self.table_path)

            def _move_aside(dest: str) -> None:
                # rename (never delete) the current copy: until the batch
                # fully publishes, every partition version stays on disk
                aside = os.path.join(
                    trash_dir, os.path.relpath(dest, self.table_path)
                )
                os.makedirs(os.path.dirname(aside), exist_ok=True)
                os.rename(dest, aside)

            for key in touched:
                src = staged.get(key)
                dest = table_dirs.get(key)
                if src is None:
                    # merge left no rows in a touched partition: drop it
                    if dest is not None:
                        _move_aside(dest)
                        self._prune_empty_parents(dest)
                    continue
                if dest is None:
                    dest = os.path.join(
                        self.table_path, os.path.relpath(src, stage_dir)
                    )
                elif os.path.isdir(dest):
                    _move_aside(dest)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.rename(src, dest)
            shutil.rmtree(trash_dir, ignore_errors=True)
        finally:
            shutil.rmtree(stage_dir, ignore_errors=True)
        self._version += 1

    def start(self, stream: DataFrame, checkpoint: str, **trigger_kwargs):
        """Attach to a streaming DataFrame of voxel rows + seq column."""
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("update")
            .trigger(**(trigger_kwargs or {"availableNow": True}))
            .start()
        )


class TransactionalVoxelIngest(StreamingVoxelIngest):
    """Exactly-once foreachBatch sink: manifest-versioned snapshots + a
    batch-id commit ledger, with per-batch work scoped to touched
    partitions.

    foreachBatch is at-least-once — after a crash between the sink write
    and the checkpoint commit, Spark redelivers the same (batch, batch_id).
    Exactly-once therefore needs the sink to be (a) atomic per batch and
    (b) idempotent on batch_id. Here:

    - each batch writes ONLY its touched (lookup_key, resolution, pgroup)
      partitions into its own immutable directory `data_v{batch_id}`,
    - the commit is a MANIFEST (ledger file, atomic POSIX rename) mapping
      every live partition to the version directory that owns it —
      untouched partitions carry their old pointers forward, so per-batch
      I/O is O(batch + touched partitions), never O(table),
    - readers resolve a manifest and union the referenced directories,
      each pruned to the partitions it owns at that version,
    - a redelivered batch_id is found in the ledger and skipped.

    This is the transaction-log pattern Delta/Iceberg implement for real
    object stores (MERGE INTO + idempotent txn version: new files per
    commit, a log entry that maps the table to file sets); the interface
    is identical, so swapping the storage layer changes no streaming
    topology. Old manifests stay readable (time travel) until `vacuum`.
    """

    def __init__(self, spark, table_path: str):
        super().__init__(spark, table_path)
        import os

        self._log_dir = os.path.join(table_path, "_txn_log")
        os.makedirs(self._log_dir, exist_ok=True)

    def _committed(self) -> list[int]:
        """Committed table VERSIONS (manifest numbers — these track batch
        ids 1:1 for a pure stream, but maintenance commits like compact()
        take versions of their own, so idempotency checks use the
        batch_id recorded INSIDE each manifest, never the filename)."""
        import os

        return sorted(
            int(f[:-5])
            for f in os.listdir(self._log_dir)
            if f.endswith(".json")
        )

    def _seen_batch_ids(self) -> set:
        return {
            bid
            for v in self._committed()
            if (bid := self._manifest_full(v).get("batch_id")) is not None
        }

    def _data_dir(self, version: int) -> str:
        import os

        return os.path.join(self.table_path, f"data_v{version}")

    @staticmethod
    def _key_str(key) -> str:
        lk, res, pg = key
        return f"{lk}|{res}|{pg}"

    @staticmethod
    def _key_tuple(s: str):
        lk, res, pg = s.rsplit("|", 2)
        return (lk, int(res), int(pg))

    def _manifest_full(self, version: int) -> dict:
        import json
        import os

        with open(os.path.join(self._log_dir, f"{version}.json")) as f:
            return json.load(f)

    def _manifest(self, version: int) -> dict[str, str]:
        """partition-key string -> data dir name owning it, at `version`."""
        return self._manifest_full(version)["partitions"]

    def _index_manifest(self, version: int) -> dict[str, str]:
        """partition-key string -> id-index dir name owning it (empty for
        manifests written before index maintenance existed)."""
        return self._manifest_full(version).get("index_partitions", {})

    def _read_manifest(self, partitions: dict[str, str], keys=None, schema=None) -> DataFrame:
        """Union the referenced version dirs, each pruned to the
        partitions it owns (restricted further to `keys` if given)."""
        import os
        from functools import reduce

        from spdb_spark.schema import VOXEL_SCHEMA

        schema = schema or VOXEL_SCHEMA
        wanted = {
            k: d
            for k, d in partitions.items()
            if keys is None or self._key_tuple(k) in keys
        }
        by_dir: dict[str, list] = {}
        for k, d in wanted.items():
            by_dir.setdefault(d, []).append(self._key_tuple(k))
        parts = []
        for d, owned in by_dir.items():
            df = self.spark.read.parquet(os.path.join(self.table_path, d))
            cond = reduce(
                lambda a, b: a | b,
                [
                    (F.col("lookup_key") == lk)
                    & (F.col("resolution") == res)
                    & (F.col("pgroup") == pg)
                    for lk, res, pg in owned
                ],
            )
            parts.append(df.where(cond).select(*schema.fieldNames()))
        if not parts:
            return self.spark.createDataFrame([], schema)
        return reduce(lambda a, b: a.unionByName(b), parts)

    def _resolve_version(self, version: int | None) -> int | None:
        committed = self._committed()
        if version is not None:
            if version not in committed:
                raise ValueError(f"version {version} not committed: {committed}")
            return version
        return committed[-1] if committed else None

    def read_state(self, version: int | None = None) -> DataFrame:
        from spdb_spark.schema import VOXEL_SCHEMA

        version = self._resolve_version(version)
        if version is None:
            return self.spark.createDataFrame([], VOXEL_SCHEMA)
        return self._read_manifest(self._manifest(version))

    def read_id_index(self, version: int | None = None) -> DataFrame:
        """The maintained (cuboid morton -> annotation id) index at
        `version` — kept in lockstep with the data by process_batch
        (reference updates its id index on every cuboid write,
        object_indices.py:730-769); never recomputed from the full table."""
        from spdb_spark.schema import ID_INDEX_SCHEMA

        version = self._resolve_version(version)
        if version is None:
            return self.spark.createDataFrame([], ID_INDEX_SCHEMA)
        return self._read_manifest(
            self._index_manifest(version), schema=ID_INDEX_SCHEMA
        )

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        import json
        import os

        from spdb_spark.commit import write_atomic
        from spdb_spark.store import _list_partition_dirs

        committed = self._committed()
        if batch_id in self._seen_batch_ids():
            return  # redelivered batch: already durable, skip
        version = committed[-1] + 1 if committed else 0
        prev = self._manifest(committed[-1]) if committed else {}
        prev_idx = self._index_manifest(committed[-1]) if committed else {}
        touched = {
            (r.lookup_key, int(r.resolution), int(r.pgroup))
            for r in batch.withColumn("pgroup", _pgroup_col())
            .select(*self.PART_COLS)
            .distinct()
            .collect()
        }
        new_parts = dict(prev)
        new_idx = dict(prev_idx)
        if touched:
            merged = merge_batch(self._read_manifest(prev, keys=touched), batch)
            dir_name = f"data_v{version}"
            (
                merged.withColumn("pgroup", _pgroup_col())
                .sortWithinPartitions("t", "z", "y", "x")
                .write.mode("overwrite")
                .partitionBy(*self.PART_COLS)
                .parquet(self._data_dir(version))
            )
            staged = set(_list_partition_dirs(self._data_dir(version)))
            # Incremental id-index maintenance (reference posture: the id
            # index updates on every cuboid write, object_indices.py:730-769).
            # Rebuilt from the just-written TOUCHED partitions only — exact
            # under overwrites/shaves (an append-only index couldn't retract
            # ids) and O(touched), never O(table).
            staged_idx: set = set()
            idx_dir_name = f"index_v{version}"
            if staged:
                from spdb_spark.operators.voxel import with_cuboid_coords

                data = self.spark.read.parquet(self._data_dir(version))
                idx = (
                    with_cuboid_coords(data)
                    .where(F.col("value") != 0)
                    .select(
                        "lookup_key",
                        F.col("resolution").cast("int").alias("resolution"),
                        F.col("pgroup").cast("int").alias("pgroup"),
                        "morton",
                        F.col("value").alias("id"),
                    )
                    .distinct()
                )
                (
                    idx.sortWithinPartitions("morton", "id")
                    .write.mode("overwrite")
                    .partitionBy(*self.PART_COLS)
                    .parquet(os.path.join(self.table_path, idx_dir_name))
                )
                staged_idx = set(
                    _list_partition_dirs(os.path.join(self.table_path, idx_dir_name))
                )
            for key in touched:
                ks = self._key_str(key)
                if key in staged:
                    new_parts[ks] = dir_name
                else:
                    new_parts.pop(ks, None)  # merge left the partition empty
                if key in staged_idx:
                    new_idx[ks] = idx_dir_name
                else:
                    new_idx.pop(ks, None)
        # atomic commit: the manifest rename is the transaction boundary
        write_atomic(
            os.path.join(self._log_dir, f"{version}.json"),
            json.dumps(
                {
                    "batch_id": batch_id,
                    "partitions": new_parts,
                    "index_partitions": new_idx,
                }
            ),
        )
        self._version = version

    def compact(self) -> None:
        """Table maintenance (Delta OPTIMIZE analogue): rewrite every live
        partition into ONE new version directory and commit a manifest
        pointing all partitions at it. Long-running tables accumulate
        manifest fan-in (each read unions every version dir that still
        owns a partition); compaction collapses that to a single pruned
        scan. O(live table) — run it on maintenance cadence, amortized
        against every subsequent read. Readers are never disturbed: the
        rewrite lands in a fresh immutable dir and the manifest rename is
        the only visible transition; old versions stay time-travelable
        until `vacuum`."""
        import json
        import os

        from spdb_spark.commit import write_atomic
        from spdb_spark.store import _list_partition_dirs

        committed = self._committed()
        if not committed:
            return
        version = committed[-1]
        prev = self._manifest(version)
        prev_idx = self._index_manifest(version)
        next_id = version + 1
        new_parts = {}
        if prev:
            dir_name = f"data_v{next_id}"
            (
                self._read_manifest(prev)
                .withColumn("pgroup", _pgroup_col())
                .sortWithinPartitions("t", "z", "y", "x")
                .write.mode("overwrite")
                .partitionBy(*self.PART_COLS)
                .parquet(self._data_dir(next_id))
            )
            staged = set(_list_partition_dirs(self._data_dir(next_id)))
            new_parts = {self._key_str(k): dir_name for k in staged}
        new_idx = {}
        if prev_idx:
            from spdb_spark.schema import ID_INDEX_SCHEMA

            idx_dir_name = f"index_v{next_id}"
            (
                self._read_manifest(prev_idx, schema=ID_INDEX_SCHEMA)
                .sortWithinPartitions("morton", "id")
                .write.mode("overwrite")
                .partitionBy(*self.PART_COLS)
                .parquet(os.path.join(self.table_path, idx_dir_name))
            )
            staged_idx = set(
                _list_partition_dirs(os.path.join(self.table_path, idx_dir_name))
            )
            new_idx = {self._key_str(k): idx_dir_name for k in staged_idx}
        write_atomic(
            os.path.join(self._log_dir, f"{next_id}.json"),
            json.dumps(
                {
                    # maintenance commit: no batch_id, so a FUTURE stream
                    # batch with this number is never mistaken for a replay
                    "batch_id": None,
                    "partitions": new_parts,
                    "index_partitions": new_idx,
                    "compacted": True,
                }
            ),
        )
        self._version = next_id

    def vacuum(self, keep_last: int = 2) -> None:
        """Drop manifests older than the last `keep_last` versions, then
        delete data directories no kept manifest references."""
        import os
        import shutil

        committed = self._committed()
        drop = committed[:-keep_last] if keep_last else committed
        keep = [v for v in committed if v not in drop]
        for bid in drop:
            os.remove(os.path.join(self._log_dir, f"{bid}.json"))
        live = {d for v in keep for d in self._manifest(v).values()}
        live |= {d for v in keep for d in self._index_manifest(v).values()}
        for name in os.listdir(self.table_path):
            if name.startswith(("data_v", "index_v")) and name not in live:
                shutil.rmtree(
                    os.path.join(self.table_path, name), ignore_errors=True
                )
