"""Shared exactly-once batch-ledger layout for foreachBatch sinks, plus
small-file compaction.

Layout under `base_path` (used by StreamingNearDup and
StreamingParagraphDedup):

  {sub}/b{N}      batch N's slice of state table `sub`
  {sub}/g{G}      generation-G compacted snapshot of `sub` (all batches
                  <= the recorded watermark collapsed into one dir)
  _log/N.json     commit marker for batch N (atomic rename, written last)
  _compact.json   {"watermark": W, "gen": G}: read {sub}/g{G} plus
                  {sub}/b{N} for N > W (atomic rename, written last)

Exactly-once: a redelivered batch either finds its marker (skip) or
overwrites its own partial b{N} dirs and re-commits — the marker rename
is the linearization point. Compaction has the same shape: g{G} dirs are
fully written before _compact.json swings to them, so a crash mid-compact
leaves unreferenced g-dirs that the next compact/vacuum overwrites or
removes; readers never see a half state.

Why compaction matters at 100 TB: thousands of micro-batches mean
thousands of small parquet files per state table; every index probe then
pays file-listing + footer reads proportional to batch COUNT, not state
size. `compact()` collapses the committed prefix into one dir per table
(the OPTIMIZE analogue — under Delta/Iceberg these per-batch dirs are
ACID appends and compaction is the table format's own OPTIMIZE).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame

from spdb_spark.commit import write_atomic


class BatchLedgerSink:
    """Base for foreachBatch sinks with per-batch dirs + atomic ledger.

    Subclasses declare `STATE_TABLES: dict[str, str]` (sub-dir -> DDL
    schema) and read accumulated state via `_read_state`.
    """

    STATE_TABLES: dict[str, str] = {}

    def __init__(self, spark, base_path: str):
        self.spark = spark
        self.base_path = base_path
        self._log_dir = os.path.join(base_path, "_log")
        os.makedirs(self._log_dir, exist_ok=True)

    # -- ledger ------------------------------------------------------------

    def _committed(self) -> list[int]:
        return sorted(
            int(f[: -len(".json")])
            for f in os.listdir(self._log_dir)
            if f.endswith(".json")
        )

    def _dir(self, sub: str, batch_id: int) -> str:
        return os.path.join(self.base_path, sub, f"b{batch_id}")

    def _commit(self, batch_id: int) -> None:
        write_atomic(
            os.path.join(self._log_dir, f"{batch_id}.json"),
            json.dumps({"batch_id": batch_id}),
        )

    def _pin_params(self, kind: str, params: dict) -> None:
        """Record `params` in `_params.json` on first open; a reopen with
        different ones raises, since the stored state was built under the
        recorded ones and would silently mix with the new."""
        path = os.path.join(self.base_path, "_params.json")
        if not os.path.exists(path):
            write_atomic(path, json.dumps(params))
            return
        with open(path) as f:
            on_disk = json.load(f)
        if on_disk != params:
            raise ValueError(
                f"{kind} at {self.base_path} was built with {on_disk}, "
                f"reopened with {params}"
            )

    # -- compaction --------------------------------------------------------

    def _compact_path(self) -> str:
        return os.path.join(self.base_path, "_compact.json")

    def _compact_info(self) -> dict | None:
        try:
            with open(self._compact_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _read(self, sub: str, schema: str, batch_ids: list[int]) -> DataFrame | None:
        """Accumulated committed state of `sub` limited to `batch_ids`,
        routing the compacted prefix through its g-dir. None if empty."""
        info = self._compact_info()
        paths = []
        if info is not None:
            g = os.path.join(self.base_path, sub, f"g{info['gen']}")
            if os.path.exists(g):
                paths.append(g)
            batch_ids = [b for b in batch_ids if b > info["watermark"]]
        paths += [
            p
            for p in (self._dir(sub, b) for b in batch_ids)
            if os.path.exists(p)
        ]
        if not paths:
            return None
        return self.spark.read.schema(schema).parquet(*paths)

    def _read_state(self, sub: str, schema: str) -> DataFrame | None:
        return self._read(sub, schema, self._committed())

    def compact(self) -> None:
        """Collapse every committed batch dir of every state table into one
        generation dir per table, then atomically publish the new
        watermark. State is unchanged (test-pinned); file count per table
        drops to one dir. Call `vacuum()` afterwards to reclaim the
        superseded dirs."""
        committed = self._committed()
        if not committed:
            return
        wm = max(committed)
        info = self._compact_info()
        gen = (info["gen"] + 1) if info else 0
        for sub, schema in self.STATE_TABLES.items():
            df = self._read_state(sub, schema)
            dest = os.path.join(self.base_path, sub, f"g{gen}")
            if df is None:
                # publish an empty-but-valid dir so readers can rely on it
                self.spark.createDataFrame([], schema).write.mode(
                    "overwrite"
                ).parquet(dest)
            else:
                df.write.mode("overwrite").parquet(dest)
        write_atomic(
            self._compact_path(), json.dumps({"watermark": wm, "gen": gen})
        )

    def vacuum(self) -> None:
        """Remove batch dirs covered by the compaction watermark and stale
        generation dirs. Safe any time after `compact()`: only dirs no
        reader path references are deleted."""
        info = self._compact_info()
        if info is None:
            return
        for sub in self.STATE_TABLES:
            root = os.path.join(self.base_path, sub)
            if not os.path.isdir(root):
                continue
            for d in os.listdir(root):
                full = os.path.join(root, d)
                if d.startswith("b") and d[1:].isdigit():
                    if int(d[1:]) <= info["watermark"]:
                        shutil.rmtree(full, ignore_errors=True)
                elif d.startswith("g") and d[1:].isdigit():
                    if int(d[1:]) < info["gen"]:
                        shutil.rmtree(full, ignore_errors=True)
