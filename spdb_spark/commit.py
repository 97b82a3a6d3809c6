"""Commit primitives for the durable state of sinks, indexes and the
catalog: stage, seal, rename, log. A reader sees a name either absent or
complete, because the only visible transition is an `os.rename` inside one
directory.

Temps are `_`-prefixed so a crash-orphaned one is invisible to Spark's
parquet reader (its default path filter skips `_*` and `.*` files).
`os.rename` and `shutil.copyfile` are looked up on their modules at call
time, so crash tests can patch them there.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile


def write_atomic(path: str, data: str | bytes) -> None:
    """Replace `path` with `data`, durably, via a unique temp + rename."""
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(path) or ".", prefix="_", suffix=".tmp"
    )
    with os.fdopen(fd, "wb") as f:
        f.write(data.encode() if isinstance(data, str) else data)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)


def copy_atomic(src: str, dest: str) -> None:
    """Copy `src` to `dest` unless `dest` exists. A crash mid-copy never
    leaves a truncated file under `dest`, which the skip-if-present check
    would otherwise keep forever."""
    if os.path.exists(dest):
        return
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(dest), prefix="_", suffix=".tmp")
    os.close(fd)
    shutil.copyfile(src, tmp)
    os.rename(tmp, dest)


def run_staged_batch(root: str, batch_id: str, stage, publish) -> None:
    """Exactly-once batch commit under `root`. `stage(dir)` writes the batch
    into `_staging/{batch_id}`, which `_STAGED` then seals; `publish(dir)`
    moves it into the live layout and must be idempotent; the
    `_appendlog/{batch_id}.json` marker is written last. A retry with the
    same batch_id after a crash at any step is a no-op once the marker
    exists, republishes from a sealed stage, and otherwise restages from
    scratch, since nothing live changes before the seal."""
    marker = os.path.join(root, "_appendlog", f"{batch_id}.json")
    if os.path.exists(marker):
        return
    stage_dir = os.path.join(root, "_staging", batch_id)
    sealed = os.path.join(stage_dir, "_STAGED")
    if not os.path.exists(sealed):
        shutil.rmtree(stage_dir, ignore_errors=True)
        os.makedirs(stage_dir)
        stage(stage_dir)
        write_atomic(sealed, b"")
    publish(stage_dir)
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    write_atomic(marker, json.dumps({"batch_id": batch_id}))
    shutil.rmtree(stage_dir, ignore_errors=True)
