"""Crash harness for the commit primitives (spdb_spark/commit.py), Spark-free.

Every `os.rename` and `shutil.copyfile` a primitive makes is a crash point.
Each case replays one scenario, raises OSError at one of those calls, and
checks that (1) a reader sees either the state before the call or the
state after it, never a torn one, and no final name holds a partial file,
and (2) a retry with the same arguments converges to the committed state
exactly once: no duplicate files, and no restage once the stage is sealed.
"""

import json
import os
import pathlib
import shutil
import tempfile

import pytest

from spdb_spark.commit import copy_atomic, run_staged_batch, write_atomic


def _content(batch_id: str, part: int) -> bytes:
    return f"{batch_id}:{part};".encode() * 64


class _Faults:
    """Patch os.rename and shutil.copyfile: record every call, and raise
    OSError at call `crash_at` (0-based across both). A crashing copy first
    leaves a truncated file at its destination, as a real crash mid-copy
    would."""

    def __init__(self, crash_at: int | None = None):
        self.crash_at = crash_at
        self.calls: list[str] = []

    def _hook(self, kind: str, real):
        def hooked(src, dst, *args, **kwargs):
            self.calls.append(kind)
            if len(self.calls) - 1 == self.crash_at:
                if kind == "copyfile":
                    with open(dst, "wb") as f:
                        f.write(b"trunc")
                raise OSError(f"injected crash at {kind}")
            return real(src, dst, *args, **kwargs)

        return hooked

    def __enter__(self):
        self._saved = (os.rename, shutil.copyfile)
        os.rename = self._hook("rename", os.rename)
        shutil.copyfile = self._hook("copyfile", shutil.copyfile)
        return self

    def __exit__(self, *exc):
        os.rename, shutil.copyfile = self._saved
        return False


def _visible(d: str) -> dict[str, bytes]:
    """Files a reader sees: Spark's parquet reader skips `_*` and `.*`."""
    if not os.path.isdir(d):
        return {}
    return {
        n: pathlib.Path(d, n).read_bytes()
        for n in sorted(os.listdir(d))
        if not n.startswith(("_", ".")) and os.path.isfile(os.path.join(d, n))
    }


class _Scenario:
    """setup() commits the old state, action() is the step under test,
    read() is what a reader sees, states() is (old, new) as read() returns
    them, and retry_checks() adds scenario-specific convergence checks."""

    def retry_checks(self, root, crash_at):
        pass


class WriteAtomic(_Scenario):
    def setup(self, root):
        write_atomic(os.path.join(root, "state.json"), b"old")

    def action(self, root):
        write_atomic(os.path.join(root, "state.json"), b"new")

    def read(self, root):
        return _visible(root)

    def states(self):
        return {"state.json": b"old"}, {"state.json": b"new"}


class CopyAtomic(_Scenario):
    def setup(self, root):
        os.makedirs(os.path.join(root, "src"))
        os.makedirs(os.path.join(root, "live"))
        pathlib.Path(root, "src", "f").write_bytes(_content("src", 0))

    def action(self, root):
        copy_atomic(os.path.join(root, "src", "f"), os.path.join(root, "live", "f"))

    def read(self, root):
        return _visible(os.path.join(root, "live"))

    def states(self):
        return {}, {"f": _content("src", 0)}


class StagedBatch(_Scenario):
    """An append of two data files, published by skip-if-present copies
    into `live/` and made visible by a pointer listing the committed
    files — the BM25/IVF append shape."""

    PARTS = 2

    def __init__(self):
        self.stage_calls = 0

    def _run(self, root, batch_id):
        live = os.path.join(root, "live")

        def stage(stage_dir):
            self.stage_calls += 1
            os.makedirs(os.path.join(stage_dir, "data"))
            for i in range(self.PARTS):
                pathlib.Path(stage_dir, "data", f"part-{i}").write_bytes(
                    _content(batch_id, i)
                )

        def publish(stage_dir):
            for f in sorted(os.listdir(os.path.join(stage_dir, "data"))):
                copy_atomic(
                    os.path.join(stage_dir, "data", f),
                    os.path.join(live, f"a{batch_id}-{f}"),
                )
            write_atomic(
                os.path.join(root, "_current.json"),
                json.dumps(sorted(_visible(live))),
            )

        run_staged_batch(root, batch_id, stage, publish)

    def setup(self, root):
        os.makedirs(os.path.join(root, "live"))
        self._run(root, "b0")
        self.stage_calls = 0

    def action(self, root):
        self._run(root, "b1")

    def read(self, root):
        ptr = os.path.join(root, "_current.json")
        names = json.loads(pathlib.Path(ptr).read_text())
        return {n: pathlib.Path(root, "live", n).read_bytes() for n in names}

    def _files(self, batch_ids):
        return {
            f"a{b}-part-{i}": _content(b, i)
            for b in batch_ids
            for i in range(self.PARTS)
        }

    def states(self):
        return self._files(["b0"]), self._files(["b0", "b1"])

    def retry_checks(self, root, crash_at):
        # the seal is the first rename: a crash before it restages, a
        # crash after it republishes from the sealed stage
        staged = 2 if crash_at == 0 else 1
        assert self.stage_calls == staged
        assert _visible(os.path.join(root, "live")) == self._files(["b0", "b1"])
        assert os.path.exists(os.path.join(root, "_appendlog", "b1.json"))
        assert not os.path.exists(os.path.join(root, "_staging", "b1"))
        self._run(root, "b1")  # a committed batch is a no-op
        assert self.stage_calls == staged
        assert _visible(os.path.join(root, "live")) == self._files(["b0", "b1"])


SCENARIOS = {
    "write_atomic": WriteAtomic,
    "copy_atomic": CopyAtomic,
    "run_staged_batch": StagedBatch,
}


def _crash_points(name: str) -> list[tuple[int, str]]:
    """Replay a scenario once, uninjected, and list its calls in order."""
    sc = SCENARIOS[name]()
    with tempfile.TemporaryDirectory() as root:
        sc.setup(root)
        with _Faults() as faults:
            sc.action(root)
    return list(enumerate(faults.calls))


CASES = [
    pytest.param(name, i, id=f"{name}-{i}-{kind}")
    for name in SCENARIOS
    for i, kind in _crash_points(name)
]


@pytest.mark.parametrize("name,crash_at", CASES)
def test_crash_at_every_step_is_old_or_new_and_retry_converges(
    tmp_path, name, crash_at
):
    root = str(tmp_path)
    sc = SCENARIOS[name]()
    sc.setup(root)
    old, new = sc.states()
    assert sc.read(root) == old

    with _Faults(crash_at) as faults, pytest.raises(OSError, match="injected"):
        sc.action(root)
    assert len(faults.calls) == crash_at + 1
    assert sc.read(root) in (old, new)
    # no final name holds a torn file: each is absent or complete
    for d in (root, os.path.join(root, "live")):
        for n, data in _visible(d).items():
            assert data in (old.get(n), new.get(n)), n

    sc.action(root)
    assert sc.read(root) == new
    sc.retry_checks(root, crash_at)


def test_staged_batch_crash_points_cover_seal_copies_pointer_and_marker():
    assert [k for _, k in _crash_points("run_staged_batch")] == [
        "rename",  # seal
        "copyfile", "rename",  # part-0
        "copyfile", "rename",  # part-1
        "rename",  # pointer
        "rename",  # marker
    ]


def test_mkstemp_only_in_commit_module():
    """Every temp-then-rename publish goes through spdb_spark/commit.py."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "spdb_spark"
    users = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if "tempfile.mkstemp" in p.read_text()
    )
    assert users == ["commit.py"]


def test_concurrent_saves_of_one_channel_never_share_a_temp(tmp_path):
    """Concurrent `save_resource` calls for one channel each write their own
    temp, so none fails and the entry always holds one complete save."""
    from concurrent.futures import ThreadPoolExecutor

    from spdb_spark.catalog import (
        Channel,
        Collection,
        CoordinateFrame,
        Experiment,
        Resource,
        load_resource,
        save_resource,
    )

    def save(i):
        save_resource(
            str(tmp_path),
            Resource(
                Collection("col"),
                Experiment("exp"),
                CoordinateFrame("cf", x_stop=1 + i),
                Channel("ch"),
                lookup_key="1&1&1",
            ),
        )

    with ThreadPoolExecutor(4) as pool:
        list(pool.map(save, range(400)))
    assert 1 <= load_resource(str(tmp_path), "1&1&1").coord_frame.x_stop <= 400
