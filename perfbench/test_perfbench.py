"""The benchmark's own checks, at toy sizes (one label cuboid per workload).

    python3 -m pytest perfbench/test_perfbench.py -q

They start one local Spark session on two cores and take a few minutes.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import run as bench
from perfbench.workloads import TOY_SIZES, WORKLOADS, CutoutRead, Run

SPEC = json.load(open(os.path.join(bench.REPO, "BENCHMARK.json")))


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    session = bench.start_session(str(tmp_path_factory.mktemp("spark-local")), 2)
    yield session
    session.stop()


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    """One untraced and one traced run of every workload."""
    out = {}
    for name in WORKLOADS:
        for trace in (0, 1):
            sampler = bench.RssSampler()
            sampler.start()
            try:
                out[name, trace] = bench.run_workload(
                    spark, name, 7, 0, trace, str(tmp_path_factory.mktemp(f"{name}{trace}")),
                    sampler, sizes=TOY_SIZES[name], cores=2,
                )
            finally:
                sampler.stop()
    return out


def test_workloads_match_spec():
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(WORKLOADS)


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_is_printed(runs, trace, section):
    for name in WORKLOADS:
        _, result, _ = runs[name, trace]
        line = json.loads(json.dumps(result))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert line["correct"] is True and line["failed"] == 0 and line["attempted"] >= 1
        for metric in SPEC[section]:
            printed = line["metrics"][metric["name"]]
            assert printed["unit"] == metric["unit"]
            assert isinstance(printed["value"], float)
        if section == "end_to_end":
            assert all(line["metrics"][m["name"]]["value"] > 0 for m in SPEC[section])


def test_corrupted_cutout_counts_as_error(spark, tmp_path, monkeypatch):
    from spdb_spark.spatialdb import SpatialDB

    wl = CutoutRead(TOY_SIZES["cutout_read"])
    rng = np.random.default_rng(3)
    run = Run(spark, str(tmp_path))
    wl.inputs(rng)
    wl.build(run, rng, str(tmp_path / "store"))
    assert all(op.ok for op in run.ops)

    honest = SpatialDB.cutout

    def one_voxel_off(self, *args, **kwargs):
        out = honest(self, *args, **kwargs).copy()
        out.flat[0] += 1
        return out

    monkeypatch.setattr(SpatialDB, "cutout", one_voxel_off)
    first = len(run.ops)
    wl.cycle(run, rng)
    cycle = run.ops[first:]
    cutouts = [op for op in cycle if op.kind.startswith("cutout")]
    assert cutouts and all(not op.ok and op.error == "1 voxels differ" for op in cutouts)
    assert all(op.ok for op in cycle if not op.kind.startswith("cutout"))


def test_traced_self_times_sum_to_op_wall(runs):
    for name in WORKLOADS:
        _, _, run = runs[name, 1]
        traced = [op for op in run.ops if "op_id" in op.detail]
        assert traced
        for op in traced:
            self_ms = sum(op.detail["self_s"].values()) * 1e3
            assert all(v >= -1e-6 for v in op.detail["self_s"].values())
            assert abs(self_ms - op.ms) <= max(5.0, 0.01 * op.ms), (op.cell, self_ms, op.ms)


def test_tail_needs_ten_samples_beyond():
    assert bench.tail(list(range(10))) is None
    t = bench.tail([float(v) for v in range(1, 101)])
    assert t["value"] == 90.0 and t["n"] == 100 and t["percentile"] == 90.0
