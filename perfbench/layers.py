"""Per-layer metrics of a traced run, named after the program's modules.

Inputs are the traced ops' spans (`Tracer.self_times` and span attributes)
and their Spark readings (`SparkProbe.end`). Every metric is printed for
every workload; a layer the workload never calls reads 0.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

from perfbench.trace import LAYERS, job_covered_ms

PYTHON_TIME = "time to run Python workers"


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _sql(op, node_prefix: str, metric: str) -> float:
    return sum(
        v for k, v in op.detail["spark"]["sql"].items()
        if k.startswith(node_prefix) and k.endswith("|" + metric)
    )


def _spans(tracer, op, name):
    return [s for s in tracer.op_spans(op.detail["op_id"]) if s.name == name]


def _self_ms(tracer, op, name) -> float:
    """Milliseconds spent in spans called `name`, minus their direct
    children."""
    spans = tracer.op_spans(op.detail["op_id"])
    own = {id(s) for s in spans if s.name == name}
    children = [s for s in spans if s.parent is not None and id(tracer.spans[s.parent]) in own]
    return _dur_ms([s for s in spans if id(s) in own]) - _dur_ms(children)


def _dur_ms(spans) -> float:
    return sum((s.end - s.start) * 1e3 for s in spans)


def codec_timings(channels) -> dict:
    """pack/unpack milliseconds per cuboid and blob bytes per cuboid,
    measured by calling the codec on up to four of the run's own level-0
    blobs per channel."""
    from spdb_spark.codec import pack_array, unpack_array

    out = {}
    for channel in ("image", "anno"):
        store = channels.get(channel)
        rows = store.blocks(0).select("blob").limit(4).collect() if store is not None else []
        blobs = [bytes(r.blob) for r in rows]
        unpack, pack = [], []
        for blob in blobs:
            t0 = time.perf_counter()
            arr = unpack_array(blob)
            unpack.append((time.perf_counter() - t0) * 1e3)
            t0 = time.perf_counter()
            pack_array(arr)
            pack.append((time.perf_counter() - t0) * 1e3)
        sizes = store.blocks(0).selectExpr("avg(length(blob)) AS b").collect()[0].b if store else 0
        out[f"codec.unpack_ms_per_cuboid.{channel}"] = (_mean(unpack), "ms")
        out[f"codec.pack_ms_per_cuboid.{channel}"] = (_mean(pack), "ms")
        out[f"codec.blob_bytes_per_cuboid.{channel}"] = (float(sizes or 0), "B")
    return out


def files_per_partition(root: str) -> float:
    parts = [d for d in glob.glob(os.path.join(root, "**", "pgroup=*"), recursive=True) if os.path.isdir(d)]
    files = [p for d in parts for p in glob.glob(os.path.join(d, "*.parquet"))]
    return len(files) / len(parts) if parts else 0.0


def per_layer(run, wl, cores: int, cycle_walls: dict) -> dict:
    tracer = run.tracer
    ops = [op for op in run.ops if op.detail.get("traced") or (op.detail.get("setup") and "op_id" in op.detail)]
    reads = [op for op in ops if op.kind.startswith("cutout")]
    idq = [op for op in ops if op.kind == "idquery"]
    writes = [op for op in ops if op.kind == "write"]
    pyramids = [op for op in ops if op.kind == "pyramid"]
    ingests = [op for op in ops if op.kind == "ingest"]
    m: dict[str, tuple[float, str]] = {}

    def stages(op):
        return op.detail["spark"]["stages"]

    # spatialdb facade
    driver = []
    for op in ops:
        t0, t1 = op.detail["epoch_ms"]
        driver.append(max(0.0, op.ms - job_covered_ms(op.detail["spark"]["jobs"], t0, t1)))
    m["spatialdb.driver_ms"] = (_mean(driver), "ms")
    m["spatialdb.jobs_per_op"] = (_mean(len(op.detail["spark"]["jobs"]) for op in ops), "count")

    # store
    scanned = [op for op in reads + idq if op.detail.get("needed")]
    m["store.blocks_read_per_block_needed"] = (
        sum(_sql(op, "Scan parquet", "number of output rows") for op in scanned)
        / max(1, sum(op.detail["needed"] for op in scanned)),
        "ratio",
    )
    m["store.scan_bytes_per_op"] = (_mean(_sql(op, "Scan parquet", "size of files read") for op in ops), "B")
    m["store.files_scanned_per_op"] = (_mean(_sql(op, "Scan parquet", "number of files read") for op in ops), "count")
    m["store.files_per_partition"] = (files_per_partition(wl.store_root), "count")
    committing = writes + pyramids + ingests + [op for op in ops if op.kind == "replace"]
    # loop writes only: set-up writes whole channels, the loop paints boxes
    boxes = [op for op in writes if not op.detail.get("setup")]
    written = sum(_sql(op, "Execute InsertIntoHadoopFsRelationCommand", "written output") for op in boxes)
    m["store.commit_bytes_per_user_byte"] = (
        written / max(1, sum(op.detail.get("user_bytes", 0) for op in boxes)), "ratio"
    )
    publish = [_dur_ms(_spans(tracer, op, "OverwritePublisher.publish")) for op in committing]
    commit = [_dur_ms(_spans(tracer, op, "CuboidStore._commit")) for op in committing]
    m["store.stage_ms"] = (_mean(c - p for c, p in zip(commit, publish)), "ms")
    m["store.publish_ms"] = (_mean(publish), "ms")
    m["store.collect_bytes_per_op"] = (
        _mean(sum(s.attrs.get("bytes", 0) for s in _spans(tracer, op, "DataFrame.toPandas")) for op in reads), "B"
    )
    m["store.assemble_ms"] = (_mean(_self_ms(tracer, op, "CuboidStore.cutout") for op in reads), "ms")

    # codec
    m.update(codec_timings(wl.channels()))
    returned = sum(op.detail.get("voxels", 0) for op in reads)
    m["codec.decoded_rows_per_returned_voxel"] = (
        sum(_sql(op, "MapInPandas", "number of output rows") for op in reads) / max(1, returned), "ratio"
    )
    m["codec.python_ms_per_op"] = (
        _mean(sum(v for k, v in op.detail["spark"]["sql"].items() if k.endswith("|" + PYTHON_TIME)) for op in ops),
        "ms",
    )

    # voxel operators
    m["voxel.downsample_ms.level1"] = (
        _mean(
            _dur_ms([s for s in _spans(tracer, op, "CuboidStore._commit") if s.attrs.get("resolution") == 1])
            for op in pyramids
        ),
        "ms",
    )
    m["voxel.downsample_shuffle_bytes"] = (_mean(sum(s["shuffle_write"] for s in stages(op)) for op in pyramids), "B")
    m["voxel.idquery_rows_scanned"] = (_mean(_sql(op, "MapInPandas", "number of output rows") for op in idq), "count")

    # volumetric ingest
    m["volumetric.ingest_ms"] = (_mean(_dur_ms(_spans(tracer, op, "ingest_voxel_files")) for op in ingests), "ms")
    m["volumetric.ingest_shuffle_bytes"] = (_mean(sum(s["shuffle_write"] for s in stages(op)) for op in ingests), "B")

    # session (the Spark engine as get_spark configures it)
    plan = []
    for op in ops:
        plan.append(sum(s.attrs.get("plan_ms", 0.0) for s in tracer.op_spans(op.detail["op_id"])))
    m["session.plan_ms"] = (_mean(plan), "ms")
    m["session.stages_per_op"] = (_mean(len(stages(op)) for op in ops), "count")
    m["session.tasks_per_op"] = (_mean(sum(s["tasks"] for s in stages(op)) for op in ops), "count")
    m["session.task_launch_wait_ms"] = (_mean(sum(s["launch_wait_ms"] for s in stages(op)) for op in ops), "ms")
    busy = sum(s["run_ms"] for op in ops for s in stages(op))
    m["session.executor_busy_frac"] = (busy / max(1e-9, sum(op.ms for op in ops) * cores), "ratio")
    m["session.shuffle_write_bytes"] = (_mean(sum(s["shuffle_write"] for s in stages(op)) for op in ops), "B")
    m["session.spill_bytes"] = (_mean(sum(s["spill"] for s in stages(op)) for op in ops), "B")
    m["session.gc_ms"] = (_mean(sum(s["gc_ms"] for s in stages(op)) for op in ops), "ms")

    # self time per layer, per op
    for layer in LAYERS:
        m[f"{layer}.self_ms"] = (_mean(op.detail["self_s"][layer] * 1e3 for op in ops), "ms")
    m["trace.op_ms"] = (_mean(op.ms for op in ops), "ms")
    # traced cycles against the warm untraced ones (the first cycle of a
    # run pays first-use costs, so it is left out of the baseline)
    m["trace.overhead_ms"] = (
        (statistics.mean(cycle_walls[True]) - statistics.mean(cycle_walls[False][1:])) * 1e3, "ms"
    )
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
