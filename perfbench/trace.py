"""In-memory spans around the program's public entry points, plus the Spark
status-store readings for each benchmark operation.

`Tracer.install()` wraps the functions listed in `TRACED` at their import
sites. A wrapped call records a span (name, layer, start, end, parent, op
id) only while an op is open, so setup work and the untraced half of a
traced run pay one attribute check per call. `SparkProbe` tags each op with
a Spark job group and, when the op ends, reads its jobs, stages and SQL
executions from the status stores (they exist with the UI disabled).
"""

from __future__ import annotations

import functools
import importlib
import re
import time
from dataclasses import dataclass, field

# (module, attribute path, layer). Module-level functions are patched in
# every module that imported them by name, listed explicitly.
TRACED = [
    ("spdb_spark.spatialdb", "SpatialDB.cutout", "spatialdb"),
    ("spdb_spark.spatialdb", "SpatialDB.write_cuboid", "spatialdb"),
    ("spdb_spark.spatialdb", "SpatialDB.get_ids_in_region", "spatialdb"),
    ("spdb_spark.spatialdb", "SpatialDB.get_bounding_box", "spatialdb"),
    ("spdb_spark.spatialdb", "SpatialDB.downsample", "spatialdb"),
    ("spdb_spark.store", "CuboidStore.cutout", "store"),
    ("spdb_spark.store", "CuboidStore.cutout_voxels", "store"),
    ("spdb_spark.store", "CuboidStore.write_cuboid", "store"),
    ("spdb_spark.store", "CuboidStore.build_pyramid", "store"),
    ("spdb_spark.store", "CuboidStore.blocks", "store"),
    ("spdb_spark.store", "CuboidStore.voxels", "store"),
    ("spdb_spark.store", "CuboidStore._commit", "store"),
    ("spdb_spark.store", "OverwritePublisher.publish", "store"),
    ("spdb_spark.sources.volumetric", "ingest_voxel_files", "volumetric"),
    ("spdb_spark.operators.voxel", "ids_in_region", "voxel"),
    ("spdb_spark.operators.voxel", "tight_bounding_box", "voxel"),
    ("spdb_spark.operators.voxel", "loose_bounding_box", "voxel"),
    ("spdb_spark.operators.voxel", "cuboids_containing_id", "voxel"),
    ("spdb_spark.operators.voxel", "downsample_annotation", "voxel"),
    ("spdb_spark.codec", "pack_array", "codec"),
    ("spdb_spark.codec", "unpack_array", "codec"),
    ("spdb_spark.store", "pack_array", "codec"),
    ("pyspark.sql.classic.dataframe", "DataFrame.toPandas", "session"),
    ("pyspark.sql.classic.dataframe", "DataFrame.collect", "session"),
    ("pyspark.sql.readwriter", "DataFrameWriter.parquet", "session"),
]

LAYERS = ("bench", "spatialdb", "store", "codec", "voxel", "volumetric", "session")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._saved: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------------

    def open(self, name: str, layer: str, **attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            Span(name, layer, time.perf_counter(), parent=parent, op_id=self._op, attrs=attrs)
        )
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        popped = self._stack.pop()
        if popped != idx:
            raise RuntimeError(f"span stack out of order: {popped} != {idx}")

    def begin_op(self, op_id: str, cell: str) -> int:
        self._op = op_id
        return self.open(f"op:{cell}", "bench")

    def end_op(self, idx: int) -> None:
        self.close(idx)
        self._op = None

    # -- patching ---------------------------------------------------------------

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer._op is None:
                return fn(*args, **kwargs)
            attrs = {}
            if name == "CuboidStore._commit":
                attrs["resolution"] = args[2] if len(args) > 2 else kwargs.get("resolution")
            idx = tracer.open(name, layer, **attrs)
            try:
                out = fn(*args, **kwargs)
                if name == "DataFrame.toPandas":
                    tracer.spans[idx].attrs["bytes"] = int(out.memory_usage(index=False).sum())
                    tracer.spans[idx].attrs["rows"] = len(out)
                if name in ("DataFrame.toPandas", "DataFrame.collect"):
                    tracer.spans[idx].attrs["plan_ms"] = _plan_ms(args[0])
                return out
            finally:
                tracer.close(idx)

        return traced

    def install(self) -> None:
        for mod_name, path, layer in TRACED:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            fn = getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, path, layer))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()

    # -- analysis -----------------------------------------------------------------

    def op_spans(self, op_id: str) -> list[Span]:
        return [s for s in self.spans if s.op_id == op_id]

    def self_times(self, op_id: str) -> dict[str, float]:
        """Seconds of self time per layer for one op: each span's duration
        minus the part its direct children cover."""
        spans = {i: s for i, s in enumerate(self.spans) if s.op_id == op_id}
        child = {i: 0.0 for i in spans}
        for s in spans.values():
            if s.parent in child:
                child[s.parent] += s.end - s.start
        out = {layer: 0.0 for layer in LAYERS}
        for i, s in spans.items():
            out[s.layer] += (s.end - s.start) - child[i]
        return out


def _plan_ms(df) -> float:
    """Analysis + optimisation + planning time recorded by the action's
    QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.keySet().iterator()
    total = 0
    while it.hasNext():
        total += phases.apply(it.next()).durationMs()
    return float(total)


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it: a bare count, or
    'total (min, med, max ...)\\n<total> <unit> (...)' for sizes and times.
    Sizes come back in bytes, times in milliseconds."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


class SparkProbe:
    """Per-op Spark readings: jobs via the op's job group, stages from the
    app status store, SQL node metrics from the SQL status store."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._app = spark._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._exec0 = 0

    def begin(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, op_id)
        self._exec0 = int(self._sql.executionsCount())

    def end(self, op_id: str) -> dict:
        self.sc.setJobGroup("bench", "bench")
        jobs, stages = [], []
        for jid in self.sc.statusTracker().getJobIdsForGroup(op_id):
            jd = self._app.job(int(jid))
            jobs.append((_opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())))
            sids = jd.stageIds()
            for i in range(sids.size()):
                try:
                    sd = self._app.lastStageAttempt(sids.apply(i))
                except Exception:  # noqa: BLE001 - stage evicted or never attempted
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                sub, first = _opt_ms(sd.submissionTime()), _opt_ms(sd.firstTaskLaunchedTime())
                stages.append(
                    {
                        "tasks": int(sd.numTasks()),
                        "run_ms": float(sd.executorRunTime()),
                        "gc_ms": float(sd.jvmGcTime()),
                        "shuffle_write": float(sd.shuffleWriteBytes()),
                        "spill": float(sd.memoryBytesSpilled() + sd.diskBytesSpilled()),
                        "launch_wait_ms": (first - sub) if sub and first else 0.0,
                    }
                )
        nodes: dict[str, float] = {}
        n1 = int(self._sql.executionsCount())
        if n1 > self._exec0:
            execs = self._sql.executionsList(self._exec0, n1 - self._exec0)
            for k in range(execs.size()):
                eid = execs.apply(k).executionId()
                values = self._sql.executionMetrics(eid)
                graph = self._sql.planGraph(eid).allNodes()
                for i in range(graph.size()):
                    node = graph.apply(i)
                    ms = node.metrics()
                    for j in range(ms.size()):
                        m = ms.apply(j)
                        acc = m.accumulatorId()
                        if values.contains(acc):
                            key = f"{node.name().strip()}|{m.name()}"
                            nodes[key] = nodes.get(key, 0.0) + parse_metric(values.apply(acc))
        return {"jobs": jobs, "stages": stages, "sql": nodes}


def job_covered_ms(jobs: list, t0_epoch_ms: float, t1_epoch_ms: float) -> float:
    """Milliseconds of [t0, t1] covered by at least one job interval."""
    iv = sorted(
        (max(a, t0_epoch_ms), min(b, t1_epoch_ms))
        for a, b in jobs
        if a is not None and b is not None
    )
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered
