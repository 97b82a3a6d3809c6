"""spdb_spark store benchmark: one workload per invocation.

    python3 perfbench/run.py --workload cutout_read --seed 1 --seconds 12 --trace 0

Runs from any working directory. Builds the workload's store from the seed,
runs whole cycles of its op mix until `--seconds` have passed, checks every
answer and prints two JSON lines: a detail record (per op class latency,
errors itemised, ambient load) and, last, the result
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the run alternates
untraced and traced cycles and reports per-layer metrics from the traced
ones plus the tracing overhead. Exits non-zero without a result when the
program (`spdb_spark`) is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    """Peak resident set size of one process (VmHWM), in KiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak resident set size (VmHWM) of every descendant of this process:
    the driver JVM, the Python worker daemon and its workers. Polled every
    0.25 s, so a worker's peak is kept after it exits."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period = period
        self._hwm: dict[int, int] = {}
        self._names: dict[int, str] = {}
        self._stop_evt = threading.Event()

    def worker_peak_mb(self) -> float:
        """Summed peak RSS of the Python workers, where the decode, pack
        and merge kernels run. The JVM's peak is left out: it follows the
        garbage collector's heap sizing more than the data, and swung
        1.6-2.0 GB between runs of one seed."""
        return sum(kb for pid, kb in self._hwm.items() if self._names.get(pid, "").startswith("python")) / 1024

    def by_process(self) -> dict[str, float]:
        """Peak MiB summed per executable name (java, python3, ...)."""
        out: dict[str, float] = {}
        for pid, kb in self._hwm.items():
            out[self._names.get(pid, "?")] = out.get(self._names.get(pid, "?"), 0.0) + kb / 1024
        return out

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.wait(self.period):
            for pid in _descendants(me):
                self._hwm[pid] = max(self._hwm.get(pid, 0), _hwm_kb(pid))
                if pid not in self._names:
                    try:
                        with open(f"/proc/{pid}/comm") as f:
                            self._names[pid] = f.read().strip()
                    except OSError:
                        pass

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def calibration_s(spark) -> float:
    """bench.py's fixed CPU-bound probe at half its size: median of 3 runs
    of a 100M-row codegen sum. Context only; no metric is scaled by it."""
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(100_000_000).selectExpr("sum(id * 2 + 1)").collect()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def tail(values: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it: the
    (n-10)-th smallest of n samples, at percentile (n-10)/n."""
    n = len(values)
    if n <= 10:
        return None
    return {"value": sorted(values)[n - 11], "percentile": round(100 * (n - 10) / n, 2), "n": n}


def start_session(local_dir: str, cores: int):
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPDB_SHUFFLE_PARTITIONS"] = str(cores)
    os.environ["SPDB_DRIVER_MEM"] = "2g"
    # Python workers import spdb_spark by name whatever the caller's cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    from spdb_spark.session import get_spark

    spark = get_spark(
        "spdb_spark_perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local_dir,
            "spark.sql.warehouse.dir": os.path.join(local_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # start one Python worker per core and import the codec there, so no
    # timed op pays worker start-up
    spark.range(cores, numPartitions=cores).mapInPandas(_warm_worker, "id long").collect()
    return spark


def _warm_worker(batches):
    import spdb_spark.codec  # noqa: F401

    yield from batches


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait until every process the
    session started (the JVM, the Python workers) has exited."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    started = _descendants(os.getpid())
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - a broken gateway still leaves a JVM to end
        traceback.print_exc()
    proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while any(_alive(p) for p in started) and time.time() < deadline:
        time.sleep(0.2)
    for pid in filter(_alive, started):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_workload(spark, name, seed, seconds, trace, work_dir, rss, sizes=None, cores=4):
    """Set up and run one workload. Returns the detail and result records
    and the `Run` holding every op."""
    import numpy as np

    from perfbench import layers
    from perfbench.trace import SparkProbe, Tracer
    from perfbench.workloads import SIZES, WORKLOADS, Run, store_bytes

    wl = WORKLOADS[name](sizes or SIZES[name])
    rng = np.random.default_rng(seed)
    tracer = Tracer() if trace else None
    run = Run(spark, work_dir, tracer, SparkProbe(spark) if trace else None)
    load_start = os.getloadavg()[0]
    calib_start = calibration_s(spark)

    t0 = time.perf_counter()
    wl.inputs(rng)
    inputs_s = time.perf_counter() - t0
    if tracer:
        tracer.install()
    setup = []
    cycle_walls = {False: [], True: []}
    try:
        run.tracing = bool(trace)
        for rep in range(wl.setup_reps):
            first = len(run.ops)
            wl.build(run, rng, os.path.join(work_dir, f"setup{rep}"))
            for op in run.ops[first:]:
                op.detail["setup"] = True
            setup.append(sum(op.ms for op in run.ops[first:]) / 1e3)
        t_start = time.perf_counter()
        while True:
            run.tracing = bool(trace) and len(cycle_walls[False]) > len(cycle_walls[True])
            t0 = time.perf_counter()
            first = len(run.ops)
            wl.cycle(run, rng)
            cycle_walls[run.tracing].append(time.perf_counter() - t0)
            for op in run.ops[first:]:
                op.detail["traced"] = run.tracing
            # another cycle only if it would still end inside `seconds`; a
            # traced run alternates untraced and traced cycles and ends on
            # a warm untraced one, its baseline for the tracing overhead
            elapsed = time.perf_counter() - t_start
            walls = cycle_walls[False] + cycle_walls[True]
            done = elapsed + sum(walls) / len(walls) > seconds
            if done and (not trace or len(cycle_walls[False]) >= 2):
                break
    finally:
        if tracer:
            tracer.uninstall()
    measured_s = time.perf_counter() - t_start

    timed = [op for op in run.ops if not op.detail.get("traced") and not op.detail.get("setup")]
    cells: dict[str, list[float]] = {}
    for op in timed:
        cells.setdefault(op.cell, []).append(op.ms)
    cycle_ms = sum(statistics.median(v) for v in cells.values())
    stored = store_bytes(wl.store_root)
    attempted = len(run.ops)
    failed = [op for op in run.ops if not op.ok]
    kinds: dict[str, list[float]] = {}
    for op in timed:
        if op.ok:
            kinds.setdefault(op.kind, []).append(op.ms)
    reuse = [op.reuse for op in run.ops if op.reuse is not None]
    detail = {
        "workload": name,
        "seed": seed,
        "trace": int(bool(trace)),
        "cores": cores,
        "cycles": len(cycle_walls[False]) + len(cycle_walls[True]),
        "measured_s": round(measured_s, 3),
        "inputs_s": inputs_s,
        "setup_reps_s": setup,
        "setup_ops_ms": {op.cell: op.ms for op in run.ops if op.detail.get("setup")},
        "ops_per_class": {
            k: {"p50_ms": statistics.median(v), "tail_ms": tail(v), "n": len(v)}
            for k, v in sorted(kinds.items())
        },
        "cell_p50_ms": {k: statistics.median(v) for k, v in sorted(cells.items())},
        "error_rate": len(failed) / attempted,
        "errors": [{"cell": op.cell, "error": op.error} for op in failed],
        "reuse_fraction": (sum(reuse) / len(reuse)) if reuse else None,
        "store_bytes": stored,
        "user_bytes": wl.user_bytes(),
        "loadavg_start": load_start,
        "calibration_s_start": calib_start,
        "peak_rss_mb_by_process": rss.by_process(),
    }
    if trace:
        metrics = layers.per_layer(run, wl, cores, cycle_walls)
    else:
        metrics = {
            "cycle_ms": {"value": cycle_ms, "unit": "ms"},
            "setup_s": {"value": statistics.median(setup), "unit": "s"},
            "worker_peak_rss_mb": {"value": rss.worker_peak_mb(), "unit": "MB"},
            "bytes_stored_per_user_byte": {"value": stored / wl.user_bytes(), "unit": "ratio"},
        }
    detail["calibration_s_end"] = calibration_s(spark)
    detail["loadavg_end"] = os.getloadavg()[0]
    if trace:
        metrics["session.calibration_s"] = {"value": calib_start, "unit": "s"}
        metrics["session.loadavg_start"] = {"value": load_start, "unit": "load"}
        metrics["session.loadavg_end"] = {"value": detail["loadavg_end"], "unit": "load"}
    result = {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": metrics,
    }
    return detail, result, run


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # SIGTERM unwinds through the finally below, which stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    work_dir = os.path.join(HERE, "_work", f"{os.getpid()}")
    local_dir = os.path.join(work_dir, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(local_dir, cores)
        session_s = time.perf_counter() - t0
        detail, result, _ = run_workload(
            spark, args.workload, args.seed, args.seconds, args.trace, work_dir, sampler, cores=cores
        )
    finally:
        if spark is not None:
            stop_session(spark)
        sampler.stop()
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:  # another run's directory is still there
            pass
    detail["session_start_s"] = session_s
    detail["process_wall_s"] = time.perf_counter() - T_START
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    try:
        import spdb_spark  # noqa: F401
    except ImportError:
        print("perfbench: the spdb_spark package is not next to perfbench/", file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
