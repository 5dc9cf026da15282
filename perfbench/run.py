"""spark-tin benchmark: a single-process closed loop.

One driver submits one operation at a time to ``local[nproc]``; the next
operation starts when the previous one has returned and been checked.

    python3 perfbench/run.py --workload tin_shuffle --seed 3 --seconds 7 --trace 0

A run generates (once per grid offset) and loads its fixture, then three
times sets up a fresh Spark session plus the workload's cached inputs
(the median is ``setup_s``; the first also launches the JVM).  In the
first and second session it times the first, cold operation (the
median is ``first_op_s``); in the second it then repeats warm
operations for ``--seconds``.  The third session only sets up.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` reruns the
same protocol with status-store reads after every operation and a
kernel replay, and prints the per-layer metrics.  The last stdout line
is the result object; the line before it is the run record (Spark
conf, kernel backend, every operation's time).

Everything the run writes goes under ``$CARGO_TARGET_DIR/perfbench``
when that variable is set, else under a per-checkout directory in the
system temp dir: never next to the sources.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import statistics
import sys
import tempfile
import threading
import time

# no bytecode next to the sources, in this process or any it starts
sys.dont_write_bytecode = True
os.environ["PYTHONDONTWRITEBYTECODE"] = "1"

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def work_dir() -> str:
    base = os.environ.get("CARGO_TARGET_DIR")
    if base:
        return os.path.join(os.path.abspath(base), "perfbench")
    tag = hashlib.sha256(ROOT.encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"perfbench-{os.getuid()}-{tag}")


class ProcessTree:
    """Peak resident memory of this process and all its descendants
    (the Python driver, the JVM and the Python workers) in each phase of
    the run, sampled every 50 ms on a background thread."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self):
        self.phase = "start"
        self.phase_peaks: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def descendants(root: int) -> set[int]:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        tree, grew = {root}, True
        while grew:
            new = {p for p, pp in parent.items() if pp in tree and p not in tree}
            tree |= new
            grew = bool(new)
        return tree

    def rss(self) -> int:
        total = 0
        for pid in self.descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self.PAGE
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self):
        while not self._stop.wait(0.05):
            rss, phase = self.rss(), self.phase
            self.phase_peaks[phase] = max(self.phase_peaks.get(phase, 0), rss)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs: a run whose share of
    stolen time is high ran while the machine was contended."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def stop_spark(spark) -> None:
    """Stop the session (if any) and the JVM it runs in, and wait until
    the JVM and every Python worker have exited."""
    from pyspark import SparkContext

    children = ProcessTree.descendants(os.getpid()) - {os.getpid()}
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    wait_gone(children, 60)


def alive(pid: int) -> bool:
    """Whether ``pid`` runs (exists and is not a zombie)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids: set[int], timeout: float) -> set[int]:
    """Wait up to ``timeout`` seconds for ``pids`` to exit; the ones
    still running."""
    deadline = time.time() + timeout
    while True:
        left = {p for p in pids if alive(p)}
        if not left or time.time() >= deadline:
            return left
        time.sleep(0.05)


def stop_descendants() -> None:
    """Terminate, then kill, every process this one started that still
    runs, and wait until each has ended: no run leaves a process behind,
    whichever way it exits."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = {p for p in ProcessTree.descendants(me) - {me} if alive(p)}
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if not wait_gone(left, 10):
            return


def backend() -> str:
    """Which kernel backend this host runs: ``c`` or the numpy fallback."""
    import numpy as np

    from lasutility_spark.gridlib import _native

    tri = _native.triangulate(np.array([0.0, 1.0, 0.0]), np.array([0.0, 0.0, 1.0]))
    return "numpy" if tri is None else "c"


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def run(workload: str, seed: int, seconds: float, trace: bool,
        workdir: str) -> tuple[dict, dict]:
    from lasutility_spark.engine.session import get_spark

    from perfbench import fixture, sparkmetrics, workloads
    from perfbench.trace import Tracer, measure_replay

    cpus = len(os.sched_getaffinity(0))
    fx = fixture.ensure(workdir, seed, procs=min(4, cpus))
    wl = workloads.WORKLOADS[workload](fx, cpus)
    t_run = time.perf_counter()
    wl.prepare()
    phase_s = {"prepare": time.perf_counter() - t_run}
    t_run = time.perf_counter()
    tracer = Tracer() if trace else None
    ctx = workloads.Context(workdir=workdir, tracer=tracer)
    setup_s, setup_layers, op_s, op_layers, errors = [], [], [], [], []
    first_s, cold_layers = [], []
    attempted = failed = 0
    tree = ProcessTree()

    def attempt() -> None:
        nonlocal attempted, failed
        attempted += 1
        tree.phase = f"op{attempted}"
        ctx.layers = {}
        if tracer:
            tracer.op = attempted
        mark = ctx.reader.mark() if trace else None
        t0 = time.perf_counter()
        try:
            with ctx.span("op"):
                result = wl.op(ctx)
            wall = time.perf_counter() - t0
            tree.phase = "check"
            errs = wl.check(result)
        except Exception as exc:  # an operation that raises counts as failed
            failed += 1
            errors.append(f"op {attempted}: {type(exc).__name__}: {exc}")
            return
        if errs:
            failed += 1
            errors.extend(f"op {attempted}: {e}" for e in errs)
        op_s.append((wall, wl.items(result)))
        if trace:
            spark_op = ctx.reader.since(mark)
            layers = {**ctx.layers, **spark_op.layers()}
            busy = sum(spark_op.task_ms) / 1e3
            layers["unattributed_frac"] = 1.0 - busy / (cpus * wall)
            if "trace.in_op_s" in ctx.layers:
                layers["trace.overhead_frac"] = ctx.layers["trace.in_op_s"] / wall
            if isinstance(result, dict) and "disk_bytes_per_data_byte" in result:
                layers["checkpoint.disk_bytes_per_data_byte"] = result["disk_bytes_per_data_byte"]
            op_layers.append(layers)

    spark = None

    def session(rep: int) -> None:
        """Stop the current session, if any, and set up a fresh one."""
        nonlocal spark
        tree.phase = f"setup{rep}"
        if spark is not None:
            spark.stop()
        ctx.layers = {}
        t0 = time.perf_counter()
        with ctx.span("setup"):
            with ctx.span("session.start"):
                spark = get_spark(cpus=cpus, app="perfbench")
                ctx.layers["session.start_s"] = time.perf_counter() - t0
            ctx.spark = spark
            ctx.reader = sparkmetrics.StatusReader(spark) if trace else None
            wl.setup(ctx)
        setup_s.append(time.perf_counter() - t0)
        if trace:
            ctx.layers["scan.cached_bytes"] = sparkmetrics.cached_bytes(spark)
        setup_layers.append(ctx.layers)

    def cold_op() -> None:
        """The first operation of a session: its Python workers, kernel
        load and memo fill are new."""
        n_ok = len(op_s)
        attempt()
        if len(op_s) > n_ok:
            first_s.append(op_s.pop()[0])
            if trace:
                cold_layers.append(op_layers.pop())

    steal0, total0 = cpu_ticks()
    try:
        with tree:
            # session 1 launches the JVM and runs what a one-shot job runs
            # (set-up, cold operation); session 2 sets up, runs its cold
            # operation, then the warm operations; session 3 only sets up
            session(0)
            cold_op()
            session(1)
            cold_op()
            phase_s["setups_and_cold_ops"] = time.perf_counter() - t_run
            t_end = time.perf_counter() + seconds
            while True:
                attempt()
                if time.perf_counter() >= t_end:
                    break
            phase_s["warm_ops"] = time.perf_counter() - t_end + seconds
            conf = dict(spark.sparkContext.getConf().getAll())
            session(2)
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
        phase_s["stop"] = time.perf_counter() - t_stop
    steal1, total1 = cpu_ticks()
    record = {
        "workload": workload, "seed": seed, "grid_offset": fx.index, "cpus": cpus,
        "native_backend": backend(), "spark_conf": conf,
        "setup_s": setup_s, "first_op_s": first_s, "op_s": [w for w, _ in op_s],
        "items": [n for _, n in op_s], "n_warm": len(op_s), "phase_s": phase_s,
        "attempted": attempted, "failed": failed, "errors": errors[:20],
        "host_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "peak_rss_mb_by_phase": {k: v / 2**20 for k, v in tree.phase_peaks.items()},
    }
    metrics: dict[str, tuple[float, str]] = {}
    if not trace:
        metrics["setup_s"] = (median(setup_s), "s")
        metrics["first_op_s"] = (median(first_s), "s")
        metrics["items_per_s"] = (
            median([n for _, n in op_s]) / median([w for w, _ in op_s]) if op_s else 0.0, "1/s")
        op_peaks = [v for k, v in tree.phase_peaks.items() if k.startswith("op")]
        metrics["peak_rss_mb"] = (median(op_peaks) / 2**20, "MB")
        metrics["ok_frac"] = ((attempted - failed) / attempted, "ratio")
    else:
        metrics.update(layer_metrics(setup_layers, cold_layers, op_layers, record))
        replay = wl.replay()
        if replay is not None:
            for k, v in measure_replay(tracer, replay).items():
                metrics[k] = (v, LAYER_UNITS[k])
        os.makedirs(os.path.join(workdir, "traces"), exist_ok=True)
        tracer.dump(os.path.join(workdir, "traces", f"{workload}-seed{seed}.jsonl"))
        record["trace_spans"] = len(tracer.spans)
    return record, metrics


# every per-layer metric with its unit; a layer a workload does not
# exercise reads 0
LAYER_UNITS = {
    "session.start_s": "s", "scan.cache_build_s": "s", "scan.cached_bytes": "bytes",
    "driver.collect_bytes": "bytes", "driver.broadcast_s": "s",
    "python.start_s": "s", "python.init_s": "s", "python.run_s": "s",
    "arrow.bytes_to_python": "bytes", "arrow.bytes_from_python": "bytes",
    "shuffle.bytes_written": "bytes", "shuffle.records_written": "count",
    "shuffle.fetch_wait_s": "s",
    "tasks.n": "count", "tasks.p50_ms": "ms", "tasks.max_over_p50": "ratio",
    "gridlib.png.decode_ms": "ms", "datagen.sample_points_ms": "ms",
    "gridlib.tin.delaunay_ms": "ms", "gridlib.tin.fill_ms": "ms",
    "gridlib.png.encode_ms": "ms", "gridlib.phash.ms": "ms",
    "gridlib.wkb.decode_ms": "ms", "gridlib.wkb.decodes_per_ref": "ratio",
    "pip_stage.feature_raster_ms": "ms", "kernel.other_ms": "ms",
    "checkpoint.write_s": "s", "checkpoint.resume_s": "s",
    "checkpoint.sql_execs": "count", "checkpoint.disk_bytes_per_data_byte": "ratio",
    "unattributed_frac": "ratio", "trace.overhead_frac": "ratio",
    "native.backend_c": "bool",
}
SETUP_LAYERS = ("session.start_s", "scan.cache_build_s", "scan.cached_bytes",
                "driver.collect_bytes", "driver.broadcast_s")


def layer_metrics(setup_layers: list[dict], cold_layers: list[dict], op_layers: list[dict],
                  record: dict) -> dict:
    """Setup layers: median over the set-ups.  ``python.start_s``: median
    over the cold operations, where the workers start.  Every other
    operation layer: median over the warm operations."""
    out = {k: (0.0, u) for k, u in LAYER_UNITS.items()}
    for k in SETUP_LAYERS:
        out[k] = (median([s.get(k, 0.0) for s in setup_layers]), LAYER_UNITS[k])
    warm = op_layers or cold_layers
    for k in {k for o in warm for k in o} & set(LAYER_UNITS):
        if k not in SETUP_LAYERS:
            out[k] = (median([o.get(k, 0.0) for o in warm]), LAYER_UNITS[k])
    if cold_layers:
        out["python.start_s"] = (median([o.get("python.start_s", 0.0) for o in cold_layers]), "s")
    out["native.backend_c"] = (1.0 if record["native_backend"] == "c" else 0.0, "bool")
    record["layer_samples"] = {"setups": len(setup_layers), "cold_ops": len(cold_layers),
                               "warm_ops": len(warm)}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tin_fused", "tin_shuffle", "pip_classify", "checkpoint_write"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "lasutility_spark", "__init__.py")):
        print(f"perfbench: no lasutility_spark package under {ROOT}", file=sys.stderr)
        return 2
    workdir = work_dir()
    for sub in ("tmp", "spark", "spark-local"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    # Spark's scratch (shuffle files, block manager) and the JVM's temp
    # files (native libraries it unpacks) go to the work dir as well, and
    # the JVM keeps no perf-data file in /tmp
    os.environ["LSU_NO_SHM_SPILL"] = "1"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(workdir, "tmp")]))
    # Python temp files (the native kernel build cache among them) and
    # Spark's relative paths (spark-warehouse) land in the work dir; the
    # Python workers find the package through PYTHONPATH
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)
    os.chdir(os.path.join(workdir, "spark"))
    try:
        record, metrics = run(args.workload, args.seed, args.seconds, bool(args.trace), workdir)
    finally:
        stop_descendants()
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": record["failed"] == 0 and record["attempted"] > 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
