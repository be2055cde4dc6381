"""Benchmark entry point: one workload, one client, one process.

    python3 perfbench/run.py --workload pivot_etl --seed 1 --seconds 10 --trace 0

Writes the workload's inputs from ``--seed`` (untimed), sets the session up
``N_SETUPS`` times (each in a fresh JVM), runs ``WARMUP_ITERATIONS`` untimed
iterations, then warm iterations closed-loop for ``--seconds``,
checks every output against DuckDB (untimed) and prints, as the last line of
stdout, ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (see
``BENCHMARK.json`` and ``perfbench/workloads.py``).

Everything the run writes lives under ``.perfbench_work/`` next to this
directory: inputs, Spark local dirs, temp files and, for traced runs, the
span file ``.perfbench_work/traces/<workload>-seed<n>.json``.
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
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# Session set-ups per run, each launching its own JVM; setup_s is their median.
# A cold set-up takes 15-20 s on a 4-core host, so two keep a run near a minute.
N_SETUPS = 2
# Untimed iterations between the last set-up and the timed ones. The JIT keeps
# compiling for several iterations of a fresh JVM: on a 4-core host pivot_etl's
# iterations 2-5 run 3.5, 2.8, 2.5 and 2.5 s and streaming_drain's 2.2, 2.1,
# 2.0 and 1.9 s, before both settle (near 2.0 and 1.8 s) from the sixth.
WARMUP_ITERATIONS = 4
# Warm iterations measured at least, even when --seconds has run out.
MIN_ITERATIONS = 3


def host_env(work: str) -> dict[str, str]:
    """The run's pinned host settings, applied through the engine's own
    environment variables: all cores, a driver heap sized to the host,
    console progress off, and every Spark and temp directory under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1024, min(4096, mem_mb // 4))}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "SPARK_GRAFT_CONF": ";".join(
            [
                "spark.ui.showConsoleProgress=false",
                f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
                "spark.sql.streaming.forceDeleteTempCheckpointLocation=true",
            ]
        ),
    }


class Session:
    """The run's SparkSession and the JVM behind it."""

    def __init__(self) -> None:
        self.spark = None

    def start(self):
        from taxi_data_datapipeline_spark.session import get_spark

        self.spark = get_spark("perfbench")
        return self.spark

    def jvm_peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    def shutdown(self) -> None:
        """Stop Spark, then wait for the JVM and every process it started
        (Python workers) to exit; the next ``start`` launches a new JVM."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        SparkContext._gateway = SparkContext._jvm = None
        proc = gw.proc
        children = _descendants(proc.pid)
        try:
            gw.shutdown()
        except Exception:  # the gateway may already be gone; the waits below decide
            pass
        proc.stdin.close()  # the JVM's gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 15
        for pid in children:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, signal.SIGKILL)


def _descendants(pid: int) -> list[int]:
    """Process ids of every live descendant of ``pid``."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids = [int(c) for c in fh.read().split()]
        except OSError:
            continue
        for kid in kids:
            out += [kid, *_descendants(kid)]
    return out


def run(wl, session: Session, seconds: float, trace: bool) -> dict:
    """Set up, measure and check one workload; returns the result line."""
    from taxi_data_datapipeline_spark import queries_advanced
    from taxi_data_datapipeline_spark.queries import clear_memos

    from perfbench.trace import Tracer

    setups, gets, colds = [], [], []
    for _ in range(N_SETUPS):
        session.shutdown()
        t0 = time.perf_counter()
        spark = session.start()
        t1 = time.perf_counter()
        clear_memos()
        wl.iteration(spark)
        t2 = time.perf_counter()
        setups.append(t2 - t0)
        gets.append(t1 - t0)
        colds.append(t2 - t1)

    for _ in range(WARMUP_ITERATIONS):
        clear_memos()
        wl.iteration(spark)

    tracer = Tracer(spark) if trace else None
    if tracer is not None:
        # Streaming queries run on per-source session clones that the engine
        # keeps in this registry; listener events are scoped per session.
        app = spark.sparkContext.applicationId
        clones = [s for k, s in queries_advanced._STREAM_SESSION_CACHE.items() if k[0] == app]
        tracer.listen([spark, *clones])
    walls: list[float] = []
    traced_walls: list[float] = []
    deadline = time.perf_counter() + seconds
    i = 0
    while (
        time.perf_counter() < deadline
        or len(walls) < MIN_ITERATIONS
        or (trace and len(traced_walls) < MIN_ITERATIONS)
    ):
        traced = tracer is not None and i % 2 == 1
        released = clear_memos()
        t0 = time.perf_counter()
        wl.iteration(spark, tracer if traced else None)
        wall = time.perf_counter() - t0
        (traced_walls if traced else walls).append(wall)
        if tracer is not None:
            tracer.end_iteration(wall, traced, memos_released=released)
        i += 1

    rss = session.jvm_peak_rss_mb()
    t_check = time.perf_counter()
    wl.check(spark)
    print(
        f"perfbench: setups {[round(s, 2) for s in setups]} s, iterations"
        f" {[round(w, 2) for w in walls]} s, traced {[round(w, 2) for w in traced_walls]} s,"
        f" check {time.perf_counter() - t_check:.2f} s",
        file=sys.stderr,
    )
    attempted, failed = wl.ledger.attempted(), wl.ledger.failed()
    wall_s = statistics.median(walls)
    if not trace:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "wall_s": (wall_s, "s"),
            "rows_per_s": (wl.input_rows / wall_s, "rows/s"),
        }
    else:
        from perfbench.workloads import QUERY_WORKLOADS, metric_names

        # Per-query metrics for every workload BENCHMARK.json lists, so each
        # of its workloads prints the same per-layer names, plus this one's.
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            listed = [w["name"] for w in json.load(fh)["workloads"]]
        queries = [q for w in listed if w in QUERY_WORKLOADS for q in QUERY_WORKLOADS[w][0]]
        queries += [q for q in wl.queries if q not in queries]
        cores = spark.sparkContext.defaultParallelism
        names = metric_names(queries)
        values = dict.fromkeys(names, 0.0)
        values.update(
            {
                "session.get_spark_s": statistics.median(gets),
                "session.cold_iteration_s": statistics.median(colds),
                "session.jvm_peak_rss_mb": rss,
                "session.trace_overhead_s": statistics.median(traced_walls) - wall_s,
                "failed_frac": failed / attempted,
            }
        )
        values.update(wl.layer_metrics(tracer, cores))
        unknown = set(values) - set(names)
        if unknown:
            raise KeyError(f"per-layer metrics missing from metric_names(): {sorted(unknown)}")
        metrics = {n: (values[n], names[n]) for n in names}
        os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
        tracer.write(os.path.join(WORK_ROOT, "traces", f"{wl.name}-seed{wl.seed}.json"))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = ap.parse_args(argv)

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.environ.update(host_env(work))
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    session = Session()
    try:
        try:
            import taxi_data_datapipeline_spark.queries  # noqa: F401
            import tools.check_oracle  # noqa: F401
        except ImportError as ex:
            print(f"perfbench: the program is not importable here: {ex}", file=sys.stderr)
            return 2
        from perfbench.workloads import WORKLOADS, make

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; one of {WORKLOADS}", file=sys.stderr)
            return 2
        wl = make(args.workload, os.path.join(work, "data"), args.seed, args.tiny)
        result = run(wl, session, args.seconds, bool(args.trace))
    finally:
        session.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
