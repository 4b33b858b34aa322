"""Benchmark of the htsql_spark engine through its public entry points.

Run from the repository root:

    python3 perfbench/run.py --workload navigate --seed 1 --seconds 30 --trace 0

One process runs one workload (see ``perfbench/README.md``):

* ``navigate`` -- HTSQL over HTTP: in-process ``WSGI(db)`` requests
  drawn from the registry's language texts, each checked against a
  DuckDB twin;
* ``ingest`` -- streaming writes next to reads: event files land in a
  landing directory, three ``HTSQL.store_stream`` sinks drain them and
  are read back through ``streaming.snapshot.read_snapshot``, checked
  against DuckDB over the landed files.

Inputs are generated from ``--seed``; the engine only sees the query
texts and files.  One closed-loop client runs on Spark ``local[N]``
with the default ``get_spark`` configuration.  After a fixed warm-up
the client runs ops for ``--seconds`` seconds; every op is checked
after the timed loop.  ``--trace 0`` prints the end-to-end metrics and
``--trace 1`` the per-layer metrics of ``perfbench/layers.py``.  The
last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()  # before the heavy imports: set-up counts them

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

#: Spark local[N]: fixed so that runs on larger hosts stay comparable
CPUS = 4
#: engine set-ups per run; setup_s is their median
SETUPS = 3

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("navigate", "ingest")


class Run:
    """State shared by a workload and the harness: the Spark session,
    the engine, the per-run scratch directory and the op records."""

    def __init__(self, workload: str, root: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = min(CPUS, len(os.sched_getaffinity(0)))
        self.scratch = os.path.join(root, ".perfbench_tmp", f"run-{os.getpid()}")
        self.data_dir = os.path.join(self.scratch, "data")
        self.spark = None
        self.db = None
        self.input_s = 0.0  # input generation inside the set-up window
        self.setups: list[float] = []
        self.latencies: list[float] = []  # one per timed op
        self.source_rows = 0
        self.timed_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.info: dict[str, object] = {}

    # -- engine set-up ---------------------------------------------------
    def start_engine(self, **engine_kwargs) -> None:
        """Build the Spark session and the engine; the first call also
        launches the JVM.  Each call appends one set-up time."""
        from htsql_spark import HTSQL, get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.db = HTSQL(self.spark, self.data_dir, **engine_kwargs)
        t1 = time.perf_counter()
        if not self.setups:
            # cold: from process start, minus the benchmark's own input
            # generation
            self.setups.append(time.time() - T_PROCESS - self.input_s)
        else:
            self.setups.append(t1 - t0)
        self._engine_kwargs = engine_kwargs

    def restart_engines(self) -> None:
        """Stop the measured session and set the engine up again on the
        running JVM until ``SETUPS`` set-ups are recorded."""
        while len(self.setups) < SETUPS:
            self.spark.stop()
            self.start_engine(**self._engine_kwargs)

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what[:500])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def end_to_end(run: Run) -> dict[str, tuple[float, str]]:
    lat = run.latencies
    p90 = (
        statistics.quantiles(lat, n=10, method="inclusive")[8]
        if len(lat) > 1 else lat[0]
    )
    return {
        "setup_s": (statistics.median(run.setups), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_p90_s": (p90, "s"),
        "ops_per_s": (len(lat) / run.timed_s, "1/s"),
        "rows_per_s": (run.source_rows / run.timed_s, "1/s"),
    }


def _prepare_env(root: str, scratch: str) -> None:
    os.environ["TZ"] = "UTC"
    time.tzset()
    # Python UDF workers import htsql_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    # the default get_spark confs: no deployment overrides
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    os.environ.pop("SPARK_GRAFT_STREAM_PARTITIONS", None)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    import tempfile

    tempfile.tempdir = None


def _stop_jvm(run: Run) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    worker daemons) to exit."""
    from pyspark import SparkContext

    if run.spark is not None:
        run.spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        # the JVM exits when its stdin pipe closes
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "htsql_spark", "__init__.py")):
        print(
            f"perfbench: no htsql_spark package under {root};"
            " run from the repository root",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    run = Run(args.workload, root, args.seed, args.seconds, bool(args.trace))
    _prepare_env(root, run.scratch)
    try:
        if args.workload == "navigate":
            import navigate as workload
        else:
            import ingest as workload
        tracer = None
        if run.trace:
            import layers

            tracer = layers.Tracer(run, workload.TRACE_OPS)
        steal0, total0 = cpu_ticks()
        workload.run(run, tracer)
        steal1, total1 = cpu_ticks()
        # CPU time the hypervisor gave to other guests: a noisy-host flag
        run.info["cpu_steal_share"] = round(
            (steal1 - steal0) / max(1, total1 - total0), 4
        )
        peak_rss_mb = vm_hwm_mb(run.jvm_pid()) + vm_hwm_mb("self")
        t1 = time.time()
        run.restart_engines()
        run.info["restart_s"] = round(time.time() - t1, 2)
        run.info["setups_s"] = [round(x, 3) for x in run.setups]
        if tracer is not None:
            metrics = tracer.metrics()
            metrics["peak_rss_mb"] = (peak_rss_mb, "MB")
        else:
            metrics = end_to_end(run)
    finally:
        _stop_jvm(run)
        shutil.rmtree(run.scratch, ignore_errors=True)
        parent = os.path.dirname(run.scratch)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    print(f"wall_s={time.time() - T_PROCESS:.1f}")
    print(f"workload={args.workload} seed={args.seed} local[{run.cpus}]"
          f" timed_s={run.timed_s:.2f} ops={len(run.latencies)}")
    for k, v in sorted(run.info.items()):
        print(f"  info {k} = {v}")
    for name, (value, unit) in metrics.items():
        print(f"  {name:26s} {value:14.6f} {unit}")
    if run.attempted:
        print(f"  error_rate {run.failed / run.attempted:.6f}"
              f" ({run.failed}/{run.attempted})")
    for f in run.failures:
        print(f"  FAILED {f}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
