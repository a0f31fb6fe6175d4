"""chimp_spark benchmark: one closed-loop client, one Spark session.

    python3 benchmark/run.py --workload tpch --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The benchmark imports the
``chimp_spark`` package from that checkout and drives it only through
its public API, at ``local[nproc]`` with a driver heap sized to the
machine. Each pass repeats the workload's operations on the same inputs;
the next pass starts when the previous one ends (one client).

Workloads (see ``benchmark/workloads.py``):

* ``tpch``: scan-path encode plus commit of two TPC-H-style tables,
  then a q1-shaped aggregate over decoded lineitem and a full and a
  split-filtered parquet export of the committed documents.
* ``float_series``: sensor time series through the scan path, encoded,
  decoded back with checksums verified, then aggregated per sensor.

A run sets up once (``setup_s``: JVM and Spark session start, input
generation, C-kernel build when not cached, the workload's state built
with the code under test, and one warm-up pass), then measures passes
for ``--seconds``. Every pass checks its outputs; mismatches and exceptions
are counted in ``failed``, never raised. Operation times and ``setup_s``
are read on ``clock.net_clock``: wall time net of the CPU time the
hypervisor stole.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (see ``benchmark/layers.py``). The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. Lines before
it give the run's conditions, every metric as ``metric <workload> <name>
<value> <unit>``, and ungated extras (``failed_frac``, ``query_s``,
``split_export_s``) as ``named`` lines.

Everything the run writes stays under ``<checkout>/.bench_work``.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
# Enough for these inputs, and small next to the machine's RAM (the
# engine's default is 24g). A heap left free to grow made the peak
# resident memory follow G1's sizing decisions, run to run.
DRIVER_MEMORY = "1g"


def _sandbox_env() -> None:
    """Keep every file Spark, the JVM and the engine write (temp files,
    shuffle blocks, the shipped package zip, the compiled C kernels)
    inside the checkout. Must run before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # -XX:-UsePerfData: no hsperfdata file in the system /tmp
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{java_opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip())
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} pyspark-shell"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_mb(pids: list[int]) -> float:
    """Proportional set size: a page shared by n processes counts 1/n
    to each, so the Python workers forked from one daemon do not count
    their shared pages once per worker, as resident set size does."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total / 1e6


class MemSampler:
    """Peak memory (PSS) of this process's descendants (the driver JVM
    and the Python worker tree it forks), sampled every 100 ms."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            mb = _pss_mb(descendants(os.getpid()))
            with self._lock:
                self._peak_mb = max(self._peak_mb, mb)

    def take(self) -> float:
        """Peak since the previous call."""
        with self._lock:
            peak, self._peak_mb = self._peak_mb, 0.0
        return peak

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def start_session(nproc: int):
    from chimp_spark import engine

    spark = engine.get_spark(cpus=nproc, app="chimp_bench", driver_memory=DRIVER_MEMORY)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the JVM it launched and every process under it."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.monotonic() + 20
        while descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.2)
        for p in descendants(os.getpid()):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for p in descendants(os.getpid()):
            try:
                os.waitpid(p, 0)
            except ChildProcessError:
                pass


def conditions(args, nproc: int) -> dict:
    import pyarrow
    import pyspark

    from chimp_spark import _native

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "native.loaded": _native.get() is not None,
        "CHIMP_SPARK_NO_NATIVE": os.environ.get("CHIMP_SPARK_NO_NATIVE"),
        "CHIMP_SPARK_ARROW_MAX_BYTES": os.environ.get("CHIMP_SPARK_ARROW_MAX_BYTES"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "driver_memory": DRIVER_MEMORY,
    }


def main(argv: list[str] | None = None) -> int:
    t_wall = time.perf_counter()
    sys.path.insert(0, ROOT)
    from benchmark.clock import net_clock

    t_start = net_clock()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "chimp_spark", "engine", "__init__.py")):
        print(f"benchmark: no chimp_spark package under {ROOT}", file=sys.stderr)
        return 2
    _sandbox_env()
    from benchmark import layers, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"benchmark: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    wl = workloads.WORKLOADS[args.workload](
        os.path.join(WORK, "inputs"), os.path.join(WORK, "run", args.workload), args.seed
    )
    tally = workloads.Tally()
    mem = MemSampler()
    spark = None
    try:
        from chimp_spark import _native

        _native.get()  # C-kernel build (cached under TMPDIR)
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            staged = pool.submit(wl.stage)  # overlaps the JVM start
            spark = start_session(nproc)
            t1 = net_clock()
            staged.result()
        t2 = net_clock()
        wl.prepare(spark)
        t3 = net_clock()
        warm = wl.run_pass(spark, layers.NULL)
        tally.add(warm)
        print("benchmark: warm-up pass: " + ", ".join(
            f"{k} {v:.3f} s" for k, v in warm.ops.items()), file=sys.stderr)
        setup_s = net_clock() - t_start
        print(f"benchmark: setup {setup_s:.2f} s: session {t1 - t_start:.2f} s, "
              f"staging wait {t2 - t1:.2f} s, prepare {t3 - t2:.2f} s, "
              f"warm-up pass {t_start + setup_s - t3:.2f} s", file=sys.stderr)

        cond = conditions(args, nproc)
        print("conditions " + json.dumps(cond, sort_keys=True))

        # the traced run splits its time: untraced passes, then traced ones
        window = args.seconds / 2 if args.trace else args.seconds
        passes = workloads.measure(wl, spark, window, layers.NULL, mem)
        tally.add(*passes)
        if args.trace:
            traced = workloads.measure(wl, spark, args.seconds / 2, None, None)
            tally.add(*traced)
            metrics = layers.per_layer(wl, passes, traced, cond)
        else:
            metrics = wl.end_to_end(passes)
            metrics["peak_pss_mb"] = (workloads.median_peak_mem(passes), "MB")
            metrics["setup_s"] = (setup_s, "s")
        for name, (value, unit) in metrics.items():
            print(f"metric {args.workload} {name} {value} {unit}")
        if not args.trace:
            for name, (value, unit) in wl.named_metrics(passes, tally).items():
                print(f"named {args.workload} {name} {value} {unit}")
    finally:
        t_stop = time.perf_counter()
        mem.close()
        wl.cleanup()
        if spark is not None:
            stop_session(spark)
        print(f"benchmark: teardown {time.perf_counter() - t_stop:.2f} s, run "
              f"{time.perf_counter() - t_wall:.2f} s", file=sys.stderr)

    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
