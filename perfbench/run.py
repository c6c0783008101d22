#!/usr/bin/env python3
"""End-to-end benchmark of ``mysql_syncer_spark.executor.sync()``.

One closed-loop client: this process calls ``sync(master, slave,
config)`` back to back on one workload, restoring the slave between
syncs outside the timed window and checking every synced slave against
the master without Spark. See ``perfbench/README.md``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload churn_1pct --seed 1 --seconds 15 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The exit code
is non-zero when any correctness check fails.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: scale factor of the generated catalog (see README: why not sf0.1)
SF = 0.01
#: fewest timed syncs in an untraced run. Syncs still speed up over the
#: first several of a session, so a median over a count that varied from
#: run to run would follow the count; with --seconds below MIN_SYNCS
#: syncs' time, every run times the same syncs. Three, not more, keeps a
#: run near one minute when the host is slow (each sync then takes 9 s).
MIN_SYNCS = 3
#: fewest traced and fewest plain syncs in a traced run, so that
#: trace.overhead_s is a difference of two medians, not of two samples
MIN_EACH_TRACED = 2

END_TO_END_UNITS = {
    "sync_s_p50": "s",
    "cold_sync_s": "s",
    "setup_s": "s",
    "driver_mem_mb": "MB",
}


def parse_args(argv):
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="sync time to measure after the cold sync "
                         f"(at least {MIN_SYNCS} syncs, {2 * MIN_EACH_TRACED} traced)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(work: str, cores: int, event_dir: str | None):
    from pyspark.sql import SparkSession

    from mysql_syncer_spark.sources.catalog import configure_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}")
    )
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.ui.retainedJobs", "1000000")
            .config("spark.ui.retainedStages", "1000000")
        )
    spark = configure_session(b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def become_subreaper() -> None:
    """Adopt every orphaned descendant (Linux ``PR_SET_CHILD_SUBREAPER``),
    so that processes the JVM starts stay ours to wait for after it ends."""
    import ctypes

    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def stop_session(spark) -> None:
    """Stop the Spark session and end its JVM, waiting until it has
    exited. PySpark's JVM otherwise exits only when it sees this
    process's end, after this process is gone."""
    import subprocess

    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    with contextlib.suppress(OSError):
        proc.stdin.close()  # the gateway exits on end of its standard input
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def reap_children(grace_s: float = 10.0) -> None:
    """Terminate every remaining child process and wait for each to end."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        children = _children()
        if not children:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in children:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        time.sleep(0.2)


def _children() -> list[int]:
    me = str(os.getpid())
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the fields after the parenthesised command are: state ppid ...
        if stat[stat.rfind(")") + 2:].split()[1] == me:
            found.append(int(entry))
    return found


def driver_mem_mb(spark) -> tuple[float, float]:
    """Memory of the Python driver (peak resident, VmHWM) and of the
    driver JVM (heap and non-heap in use after a full collection), in MB.

    The JVM's resident size follows what the collector has committed, and
    its pools' peak use follows when the collector last ran (it moved by
    26 % between runs of one workload); what a full collection leaves is
    what the session holds after its syncs: cached and broadcast data,
    job and query history, loaded code."""
    with open("/proc/self/status") as f:
        python = next(
            int(line.split()[1]) / 1024.0 for line in f
            if line.startswith("VmHWM:")
        )
    lang = spark._jvm.java.lang
    lang.System.gc()
    mx = lang.management.ManagementFactory.getMemoryMXBean()
    jvm = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return python, jvm / 2**20


class Runner:
    def __init__(self, args, work: str):
        import workloads

        self.args = args
        self.work = work
        # N = nproc: session cores, shuffle partitions, sync units in
        # flight and parquet files per table
        self.cores = len(os.sched_getaffinity(0))
        self.wl = workloads.WORKLOADS[args.workload](
            os.path.join(work, "inputs"), args.seed, SF, self.cores
        )
        self.event_dir = os.path.join(work, "events") if args.trace else None
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.rows: list[int] = []
        self.bytes: list[int] = []
        self.mem: tuple[float, float] = (0.0, 0.0)

    def build(self):
        """Generate the inputs, make the catalogs and check the plan
        shape; returns (master, slave, config)."""
        from collections import Counter

        self.wl.build()
        self.wl.restore()
        master, slave = self.wl.catalogs(self.spark)
        cfg = self.wl.config(self.cores)
        shape = self.wl.plan_shape(master, slave, cfg)
        if shape != self.wl.plan:
            raise SystemExit(
                f"plan-shape guard: {self.wl.name} planned {dict(shape)}, "
                f"expected {dict(Counter(self.wl.plan))}"
            )
        return master, slave, cfg

    def one_sync(self, master, slave, cfg, tracer=None) -> float:
        """Restore, sync (timed), check. Returns the sync's seconds."""
        from mysql_syncer_spark.executor import sync

        self.wl.restore()
        before = self.wl.snapshot()
        wall0 = time.time() * 1000.0
        t0 = time.perf_counter()
        report = sync(master, slave, cfg)
        t1 = time.perf_counter()
        wall1 = time.time() * 1000.0
        if tracer is not None:
            tracer.record_sync(t0, t1, wall0, wall1)
        self.attempted += 1
        errors = self.wl.check(report)
        if errors:
            self.failures.append("; ".join(errors))
        rows, size = self.wl.written(report, before)
        self.rows.append(rows)
        self.bytes.append(size)
        return t1 - t0

    def run(self) -> dict:
        from tracer import Tracer, find_event_log

        self.spark = start_session(self.work, self.cores, self.event_dir)

        master, slave, cfg = self.build()
        cold = self.one_sync(master, slave, cfg)
        setup = time.perf_counter() - T0

        tracer = None
        if self.args.trace:
            tracer = Tracer(self.spark, self.cores, self.partition_values())
        plain, traced = [], []
        measured = 0.0
        def too_few() -> bool:
            if tracer is None:
                return len(plain) < MIN_SYNCS
            return min(len(plain), len(traced)) < MIN_EACH_TRACED

        while measured < self.args.seconds or too_few():
            # traced runs go traced, plain, plain, traced, ...: both kinds
            # sit at the same mean position in the warm-up
            if tracer is not None and (len(plain) + len(traced)) % 4 in (0, 3):
                tracer.install()
                try:
                    dt = self.one_sync(master, slave, cfg, tracer)
                finally:
                    tracer.uninstall()
                traced.append(dt)
            else:
                dt = self.one_sync(master, slave, cfg)
                plain.append(dt)
            measured += dt

        self.mem = driver_mem_mb(self.spark)
        spark, self.spark = self.spark, None
        stop_session(spark)

        if tracer is None:
            values = {
                "sync_s_p50": statistics.median(plain),
                "cold_sync_s": cold,
                "setup_s": setup,
                "driver_mem_mb": sum(self.mem),
            }
            metrics = {
                k: {"value": v, "unit": END_TO_END_UNITS[k]}
                for k, v in values.items()
            }
            self._summary(values, plain)
        else:
            layer = tracer.metrics(find_event_log(self.event_dir))
            layer["trace.overhead_s"] = (
                statistics.median(traced) - statistics.median(plain)
            )
            tracer.dump(os.path.join(
                ROOT, ".perfbench_out",
                f"trace-{self.args.workload}-seed{self.args.seed}.json",
            ))
            metrics = {
                k: {"value": v, "unit": _layer_unit(k)}
                for k, v in sorted(layer.items())
            }
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": metrics,
        }

    def partition_values(self) -> dict[str, int]:
        """Distinct partition values per partitioned table (the master
        holds every value the slave does)."""
        import pyarrow.compute as pc

        return {
            t: len(pc.unique(self.wl.master[t].column(col)))
            for t, col in self.wl.partitioned.items()
        }

    def _summary(self, values: dict, timed: list) -> None:
        """Human-readable lines before the JSON result."""
        print(f"workload {self.args.workload} seed {self.args.seed}: "
              f"{len(timed)} timed syncs, {self.attempted} attempted, "
              f"{len(self.failures)} failed")
        print("  timed syncs (s): " + " ".join(f"{t:.3f}" for t in timed))
        for k, v in values.items():
            print(f"  {k:<16} {v:12.4f} {END_TO_END_UNITS[k]}")
        print(f"  {'error_rate':<16} {len(self.failures) / self.attempted:12.4f} ratio")
        print(f"  {'rows_written':<16} {statistics.median(self.rows):12.1f} rows/sync")
        print(f"  {'bytes_written':<16} {statistics.median(self.bytes):12.1f} B/sync")
        print(f"  {'mem_python_mb':<16} {self.mem[0]:12.1f} MB")
        print(f"  {'mem_jvm_mb':<16} {self.mem[1]:12.1f} MB")
        for f in self.failures:
            print(f"  FAILED: {f}")


def _layer_unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("bytes",)):
        return "B"
    if name.endswith(("ratio", "utilization", "share")):
        return "ratio"
    if name.endswith(".rows"):
        return "rows"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(1, ROOT)
    try:
        import mysql_syncer_spark
    except ImportError as e:
        print(f"perfbench: the sync engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(mysql_syncer_spark.__file__)) != ROOT:
        print(f"perfbench: imported the sync engine from "
              f"{mysql_syncer_spark.__file__}, not from {ROOT}", file=sys.stderr)
        return 2
    become_subreaper()
    # a termination signal unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    runner = Runner(args, work)
    try:
        result = runner.run()
    finally:
        try:
            stop_session(runner.spark)
        finally:
            reap_children()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # fails while another run uses it
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
