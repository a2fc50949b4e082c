"""Run one benchmark workload and print its metrics as one JSON line.

Usage, from the repository root::

    python3 perfbench/run.py --workload archive_query --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
runs the same warm-up, then replays one fixed, seed-determined sequence of
operations twice, untraced and then with Spark's event log on and one job
group per span, and prints the per-layer metrics. Everything the run writes
goes under ``.perfbench_work/`` in the working directory and is removed at
exit.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
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


class Session:
    """One local SparkSession confined to the work directory."""

    def __init__(self, work: str, event_log: str | None = None):
        from sat_bucket_spark import get_spark

        cores = os.cpu_count() or 1
        conf = {
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed-size heap: its resident size then depends on the work,
            # not on when the collector chose to grow the heap
            "spark.driver.memory": "1g",
            # no hsperfdata files under /tmp; temp files go to the work dir
            "spark.driver.extraJavaOptions": f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                # Spark 4.1 defaults to zstd rolling logs, which the standard
                # library cannot read
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.cores = cores
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.app_id = self.spark.sparkContext.applicationId

    @staticmethod
    def jvm_pid() -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        self.spark.stop()


def shutdown_jvm() -> None:
    """Stop the JVM and every process under it, and wait for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    procs = descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 15
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


class Loop:
    """Closed loop with one client: the next op starts when the last returns."""

    def __init__(self, wl):
        self.wl = wl
        self.ops: list[dict[str, float]] = []  # step seconds of each op that passed its checks
        self.attempted = 0
        self.failed = 0

    def run_one(self, i: int) -> None:
        self.attempted += 1
        try:
            steps = self.wl.op(i)
        except Exception:
            self.failed += 1
            print(f"[{self.wl.name}] op {i} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return
        self.ops.append(steps)

    def op_ms(self) -> float:
        """The op's latency taken step by step: the sum over its steps of
        each step's median across the ops. Every op has the same steps, so
        on steady timings this is the median op latency; a stall that hits
        one step of one op is dropped with that step's outliers instead of
        moving the whole op."""
        if not self.ops:
            raise RuntimeError("no operation succeeded")
        names = {name for op in self.ops for name in op}
        return 1000.0 * sum(statistics.median(op.get(name, 0.0) for op in self.ops) for name in names)

    def run_for(self, seconds: float) -> None:
        """Run ops until ``seconds`` have passed, and at least the workload's
        ``min_ops``."""
        t_end = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < t_end or i < self.wl.min_ops:
            self.run_one(i)
            i += 1

    def run_n(self, n: int, first: int = 0) -> None:
        for i in range(first, first + n):
            self.run_one(i)

    def warm_up(self, n: int) -> None:
        """Run ``n`` checked ops, drawn from their own stream, whose timings
        are dropped."""
        self.wl.reset_rng(0)
        self.run_n(n, first=-n)
        self.ops.clear()


def end_to_end(loop: Loop, setup_s: float, rss_mb: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "op_ms": (loop.op_ms(), "ms"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests use a small one)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "sat_bucket_spark")):
        print("perfbench: run from the repository root (sat_bucket_spark/ not found)", file=sys.stderr)
        return 2
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p) != BENCH_DIR]
    from perfbench import layers
    from perfbench.spans import Tracer, reduce_event_log
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # overrides spark.local.dir, so a value set outside would win over a conf
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the JVM that spark-submit starts first
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    try:
        session = Session(work)
        wl = WORKLOADS[args.workload](session.spark, work, args.seed, Tracer(), scale=args.scale)
        wl.setup()
        setup_s = time.time() - T_START
        loop = Loop(wl)
        loop.warm_up(wl.warmup_ops)
        wl.reset_rng(1)
        if not args.trace:
            loop.run_for(args.seconds)
            rss = vm_hwm_mb("self") + vm_hwm_mb(session.jvm_pid())
            metrics = end_to_end(loop, setup_s, rss)
            session.stop()
        else:
            loop.run_n(wl.trace_ops)
            untraced = loop.op_ms()
            session.stop()
            log_dir = os.path.join(work, "eventlog")
            session = Session(work, event_log=log_dir)
            tracer = Tracer(session.spark)
            wl.rebind(session.spark, Tracer())
            wl.reset_rng(0)
            loop.run_n(1, first=wl.trace_ops)  # warm the new context, untraced
            wl.rebind(session.spark, tracer)
            wl.reset_rng(1)  # the same ops as the untraced phase
            wl.layer.clear()
            traced = Loop(wl)
            traced.run_n(wl.trace_ops, first=wl.trace_ops + 1)
            loop.attempted += traced.attempted
            loop.failed += traced.failed
            session.stop()
            reduced = reduce_event_log(os.path.join(log_dir, session.app_id), tracer.spans, session.cores)
            metrics = layers.per_layer(wl, reduced, traced.op_ms() / untraced)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by another run
            os.rmdir(os.path.dirname(work))

    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
