"""Benchmark of the sync product path: ``cli sync`` run in-process on a
seeded drifted destination (``resync_monthly``) and into an absent one
(``bootstrap_monthly``).

    python3 perfbench/run.py --workload resync_monthly --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one client, closed loop:
set-up, untimed warm-up ops, then timed ops back to back for ``--seconds``.
The destination is reset and each op's outcome checked outside the timed
window. The last line of stdout is one JSON object with the end-to-end
metrics (``--trace 0``) or the per-layer metrics of a traced run
(``--trace 1``); the line before it is the run record (``record: {...}``)
with the host stamp and every per-op sample.

Spark runs ``local[2]`` on a 4-core host: two task threads leave cores
for the JVM's scheduler, JIT and GC threads and for co-tenants, so an op's
time moves less with what else the host runs. Everything the run writes, the
Spark temp dirs included, lives under ``.perfbench_work/`` in the checkout
and is removed at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CORES = 2
SETUPS = 2
WARMUP_OPS = 3
MIN_OPS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: Path, event_log: Path | None = None):
    """The product's own session constructor, pinned to ``local[2]`` and
    to scratch dirs under ``work``."""
    from clickhouse_table_copier_spark.session import get_spark

    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_gateway() -> None:
    """Stop Spark, if started, and the JVM it runs in, and wait for the
    JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000


class Runner:
    """Set-up, warm-up and the timed loop of one run."""

    def __init__(self, args, work: Path):
        from harness import WORKLOADS

        self.args = args
        self.work = work
        self.workload = WORKLOADS[args.workload]

    def set_up(self, event_log: Path | None = None) -> dict:
        """Start the session and build the inputs ``SETUPS`` times over;
        returns the timings. ``setup_s`` is the session start plus the
        median input build."""
        from harness import SyncBench

        t0 = time.perf_counter()
        self.spark = start_session(self.work, event_log)
        session_s = time.perf_counter() - t0
        self.bench = SyncBench(self.spark, self.work / "data", self.workload, self.args.seed)
        inputs = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            self.bench.setup()
            inputs.append(time.perf_counter() - t0)
        self.pid = jvm_pid(self.spark)
        return {"session_start_s": session_s, "inputs_s": inputs,
                "setup_s": session_s + statistics.median(inputs)}

    def warm_up(self) -> None:
        """Untimed ops, each with its reset and check as in the timed loop.
        Ops run faster once a few checks have run (the check reads the
        partitioned destination back, on paths the op shares), so the
        checks are part of the warm-up."""
        for _ in range(WARMUP_OPS):
            self.timed_op()

    def timed_op(self, group: str | None = None) -> dict:
        """Reset, one timed op, then its check; returns the sample."""
        from hoststat import jvm_cpu_s, tree_diff, tree_state

        b, sc = self.bench, self.spark.sparkContext
        b.reset()
        before = tree_state(b.dest)
        if group:
            sc.setJobGroup(group, group)
        gc0 = jvm_gc_s(self.spark)
        c0 = jvm_cpu_s(self.pid) + time.process_time()
        t0 = time.perf_counter()
        try:
            rc, report = b.op()
        except Exception as e:  # a crash is a failed op, not a failed run
            rc, report = -1, f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        cpu = jvm_cpu_s(self.pid) + time.process_time() - c0
        gc = jvm_gc_s(self.spark) - gc0
        if group:
            sc.setJobGroup("check", "check")
        nbytes, dirs = tree_diff(before, tree_state(b.dest))
        try:
            problems = b.check(rc, report, dirs)
        except Exception as e:  # e.g. a destination Spark cannot read
            problems = [f"check raised {type(e).__name__}: {str(e)[:200]}"]
        return {
            "wall_s": wall, "cpu_s": cpu, "gc_s": gc,
            "bytes_written_mb": nbytes / 2**20, "partitions_written": len(dirs),
            "ok": not problems, "problems": problems,
            "report": report,
        }

    def loop(self, seconds: float) -> list[dict]:
        """Timed ops back to back until ``seconds`` have passed (at least
        ``MIN_OPS``)."""
        out = []
        t_end = time.perf_counter() + seconds
        while len(out) < MIN_OPS or time.perf_counter() < t_end:
            out.append(self.timed_op())
        return out


def end_to_end(s: list[dict], setup: dict, pid: int) -> dict:
    from hoststat import proc_hwm_mb, self_hwm_mb

    def median(key):
        return statistics.median(x[key] for x in s)

    return {
        "wall_s": (median("wall_s"), "s"),
        "cpu_s": (median("cpu_s"), "s"),
        "bytes_written_mb": (median("bytes_written_mb"), "MB"),
        "partitions_written": (median("partitions_written"), "count"),
        "passed_frac": (sum(x["ok"] for x in s) / len(s), "fraction"),
        "setup_s": (setup["setup_s"], "s"),
        "jvm_hwm_mb": (proc_hwm_mb(pid), "MB"),
        "py_hwm_mb": (self_hwm_mb(), "MB"),
    }


def run(args, work: Path) -> tuple[dict, dict, list[dict]]:
    """One run; returns (metrics, record, samples)."""
    runner = Runner(args, work)
    if not args.trace:
        setup = runner.set_up()
        runner.warm_up()
        samples = runner.loop(args.seconds)
        return end_to_end(samples, setup, runner.pid), {"setup": setup}, samples

    from tracelog import per_layer

    # Traced first, in the order of an untraced run (set-up, warm-up, timed
    # ops), so the per-layer figures line up with the end-to-end ones. The
    # untraced ops for the tracing overhead follow in a fresh context of
    # the same JVM; its JIT is warmer by then, so the overhead reads high.
    log_dir = work / "eventlog"
    setup = runner.set_up(log_dir)
    runner.warm_up()
    spans: list[dict] = []
    ops: list[dict] = []
    t_end = time.perf_counter() + args.seconds
    while len(ops) < MIN_OPS or time.perf_counter() < t_end:
        i = len(ops)
        ops.append(runner.timed_op(f"op#{i}"))
        runner.bench.layer_calls(span_recorder(runner.spark, spans, i))
    runner.spark.stop()
    log = next(p for p in log_dir.iterdir() if p.is_file())

    runner.spark = runner.bench.spark = start_session(work)
    runner.timed_op()  # warm the new context
    untraced = runner.loop(args.seconds / 3)
    metrics = per_layer(
        log, ops, spans, untraced, setup,
        source=str(runner.bench.source), dest=str(runner.bench.dest),
    )
    return metrics, {"setup": setup, "untraced": strip(untraced)}, ops


def span_recorder(spark, spans: list, iteration: int):
    """A context-manager factory: ``span(name)`` runs its body in job group
    ``name#iteration`` and appends its duration to ``spans``."""
    from contextlib import contextmanager

    sc = spark.sparkContext

    @contextmanager
    def span(name: str):
        group = f"{name}#{iteration}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            spans.append({"name": name, "iteration": iteration, "s": time.perf_counter() - t0})
            sc.setJobGroup("between", "between")

    return span


def strip(samples: list[dict]) -> list[dict]:
    """Samples without the captured report, for the run record."""
    return [{k: v for k, v in s.items() if k != "report"} for s in samples]


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    try:
        import clickhouse_table_copier_spark  # noqa: F401  the program under test
        sys.path.insert(0, str(ROOT / "scripts"))
        from probe_host import probe

        from harness import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ.update({
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_CPUS": str(CORES),  # what the CLI's own get_spark reads
        "SPARK_DRIVER_MEMORY": "1g",
        # The heap is fixed at its 1g maximum and touched at start, so the
        # JVM's peak RSS does not swing with G1's timing-driven heap growth;
        # it moves with what the program holds off the heap.
        "SPARK_DRIVER_JAVA_OPTS": f"-Djava.io.tmpdir={work / 'tmp'} -Xms1g -XX:+AlwaysPreTouch",
        # no hsperfdata files in the system temp dir, from any JVM
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    tempfile.tempdir = str(work / "tmp")

    # The JVM prints to fd 1; keep stdout for the two result lines.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        host_before = probe()
        metrics, record, samples = run(args, work)
        stop_gateway()
        host_after = probe()
    finally:
        stop_gateway()
        os.dup2(real_stdout, 1)
        os.close(real_stdout)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            work.parent.rmdir()

    failed = sum(not s["ok"] for s in samples)
    record.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": {"nproc": os.cpu_count(), "before": host_before, "after": host_after},
        "samples": strip(samples),
    })
    print("record: " + json.dumps(record), flush=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
