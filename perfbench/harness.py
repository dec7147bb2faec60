"""What every workload shares: the work directory inside the checkout,
the Spark session, the tracer, failure accounting and the result line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from stats import cpu_ticks, peak_rss_bytes
from spans import SparkStatus, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

#: Local cores the session runs on. The sizing in README.md was taken
#: at 4; more cores are capped so results stay comparable across hosts.
SLOTS = max(1, min(4, os.cpu_count() or 1))


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat", encoding="ascii") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/stat", encoding="ascii") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


class Run:
    """One benchmark process: ``--workload`` at ``--seed``."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t_proc = process_start_epoch()
        self.ticks0 = cpu_ticks()
        self.work = os.path.join(WORK_ROOT, f"{workload}-s{seed}-p{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        tmp = self.dir("tmp")
        # the program stages drains and sinks through tempfile; keep it
        # inside the checkout
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        self.spark = None
        self.status: SparkStatus | None = None
        self.tracer = Tracer(enabled=False)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.notes: dict = {}
        self.layers: dict[str, float] = {}
        self.t_setup_end: float | None = None

    def dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        os.makedirs(path, exist_ok=True)
        return path

    def fail(self, what: str, count: int = 1) -> None:
        """Count ``count`` failed operations."""
        self.failed += count
        self.failures.append(what)
        print(f"FAILED: {what}", file=sys.stderr, flush=True)

    def build_session(self):
        """The program's ``build_spark``, timed as ``session.build_s``."""
        from hailstorm_spark.session import build_spark

        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.dir("spark-local"),
            "spark.sql.warehouse.dir": self.dir("warehouse"),
            # a heap that starts at its maximum, with a fixed young
            # generation, makes peak RSS follow what the run keeps, not
            # when G1 chose to grow the heap or its young generation
            "spark.driver.extraJavaOptions": f"-Xms2g -Xmn512m -Djava.io.tmpdir={self.dir('jvm-tmp')}",
            # keep every job and stage of the run in the status store
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.retainedTasks": "10000000",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        }
        t = time.time()
        self.spark = build_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{SLOTS}]",
            shuffle_partitions=SLOTS,
            extra_conf=conf,
        )
        self.layers["session.build_s"] = time.time() - t
        self.notes["session_start_s"] = t - self.t_proc
        self.spark.sparkContext.setLogLevel("ERROR")
        self.status = SparkStatus(self.spark)
        self.tracer = Tracer(self.spark.sparkContext, enabled=False)
        self.notes["master"] = self.spark.sparkContext.master
        self.notes["parallelism"] = self.spark.sparkContext.defaultParallelism
        self.notes["shuffle_partitions"] = self.spark.conf.get("spark.sql.shuffle.partitions")
        return self.spark

    def setup_done(self) -> None:
        self.t_setup_end = time.time()

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._gateway.proc
        return (peak_rss_bytes(os.getpid()) + peak_rss_bytes(jvm.pid)) / 1e6

    def collecting(self):
        """Context for reading counters back: asserts no job ran."""
        return _NoJobs(self)

    def close(self) -> None:
        if self.trace and self.tracer.spans:
            os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
            self.tracer.dump(
                os.path.join(WORK_ROOT, "traces", f"{self.workload}-s{self.seed}.json")
            )
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            proc = getattr(self.spark.sparkContext._gateway, "proc", None)
            self.spark.stop()
            if proc is not None:
                # the JVM exits when its stdin closes; wait until it has
                proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)


class _NoJobs:
    def __init__(self, run: Run):
        self.run = run

    def __enter__(self):
        self.before = self.run.status.job_count()
        return self

    def __exit__(self, *exc):
        after = self.run.status.job_count()
        if exc[0] is None and after != self.before:
            raise RuntimeError(
                f"collecting per-layer counters submitted {after - self.before} Spark job(s)"
            )
        return False


def emit(run: Run, values: dict, metric_units: dict) -> None:
    """Print the human-readable lines, then the result JSON as the last
    line of standard output."""
    failed = run.failed
    attempted = max(run.attempted, failed, 1)
    # CPU time the hypervisor gave to other guests: a slow run on a
    # shared host shows here, not in the program
    steal, total = (b - a for a, b in zip(run.ticks0, cpu_ticks()))
    run.notes["host_steal_share"] = steal / total if total else 0.0
    print(json.dumps({"provenance": run.notes}), flush=True)
    if run.failures:
        print(json.dumps({"failures": run.failures[:20]}), flush=True)
    print(
        json.dumps(
            {"failed_share": failed / attempted, "attempted": attempted, "failed": failed}
        ),
        flush=True,
    )
    metrics = {name: {"value": v, "unit": metric_units[name]} for name, v in values.items()}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
