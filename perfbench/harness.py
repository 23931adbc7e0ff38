"""The benchmark harness: operation accounting, the Spark session and its
process tree, the closed loop, job-group tracing and the result line.

Exceptions are never swallowed: each one counts as a failed operation and
is printed with its traceback on standard error.
"""

from __future__ import annotations

import os
import signal
import statistics
import sys
import threading
import time
import traceback

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline_fresh", "pipeline_resume", "query_suite")

# Input sizes.  "full" is the benchmark; "toy" is for perfbench/selftest.py.
SCALES = {
    "full": dict(
        pages_docs=120_000,  # per-task fixed cost stays below half of wall_s
        warm_docs=16_000,  # pipeline_fresh warm-up table
        n_buckets=64,
        oracle_sample=500,  # urls checked against the pandas oracle per run
        star_scale=0.005,  # query_suite tables (sf-like scale factor)
        probe_star_scale=0.001,  # query probes of the pipeline traces
        probe_pages_docs=10_000,  # pipeline probes of a query_suite trace
        kernel_docs=10_000,  # one-core kernel timings, in 10k-doc batches
    ),
    "toy": dict(
        pages_docs=3_000,
        warm_docs=1_000,
        n_buckets=8,
        oracle_sample=100,
        star_scale=0.001,
        probe_star_scale=0.001,
        probe_pages_docs=2_000,
        kernel_docs=2_000,
    ),
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on standard error, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# process tree: peak RSS sampling and clean shutdown
# ---------------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, resident bytes) for every visible process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                rss_pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        out[int(name)] = (ppid, rss_pages * page)
    return out


def descendants(root: int, table: dict | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


class RssSampler:
    """Peak of (JVM + Python workers) resident memory, sampled every 0.2 s
    while active."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        table = _proc_table()
        pids = [self.jvm_pid] + descendants(self.jvm_pid, table)
        self.peak = max(self.peak, sum(table[p][1] for p in pids if p in table))

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(0.2):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


# ---------------------------------------------------------------------------
# the harness
# ---------------------------------------------------------------------------


class Bench:
    """Operation accounting, the Spark session, job-group tracing and the
    metrics of one invocation."""

    def __init__(self, args):
        self.args = args
        self.cfg = SCALES[args.scale]
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(
            ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.spark = None
        self.jvm = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # ---- operations and checks ---------------------------------------
    def op(self, name: str, fn, *a, **kw):
        """Run one operation; an exception marks it failed and returns None."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception:
            self.failed += 1
            log(f"operation {name} FAILED:\n{traceback.format_exc()}")
            return None

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"check {name} FAILED: {detail}")
        return ok

    def timed(self, name: str, fn, *a, **kw) -> tuple[float, object]:
        """(seconds, result) of one operation; result None when it failed."""
        t0 = time.perf_counter()
        res = self.op(name, fn, *a, **kw)
        return time.perf_counter() - t0, res

    def loop(self, name: str, fn, prepare=None, after=None) -> list[float]:
        """Closed loop, one client: run ``fn(i, ctx)`` until at least
        ``--seconds`` of operations have been timed.
        ``prepare(i)`` (untimed) makes ``ctx``; ``after(i, ctx, result)``
        (untimed) checks the output.  Returns the wall seconds of the
        operations that succeeded; peak RSS over the loop goes to
        ``peak_rss_mb``."""
        walls: list[float] = []
        spent, i = 0.0, 0
        self.settle()
        with RssSampler(self.jvm.pid) as rss:
            while spent < self.args.seconds:
                ctx = prepare(i) if prepare else None
                dt, res = self.timed(f"{name}[{i}]", fn, i, ctx)
                spent += dt
                if res is None:
                    break  # a failed operation: stop, it is already counted
                walls.append(dt)
                if after:
                    self.op(f"{name}[{i}].check", after, i, ctx, res)
                self.settle()
                i += 1
        if not walls:
            raise RuntimeError(f"{name}: no timed operation succeeded")
        self.layer("peak_rss_mb", rss.peak / 2**20, "MiB")
        log(f"{name}: {len(walls)} timed operations: "
            + ", ".join(f"{w:.2f}s" for w in walls))
        return walls

    def settle(self) -> None:
        """Untimed, between operations: flush dirty pages so one run's
        write-back does not land in the next, and collect the JVM heap."""
        os.sync()
        self.spark.sparkContext._jvm.System.gc()

    def metric(self, name: str, value: float, unit: str) -> None:
        self.e2e[name] = (float(value), unit)

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)

    # ---- Spark ---------------------------------------------------------
    def start_spark(self) -> None:
        """``setup_s`` = get_spark() plus a first trivial job (JVM launch
        and one Python worker per slot)."""
        from packs_spark.session import get_spark
        from pyspark import SparkContext

        n = self.nproc
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf={
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.path('tmp')}",
            },
        )
        t1 = time.perf_counter()
        self.jvm = SparkContext._gateway.proc

        rows = self.spark.range(n, numPartitions=n).select(
            identity_udf()("id")).collect()
        t2 = time.perf_counter()
        if len(rows) != n:
            raise RuntimeError(f"trivial job returned {len(rows)} rows, not {n}")
        self.layer("session.get_spark_s", t1 - t0, "s")
        self.metric("setup_s", t2 - t0, "s")
        log(f"spark up: setup_s={t2 - t0:.2f}")

    def stop_spark(self) -> None:
        """Stop the session, the JVM and its Python workers, and wait."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                gw = SparkContext._gateway
                if gw is not None:
                    gw.shutdown()
                    SparkContext._gateway = None
                    SparkContext._jvm = None
        if self.jvm is not None:
            self.jvm.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                self.jvm.wait(timeout=60)
            except Exception:
                self.jvm.kill()
                self.jvm.wait()
        _reap_children()

    # ---- tracing -------------------------------------------------------
    def traced(self, group: str, fn, *a, **kw):
        """Run ``fn`` under a Spark job group; returns (seconds, result,
        {jobs, stages, tasks, tasks_failed}) read from the status tracker."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            dt, res = self.timed(group, fn, *a, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return dt, res, self.job_counts(group)

    def job_counts(self, group: str) -> dict[str, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = [s for s in map(st.getStageInfo, sorted(stage_ids)) if s]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.numCompletedTasks + s.numFailedTasks for s in stages),
            "tasks_failed": sum(s.numFailedTasks for s in stages),
            "last_stage_tasks": stages[-1].numTasks if stages else 0,
        }

    def record_job_counts(self, counts: dict[str, int]) -> None:
        for k in ("jobs", "stages", "tasks", "tasks_failed"):
            self.layer(f"spark.{k}", counts[k], "count")

    # ---- result --------------------------------------------------------
    def result(self) -> dict:
        chosen = self.layers if self.args.trace else self.e2e
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
        }

    def report(self) -> None:
        print(f"workload {self.args.workload}  seed {self.args.seed}  "
              f"local[{self.nproc}]  scale {self.args.scale}")
        for title, table in (("end-to-end", self.e2e), ("per-layer", self.layers)):
            print(f"  {title}:")
            for k, (v, u) in table.items():
                print(f"    {k:<48} {v:>14.6g} {u}")
        frac = self.failed / max(self.attempted, 1)
        print(f"    {'failed_frac':<48} {frac:>14.6g} ratio "
              f"({self.failed} of {self.attempted} operations)")


def _reap_children(timeout: float = 60.0) -> None:
    """Wait for every process this one started; kill what outlives the
    timeout."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        left = descendants(os.getpid())
        if not left:
            return
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for _ in range(50):
        if not descendants(os.getpid()):
            return
        time.sleep(0.1)


def identity_udf():
    """A pandas UDF that does nothing: its jobs cost only the per-task
    overhead of the Python boundary."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def ident(s: pd.Series) -> pd.Series:
        return s

    return ident


def median(xs: list[float]) -> float:
    return statistics.median(xs)
