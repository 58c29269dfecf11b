"""Run harness shared by the workloads: Spark session, work directory,
correctness accounting, peak-RSS sampling, and the tracer.

Tracing is measured from outside the program: spans wrap calls into
the public functions of ``chronobase_spark`` from the workload files,
and engine counters come from Spark's own monitoring REST API (stage
and SQL-execution metrics, attributed to spans through the job
description). With tracing off, ``span`` costs one attribute check and
no job descriptions are set, so the untraced run is the one whose
end-to-end numbers count.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
import urllib.request
import uuid

WORK_DIR = ".bench_work"
#: Driver heap, committed and touched at JVM start (fixed, not taken
#: from the environment: the heap is part of what peak memory measures).
DRIVER_MEM = "2g"
TRACE_DIR = ".bench_traces"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


# -- peak RSS of this process tree (JVM and Python workers included) -----

#: Above this resident size a process is measured by its RSS, not PSS:
#: computing PSS walks every page table entry (about 35 ms for a 2.7 GB
#: JVM, holding its memory-map lock), while RSS is a counter read. The
#: JVM shares almost no pages, so there the two agree.
PSS_MAX_RSS = 512 * 2**20


def _status(pid: int) -> tuple[int, int]:
    """(VmRSS bytes, parent pid) from ``/proc/<pid>/status``."""
    rss = ppid = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                rss = int(line.split()[1]) * 1024
            elif line.startswith("PPid:"):
                ppid = int(line.split()[1])
    return rss, ppid


def _proc_bytes(pid: int, root: bool) -> int:
    """Resident bytes of one process: proportional set size for small
    processes, so pages a forked child shares with its parent (the
    Python worker daemon's children) are split among them instead of
    counted once per process; RSS for large ones (``PSS_MAX_RSS``). A
    large descendant that runs its parent's executable is a fork that
    has not exec'd yet (the JVM starting a subprocess): its pages are
    the parent's and count 0."""
    rss, ppid = _status(pid)
    if rss <= PSS_MAX_RSS:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0
    if not root and os.readlink(f"/proc/{pid}/exe") == os.readlink(f"/proc/{ppid}/exe"):
        return 0
    return rss


def _tree_bytes(root_pid: int) -> int:
    total = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            total += _proc_bytes(pid, pid == root_pid)
        except (OSError, ValueError):
            continue  # exited between listing and reading
    return total


def descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], list(children.get(root_pid, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


class RssSampler:
    """Samples the summed resident memory of this process and its
    descendants every ``interval`` seconds on a daemon thread; ``stop``
    returns the peak in MiB."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_bytes(me))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_bytes(os.getpid()))
        return self.peak / 2**20


# -- tracer ---------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id) and counters.

    Only active with ``enabled``; otherwise every method is a no-op so
    the untraced run pays nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self._stack: list[int] = []
        self.sc = None  # SparkContext, for job descriptions
        self.overhead_s = 0.0
        # span ids [loop_start, loop_end) belong to the timed loop
        self.loop_start = 0
        self.loop_end: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        """Yields the span id (None when tracing is off). Spark jobs run
        inside the span carry ``name#id`` as their job description."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(
            {"name": name, "start": 0.0, "end": 0.0, "parent": parent,
             "id": idx, "run": self.run_id}
        )
        self._stack.append(idx)
        if self.sc is not None:
            self.sc.setJobDescription(f"{name}#{idx}")
        t1 = time.perf_counter()
        self.spans[idx]["start"] = t1
        try:
            yield idx
        finally:
            t2 = time.perf_counter()
            self.spans[idx]["end"] = t2
            self._stack.pop()
            if self.sc is not None:
                outer = self._stack[-1] if self._stack else None
                self.sc.setJobDescription(
                    None if outer is None else f"{self.spans[outer]['name']}#{outer}"
                )
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0.0) + value

    def sample(self, name: str, value: float) -> None:
        if self.enabled:
            self.samples.setdefault(name, []).append(value)

    def _loop_spans(self) -> list[dict]:
        return self.spans[self.loop_start : self.loop_end]

    def durations(self, name: str, timed: bool = True) -> list[float]:
        """Durations of the spans called ``name``; with ``timed``, only
        those of the timed loop (not setup, warm-up or the checks after)."""
        spans = self._loop_spans() if timed else self.spans
        return [s["end"] - s["start"] for s in spans if s["name"] == name]

    def self_time_by_layer(self) -> dict[str, float]:
        """Self time over the timed loop: a span's duration minus the
        time its direct children cover, summed per layer (the name
        before the first dot)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self._loop_spans():
            c = child_time[s["id"]]
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - c
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "counters": self.counters, **extra}, fh)


# -- Spark monitoring REST API ------------------------------------------

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_metric(text: str) -> float:
    """Spark SQL UI metric text -> number: '10,000', '215.9 KiB',
    '12 ms', or 'total (min, med, max ...)\\n836.0 B (...)' (the total)."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([-\d,.]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _SIZE.get(m.group(2), 1)


class SparkRest:
    """Reads stage and SQL-execution metrics of the running application
    from the driver's own UI server (a localhost HTTP endpoint)."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def stages(self) -> list[dict]:
        return self._get("/stages")

    def next_stage_id(self) -> int:
        return max((s["stageId"] for s in self.stages()), default=-1) + 1

    def sql(self) -> list[dict]:
        return self._get("/sql?details=true&planDescription=false&length=1000000")


def stage_totals(
    stages: list[dict], first_stage: int, end_stage: int | None = None, prefix: str | None = None
) -> dict:
    """Sum of task metrics over stages with ``first_stage <= id <
    end_stage`` (and a job description starting with ``prefix`` when
    given)."""
    keys = {
        "executor_run_s": ("executorRunTime", 1e-3),
        "gc_s": ("jvmGcTime", 1e-3),
        "shuffle_write_bytes": ("shuffleWriteBytes", 1),
        "spill_bytes": ("diskBytesSpilled", 1),
        "tasks": ("numCompleteTasks", 1),
        "failed_tasks": ("numFailedTasks", 1),
    }
    out = {k: 0.0 for k in keys}
    for st in stages:
        if st["stageId"] < first_stage or (end_stage is not None and st["stageId"] >= end_stage):
            continue
        if prefix is not None and not (st.get("description") or "").startswith(prefix):
            continue
        for k, (field, scale) in keys.items():
            out[k] += st.get(field, 0) * scale
    return out


def sql_nodes(executions: list[dict], prefix: str) -> list[dict]:
    """Plan nodes of every SQL execution whose description (the span
    name set as job description) starts with ``prefix``; each node's
    metrics parsed to numbers."""
    out = []
    for ex in executions:
        if not (ex.get("description") or "").startswith(prefix):
            continue
        for node in ex.get("nodes", []):
            out.append(
                {"name": node["nodeName"], "exec": ex["id"],
                 "desc": ex["description"],
                 "metrics": {m["name"]: parse_metric(m["value"]) for m in node.get("metrics", [])}}
            )
    return out


# -- the run -------------------------------------------------------------

class Bench:
    """State of one benchmark run: args, work dir, Spark session,
    tracer, and the attempted/failed operation counts."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.root = os.path.abspath(os.getcwd())
        self.work = os.path.join(self.root, WORK_DIR, workload)
        self.tr = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self._op_failed = False
        self.untimed_s = 0.0
        self.spark = None
        self.rest: SparkRest | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def reset_work(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)

    def start_spark(self):
        """``local[cores]`` with shuffle partitions = cores, every
        scratch path inside the work directory."""
        from chronobase_spark.session import get_spark

        n = cores()
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_GRAFT_CPUS"] = str(n)
        # fewer glibc malloc arenas in the JVM: its native memory, and so
        # peak RSS, varies less from run to run
        os.environ["MALLOC_ARENA_MAX"] = "2"
        mem = os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        with self.tr.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"chronobench-{self.workload}",
                master=f"local[{n}]",
                shuffle_partitions=n,
                extra_conf={
                    "spark.local.dir": self.path("spark-local"),
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    # the heap is committed and touched up front, so peak
                    # RSS does not depend on when G1 decided to grow it
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={tmp} -Xms{mem} -XX:+AlwaysPreTouch -XX:-UsePerfData"
                    ),
                    "spark.ui.showConsoleProgress": "false",
                    "spark.ui.retainedStages": "100000",
                    "spark.ui.retainedJobs": "100000",
                    "spark.sql.ui.retainedExecutions": "100000",
                    "spark.ui.retainedTasks": "1000000",
                },
            )
        if self.trace:
            self.tr.sc = self.spark.sparkContext
            self.rest = SparkRest(self.spark.sparkContext)
        return self.spark

    def op(self) -> None:
        """Start one attempted operation; the checks and errors that
        follow belong to it, and it fails at most once."""
        self.attempted += 1
        self._op_failed = False

    def _fail(self) -> None:
        if not self._op_failed:
            self.failed += 1
            self._op_failed = True

    def check(self, ok: bool, what: str) -> bool:
        """One correctness verdict on the current operation."""
        if not ok:
            print(f"CHECK FAILED: {what}", file=sys.stderr)
            self._fail()
        return ok

    @contextlib.contextmanager
    def untimed(self):
        """Correctness checks run inside this block; its time is
        subtracted from the pass they interrupt."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0

    def error(self, what: str) -> None:
        """The current operation raised: it fails, traceback to stderr."""
        print(f"OP ERROR: {what}", file=sys.stderr)
        self._fail()
        traceback.print_exc(file=sys.stderr)

    def stop(self) -> None:
        """Stop Spark, shut down its JVM, and wait for every process this
        run started to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        # Python workers are the JVM's grandchildren: give them time to
        # exit with it, then kill and wait for any that did not
        deadline = time.time() + 30
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        for pid in descendants(os.getpid()):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)
        while descendants(os.getpid()) and time.time() < deadline + 10:
            time.sleep(0.2)
