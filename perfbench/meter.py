"""Measurement plumbing: operation timing, spans, Spark counters and
memory. Everything here observes the program from outside, through its
public entry points and Spark's own status APIs.

With tracing off an operation is timed as one block (call → collected
rows). With tracing on it is split into construction, planning and
execution, tagged with a job group, and its jobs, stages, tasks,
shuffle/spill bytes and executed-plan shape are read back afterwards.
The traced run measures its own overhead by running the same operations
both ways.
"""

from __future__ import annotations

import functools
import os
import re
import resource
import subprocess
import sys
import time
from collections import defaultdict

now = time.perf_counter

# A fixed Spark task that uses none of the program: start a session on
# local[n], stop it, and wait for the JVM, so that its CPU time lands in
# this process's children usage.
REFERENCE_TASK = """
import sys
from pyspark import SparkContext
from pyspark.sql import SparkSession
n = int(sys.argv[1])
spark = (SparkSession.builder.master(f"local[{n}]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", str(n)).getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
gw = SparkContext._gateway
spark.stop()
gw.shutdown()
gw.proc.stdin.close()
gw.proc.wait()
"""


def reference_cpu_s(cores: int, cwd: str) -> float:
    """CPU seconds of REFERENCE_TASK in a child process. The speed of a
    shared virtual machine's CPUs changes with the load of other guests
    (on a shared 4-vCPU virtual machine the CPU time of the same work
    changed by up to 1.75x from one minute to the next), and this task slows down with it."""
    before = resource.getrusage(resource.RUSAGE_CHILDREN)
    subprocess.run(
        [sys.executable, "-c", REFERENCE_TASK, str(cores)], cwd=cwd, check=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    after = resource.getrusage(resource.RUSAGE_CHILDREN)
    return (after.ru_utime + after.ru_stime) - (before.ru_utime + before.ru_stime)

# executed-plan node names counted per operation, matched against the
# name that starts a node's line in the plan's tree string
PLAN_PATTERNS = {
    "plan.exchanges": r"Exchange",
    "plan.broadcasts": r"BroadcastExchange",
    "plan.reused_exchanges": r"ReusedExchange",
    "plan.inmemory_scans": r"InMemoryTableScan",
    "plan.file_scans": r"FileScan|Scan parquet|BatchScan",
    "plan.python_evals": r"(?:ArrowEvalPython|BatchEvalPython|MapInArrow|MapInPandas|"
    r"FlatMapGroupsInPandas|FlatMapGroupsInArrow|FlatMapCoGroupsInPandas|"
    r"AggregateInPandas|WindowInPandas|PythonMapInArrow)\w*",
}
_NODE = re.compile(r"(?:\*\(\d+\) )?(.*)")
# subtrees that did not run as part of the query: the plan adaptive
# execution started from, and the plan that filled a cached relation
_NOT_RUN = ("== Initial Plan ==", "InMemoryRelation")


def plan_shape(tree: str) -> dict[str, int]:
    """Counts of PLAN_PATTERNS over the nodes of an executed plan's tree
    string that ran. Under adaptive execution the string also prints the
    initial plan, and a cached relation prints the plan that filled it;
    both subtrees are skipped. A node's line is its name first (after an
    optional whole-stage-codegen `*(n) ` tag) and then its arguments,
    which may name other nodes (`ReusedExchange [..], Exchange ..`), so
    only the name is matched."""
    out = dict.fromkeys(PLAN_PATTERNS, 0)
    skip_from = None
    for line in tree.splitlines():
        body = line.lstrip(" :+-")
        depth = len(line) - len(body)
        if skip_from is not None and depth >= skip_from:
            continue
        skip_from = None
        if body.startswith(_NOT_RUN):
            skip_from = depth
            continue
        node = _NODE.match(body).group(1)
        for key, pat in PLAN_PATTERNS.items():
            if re.match(rf"(?:{pat})\b", node):
                out[key] += 1
    return out


STAGE_FIELDS = {
    "spark.task_run_s": ("executorRunTime", 1e-3),
    "spark.task_cpu_s": ("executorCpuTime", 1e-9),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1.0),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "spark.spill_bytes": ("diskBytesSpilled", 1.0),
    "spark.failed_tasks": ("numFailedTasks", 1.0),
    "spark.tasks": ("numTasks", 1.0),
}


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 1])."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def retained_mb(spark) -> float:
    """Memory the process holds once the workload is done: the driver
    JVM's live heap after a full collection plus this Python process's
    resident set. Unlike peak RSS this does not depend on when the JVM
    last collected garbage."""
    runtime = spark._jvm.java.lang.Runtime.getRuntime()
    for _ in range(2):
        spark._jvm.java.lang.System.gc()
    heap = runtime.totalMemory() - runtime.freeMemory()
    rss = 0
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                rss = int(line.split()[1]) * 1024
    return (heap + rss) / 2**20


def _process_tree() -> tuple[list[int], dict[int, int]]:
    """This process and all its descendants, with each one's CPU ticks."""
    children: dict[int, list[int]] = defaultdict(list)
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        children[int(fields[1])].append(pid)
        ticks[pid] = int(fields[11]) + int(fields[12])
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree, ticks


def descendants() -> list[int]:
    return _process_tree()[0][1:]


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the driver JVM and the Python workers it forks). Unlike wall time
    this does not grow while the machine's CPUs are taken by others."""
    tree, ticks = _process_tree()
    return sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


class Tracer:
    """Runs operations, timed plainly or traced.

    `op(kind, build)` calls `build()` (which returns a DataFrame, or a
    dict of DataFrames), collects every frame and returns the rows. The
    latency recorded under `kind` covers the call to the last collected
    row. In traced mode the same interval is split into spans and the
    Spark counters for the operation's job group are accumulated.
    """

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.latency: dict[str, list[float]] = defaultdict(list)
        self.counters: dict[str, float] = defaultdict(float)
        self.spans: list[tuple] = []  # (name, start, end, parent, op_id)
        self._timed_from = 0
        self._n = 0
        self._stack: list[int] = []
        if traced:
            self._gw = spark.sparkContext._gateway
            self._store = spark.sparkContext._jsc.sc().statusStore()
            self._tracker = spark.sparkContext.statusTracker()

    def reset(self) -> None:
        """Forget the latencies and counters recorded so far (called when
        the timed phase starts, so setup work is not counted against
        it). Spans are kept: the span file covers the whole run."""
        self.latency.clear()
        self.counters.clear()
        self._timed_from = len(self.spans)

    # -- spans -------------------------------------------------------------
    def span(self, name: str, op_id: str = ""):
        tracer = self

        class _Span:
            def __enter__(self):
                self.start = now()
                tracer._stack.append(len(tracer.spans))
                tracer.spans.append([name, self.start, None, None, op_id])
                return self

            def __exit__(self, *exc):
                idx = tracer._stack.pop()
                parent = tracer._stack[-1] if tracer._stack else None
                rec = tracer.spans[idx]
                rec[2], rec[3] = now(), parent
                return False

        return _Span()

    def self_times(self) -> dict[str, float]:
        """Per span name, over the spans since the last `reset`: duration
        minus the part covered by child spans."""
        child = defaultdict(float)
        for _name, s, e, parent, _ in self.spans:
            if parent is not None and e is not None:
                child[parent] += e - s
        out: dict[str, float] = defaultdict(float)
        for i in range(self._timed_from, len(self.spans)):
            name, s, e, _p, _o = self.spans[i]
            if e is not None:
                out[name] += (e - s) - child[i]
        return dict(out)

    def wrap(self, module, attr: str, name: str) -> None:
        """Time every call to `module.attr` as a span (traced run only);
        counts calls under `<name>_calls`."""
        if not self.traced:
            return
        fn = getattr(module, attr)
        tracer = self

        @functools.wraps(fn)
        def timed(*a, **kw):
            tracer.counters[name + "_calls"] += 1
            with tracer.span(name):
                return fn(*a, **kw)

        setattr(module, attr, timed)

    # -- operations --------------------------------------------------------
    def op(self, kind: str, build, traced: bool | None = None):
        """Runs one operation; `traced` overrides the tracer's mode."""
        self._n += 1
        op_id = f"bench-{self._n}"
        if not (self.traced if traced is None else traced):
            t0 = now()
            out = build()
            rows = _collect(out)
            self.latency[kind].append(now() - t0)
            return rows
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, kind)
        with self.span("op", op_id) as whole:
            with self.span("compiler.construct", op_id):
                out = build()
            pre_jobs = len(self._tracker.getJobIdsForGroup(op_id))
            frames = list(out.values()) if isinstance(out, dict) else [out]
            with self.span("spark.plan", op_id):
                for df in frames:
                    df._jdf.queryExecution().executedPlan()
            with self.span("spark.exec", op_id):
                rows = _collect(out)
        self.latency[kind].append(now() - whole.start)
        sc.setJobGroup("bench-idle", "idle")
        self.counters["compiler.construct_jobs"] += pre_jobs
        if pre_jobs and kind != "warmup":
            self.counters["registry.timed_builds"] += 1
        self._record_jobs(op_id)
        for df in frames:
            shape = plan_shape(df._jdf.queryExecution().executedPlan().toString())
            for key, n in shape.items():
                self.counters[key] += n
                self.counters[f"{key}.{kind}"] += n
        return rows

    def overhead_frac(self, builds) -> float:
        """Traced minus untraced time of the same operations, as a share
        of the untraced time. Each operation runs once each way, and the
        order alternates so that the warmer second call favours neither."""
        plain = traced = 0.0
        for i, build in enumerate(builds):
            for trace in ((False, True) if i % 2 == 0 else (True, False)):
                t0 = now()
                self.op("overhead", build, traced=trace)
                if trace:
                    traced += now() - t0
                else:
                    plain += now() - t0
        return (traced - plain) / plain

    def _record_jobs(self, op_id: str) -> None:
        job_ids = list(self._tracker.getJobIdsForGroup(op_id))
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        self.counters["spark.jobs"] += len(job_ids)
        self.counters["spark.stages"] += len(stage_ids)
        if not stage_ids:
            return
        gw = self._gw
        stages = self._store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
        )
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() not in stage_ids:
                continue
            for key, (getter, scale) in STAGE_FIELDS.items():
                self.counters[key] += float(getattr(st, getter)()) * scale


def _collect(out):
    if isinstance(out, dict):
        return {k: v.collect() for k, v in out.items()}
    return out.collect()
