"""Benchmark entry point.

    python3 perfbench/run.py --workload search|curate --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The run generates its inputs from the
seed into `.bench_work/<workload>/`, clears the program's persisted
artifacts for that corpus, starts one Spark session on local[nproc],
runs the workload, checks its outputs, stops Spark and waits for the
JVM to exit. The last line on stdout is the JSON result; the line
before it is a readable summary. With `--trace 0` the result holds the
end-to-end metrics, with `--trace 1` the per-layer metrics. An untraced
run first times a fixed reference task (`meter.reference_cpu_s`) and
scales its CPU-second metrics by it, so that they do not move with the
load other guests put on a shared host.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
E2E_UNITS = {"setup_s": "s", "op_cpu_s": "s", "store_amp": "ratio"}
# CPU-second metrics are scaled to a host on which the reference task
# (meter.REFERENCE_TASK) takes this many CPU seconds
REFERENCE_CPU_S = 10.0
CPU_METRICS = ("setup_s", "op_cpu_s")
DRIVER_MEM = "2g"


def _layer_names() -> list[str]:
    """Every per-layer metric, in report order. A workload that does not
    exercise a layer reports 0 for it."""
    import curate
    import gen
    import meter

    return [
        "session.start_s", "setup.wall_s", "memory.retained_mb",
        "index_store.save_s", "index_store.load_s", "index_store.bytes",
        "registry.warm_s", "registry.timed_builds",
        "catalog.table_calls", "catalog.table_s",
        "models.encode_query_s",
        "compiler.construct_s", "compiler.construct_jobs",
        "spark.plan_s", "spark.exec_s", "spark.jobs", "spark.stages", "spark.tasks",
        "spark.task_run_s", "spark.task_cpu_s", "spark.busy_frac",
        "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
        "spark.failed_tasks",
        *meter.PLAN_PATTERNS,
        *(f"{p}.{k}" for k in _op_kinds() for p in meter.PLAN_PATTERNS),
        *(f"search.{k}_p50_s" for k, _ in gen.SEARCH_MIX),
        *(f"curate.{q}_s" for q in curate.QUERIES),
        *(f"pipeline.survivors.{s}" for s in curate.PIPELINE_STAGES),
        "kernel.bpe_tokens_per_s", "kernel.pq_adc_codes_per_s",
        *(f"streaming.{m}" for m in curate.STREAMING_METRICS),
        "trace.overhead_frac",
    ]


def _op_kinds() -> list[str]:
    """The operation kinds of the timed phases: search request types
    and curate queries."""
    import curate
    import gen

    return [k for k, _ in gen.SEARCH_MIX] + list(curate.QUERIES)


class Context:
    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.work = work
        self.spark = None
        self.tracer = None
        self.inputs: dict = {}
        self.session_s = 0.0
        self.cpu_at_start = 0.0
        self.attempted = 0
        self.failures: list[str] = []
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.summary: dict = {}

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"perfbench: FAILED {msg}", file=sys.stderr)

    def timed_phase_starts(self, setup_wall_s: float) -> tuple[float, float]:
        """Called by a workload when its first timed operation is about
        to start. Records set-up time and returns (cpu, wall) clocks."""
        import meter

        cpu = meter.tree_cpu_s()
        self.metrics["setup_s"] = cpu - self.cpu_at_start
        self.summary["setup_wall_s"] = self.layers["setup.wall_s"] = setup_wall_s
        return cpu, meter.now()

    def timed_layers(self, wall: float) -> None:
        """Per-layer metrics common to both workloads, read from the
        tracer right after the timed phase (traced run only)."""
        import meter

        ctx, tr = self, self.tracer
        if not tr.traced:
            return
        n_ops = max(sum(len(v) for k, v in tr.latency.items() if k != "warmup"), 1)
        st = tr.self_times()
        c = tr.counters
        cores = self.cores
        per_op = {k: c.get(k, 0.0) / n_ops for k in (
            "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
            "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
            "compiler.construct_jobs", *meter.PLAN_PATTERNS)}
        ctx.layers.update(per_op)
        # plan shape per operation of each kind
        for kind in _op_kinds():
            n = len(tr.latency.get(kind, ()))
            for p in meter.PLAN_PATTERNS:
                ctx.layers[f"{p}.{kind}"] = c.get(f"{p}.{kind}", 0.0) / max(n, 1)
        ctx.layers.update({
            "session.start_s": ctx.session_s,
            "catalog.table_calls": c.get("catalog.table_calls", 0.0),
            "catalog.table_s": st.get("catalog.table", 0.0),
            "compiler.construct_s": st.get("compiler.construct", 0.0) / n_ops,
            "spark.plan_s": st.get("spark.plan", 0.0) / n_ops,
            "spark.exec_s": st.get("spark.exec", 0.0) / n_ops,
            "spark.failed_tasks": c.get("spark.failed_tasks", 0.0),
            "spark.busy_frac": c.get("spark.task_run_s", 0.0) / max(wall * cores, 1e-9),
            "registry.timed_builds": c.get("registry.timed_builds", 0.0),
        })


def _environment(work: str) -> None:
    """Everything the run writes stays under `work`; the session is
    sized to the cores this process may use."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus or 1)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    os.environ.pop("NEURAL_SEARCH_AGENT_ENDPOINT", None)


def _clear(paths: list[str]) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


def _stop(spark) -> None:
    """Stop Spark, close the gateway, and wait until the JVM and every
    Python worker it started have exited."""
    import signal

    from pyspark import SparkContext

    import meter

    started = meter.descendants()
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while alive := [p for p in started if _running(p)]:
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("search", "curate"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        from neural_search_spark.sources import index_store as IS
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", args.workload)
    _clear([work])
    _environment(work)

    import gen
    import meter

    ctx = Context(args, work)
    corpus_dir = os.path.join(work, "corpus")
    store = IS.store_root(corpus_dir)
    _clear([store])
    if args.workload == "search":
        import search as workload

        ctx.inputs = gen.search_corpus(args.seed, corpus_dir)
    else:
        import curate as workload

        ctx.inputs = gen.curate_corpus(args.seed, corpus_dir)

    from neural_search_spark.session import get_spark

    # the traced run reports no CPU-second metric
    reference_s = None if args.trace else meter.reference_cpu_s(ctx.cores, work)
    ctx.cpu_at_start = meter.tree_cpu_s()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    ctx.session_s = time.perf_counter() - t0
    ctx.spark = spark
    ctx.tracer = meter.Tracer(spark, traced=bool(args.trace))
    try:
        workload.run(ctx)
        ctx.summary["retained_mb"] = ctx.layers["memory.retained_mb"] = meter.retained_mb(spark)
    finally:
        _stop(spark)
        _clear([work, store])
    if args.trace:
        # spans of the whole run: (name, start, end, parent index, op id)
        with open(os.path.join(ROOT, ".bench_work", f"{args.workload}-spans.json"), "w") as f:
            json.dump(ctx.tracer.spans, f)

    failed = len(ctx.failures)
    if args.trace:
        metrics = {
            k: {"value": float(ctx.layers.get(k, 0.0)), "unit": _layer_unit(k)}
            for k in _layer_names()
        }
    else:
        speed = REFERENCE_CPU_S / reference_s
        metrics = {
            k: {"value": float(ctx.metrics[k] * (speed if k in CPU_METRICS else 1.0)), "unit": u}
            for k, u in E2E_UNITS.items()
        }
    summary = dict(ctx.summary, workload=args.workload, seed=args.seed,
                   error_frac=failed / max(ctx.attempted, 1), reference_cpu_s=reference_s,
                   unscaled_cpu_s={k: ctx.metrics[k] for k in CPU_METRICS})
    print("perfbench summary: " + json.dumps(summary, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": max(ctx.attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
