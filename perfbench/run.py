#!/usr/bin/env python3
"""Repository benchmark: one workload per invocation, one fresh JVM per run.

    python3 perfbench/run.py --workload rag_ingest_query --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` with the
engine's public generators into a scratch directory under ``perfbench/out``
that is removed when the run ends. The engine is driven only through its
public functions. Correctness checks run outside the timed regions.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. The line before it
prints the workload's own metric names (see perfbench/METRICS.md), the
set-up samples and the load witnesses. A traced run also writes its spans to
``perfbench/out/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
import uuid
from contextlib import contextmanager

from harness import NullTracer, Tracer, log

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(HERE, "out")
PACKAGE = "mcp_crawl4ai_rag_spark"
SETUP_REPS = 3

# Each workload composes the parts (modules in this directory) that drive
# its layers; every part is set up, then measured, in this order.
WORKLOADS = {
    "frontier_crawl_resume": ["frontier_epoch", "crawl_resume"],
    "rag_ingest_query": ["rag_ingest_query"],
}


def declared_metrics() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json.
    Every workload reports all of them; perfbench/METRICS.md gives what
    each means on each workload, and a layer a workload does not run
    reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def busy_probe_ms() -> float:
    """Single-thread busy probe: ms for a fixed 3M-iteration loop. It only
    slows when something else holds the CPU, so a run polluted by other
    tenants shows up as a high reading next to its figures."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * i
    return round((time.perf_counter() - t0) * 1000, 1)


def witness() -> dict:
    return {"loadavg_1m": os.getloadavg()[0], "probe_ms": busy_probe_ms()}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """A fifth of physical memory, at most 3 GB: the heap must leave room
    for the Python workers and for other processes on a shared machine."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return min(3072, total // 5)


class Context:
    """What a workload needs: the Spark session, its seed and time budget, the
    tracer, a private scratch directory, and the failure accounting."""

    def __init__(self, spark, args, tracer, work: str):
        self.spark = spark
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.tracer = tracer
        self.work = work
        self.nproc = nproc()
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, name: str, ok: bool, detail: object = "") -> bool:
        ok = bool(ok)
        self.checks[name] = self.checks.get(name, True) and ok
        if not ok:
            print(f"perfbench: check failed: {name} {detail}", file=sys.stderr)
        return ok

    @contextmanager
    def untraced(self):
        """Run warm-ups and untraced references with tracing off."""
        tracer, self.tracer = self.tracer, NullTracer()
        try:
            yield
        finally:
            self.tracer = tracer

    @contextmanager
    def guard(self, name: str):
        """A step outside any operation (start-up, set-up, a whole part).
        If it raises, the step counts as one failed operation and the run
        goes on to print its result."""
        try:
            yield
        except Exception:  # noqa: BLE001 - the result line must still print
            self.attempted += 1
            self.failed += 1
            print(f"perfbench: {name} raised:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)

    @contextmanager
    def op(self, name: str):
        """One attempted operation. An exception inside it counts the
        operation as failed, is reported, and does not end the run."""
        self.attempted += 1
        try:
            yield
        except Exception:  # noqa: BLE001 - a rep boundary that must keep running
            self.failed += 1
            print(f"perfbench: operation {name} raised:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)


def make_spark(work: str, trace: bool):
    from mcp_crawl4ai_rag_spark import get_spark

    n = nproc()
    heap = heap_mb()
    tmp = os.path.join(work, "tmp")
    # A fixed young generation and a fixed old-generation marking threshold
    # keep the collector from resizing eden and moving its marking cycles
    # run by run, so the peak heap use in peak_mem_mb moves with what the
    # program keeps alive rather than with the collector's choices.
    jvm_opts = (
        f"-Xmn384m -XX:-G1UseAdaptiveIHOP -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": f"{heap}m",
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.enabled": "true" if trace else "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway JVM
    exits when its stdin closes, and its Python workers go with it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def memory_mb(spark) -> dict:
    """Peak memory of the run, in MB: the JVM's peak heap use (the sum of
    its heap pools' peak-usage counters) and the driver process's peak RSS.
    Python workers are not included. The JVM's peak RSS is reported too,
    for reference: it follows how far the collector grew the heap."""
    jvm = spark.sparkContext._jvm
    heap = sum(
        p.getPeakUsage().getUsed()
        for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        if p.getType().name() == "HEAP"
    )
    driver_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/status") as fh:
        hwm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return {"jvm_heap_peak_mb": heap / 2**20, "driver_rss_mb": driver_kb / 1024.0,
            "jvm_vmhwm_mb": hwm_kb / 1024.0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2

    end_to_end, per_layer = declared_metrics()
    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(OUT, f"work-{run_id}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers are started by the JVM and see only the environment,
    # not this process's sys.path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)

    import importlib

    parts = [importlib.import_module(p) for p in WORKLOADS[args.workload]]
    wit = {"before": witness()}
    ctx = Context(None, args, NullTracer(), work)
    setup_times, results, mem, layers = [], [], {}, {}
    try:
        with ctx.guard("spark start"):
            ctx.spark = make_spark(work, bool(args.trace))
            log("spark started")
            if args.trace:
                ctx.tracer = Tracer(ctx.spark, run_id)
        states = None
        with ctx.guard("setup"):
            if ctx.spark is None:
                raise RuntimeError("no Spark session")
            for k in range(SETUP_REPS):
                shutil.rmtree(ctx.path(f"setup{k - 1}"), ignore_errors=True)
                t0 = time.perf_counter()
                states = [p.setup(ctx, ctx.path(f"setup{k}", p.__name__)) for p in parts]
                setup_times.append(time.perf_counter() - t0)
                log(f"setup {k}: {setup_times[-1]:.2f}s")
        if len(setup_times) < SETUP_REPS:  # a set-up raised; measure nothing
            states = None
        for part, st in zip(parts, states or []):
            with ctx.guard(part.__name__):
                results.append((part, part.measure(ctx, st)))
                log(f"{part.__name__} measured and checked")
        if ctx.spark is not None:
            with ctx.guard("memory"):
                mem = memory_mb(ctx.spark)
        if args.trace and ctx.spark is not None:
            with ctx.guard("trace"):
                layers = trace_layers(ctx, results)
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    wit["after"] = witness()
    log("done")

    setup_s = statistics.median(setup_times) if setup_times else 0.0
    peak_mem = mem.get("jvm_heap_peak_mb", 0.0) + mem.get("driver_rss_mb", 0.0)
    named = {"setup_s": setup_s, "peak_mem_mb": peak_mem, **mem}
    e2e = {"setup_s": setup_s, "peak_mem_mb": peak_mem}
    for _, r in results:
        named.update(r.named)
        e2e.update(r.e2e)
    layers["corpus.build_s"] = setup_s
    # A metric a failed step never produced reads 0; the run is then
    # reported incorrect, since the failure is counted.
    values, declared = (layers, per_layer) if args.trace else (e2e, end_to_end)
    metrics = {
        name: {"value": values.get(name, 0.0), "unit": unit}
        for name, unit in declared.items()
    }
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "named": named, "setup_samples_s": setup_times,
        "checks": ctx.checks, "witness": wit,
    }))
    correct = (
        ctx.failed == 0 and len(results) == len(parts)
        and bool(ctx.checks) and all(ctx.checks.values())
    )
    print(json.dumps({
        "correct": correct,
        "attempted": max(ctx.attempted, 1),
        "failed": ctx.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def trace_layers(ctx, results: list) -> dict:
    """Per-layer metrics of a traced run; writes the spans out."""
    tracer = ctx.tracer
    tracer.finish()
    spark_all = tracer.spark_totals()
    layers = {
        "spark.shuffle_write_bytes": spark_all["shuffle_write_bytes"],
        "spark.spill_bytes": spark_all["spill_bytes"],
        "spark.tasks": spark_all["tasks"],
        "spark.task_skew": spark_all["task_skew"],
        "trace.overhead_s": sum(r.overhead_s for _, r in results),
        "trace.unattributed_s": sum(
            s.self_s for s in tracer.spans if s.parent is None
        ),
    }
    for part, r in results:
        if r.e2e:  # a part whose timed operation failed has no layers
            layers.update(part.layer_metrics(ctx, r))
    os.makedirs(OUT, exist_ok=True)
    tracer.dump(
        os.path.join(OUT, f"spans-{ctx.workload}-{ctx.seed}.jsonl"),
        {"run_id": tracer.run_id, "workload": ctx.workload, "seed": ctx.seed},
    )
    return layers


if __name__ == "__main__":
    sys.exit(main())
