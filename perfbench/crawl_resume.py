"""crawl_resume: a checkpointed, politeness-bounded crawl that is killed
after its first epoch, restarted with ``resume()`` and run to the end.

Exercises fetch-join, link expansion, seq assignment, the robots gate,
backoff and the per-epoch checkpoint write/read. Epochs are small, so the
fixed cost of an epoch (Spark jobs, the full url_seen checkpoint rewrite)
dominates and the bloom never builds (url_seen stays below BLOOM_MIN_SEEN):
the inverse of frontier_epoch.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mcp_crawl4ai_rag_spark.plans.crawl import CrawlEngine, py_crawl_with_redirects
from mcp_crawl4ai_rag_spark.sources.corpus import gen_pages, gen_robots, url_of
from harness import Result, log

PAGES = 20_000
SEEDS = 100
MAX_DEPTH = 2
MAX_EPOCHS = 4 * MAX_DEPTH
# Simulated seconds per epoch: with the default 2 s delay a host gets 300
# fetch slots an epoch, twice what the hot host needs at depth 1 even after
# a 429 backoff halves its budget, so each depth level is one epoch.
EPOCH_SECONDS = 600.0
# Depth 2 without binding budgets crawls in two epochs, so the only kill
# point that leaves resume() work is after epoch 0.
KILL_EPOCH = 1
CRAWL_SPANS = ("crawl.run", "crawl.resume")


@dataclass
class State:
    pages: DataFrame
    robots: DataFrame
    seeds: DataFrame
    seed_ids: list[int]


def setup(ctx, d: str) -> State:
    spark = ctx.spark
    gen_pages(spark, PAGES, partitions=ctx.nproc).write.parquet(f"{d}/pages")
    pages = spark.read.parquet(f"{d}/pages")
    pages.count()
    ids = random.Random(ctx.seed).sample(range(PAGES), SEEDS)
    seeds = spark.createDataFrame(
        [(url_of(i), 0, 0, k) for k, i in enumerate(ids)],
        "url string, priority int, depth int, seq long",
    )
    return State(pages=pages, robots=gen_robots(spark), seeds=seeds, seed_ids=ids)


def engine(st: State, ckpt: str) -> CrawlEngine:
    return CrawlEngine(
        st.pages.sparkSession,
        st.pages,
        robots=st.robots,
        allowed_host_suffix=".example.com",
        checkpoint_dir=ckpt,
        epoch_seconds=EPOCH_SECONDS,
    )


def seen_digest(url_seen: DataFrame) -> tuple:
    """Order-independent digest of url_seen: row count and the sum of a
    64-bit hash over every column."""
    row = url_seen.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(*sorted(url_seen.columns)).cast("decimal(38,0)")
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def lineage_rows(res) -> list[tuple]:
    return [tuple(r) for r in res.lineage.orderBy("epoch").collect()]


def killed_and_resumed(ctx, st: State, ckpt: str, kill_epoch: int) -> dict:
    """run() to ``kill_epoch``, then a fresh engine (a restarted process)
    resumes through one epoch and then to the end."""
    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("crawl.run"):
        engine(st, ckpt).run(
            st.seeds, max_depth=MAX_DEPTH, politeness=True, max_epochs=kill_epoch
        )
    restarted = engine(st, ckpt)
    if tr.enabled:
        with tr.span("checkpoint.load"):
            frontier, url_seen, _ = restarted.ckpt.load_epoch(kill_epoch - 1)
            frontier.count()
            url_seen.count()
    t1 = time.perf_counter()
    with tr.span("crawl.resume"):
        final = restarted.resume(max_epochs=kill_epoch + 1)
    t2 = time.perf_counter()
    # the recovery epoch may have been the last one
    if not final.frontier_remaining.isEmpty():
        with tr.span("crawl.resume"):
            final = restarted.resume(max_epochs=MAX_EPOCHS)
    t3 = time.perf_counter()
    return {"result": final, "wall_s": t3 - t0, "resume_s": t2 - t1}


def verify(ctx, st: State, ref, got) -> None:
    """The resumed crawl against an uninterrupted one. Every run compares
    it with the engine's sequential twin: budgets never bind at these sizes,
    so the politeness crawl is level-synchronous and must visit exactly the
    twin's URLs at the twin's depths, each in the epoch of its depth. A
    traced run (``ref`` set) also compares the url_seen digest and the
    lineage with an uninterrupted engine crawl of the same seed."""
    seen = {r["canonical_url"]: (r["depth"], r["epoch_seen"])
            for r in got.url_seen.select("canonical_url", "depth", "epoch_seen").collect()}
    twin = py_crawl_with_redirects(PAGES, st.seed_ids, MAX_DEPTH, lambda i: None)
    ctx.check("crawl.resumed_url_seen_equals_uninterrupted_twin",
              {u: d for u, (d, _) in seen.items()} == twin
              and all(d == e for d, e in seen.values()),
              (len(seen), len(twin)))
    lin = lineage_rows(got)
    if ref is not None:
        ctx.check("crawl.resumed_url_seen_equals_uninterrupted",
                  seen_digest(got.url_seen) == ref["digest"],
                  (seen_digest(got.url_seen), ref["digest"]))
        ctx.check("crawl.resumed_lineage_equals_uninterrupted", lin == ref["lineage"],
                  (lin, ref["lineage"]))
    popped = sum(r[1] for r in lin)
    fetched = sum(r[2] for r in lin)
    ctx.check("crawl.lineage_popped_equals_url_seen", popped == len(seen), (popped, len(seen)))
    ctx.check("crawl.lineage_fetched_equals_fetched_log",
              fetched == got.fetched.count(), fetched)
    ctx.check("crawl.lineage_fetched_plus_denied_within_popped",
              all(r[2] + r[4] <= r[1] for r in lin), lin)
    ctx.check("crawl.frontier_drained", got.frontier_remaining.count() == 0)


def measure(ctx, st: State) -> Result:
    traced = ctx.tracer.enabled
    runs, ref, out = [], None, None
    # No warm-up: it would cost as much as the crawl itself (the crawl's
    # plans compile on first use whatever the seed count), and the run
    # budget does not hold both. The frontier part runs first and warms the
    # JVM and the Python workers.
    if traced:
        with ctx.untraced():
            # the uninterrupted engine crawl for the digest check, and an
            # untraced killed-and-resumed crawl for the tracing overhead
            with ctx.op("crawl_uninterrupted"):
                res = engine(st, ctx.path("ckpt-ref")).run(
                    st.seeds, max_depth=MAX_DEPTH, politeness=True, max_epochs=MAX_EPOCHS
                )
                ref = {"digest": seen_digest(res.url_seen), "lineage": lineage_rows(res)}
            with ctx.op("crawl_untraced"):
                runs.append(
                    killed_and_resumed(ctx, st, ctx.path("ckpt-untraced"), KILL_EPOCH)
                )
    with ctx.op("crawl_killed_resumed"):
        ckpt = ctx.path("ckpt")
        with ctx.tracer.span("crawl_resume"):
            out = killed_and_resumed(ctx, st, ckpt, KILL_EPOCH)
        out["ckpt_bytes"] = du(ckpt)
        runs.append(out)
        log(f"killed at {KILL_EPOCH}, resumed: {out['wall_s']:.2f}s")
        verify(ctx, st, ref, out["result"])
    if out is None or "ckpt_bytes" not in out:
        return Result(e2e={}, named={})
    lin = lineage_rows(out["result"])
    fetched_ok = sum(r[2] for r in lin)
    named = {
        "crawl_pages_per_s": fetched_ok / out["wall_s"],
        "resume_s": out["resume_s"],
        "crawl_wall_s": out["wall_s"],
        "crawl_epochs": len(lin),
        "crawl_kill_epoch": KILL_EPOCH,
        "crawl_pages_fetched_ok": fetched_ok,
    }
    return Result(
        e2e={"incremental_rate_per_s": fetched_ok / out["wall_s"],
             "latency_p50_ms": out["resume_s"] * 1000},
        named=named,
        facts={"lineage": lin, "ckpt_bytes": out["ckpt_bytes"]},
        overhead_s=out["wall_s"] - runs[0]["wall_s"],
    )


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def layer_metrics(ctx, res: Result) -> dict:
    tr = ctx.tracer
    lin = res.facts["lineage"]
    popped = sum(r[1] for r in lin)
    fetched = sum(r[2] for r in lin)
    dedup = sum(r[3] for r in lin)
    deferred = sum(r[5] for r in lin)
    crawl_jobs = tr.spark_totals(set(CRAWL_SPANS))["jobs"]
    return {
        "crawl.dedup_hit_ratio": dedup / max(popped + deferred + dedup, 1),
        "crawl.epochs": len(lin),
        "crawl.spark_jobs_per_epoch": crawl_jobs / len(lin),
        "crawl.run_s": tr.self_time("crawl.run"),
        "crawl.resume_s": tr.self_time("crawl.resume"),
        "crawl.popped": popped,
        "crawl.fetched_ok": fetched,
        "crawl.robots_denied": sum(r[4] for r in lin),
        "crawl.deferred": deferred,
        "crawl.discovered": sum(r[6] for r in lin),
        "crawl.fetch_ok_ratio": fetched / max(popped, 1),
        "checkpoint.bytes": res.facts["ckpt_bytes"],
        "checkpoint.load_s": tr.self_time("checkpoint.load"),
    }
