"""frontier_epoch: one politeness-budgeted frontier epoch, repeated.

Steps per epoch: canonicalize+hash the candidate URLs → ``build_bloom`` over
url_seen → ``anti_join_seen`` → ``attach_budgets`` → ``pop_per_host``, then
popped and deferred are both written at full width to a noop sink. One third
of the candidates are already in url_seen, and host 0 of 1021 carries a
quarter of them, so the salted pop sees one hot host. No fetch, expand,
checkpoint or RAG code runs.
"""

from __future__ import annotations

import math
import statistics
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mcp_crawl4ai_rag_spark import local_ckpt
from mcp_crawl4ai_rag_spark.config import POLITENESS_BASE_DELAY_MAX, POLITENESS_BASE_DELAY_MIN
from mcp_crawl4ai_rag_spark.functions.urls import canonical_url, url_hash
from mcp_crawl4ai_rag_spark.operators.politeness import attach_budgets, pop_per_host
from mcp_crawl4ai_rag_spark.operators.urlseen import (
    anti_join_seen,
    bloom_maybe_contains,
    build_bloom,
)
from harness import Result, log

CANDIDATES = 150_000
N_HOSTS = 1021
POP_FRACTION = 0.4  # share of the fresh URLs the per-host budgets admit
# the per-host delay pop_per_host charges with no robots or backoff rows
DEFAULT_DELAY_S = (POLITENESS_BASE_DELAY_MIN + POLITENESS_BASE_DELAY_MAX) / 2
MIN_TIMED_EPOCHS = 3


@dataclass
class State:
    cand: DataFrame
    seen: DataFrame
    budget_seconds: float


def setup(ctx, d: str) -> State:
    """Writes the raw candidate URLs and the url_seen set for this seed."""
    spark = ctx.spark
    # The seed moves the id range, so URL strings, hashes and the bloom's
    # bit pattern differ per seed while the host layout stays the same.
    base = ctx.seed % 1_000_000 * CANDIDATES
    i = F.col("id")
    host_id = F.when(i % 4 == 0, F.lit(0)).otherwise(i % N_HOSTS)
    host = F.concat(F.lit("h"), host_id.cast("string"), F.lit(".example.com"))
    path = F.concat(F.lit("/p/"), i.cast("string"))
    raw = F.concat(
        F.lit("https://"), host, path,
        F.when(i % 5 == 0, F.concat(F.lit("#s"), (i % 7).cast("string"))).otherwise(F.lit("")),
    )
    ids = spark.range(base, base + CANDIDATES, 1, ctx.nproc)
    ids.select(
        raw.alias("url"),
        host.alias("host"),
        path.alias("path"),
        (i % 4).cast("int").alias("depth"),
        ((i * 7919) % 11).cast("int").alias("priority"),
        (i - base).alias("seq"),
    ).write.parquet(f"{d}/cand")
    c = canonical_url(raw)
    ids.where((i - base) % 3 == 0).select(
        url_hash(c).alias("url_hash"), c.alias("canonical_url")
    ).write.parquet(f"{d}/seen")
    new_est = CANDIDATES - CANDIDATES // 3
    return State(
        cand=spark.read.parquet(f"{d}/cand"),
        seen=spark.read.parquet(f"{d}/seen"),
        budget_seconds=new_est * POP_FRACTION / N_HOSTS * DEFAULT_DELAY_S,
    )


def epoch(ctx, st: State):
    """One epoch. Traced, each layer's output is forced inside its own span
    so the span times execution rather than plan building."""
    tr = ctx.tracer
    with tr.span("urls.canon_hash"):
        c = canonical_url(F.col("url"))
        cand = st.cand.select(
            c.alias("canonical_url"), url_hash(c).alias("url_hash"),
            "host", "path", "depth", "priority", "seq",
        )
        if tr.enabled:
            cand = local_ckpt(cand)
    with tr.span("urlseen.bloom_build"):
        bloom = build_bloom(st.seen, "url_hash", expected=CANDIDATES // 3 + 1)
    with tr.span("urlseen.antijoin"):
        fresh = anti_join_seen(cand, st.seen, bloom)
        if tr.enabled:
            fresh = local_ckpt(fresh)
    with tr.span("politeness.budget"):
        with_b = attach_budgets(fresh, None, None, epoch_seconds=st.budget_seconds)
        if tr.enabled:
            with_b = local_ckpt(with_b)
    with tr.span("politeness.pop"):
        popped, deferred = pop_per_host(with_b, None)
        popped.write.format("noop").mode("overwrite").save()
        deferred.write.format("noop").mode("overwrite").save()
    return cand, bloom, fresh, popped, deferred


def timed_epochs(ctx, st: State, min_epochs: int, seconds: float):
    """At least ``min_epochs`` epochs, more until ``seconds`` have passed."""
    times, last, attempts = [], None, 0
    t_start = time.perf_counter()
    while attempts < min_epochs or time.perf_counter() - t_start < seconds:
        attempts += 1
        with ctx.op("frontier_epoch"):
            t0 = time.perf_counter()
            out = epoch(ctx, st)
            times.append(time.perf_counter() - t0)
            last = out
            log(f"epoch {len(times)}: {times[-1]:.2f}s")
    return times, last


def verify(ctx, st: State, out) -> dict:
    """Counts outside the timed region; returns the figures the checks and
    the per-layer metrics share. The noop sink kept nothing, so the fresh
    set is recomputed once and the deterministic pop re-run over it."""
    cand, bloom, fresh, _, _ = out
    seen_keys = st.seen.select("url_hash", "canonical_url", F.lit(True).alias("__seen"))
    flagged = bloom_maybe_contains(bloom, F.col("url_hash"))
    row = (
        cand.join(seen_keys, ["url_hash", "canonical_url"], "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("__seen").isNull().cast("long")).alias("fresh_exact"),
            F.sum((F.col("__seen").isNull() & flagged).cast("long")).alias("false_pos"),
            F.sum((F.col("__seen").isNotNull() & ~flagged).cast("long")).alias("false_neg"),
        )
        .collect()[0]
    )
    fresh = local_ckpt(fresh)
    popped, deferred = pop_per_host(
        attach_budgets(fresh, None, None, epoch_seconds=st.budget_seconds), None
    )
    fresh_by_host = dict(fresh.groupBy("host").count().collect())
    popped_by_host = dict(popped.groupBy("host").count().collect())
    n_fresh = sum(fresh_by_host.values())
    n_popped = sum(popped_by_host.values())
    n_deferred = deferred.count()
    fresh.unpersist()
    dedup_hits = row["n"] - n_fresh
    budget = max(math.floor(st.budget_seconds / DEFAULT_DELAY_S), 1)

    ctx.check("frontier.candidates", row["n"] == CANDIDATES, row["n"])
    ctx.check("frontier.fresh_exact", n_fresh == row["fresh_exact"],
              (n_fresh, row["fresh_exact"]))
    ctx.check("frontier.conservation", n_popped + n_deferred + dedup_hits == CANDIDATES,
              (n_popped, n_deferred, dedup_hits))
    ctx.check("frontier.bloom_no_false_negatives", row["false_neg"] == 0, row["false_neg"])
    over = {h: n for h, n in popped_by_host.items() if n > budget}
    ctx.check("frontier.budget_respected", not over, over)
    short = {h: (popped_by_host.get(h, 0), n) for h, n in fresh_by_host.items()
             if popped_by_host.get(h, 0) != min(n, budget)}
    ctx.check("frontier.pop_fills_budget", not short, list(short.items())[:5])
    bloom_bytes = (
        sum(s.bits.nbytes for s in bloom.shards) if hasattr(bloom, "shards")
        else bloom.bits.nbytes
    )
    return {
        "fresh": n_fresh,
        "popped": n_popped,
        "deferred": n_deferred,
        "dedup_hits": dedup_hits,
        "fpp": row["false_pos"] / max(row["fresh_exact"], 1),
        "bloom_bytes": bloom_bytes,
    }


def measure(ctx, st: State) -> Result:
    traced = ctx.tracer.enabled
    # The first epoch of a run is cold (JIT, codegen, Python workers); the
    # median of the timed epochs drops it.
    with ctx.untraced():
        if traced:
            # the untraced reference for the tracing overhead
            untraced, _ = timed_epochs(ctx, st, 2, 0)
        else:
            times, out = timed_epochs(ctx, st, MIN_TIMED_EPOCHS, ctx.seconds)
    overhead = 0.0
    if traced:
        with ctx.tracer.span("frontier_epoch"):
            times, out = timed_epochs(ctx, st, 1, 0)
        overhead = times[0] - untraced[-1] if times and untraced else 0.0
    if not times:
        return Result(e2e={}, named={})
    facts = verify(ctx, st, out)
    epoch_s = statistics.median(times)
    named = {
        "frontier_urls_per_s": CANDIDATES / epoch_s,
        "frontier_epoch_p50_ms": epoch_s * 1000,
        "frontier_epochs_timed": len(times),
        "frontier_candidates": CANDIDATES,
    }
    return Result(
        e2e={"bulk_rate_per_s": CANDIDATES / epoch_s},
        named=named,
        facts=facts,
        overhead_s=overhead,
    )


def layer_metrics(ctx, res: Result) -> dict:
    tr, f = ctx.tracer, res.facts
    return {
        "urls.canon_hash_s": tr.self_time("urls.canon_hash"),
        "urlseen.bloom_build_s": tr.self_time("urlseen.bloom_build"),
        "urlseen.antijoin_s": tr.self_time("urlseen.antijoin"),
        "urlseen.bloom_fpp": f["fpp"],
        "urlseen.bloom_bytes": f["bloom_bytes"],
        "urlseen.dedup_hit_ratio": f["dedup_hits"] / CANDIDATES,
        "politeness.budget_s": tr.self_time("politeness.budget"),
        "politeness.pop_s": tr.self_time("politeness.pop"),
        "politeness.pop_ratio": f["popped"] / max(f["fresh"], 1),
        "politeness.deferred": f["deferred"],
    }
