"""rag_ingest_query: bulk ingest, then rounds of upsert + closed-loop queries.

Bulk-ingests a seeded table of crawled-page-shaped markdown documents (chunk
→ embed at EMBEDDING_DIM → ``DocumentStore.commit_batch``). Most documents
are longer than DEFAULT_CHUNK_SIZE and carry headers, paragraphs and code
fences, so the chunker's window search splits them into several chunks. Each round upserts a changed
tenth of the documents, then one client sends top-5 ``search_documents``
queries back to back against the committed snapshot. It is the only
workload that runs plans.rag, functions.chunking, functions.embedding,
sources.docstore and functions.vectors, and it puts writes beside reads.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass
from urllib.parse import urlparse

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from mcp_crawl4ai_rag_spark import local_ckpt
from mcp_crawl4ai_rag_spark.config import DEFAULT_CHUNK_SIZE, DEFAULT_MATCH_COUNT
from mcp_crawl4ai_rag_spark.functions.chunking import chunk_markdown
from mcp_crawl4ai_rag_spark.functions.embedding import embed_query, with_embeddings
from mcp_crawl4ai_rag_spark.plans.rag import build_chunks, search_documents
from mcp_crawl4ai_rag_spark.sources.docstore import DocumentStore
from harness import Result, log

DOCS = 300
# Document length in characters, uniform over this range: from under one
# chunk to about four.
DOC_CHARS = (DEFAULT_CHUNK_SIZE // 5, DEFAULT_CHUNK_SIZE * 4)
CHANGED_SHARE = 0.10
QUERIES_PER_ROUND = 4
MIN_ROUNDS = 2
BULK_REPS = 2
WARMUP_QUERIES = 2
CRAWL_TIME = "2026-01-01T00:00:00+00:00"
SOURCES = 10
VOCAB = (
    "spark join scan filter agg group order sort hash merge window stream "
    "batch vector query table column row key value part line fast slow big "
    "small data customer crawl frontier chunk embed index"
).split()


@dataclass
class State:
    docs: DataFrame
    texts: dict[str, str]


def words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


def doc_text(rng: random.Random, i: int) -> str:
    """A markdown page: a title, then sections of sentence paragraphs with
    the odd fenced code block, up to a seeded length."""
    target = rng.randint(*DOC_CHARS)
    blocks, size, section = [f"# Document {i}"], 0, 0
    while size < target:
        r = rng.random()
        if r < 0.1:
            section += 1
            block = f"## Section {section}: {words(rng, 1, 3)}"
        elif r < 0.2:
            body = "\n".join(f"x{k} = {words(rng, 2, 6).replace(' ', '_')}()"
                             for k in range(rng.randint(3, 12)))
            block = f"```python\n{body}\n```"
        else:
            block = " ".join(f"{words(rng, 5, 15).capitalize()}."
                             for _ in range(rng.randint(2, 8)))
        blocks.append(block)
        size += len(block) + 2
    return "\n\n".join(blocks) + "\n"


def setup(ctx, d: str) -> State:
    rng = random.Random(ctx.seed)
    texts = {
        f"https://src{i % SOURCES}.example.com/doc/{i}": doc_text(rng, i)
        for i in range(DOCS)
    }
    pdf = pd.DataFrame({"url": list(texts), "markdown": list(texts.values())})
    ctx.spark.createDataFrame(pdf).write.parquet(f"{d}/docs")
    docs = ctx.spark.read.parquet(f"{d}/docs")
    docs.count()
    return State(docs=docs, texts=texts)


def ingest(ctx, ds: DocumentStore, docs: DataFrame, facts: dict) -> DataFrame:
    """chunk → embed → commit. Traced, chunks and embeddings are forced
    inside their own spans."""
    tr = ctx.tracer
    with tr.span("rag.chunk"):
        chunks = build_chunks(docs, crawl_time=CRAWL_TIME)
        if tr.enabled:
            chunks = local_ckpt(chunks)
    with tr.span("embedding.embed"):
        embedded = with_embeddings(chunks)
        if tr.enabled:
            embedded = local_ckpt(embedded)
    with tr.span("docstore.commit"):
        store = ds.commit_batch(embedded)
    if tr.enabled:
        facts["chunks"] += chunks.count()
        facts["bytes_written"] += sum(
            os.path.getsize(urlparse(f).path) for f in store.inputFiles()
        )
    return store


def query(ctx, store: DataFrame, q: str, phases: list) -> list:
    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("search.build"):
        df = search_documents(store, q, match_count=DEFAULT_MATCH_COUNT)
    t1 = time.perf_counter()
    with tr.span("search.plan"):
        df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    with tr.span("search.exec"):
        rows = df.collect()
    t3 = time.perf_counter()
    phases.append((t1 - t0, t2 - t1, t3 - t2))
    return rows


def brute_force_check(ctx, store: DataFrame, answered: list, expected_rows: int) -> None:
    """Every answered query's top-5 against a numpy cosine over the whole
    collected store, plus the store's key uniqueness and row count."""
    pdf = store.select("url", "chunk_number", "embedding").toPandas()
    keys = list(zip(pdf["url"], pdf["chunk_number"]))
    ctx.check("rag.store_row_count", len(pdf) == expected_rows, (len(pdf), expected_rows))
    ctx.check("rag.store_unique_url_chunk", len(set(keys)) == len(keys))
    mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    for q, rows in answered:
        qv = np.asarray(embed_query(q), dtype=np.float64)
        sims = np.round(mat @ qv / (norms * np.linalg.norm(qv)), 4)
        order = sorted(range(len(keys)), key=lambda j: (-sims[j], keys[j]))
        want = [(keys[j], sims[j]) for j in order[:DEFAULT_MATCH_COUNT]]
        got = [((r["url"], r["chunk_number"]), r["similarity"]) for r in rows]
        sim_of = dict(zip(keys, sims))
        # equal up to the 4-dp rounding of ties at the cut
        ok = len(got) == len(want) and all(
            abs(g[1] - w[1]) <= 1.5e-4 and abs(sim_of[g[0]] - g[1]) <= 1.5e-4
            for g, w in zip(got, want)
        )
        ctx.check("rag.top5_equals_brute_force", ok, (q, got, want))


def changed_docs(ctx, texts: dict[str, str], rnd: int) -> tuple[DataFrame, int]:
    """A seeded tenth of the documents with an extra line, and its chunk
    count; ``texts`` is updated to the new contents."""
    rng = random.Random(ctx.seed * 1000 + rnd)
    urls = rng.sample(sorted(texts), int(DOCS * CHANGED_SHARE))
    for u in urls:
        texts[u] = texts[u] + f"revised {rng.choice(VOCAB)} {rnd}\n"
    pdf = pd.DataFrame({"url": urls, "markdown": [texts[u] for u in urls]})
    return ctx.spark.createDataFrame(pdf), sum(len(chunk_markdown(texts[u])) for u in urls)


def workload(ctx, st: State, root: str, seconds: float) -> dict:
    facts = {"chunks": 0, "bytes_written": 0}
    texts = dict(st.texts)
    t_start = time.perf_counter()
    bulk = []
    # bulk ingests into fresh stores; the rounds run on the last one
    for k in range(BULK_REPS):
        ds = DocumentStore(ctx.spark, f"{root}-{k}")
        with ctx.op("rag_bulk_ingest"):
            t0 = time.perf_counter()
            store = ingest(ctx, ds, st.docs, facts)
            bulk.append(time.perf_counter() - t0)
            log(f"bulk ingest: {bulk[-1]:.2f}s")
    rng = random.Random(ctx.seed)
    upserts, upsert_rates, latencies, phases, rnd = [], [], [], [], 0
    while rnd < MIN_ROUNDS or time.perf_counter() - t_start < seconds:
        rnd += 1
        batch, batch_chunks = changed_docs(ctx, texts, rnd)
        expected = sum(len(chunk_markdown(t)) for t in texts.values())
        with ctx.op("rag_upsert"):
            t0 = time.perf_counter()
            store = ingest(ctx, ds, batch, facts)
            upserts.append(time.perf_counter() - t0)
            upsert_rates.append(batch_chunks / upserts[-1])
            log(f"round {rnd}: upsert {upserts[-1]:.2f}s")
        answered = []
        for _ in range(QUERIES_PER_ROUND):
            q = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(2, 5)))
            with ctx.op("rag_query"):
                t0 = time.perf_counter()
                rows = query(ctx, store, q, phases)
                latencies.append(time.perf_counter() - t0)
                answered.append((q, rows))
        log(f"round {rnd}: queries {latencies[-QUERIES_PER_ROUND:]}")
        with ctx.op("rag_check"):
            brute_force_check(ctx, store, answered, expected)
    return {"bulk": bulk, "upserts": upserts, "upsert_rates": upsert_rates,
            "latencies": latencies, "phases": phases, "facts": facts}


def busy_s(out: dict) -> float:
    """Timed time of one workload pass: bulk ingests, upserts, queries."""
    return sum(out["bulk"]) + sum(out["upserts"]) + sum(out["latencies"])


def percentile(xs: list[float], p: float) -> float:
    return float(np.percentile(np.asarray(xs), p))


def measure(ctx, st: State) -> Result:
    traced = ctx.tracer.enabled
    chunks = sum(len(chunk_markdown(t)) for t in st.texts.values())
    # the chunker's window search runs only on documents over one chunk
    ctx.check("rag.multi_chunk_documents", chunks > DOCS, chunks)
    with ctx.untraced():
        # One untimed pass of every step over a fifth of the documents, on
        # its own store, first: Python workers, the tokenizer, the upsert
        # merge and the JIT on the query planner's paths are warm before
        # anything is timed.
        with ctx.op("rag_warmup"):
            warm = DocumentStore(ctx.spark, ctx.path("store-warm"))
            ingest(ctx, warm, st.docs.sample(fraction=0.2, seed=ctx.seed), {})
            store = ingest(ctx, warm, changed_docs(ctx, dict(st.texts), 0)[0], {})
            for q in VOCAB[:WARMUP_QUERIES]:
                query(ctx, store, q, [])
        log("warm-up done")
        if traced:
            untraced = workload(ctx, st, ctx.path("store-untraced"), 0)
        else:
            out = workload(ctx, st, ctx.path("store"), ctx.seconds)
    overhead = 0.0
    if traced:
        with ctx.tracer.span("rag_ingest_query"):
            out = workload(ctx, st, ctx.path("store"), 0)
        overhead = busy_s(out) - busy_s(untraced)
    if not (out["bulk"] and out["upserts"] and out["latencies"]):
        return Result(e2e={}, named={})
    lat = out["latencies"]
    named = {
        "ingest_chunks_per_s": chunks / statistics.median(out["bulk"]),
        "upsert_s": statistics.median(out["upserts"]),
        "upsert_chunks_per_s": statistics.median(out["upsert_rates"]),
        "query_p50_ms": statistics.median(lat) * 1000,
        "query_p90_ms": percentile(lat, 90) * 1000,
        "query_samples": len(lat),
        "rag_rounds": len(out["upserts"]),
        "rag_chunks": chunks,
    }
    return Result(
        e2e={"bulk_rate_per_s": named["ingest_chunks_per_s"],
             "incremental_rate_per_s": named["upsert_chunks_per_s"],
             "latency_p50_ms": named["query_p50_ms"]},
        named=named,
        facts=out,
        overhead_s=overhead,
    )


def layer_metrics(ctx, res: Result) -> dict:
    tr, out = ctx.tracer, res.facts
    build, plan, exe = zip(*out["phases"])
    return {
        "rag.chunk_s": tr.self_time("rag.chunk"),
        "rag.chunks": out["facts"]["chunks"],
        "embedding.embed_s": tr.self_time("embedding.embed"),
        "docstore.commit_s": tr.self_time("docstore.commit"),
        "docstore.bytes_written": out["facts"]["bytes_written"],
        "search.build_ms": statistics.median(build) * 1000,
        "search.plan_ms": statistics.median(plan) * 1000,
        "search.exec_ms": statistics.median(exe) * 1000,
    }
