"""The two workloads. Each one sets up (timed as `setup_s`), measures
a closed loop for the run's seconds, and checks its answers outside the
timed region. Both report the same end-to-end metrics (`op_p50_ms`,
`op_p90_ms`, `op_per_s`, `setup_s`) for their own unit operation, plus
human-facing named metrics and, in a traced run, per-layer metrics.

  serve    — one long-lived McpServer over a prebuilt index answers
             `tools/call search_files` with MCP defaults; hot caches.
             op = one search_files call (1 client); op_per_s with
             `clients` threads.
  churn    — upsert / delete / refresh cycles beside search_files
             reads on the same index, then a purge-merge. op = one
             search_files call right after a refresh (cold caches);
             op_per_s = upserted docs per second of upsert_pages.
             Its traced run adds the purge-merge and the headline
             registry queries (`registry_layers`).
"""

from __future__ import annotations

import json
import re
import threading
import time

from . import inputs
from .harness import Ctx, bytes_written, dir_files, median, pct, tail_pct

SCORE_DECIMALS = 4


class Clock:
    """Accumulates the seconds spent inside `timed()` blocks, so gate
    checks between them stay outside the measured total."""

    def __init__(self):
        self.total = 0.0

    def timed(self) -> "_Timed":
        return _Timed(self)


class _Timed:
    """One timed block of a Clock; `s` holds its seconds on exit."""

    def __init__(self, clock: Clock):
        self.clock = clock

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self.t0
        self.clock.total += self.s


def _e2e(setup_s: float, p50_ms: float, p90_ms: float, per_s: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (p50_ms, "ms"),
        "op_p90_ms": (p90_ms, "ms"),
        "op_per_s": (per_s, "1/s"),
    }


# =================================================================== index

def _exhaustive(ctx: Ctx, idx: str, queries: list[tuple[int, str]], k: int = 10,
                corpus: bool = False) -> dict:
    """The gate's reference answer: operators/query.bm25_topk over the
    index's gated docs table. Tombstoned docs keep counting toward the
    collection statistics until a purge-merge drops them (the engine's
    pre-purge contract) and are removed from the ranked lists here."""
    from pyspark.sql import functions as F

    from mantic_sh_spark.functions.tokenize import tokens_col
    from mantic_sh_spark.operators.delete import tombstone_df
    from mantic_sh_spark.operators.index_build import IndexPaths, gated_docs
    from mantic_sh_spark.operators.query import bm25_topk

    spark = ctx.spark
    paths = IndexPaths(idx)
    t = tombstone_df(spark, paths)
    dead = set() if t is None else {r.doc_id for r in t.select("doc_id").collect()}
    docs = gated_docs(spark, paths).withColumn("tokens", tokens_col("text"))
    rows = bm25_topk(spark, docs, queries, k=k + len(dead)).orderBy("query_id", "rank").collect()
    want: dict[int, list] = {qid: [] for qid, _ in queries}
    for r in rows:
        if r.doc_id not in dead and len(want[r.query_id]) < k:
            want[r.query_id].append((r.doc_id, round(r.score, SCORE_DECIMALS)))
    if corpus:  # the build gate's facts about the docs table
        want["_docs"] = docs.select(F.sum(F.size(F.array_distinct("tokens"))).alias("p"),
                                    F.count(F.lit(1)).alias("n"),
                                    F.sum(F.length("text")).alias("text_bytes")).collect()[0]
    return want


def _gate(ctx: Ctx, server, want: dict, queries: list[tuple[int, str]], when: str) -> None:
    for qid, q in queries:
        with ctx.tracer.paused():
            ok, _, results = call_search(ctx, server, q, req_id=-1 - qid)
        got = [(r["doc_id"], round(r["score"], SCORE_DECIMALS)) for r in results]
        if not ok or got != want[qid]:
            ctx.mismatch(f"{when}: q{qid} {q!r}: search_files {got} != bm25_topk {want[qid]}")


def call_search(ctx: Ctx, server, query: str, req_id: int) -> tuple[bool, float, list]:
    """One MCP `tools/call search_files` with the protocol defaults
    (maxResults 10, urls and snippets on). Returns (ok, ms, results);
    JSON-RPC errors, isError results and malformed payloads are not ok."""
    req = {"jsonrpc": "2.0", "id": req_id, "method": "tools/call",
           "params": {"name": "search_files", "arguments": {"query": query}}}
    t0 = time.perf_counter()
    with ctx.tracer.span("mcp.handle", req=req_id):
        resp = server.handle(req)
    ms = (time.perf_counter() - t0) * 1e3
    try:
        res = resp["result"]
        if res.get("isError"):
            return False, ms, []
        return True, ms, json.loads(res["content"][0]["text"])["results"]
    except (KeyError, TypeError, IndexError, ValueError):
        return False, ms, []


def _build(ctx: Ctx, idx: str) -> dict:
    """Build the index over the seeded pages corpus (generated inside the
    build's first stage); returns its wall seconds and stage timings."""
    from mantic_sh_spark.operators import index_build
    from mantic_sh_spark.sources.synth import gen_pages

    cfg = inputs.corpus_config(ctx.seed)
    pages = gen_pages(ctx.spark, cfg, partitions=ctx.cores)
    t0 = time.perf_counter()
    with ctx.job_group("build"), ctx.tracer.span("index_build.build_index"):
        index_build.build_index(ctx.spark, pages, idx, n_segments=inputs.SEGMENTS)
    wall = time.perf_counter() - t0
    ctx.log(f"index built in {wall:.1f}s")
    return {"wall_s": wall, "timings": dict(index_build.LAST_TIMINGS)}


def _build_gate_and_layers(ctx: Ctx, idx: str, built: dict, want: dict) -> None:
    """Build gate (index_stats vs the corpus) and the build's named and
    per-layer metrics. Runs outside every timed region."""
    from mantic_sh_spark.operators.index_build import index_stats

    st = index_stats(ctx.spark, idx)
    corpus = want["_docs"]
    if st.get("n_docs") != inputs.N_DOCS or corpus.n != inputs.N_DOCS:
        ctx.mismatch(f"build: n_docs {st.get('n_docs')} / docs table {corpus.n} "
                     f"!= corpus {inputs.N_DOCS}")
    if st.get("postings") != corpus.p:
        ctx.mismatch(f"build: postings {st.get('postings')} != "
                     f"distinct (doc, term) pairs {corpus.p}")
    ctx.named["build_docs_per_s"] = (inputs.N_DOCS / built["wall_s"], "docs/s")
    ctx.named["index_bytes_per_text_byte"] = (st["index_bytes"] / corpus.text_bytes, "ratio")
    if not ctx.trace:
        return
    t = built["timings"]
    ctx.layer.update({
        "build.wall_s": built["wall_s"],
        "build.docs_stage_s": t.get("docs write", 0.0) + t.get("docs re-read", 0.0),
        "build.postings_stage_s": t.get("postings encode+write", 0.0),
        "build.commit_tail_s": t.get("commit join", 0.0),
        "build.tid_verify_s": t.get("tid verify (overlapped)", 0.0),
        "build.commit_worker_s": (t.get("norms+docs manifest (overlapped)", 0.0)
                                  + t.get("terms dir", 0.0) + t.get("metrics", 0.0)),
        "build.postings": float(st["postings"]),
        "build.index_bytes": float(st["index_bytes"]),
        "build.arrow_boundary_s": _arrow_boundary_s(ctx, idx),
    })
    ctx.notes["build_timings"] = t


def _arrow_boundary_s(ctx: Ctx, idx: str) -> float:
    """Cost of moving the corpus across the JVM↔Python Arrow boundary:
    a pass-through mapInArrow over the built docs table minus the
    JVM-only scan of the same columns (both into the noop sink; median
    of three each, after one warm run)."""
    docs = ctx.spark.read.parquet(f"{idx}/docs").select("doc_id", "url", "text")

    def identity(batches):
        yield from batches

    def run(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    arrow = docs.mapInArrow(identity, docs.schema)
    with ctx.job_group("arrow_probe"):
        run(arrow), run(docs)
        a = median([run(arrow) for _ in range(3)])
        j = median([run(docs) for _ in range(3)])
    return a - j


def _setup_index(ctx: Ctx, idx: str, gate_qs: list) -> dict:
    """Shared set-up of serve and churn: Spark, corpus, index build, the
    build gate and the search gate's reference answers. Returns the
    build facts plus `setup_s` so far (gate work excluded)."""
    t0 = time.perf_counter()
    ctx.start_spark()
    built = _build(ctx, idx)
    setup_s = time.perf_counter() - t0
    want = _exhaustive(ctx, idx, gate_qs, corpus=True)
    _build_gate_and_layers(ctx, idx, built, want)
    ctx.log("build gate done")
    return {"setup_s": setup_s, "want": want}


def _trace_reader(ctx: Ctx, server) -> None:
    """Span the reader's public calls and the query tokenizer."""
    from mantic_sh_spark import serve as serve_mod

    reader = server.reader
    for attr in ("df", "topk", "urls", "snippets", "refresh"):
        ctx.tracer.wrap(reader, attr, f"serve.{attr}")
    ctx.tracer.wrap(serve_mod, "tokenize_query", "serve.tokenize")


class ReaderLayers:
    """Per-call reader counters of the traced calls (`last_stats`)."""

    KEYS = ("fetch_ms", "terms_cold", "blocks_considered", "blocks_decoded",
            "decoded_hits", "segments_touched", "global_fallbacks", "dead_union_fallbacks")

    def __init__(self):
        self.rows: list[dict] = []
        self.terms = 0

    def add(self, reader, query: str) -> None:
        from mantic_sh_spark.functions.tokenize import tokenize_query

        self.rows.append(dict(reader.last_stats))
        self.terms += len(tokenize_query(query))

    def report(self, ctx: Ctx) -> None:
        tr = ctx.tracer

        def med_ms(name):
            return median(tr.durations(name)) * 1e3

        topk = [d * 1e3 for d in tr.durations("serve.topk")]
        ctx.layer.update({
            "mcp.handle_ms": med_ms("mcp.handle"),
            "serve.tokenize_ms": med_ms("serve.tokenize"),
            "serve.df_ms": med_ms("serve.df"),
            "serve.topk_ms": median(topk),
            "serve.topk_p99_ms": pct(topk, 99) if topk else 0.0,
            "serve.urls_ms": med_ms("serve.urls"),
            "serve.snippets_ms": med_ms("serve.snippets"),
        })
        n = max(1, len(self.rows))
        for k in self.KEYS:
            ctx.layer[f"serve.{k}"] = sum(r.get(k, 0) for r in self.rows) / n
        cons = sum(r.get("blocks_considered", 0) for r in self.rows)
        dec = sum(r.get("blocks_decoded", 0) for r in self.rows)
        cold = sum(r.get("terms_cold", 0) for r in self.rows)
        ctx.layer["serve.block_decode_ratio"] = dec / cons if cons else 0.0
        ctx.layer["serve.term_hit_ratio"] = 1.0 - cold / self.terms if self.terms else 0.0


def _traced_pass(ctx: Ctx, server, queries: list[str], layers: ReaderLayers | None,
                 base_req: int) -> tuple[list[tuple[str, float]], list[float], list[float]]:
    """Closed-loop single-client pass. In a traced run, even-numbered
    calls are traced and odd ones untraced, so the pass yields both
    samples for the tracing overhead. Returns the successful calls as
    (query, ms) pairs, and the ms of the traced and untraced ones."""
    lat, traced, plain = [], [], []
    for i, q in enumerate(queries):
        on = ctx.trace and i % 2 == 0
        ctx.tracer.enabled = on
        ok, ms, _ = call_search(ctx, server, q, req_id=base_req + i)
        ctx.record(ok)
        if not ok:
            continue
        lat.append((q, ms))
        if on:
            traced.append(ms)
            layers.add(server.reader, q)
        elif ctx.trace:
            plain.append(ms)
    ctx.tracer.enabled = ctx.trace
    return lat, traced, plain


def _best_per_query(calls: list[tuple[str, float]]) -> tuple[float, float]:
    """p50 and p90 over the calls of each call's query's best latency.

    Every query runs several times in a run under the same cache state,
    and its fastest run is its cost with the least interference from
    the rest of the box (on a shared VM, seconds-long stretches run at
    half speed). Weighting by calls keeps the stream's query mix."""
    best: dict[str, float] = {}
    for q, ms in calls:
        best[q] = min(ms, best.get(q, ms))
    per_call = [best[q] for q, _ in calls]
    return pct(per_call, 50), pct(per_call, 90)


def _overhead(ctx: Ctx, traced: list[float], plain: list[float]) -> None:
    """Tracing overhead: p50 of the traced minus the untraced samples,
    interleaved within the same run."""
    if ctx.trace:
        ctx.layer["trace.overhead_p50_ms"] = (pct(traced, 50) - pct(plain, 50)
                                              if traced and plain else 0.0)


# =================================================================== serve

def run_serve(ctx: Ctx) -> dict:
    from mantic_sh_spark.mcp import McpServer

    idx = ctx.path("index")
    pool = inputs.serve_pool(ctx.seed)
    gate_qs = inputs.gate_queries(pool)
    s = _setup_index(ctx, idx, gate_qs)
    t0 = time.perf_counter()
    ctx.stop_spark()  # the reader is JVM-free; serving runs without Spark
    server = McpServer(idx)
    server.reader.prewarm(pool)  # fault every pool term into the caches
    setup_s = s["setup_s"] + time.perf_counter() - t0
    ctx.log("serve: set up")
    _gate(ctx, server, s["want"], gate_qs, "serve")
    if ctx.trace:
        _trace_reader(ctx, server)

    # SERVE_ROUNDS rounds, each a 1-client latency block then a
    # `clients`-thread throughput block
    stream = inputs.serve_stream(ctx.seed, pool, 20_000)
    layers = ReaderLayers() if ctx.trace else None
    calls, plain, traced, rates = [], [], [], []
    block_s = ctx.seconds / (2 * inputs.SERVE_ROUNDS)
    pos = 0
    for r in range(inputs.SERVE_ROUNDS):
        deadline = time.perf_counter() + block_s
        block = []
        while time.perf_counter() < deadline:
            chunk = stream[pos:pos + 10]
            a, t, p = _traced_pass(ctx, server, chunk, layers, base_req=pos)
            block += [ms for _, ms in a]
            calls += a
            traced += t
            plain += p
            pos += len(chunk)
        with ctx.tracer.paused():
            rates.append(_throughput(ctx, server, stream, start=pos, seconds=block_s))
        ctx.log(f"serve: round {r}: p50 {pct(block, 50):.2f} ms, p90 {pct(block, 90):.2f} ms, "
                f"{rates[-1]:.1f} calls/s")

    p50, p90 = _best_per_query(calls)
    qps = max(rates)  # the least-disturbed round, as for the latencies
    every = [ms for _, ms in calls]
    q = tail_pct(len(every))
    ctx.named.update({
        "search_p50_ms": (p50, "ms"),
        "search_p90_ms": (p90, "ms"),
        "search_all_p50_ms": (pct(every, 50), "ms"),
        f"search_all_p{q}_ms": (pct(every, q), "ms"),
        "search_qps": (qps, "calls/s"),
        "search_calls": (float(len(every)), "count"),
    })
    if ctx.trace:
        layers.report(ctx)
        _overhead(ctx, traced, plain)
        _event_layers(ctx)
    _gate(ctx, server, s["want"], gate_qs, "serve, after the run")
    return _e2e(setup_s, p50, p90, qps)


def _throughput(ctx: Ctx, server, stream: list[str], start: int, seconds: float) -> float:
    """Completed search_files calls per second from `ctx.clients` closed-
    loop threads, each taking every clients-th query from `start` on."""
    done = [0] * ctx.clients  # per-thread counts: no shared read-modify-write
    errs = [0] * ctx.clients
    stop_at = time.perf_counter() + seconds

    def client(c: int) -> None:
        i = start + c
        while time.perf_counter() < stop_at:
            ok, _, _ = call_search(ctx, server, stream[i % len(stream)], req_id=2 * 10**6 + i)
            if ok:
                done[c] += 1
            else:
                errs[c] += 1
            i += ctx.clients

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client, args=(c,)) for c in range(ctx.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    rate = sum(done) / (time.perf_counter() - t0)
    ctx.attempted += sum(done) + sum(errs)
    ctx.failed += sum(errs)
    return rate


# =================================================================== churn

def run_churn(ctx: Ctx) -> dict:
    from mantic_sh_spark.mcp import McpServer
    from mantic_sh_spark.operators.delete import delete_docs, tombstone_count
    from mantic_sh_spark.operators.index_build import IndexPaths
    from mantic_sh_spark.operators.merge import merge_segments
    from mantic_sh_spark.sources.synth import PAGES_SCHEMA
    from mantic_sh_spark.streaming.incremental import upsert_pages

    idx = ctx.path("index")
    gate_qs = inputs.gate_queries(inputs.serve_pool(ctx.seed))
    s = _setup_index(ctx, idx, gate_qs)
    t0 = time.perf_counter()
    server = McpServer(idx)
    batches = inputs.churn_batches(ctx.seed)
    frames = [ctx.spark.createDataFrame(b.pages, schema=PAGES_SCHEMA) for b in batches]
    setup_s = s["setup_s"] + time.perf_counter() - t0
    ctx.log("churn: set up")
    _gate(ctx, server, s["want"], gate_qs, "churn, before writes")
    ctx.log("churn: gate passed")
    if ctx.trace:
        _trace_reader(ctx, server)
    spark, tr = ctx.spark, ctx.tracer
    paths = IndexPaths(idx)

    clock = Clock()
    layers = ReaderLayers() if ctx.trace else None
    passes, traced, plain = [], [], []  # passes: (query, ms) calls of each read pass
    upsert_s, upsert_docs, delete_s, refresh_ms, new_segs = [], [], [], [], []
    text_up = written = 0

    def read_pass(n: int) -> None:
        """A refresh, then the pass's queries; run twice, so every query
        has two cold samples under the same index state."""
        for rep in range(2):
            refresh()
            with clock.timed():
                a, t, p = _traced_pass(ctx, server, inputs.fresh_queries(ctx.seed, n),
                                       layers, base_req=n * 10**4)
            passes.append(a)
            traced.extend(t)
            plain.extend(p)
            ms = [x for _, x in a]
            ctx.log(f"churn: read pass {n}.{rep}: p50 {pct(ms, 50):.1f} ms, "
                    f"p90 {pct(ms, 90):.1f} ms")

    def refresh() -> None:
        with clock.timed() as b, tr.span("churn.refresh"):
            server.reader.refresh()
        refresh_ms.append(b.s * 1e3)

    for c, (batch, frame) in enumerate(zip(batches, frames)):
        if c and clock.total >= ctx.seconds:
            break
        before = dir_files(idx) if ctx.trace else None
        with clock.timed() as b, ctx.job_group("upsert"), tr.span("incremental.upsert_pages"):
            out = upsert_pages(spark, idx, frame, n_new_segments=1)
        ok = out["added"] == batch.n_new and out["modified"] == batch.n_modified
        ctx.record(ok)
        if not ok:
            ctx.mismatch(f"churn cycle {c}: upsert_pages reported {out}, expected "
                         f"{batch.n_new} added and {batch.n_modified} modified")
        upsert_s.append(b.s)
        new_segs += out["segments"]
        upsert_docs.append(batch.n_new + batch.n_modified)
        text_up += batch.text_bytes
        if ctx.trace:
            written += bytes_written(before, dir_files(idx))
        read_pass(2 * c)
        with clock.timed() as b, ctx.job_group("delete"), tr.span("delete.delete_docs"):
            n = delete_docs(spark, idx, urls=batch.delete_urls)
        ctx.record(n == len(batch.delete_urls))
        delete_s.append(b.s)
        read_pass(2 * c + 1)
        ctx.log(f"churn: cycle {c} done")
        _gate(ctx, server, _exhaustive(ctx, idx, gate_qs), gate_qs, f"churn cycle {c}")
        ctx.log(f"churn: cycle {c} gate passed")

    p50, p90 = _best_per_query([call for a in passes for call in a])
    ups = max(n / t for n, t in zip(upsert_docs, upsert_s))
    ctx.named.update({
        "upsert_docs_per_s": (ups, "docs/s"),
        "fresh_read_p50_ms": (p50, "ms"),
        "fresh_read_p90_ms": (p90, "ms"),
        "churn_cycles": (float(len(upsert_s)), "count"),
    })
    e2e = _e2e(setup_s, p50, p90, ups)
    if not ctx.trace:
        return e2e

    # traced run only: purge-merge the upserted segments, then one more
    # refresh, read pass and gate
    tombstones = tombstone_count(spark, paths)
    before = dir_files(idx)
    with clock.timed() as b, ctx.job_group("merge"), tr.span("merge.merge_segments"):
        merge_segments(spark, idx, new_segs, purge=True)
    merge_s = b.s
    merge_bytes = bytes_written(before, dir_files(idx))
    read_pass(99)
    ctx.named["fresh_read_after_merge_p50_ms"] = (_best_per_query(passes[-2] + passes[-1])[0], "ms")
    _gate(ctx, server, _exhaustive(ctx, idx, gate_qs), gate_qs, "churn, after merge")
    ctx.named["merge_s"] = (merge_s, "s")
    registry_layers(ctx)

    ctx.stop_spark()  # flushes the event log
    layers.report(ctx)
    _overhead(ctx, traced, plain)
    up = _event_layers(ctx).get("upsert", {})
    ctx.layer.update({
        "churn.upsert_s": median(upsert_s),
        "churn.delete_s": median(delete_s),
        "churn.refresh_ms": median(refresh_ms),
        "churn.upsert_shuffle_bytes": up.get("shuffle_write_bytes", 0.0) / len(upsert_s),
        "churn.bytes_written_per_input_byte": written / text_up,
        "churn.tombstones": float(tombstones),
        "merge.s": merge_s,
        "merge.bytes_rewritten": float(merge_bytes),
        "merge.segments_in": float(len(new_segs)),
    })
    return e2e


def _event_layers(ctx: Ctx) -> dict:
    """The build's task metrics from Spark's event log (read once the
    session has stopped and the log is complete)."""
    ev = ctx.event_log_totals()
    b = ev.get("build", {})
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "task_cpu_s", "jvm_gc_s"):
        ctx.layer[f"build.{k}"] = b.get(k, 0.0)
    ctx.notes["event_log"] = ev
    return ev


# ================================================================ registry

def _exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\bExchange\b", plan))


def registry_layers(ctx: Ctx) -> None:
    """The headline registry queries on seeded tables, in the
    live session: a warm count of each, then one timed count, one timed
    noop write and the plan's Exchange count per query. Each count must
    equal the row count of the query's DuckDB oracle."""
    import duckdb

    from mantic_sh_spark.plans.entry_queries import REGISTRY

    sf = ctx.path("sf")
    inputs.registry_tables(ctx.seed, sf)
    names = inputs.REGISTRY_QUERIES
    con = duckdb.connect()
    try:
        for t in inputs.REGISTRY_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        want = {n: con.execute(f"SELECT count(*) FROM ({REGISTRY[n][1]})").fetchone()[0]
                for n in names}
    finally:
        con.close()

    spark = ctx.spark
    suite = 0.0
    for n in names:
        fn = REGISTRY[n][0]
        with ctx.tracer.paused():
            fn(spark, sf).count()  # warm: codegen and scan path
        t0 = time.perf_counter()
        with ctx.job_group(f"registry.{n}"), ctx.tracer.span(f"registry.{n}.count"):
            got = fn(spark, sf).count()
        count_s = time.perf_counter() - t0
        ctx.record(got == want[n])
        if got != want[n]:
            ctx.mismatch(f"registry: {n} counted {got} rows, oracle {want[n]}")
        t0 = time.perf_counter()
        fn(spark, sf).write.format("noop").mode("overwrite").save()
        suite += count_s
        ctx.layer.update({
            f"registry.{n}.count_s": count_s,
            f"registry.{n}.noop_s": time.perf_counter() - t0,
            f"registry.{n}.exchanges": float(_exchanges(fn(spark, sf))),
        })
    ctx.named["registry_suite_s"] = (suite, "s")
    ctx.log("registry: measured")


WORKLOADS = {"serve": run_serve, "churn": run_churn}
