"""Serving path (serve.IndexReader + serve_loop): must be value-
identical to the distributed WAND engine, hot-cache correctly, and
pick up index mutations on refresh."""

import io
import json

from mantic_sh_spark.operators.wand import wand_topk
from mantic_sh_spark.serve import IndexReader, serve_loop
from mantic_sh_spark.sources.synth import SynthConfig, gen_queries


def _spark_results(spark, idx, queries, k):
    out = {}
    for qid, q in queries:
        rows = wand_topk(spark, idx, [(0, q)], k=k).collect()
        out[q] = [(r.doc_id, round(r.score, 4)) for r in sorted(rows, key=lambda r: r.rank)]
    return out


def test_reader_matches_wand(spark, small_corpus):
    idx = small_corpus["index_dir"]
    queries = gen_queries(small_corpus["cfg"], n_queries=12)
    expected = _spark_results(spark, idx, queries, k=8)

    reader = IndexReader(idx)
    for _, q in queries:
        got = [(d, round(s, 4)) for d, s in reader.topk(q, k=8)]
        assert got == expected[q], q
    # absent term → empty, no error
    assert reader.topk("qqabsentterm", k=5) == []
    # term frames cached after the query sweep
    assert any(key[0] == "blocks" for key in reader._cache._d)


def test_reader_urls_and_search(spark, small_corpus):
    reader = IndexReader(small_corpus["index_dir"])
    res = reader.search("w1x w2x", k=5, with_urls=True)
    assert len(res) == 5
    assert res[0]["rank"] == 1 and res[0]["url"].startswith("https://")
    assert [r["score"] for r in res] == sorted((r["score"] for r in res), reverse=True)


def test_serve_loop_end_to_end(spark, small_corpus):
    idx = small_corpus["index_dir"]
    reqs = "\n".join([
        json.dumps({"op": "ping"}),
        json.dumps({"q": "w1x w5x", "k": 3, "urls": True}),
        json.dumps({"q": "qqabsentterm"}),
        "not json at all",
        json.dumps({"op": "refresh"}),
        json.dumps({"q": "w1x w5x", "k": 3}),
        json.dumps({"op": "quit"}),
    ])
    out = io.StringIO()
    served = serve_loop(idx, stdin=io.StringIO(reqs), stdout=out)
    lines = [json.loads(line) for line in out.getvalue().splitlines()]
    assert served == 3
    assert lines[0]["ok"] and lines[0]["n_docs"] == 400
    assert len(lines[1]["results"]) == 3 and lines[1]["results"][0]["url"]
    assert lines[2]["results"] == []
    assert "error" in lines[3]
    assert lines[4]["ok"]
    # same query, same docs/scores before and after refresh
    assert [(r["doc_id"], r["score"]) for r in lines[5]["results"]] == [
        (r["doc_id"], r["score"]) for r in lines[1]["results"]
    ]


def test_reader_refresh_sees_deletes(spark, small_corpus, tmp_path):
    """Tombstone → refresh → the deleted doc disappears from serving
    results (parity with the wand/phrase live-docs discipline)."""
    import shutil

    from mantic_sh_spark.operators.delete import delete_docs

    idx = str(tmp_path / "idx_copy")
    shutil.copytree(small_corpus["index_dir"], idx)
    reader = IndexReader(idx)
    before = reader.topk("w1x w3x", k=5)
    victim = before[0][0]

    delete_docs(spark, idx, doc_ids=[victim])
    # stale until refresh (the reader is an immutable-snapshot view)
    reader.refresh()
    after = reader.topk("w1x w3x", k=5)
    assert victim not in {d for d, _ in after}
    assert {d for d, _ in before[1:]} <= {d for d, _ in after}


def test_query_log_sink_and_session_boost(spark, small_corpus, tmp_path):
    """S9/R13: the serve loop persists query history as a parquet table
    a Spark session can scan, and session_doc_boost aggregates it into
    the context-boost prior shape."""
    from mantic_sh_spark.serve import read_query_log, session_doc_boost

    idx = small_corpus["index_dir"]
    log_dir = str(tmp_path / "qlog")
    reqs = "\n".join(
        [json.dumps({"q": f"w{i}x w{i+1}x", "k": 4}) for i in range(1, 6)]
        + [json.dumps({"op": "quit"})]
    )
    served = serve_loop(idx, stdin=io.StringIO(reqs), stdout=io.StringIO(), log_dir=log_dir)
    assert served == 5

    log = read_query_log(spark, log_dir)
    rows = log.orderBy("ts").collect()
    assert len(rows) == 5
    assert rows[0].q == "w1x w2x" and rows[0].n_results == 4 and len(rows[0].top_doc_ids) == 4
    assert all(r.ms >= 0 for r in rows)

    boost = session_doc_boost(spark, log_dir)
    total = boost.agg({"hits": "sum"}).collect()[0][0]
    assert total == sum(r.n_results for r in rows)
    assert boost.filter("hits > 1").count() >= 1  # overlapping queries share docs


def test_cli_md_format(spark, small_corpus, capsys):
    from mantic_sh_spark.cli import main

    assert main(["query", "--index", small_corpus["index_dir"], "--q", "w1x w5x",
                 "--k", "3", "--format", "md"]) == 0
    out = capsys.readouterr().out
    assert "## Results for `w1x w5x`" in out and "| rank | score | url |" in out
    assert out.count("| 1 |") == 1 and "https://" in out


def test_reader_phrase_matches_spark_engine(spark, tmp_path):
    """Phrase serving: IndexReader.phrase_topk (no Spark job) must be
    value-identical to the distributed phrase engine, exact and sloppy,
    and route through the serve loop."""
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.operators.phrase import phrase_topk
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages

    cfg = SynthConfig(n_docs=220, vocab_size=110, seed=53)
    pages = gen_pages(spark, cfg, partitions=2)
    idx = str(tmp_path / "posidx")
    build_index(spark, pages, idx, n_segments=2, chunk_size=64, block_size=32,
                store_positions=True)
    reader = IndexReader(idx)
    assert reader.has_positions

    for phrase, slop in (("w0x w1x", 0), ("w0x w2x", 2)):
        want = [
            (r.doc_id, r.n_matches)
            for r in phrase_topk(spark, idx, [(0, phrase)], k=50, slop=slop)
            .orderBy("rank").collect()
        ]
        got = reader.phrase_topk(phrase, k=50, slop=slop)
        assert got == want and want, (phrase, slop)

    # serve-loop routing
    out = io.StringIO()
    serve_loop(idx, stdin=io.StringIO(
        json.dumps({"q": "w0x w1x", "phrase": True, "k": 5, "urls": True}) + "\n"
        + json.dumps({"op": "quit"}) + "\n"), stdout=out)
    res = json.loads(out.getvalue().splitlines()[0])["results"]
    assert res and res[0]["rank"] == 1 and "n_matches" in res[0] and res[0]["url"]

    # find_references: per-doc match-start token positions must equal a
    # pure-Python re-tokenization oracle, for a single-term symbol and a
    # multi-token (phrase-matched) one; ranked (n_matches desc, doc asc)
    from mantic_sh_spark.functions.tokenize import tokenize as tok
    doc_toks = {r.doc_id: tok(r.text)
                for r in spark.read.parquet(f"{idx}/docs").collect()}
    for symbol, width in (("w0x", 1), ("w0x w1x", 2)):
        sym = tok(symbol)
        oracle = {}
        for d, toks in doc_toks.items():
            pos = [i for i in range(len(toks) - width + 1)
                   if toks[i:i + width] == sym]
            if pos:
                oracle[d] = pos
        refs = reader.references(symbol, k=10**6, max_positions=10**6)
        assert {r["doc_id"]: r["positions"] for r in refs} == oracle, symbol
        assert [r["doc_id"] for r in refs] == sorted(
            oracle, key=lambda d: (-len(oracle[d]), d))
        assert all(r["n_matches"] == len(oracle[r["doc_id"]]) and r["url"]
                   for r in refs)

    # serve-loop routing: {"symbol": ...} answers references
    out2 = io.StringIO()
    serve_loop(idx, stdin=io.StringIO(
        json.dumps({"symbol": "w0x w1x", "k": 3}) + "\n"
        + json.dumps({"op": "quit"}) + "\n"), stdout=out2)
    sresp = json.loads(out2.getvalue().splitlines()[0])
    assert sresp["results"] and sresp["results"][0]["positions"]

    # MCP surface: find_references round-trips with positions in the
    # payload (reference: the find_references MCP tool,
    # src/mcp-server.ts:763-847)
    from mantic_sh_spark.mcp import McpServer
    srv = McpServer(idx, reader=reader)
    resp = srv.handle({"jsonrpc": "2.0", "id": 9, "method": "tools/call",
                       "params": {"name": "find_references",
                                  "arguments": {"symbol": "w0x w1x",
                                                "maxResults": 5,
                                                "maxPositions": 3}}})
    payload = json.loads(resp["result"]["content"][0]["text"])
    assert resp["result"]["isError"] is False
    assert payload["references"], "expected at least one reference"
    top = payload["references"][0]
    assert top["positions"] and len(top["positions"]) <= 3 and top["url"]


def test_get_definition(spark, tmp_path):
    """get_definition (reference: src/code-intel.ts pattern walk as
    keyword-phrase probes over positional postings): definition sites =
    symbol occurrences immediately preceded by a definition keyword,
    ranked (keyword priority, position, doc); camelCase symbols match
    through tokenization; plain references are NOT definitions."""
    import pandas as pd

    from mantic_sh_spark.mcp import McpServer
    from mantic_sh_spark.operators.index_build import build_index

    pages = spark.createDataFrame(pd.DataFrame({
        "url": [f"https://ex.com/f{i}" for i in range(4)],
        "warc_ts": pd.to_datetime(["2026-01-01"] * 4),
        "html": [b""] * 4,
        "text": [
            "import parseHtml from lib\ndef parseHtml means parse then html",
            "uses parseHtml twice parseHtml here but never defines it",
            "class parseHtml wraps the parser",
            "filler words only nothing else",
        ],
        "lang": ["en"] * 4,
    }))
    idx = str(tmp_path / "defidx")
    build_index(spark, pages, idx, n_segments=1, store_positions=True)
    reader = IndexReader(idx)

    defs = reader.definitions("parseHtml", k=10)
    # 'def' outranks 'class'; doc 1 (references only) absent
    assert [d["url"] for d in defs] == ["https://ex.com/f0", "https://ex.com/f2"]
    assert defs[0]["keyword"] == "def" and defs[1]["keyword"] == "class"
    # position = the SYMBOL's token index: f0 tokens are
    # [import, parse, html, from, lib, def, parse, html, ...] → 6
    assert defs[0]["position"] == 6
    assert defs[1]["position"] == 1
    assert reader.definitions("qqnosuchsymbol") == []

    # MCP surface
    srv = McpServer(idx, reader=reader)
    resp = srv.handle({"jsonrpc": "2.0", "id": 1, "method": "tools/call",
                       "params": {"name": "get_definition",
                                  "arguments": {"symbol": "parseHtml"}}})
    payload = json.loads(resp["result"]["content"][0]["text"])
    assert [d["url"] for d in payload["definitions"]] == [
        "https://ex.com/f0", "https://ex.com/f2"]


def test_timeout_guard_returns_partial(spark, small_corpus):
    """ST4: a per-request time budget stops the segment sweep after the
    deadline — at least one segment always answers, the reader flags
    truncation, and an un-budgeted rerun is complete again."""
    reader = IndexReader(small_corpus["index_dir"])
    full = reader.topk("w1x w2x", k=8)
    assert not reader.truncated and full

    partial = reader.topk("w1x w2x", k=8, budget_ms=0.0)
    assert reader.truncated
    assert partial and set(partial) <= {(d, s) for d, s in full} | set(partial)
    # partial results are a subset of some segments' true top-k: every
    # returned doc must appear in the full ranking extended to all docs
    exhaustive = dict(reader.topk("w1x w2x", k=10**6))
    assert all(abs(exhaustive[d] - s) < 1e-9 for d, s in partial)

    # budget large enough → complete again, flag cleared
    again = reader.topk("w1x w2x", k=8, budget_ms=60_000)
    assert again == full and not reader.truncated

    # serve-loop surfacing
    out = io.StringIO()
    serve_loop(small_corpus["index_dir"],
               stdin=io.StringIO(json.dumps({"q": "w1x w2x", "budget_ms": 0}) + "\n"
                                 + json.dumps({"op": "quit"}) + "\n"),
               stdout=out)
    resp = json.loads(out.getvalue().splitlines()[0])
    assert resp.get("truncated") is True and resp["results"]


def test_mcp_round_trip(spark, small_corpus):
    """MCP stdio adapter (reference: src/mcp-server.ts:338-441): a full
    JSON-RPC session — initialize handshake, tools/list, search_files
    call — against a built index, with results value-identical to the
    reader's own search()."""
    import io
    import json

    from mantic_sh_spark.mcp import serve_stdio
    from mantic_sh_spark.serve import IndexReader

    idx = small_corpus["index_dir"]
    reqs = [
        {"jsonrpc": "2.0", "id": 1, "method": "initialize",
         "params": {"protocolVersion": "2025-06-18", "capabilities": {}}},
        {"jsonrpc": "2.0", "method": "notifications/initialized"},
        {"jsonrpc": "2.0", "id": 2, "method": "tools/list"},
        {"jsonrpc": "2.0", "id": 3, "method": "tools/call",
         "params": {"name": "search_files",
                    "arguments": {"query": "w1x w5x", "maxResults": 5}}},
        {"jsonrpc": "2.0", "id": 4, "method": "tools/call",
         "params": {"name": "index_stats", "arguments": {}}},
        {"jsonrpc": "2.0", "id": 5, "method": "no/such/method"},
        "this is not json",
    ]
    stdin = io.StringIO("\n".join(
        json.dumps(r) if isinstance(r, dict) else r for r in reqs) + "\n")
    stdout = io.StringIO()
    serve_stdio(idx, stdin=stdin, stdout=stdout)
    lines = [json.loads(line) for line in stdout.getvalue().splitlines()]
    by_id = {l.get("id"): l for l in lines}
    # handshake
    assert by_id[1]["result"]["protocolVersion"]
    assert by_id[1]["result"]["serverInfo"]["name"] == "mantic-sh-spark"
    # tool discovery
    names = [t["name"] for t in by_id[2]["result"]["tools"]]
    assert "search_files" in names and "index_stats" in names
    assert "find_references" in names and "get_definition" in names
    # search_files call: content payload matches the reader directly
    content = json.loads(by_id[3]["result"]["content"][0]["text"])
    reader = IndexReader(idx)
    want = reader.search("w1x w5x", k=5, with_urls=True, with_snippets=True)
    assert content["results"] == json.loads(json.dumps(want))
    # snippets default ON over MCP (agents want context, like the
    # reference's context-formatter output): window contains a hit term
    assert all("w1x" in r["snippet"] or "w5x" in r["snippet"]
               for r in content["results"])
    assert by_id[3]["result"]["isError"] is False
    # stats carries corpus + read-amp counters
    st = json.loads(by_id[4]["result"]["content"][0]["text"])
    assert st["n_docs"] == 400 and "last" in st and "total" in st
    # protocol errors answered, loop alive
    assert by_id[5]["error"]["code"] == -32601
    assert any("error" in l and l.get("id") is None for l in lines)  # parse error


def test_reader_concurrent_queries_identical(spark, small_corpus):
    """Task 7 (serve concurrency): N threads hammering one reader must
    each get value-identical results to a fresh single-threaded reader,
    with no torn refresh (a refresh runs mid-flight). The threads also
    fetch urls and snippets, sharing the reader's open docs files."""
    from concurrent.futures import ThreadPoolExecutor

    from mantic_sh_spark.serve import IndexReader

    idx = small_corpus["index_dir"]
    queries = [q for _, q in gen_queries(small_corpus["cfg"], n_queries=16)]
    single = IndexReader(idx)
    want = {q: single.topk(q, 10) for q in set(queries)}
    want_rows = {q: single.search(q, 10, with_urls=True, with_snippets=True)
                 for q in set(queries)}

    reader = IndexReader(idx)

    def hammer(i: int):
        out = []
        for j, q in enumerate(queries):
            if i == 0 and j == 8:
                reader.refresh()  # single-writer refresh mid-traffic
            out.append((q, reader.topk(q, 10),
                        reader.search(q, 10, with_urls=True, with_snippets=True)))
        return out

    with ThreadPoolExecutor(6) as pool:
        results = list(pool.map(hammer, range(6)))
    for thread_out in results:
        for q, got, rows in thread_out:
            assert got == want[q], q
            assert rows == want_rows[q], q


def test_read_amplification_counters(spark, small_corpus):
    """Task 8: per-query segments-touched / blocks-considered /
    blocks-decoded counters in the reader, surfaced through the serve
    loop's stats op."""
    import io
    import json

    from mantic_sh_spark.serve import IndexReader, serve_loop

    idx = small_corpus["index_dir"]
    reader = IndexReader(idx)
    reader.topk("w1x w5x", 10)
    c = reader.counters()
    assert c["last"]["segments_touched"] >= 1
    assert c["last"]["blocks_considered"] >= c["last"]["segments_touched"]
    assert c["last"]["blocks_decoded"] >= 1
    assert c["last"]["terms_cold"] == 2  # both terms were LRU-cold
    reader.topk("w1x w5x", 10)
    assert reader.counters()["last"]["terms_cold"] == 0  # hot now
    assert reader.counters()["total"]["queries"] == 2

    # the serve loop surfaces the same counters: cumulative via op:stats
    # and per-request via {"stats": true}
    stdin = io.StringIO('{"q": "w1x w5x", "stats": true}\n{"op": "stats"}\n{"op": "quit"}\n')
    stdout = io.StringIO()
    serve_loop(idx, stdin=stdin, stdout=stdout)
    lines = [json.loads(line) for line in stdout.getvalue().splitlines()]
    assert lines[0]["stats"]["segments_touched"] >= 1  # inline per-request
    st = [l for l in lines if l.get("ok") and "total" in l][0]
    assert st["total"]["queries"] == 1 and st["last"]["segments_touched"] >= 1


def test_serve_loop_concurrent_ids(spark, small_corpus):
    """serve_loop with concurrency>1: responses may interleave, so the
    id field correlates them; every request gets exactly one response
    and results equal the sequential loop's."""
    import io
    import json

    from mantic_sh_spark.serve import IndexReader, serve_loop

    idx = small_corpus["index_dir"]
    queries = [q for _, q in gen_queries(small_corpus["cfg"], n_queries=12)]
    req_lines = [json.dumps({"q": q, "k": 5, "id": i}) for i, q in enumerate(queries)]
    stdin = io.StringIO("\n".join(req_lines) + '\n{"op": "quit"}\n')
    stdout = io.StringIO()
    served = serve_loop(idx, stdin=stdin, stdout=stdout, concurrency=4)
    assert served == len(queries)
    resps = {r["id"]: r for r in map(json.loads, stdout.getvalue().splitlines())}
    assert set(resps) == set(range(len(queries)))
    reader = IndexReader(idx)
    for i, q in enumerate(queries):
        want = [{"rank": j + 1, "doc_id": d, "score": s}
                for j, (d, s) in enumerate(reader.topk(q, 5))]
        assert resps[i]["results"] == json.loads(json.dumps(want)), q


def test_reader_pool_and_mcp_index_dir(spark, small_corpus, tmp_path):
    """ST3 multi-index serving: ReaderPool LRU (reference keeps an LRU
    of loaded repo indexes, src/cache.ts:10-47) + per-call indexDir on
    MCP tools routing to pooled readers."""
    from mantic_sh_spark.mcp import McpServer
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.serve import ReaderPool
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages

    idx1 = small_corpus["index_dir"]
    idx2 = str(tmp_path / "idx2")
    build_index(spark, gen_pages(spark, SynthConfig(n_docs=60, vocab_size=80, seed=5),
                                 partitions=1), idx2, n_segments=1)

    pool = ReaderPool(max_readers=1)
    r1 = pool.get(idx1)
    assert pool.get(idx1 + "/") is r1  # normalized key, cache hit
    r2 = pool.get(idx2)                # evicts idx1 (capacity 1)
    assert pool.get(idx2) is r2
    assert pool.get(idx1) is not r1    # rebuilt after eviction

    srv = McpServer(idx1)
    def _stats(args):
        resp = srv.handle({"jsonrpc": "2.0", "id": 1, "method": "tools/call",
                           "params": {"name": "index_stats", "arguments": args}})
        return json.loads(resp["result"]["content"][0]["text"])
    assert _stats({})["n_docs"] == 400                 # default index
    assert _stats({"indexDir": idx2})["n_docs"] == 60  # pooled second index

    # search routed to the second index returns ITS corpus' urls
    resp = srv.handle({"jsonrpc": "2.0", "id": 2, "method": "tools/call",
                       "params": {"name": "search_files",
                                  "arguments": {"query": "w1x", "maxResults": 3,
                                                "indexDir": idx2}}})
    res = json.loads(resp["result"]["content"][0]["text"])["results"]
    want = {d for d, _ in IndexReader(idx2).topk("w1x", 3)}
    assert {r["doc_id"] for r in res} == want and want


def test_snippets(spark, small_corpus):
    """Context windows (reference: src/context-formatter.ts — matched
    context around each hit): a ~width-char window centered on the
    first query-term occurrence, ellipsized at cut edges, served from
    one row-group-pruned docs read."""
    import json

    from mantic_sh_spark.serve import IndexReader, serve_loop

    idx = small_corpus["index_dir"]
    reader = IndexReader(idx)
    res = reader.search("w1x w5x", k=5, with_snippets=True, snippet_width=80)
    assert len(res) == 5
    for r in res:
        s = r["snippet"]
        assert ("w1x" in s) or ("w5x" in s), s
        assert len(s) <= 80 + 2  # width + ellipses
    # serve loop surface
    import io

    stdin = io.StringIO('{"q": "w1x w5x", "k": 3, "snippets": true}\n{"op": "quit"}\n')
    stdout = io.StringIO()
    serve_loop(idx, stdin=stdin, stdout=stdout)
    resp = json.loads(stdout.getvalue().splitlines()[0])
    assert all("snippet" in r for r in resp["results"])


def test_stale_reader_self_heals_across_external_merge(spark, tmp_path):
    """A long-lived reader whose index is compacted by ANOTHER process
    holds dataset handles that still list the retired segment files;
    the next cold read raises. topk must self-heal — refresh() + one
    retry — and answer from the post-merge index instead of propagating
    the I/O error (refresh-contract automation for serving
    deployments). Its docs fetches (urls + snippets) follow: a purged
    doc tombstoned before the merge makes the merge rewrite docs
    partitions the stale reader had already opened."""
    from mantic_sh_spark.operators.delete import delete_docs
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.operators.merge import merge_segments
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages

    pages = gen_pages(spark, SynthConfig(n_docs=240, vocab_size=250, seed=23),
                      partitions=3)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=3)

    victim = IndexReader(idx).topk("w1x", k=1)[0][0]
    delete_docs(spark, idx, doc_ids=[victim])
    stale = IndexReader(idx)  # holds pre-merge dataset handles
    epoch0 = stale._epoch
    assert victim in stale.snippets([victim], ["w1x"])  # opens its docs partition
    # the "other process": retire ALL source segments under the reader
    merge_segments(spark, idx, [0, 1, 2], dst_segment=9, compact=True)

    fresh = IndexReader(idx)
    for q in ("w1x", "w1x w2x", "w0x w3x"):
        assert stale.topk(q, k=8) == fresh.topk(q, k=8), q
        assert (stale.search(q, k=8, with_urls=True, with_snippets=True)
                == fresh.search(q, k=8, with_urls=True, with_snippets=True)), q
    assert stale._epoch > epoch0, "self-heal must have refreshed the reader"
    assert stale.snippets([victim], ["w1x"]) == {}, "purged doc served from a stale file"
    assert sorted(
        {int(s) for pdf in stale._blocks(["w1x"]).values() for s in pdf["segment_id"]}
    ) == [9]


def _blocks_overlap(blocks: dict) -> bool:
    """Does any term's block list hold two blocks whose [first_doc,
    last_doc] intervals overlap?"""
    import numpy as np

    for pdf in blocks.values():
        order = np.argsort(pdf["first_doc"].to_numpy())
        first, last = pdf["first_doc"].to_numpy()[order], pdf["last_doc"].to_numpy()[order]
        if np.any(first[1:] <= last[:-1]):
            return True
    return False


def test_global_kernel_matches_segment_sweep(spark, tmp_path):
    """The unbudgeted serving path runs ONE global kernel call over all
    segments (per-segment bound factors and liveness); a budgeted query
    with an unreachable deadline runs one call per segment. Both must
    rank identically on an index with deletes AND an extend (avgdl
    drift → bound_factor != 1)."""
    from mantic_sh_spark.operators.delete import delete_docs
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages
    from mantic_sh_spark.streaming.incremental import extend_index

    pages = gen_pages(spark, SynthConfig(n_docs=300, vocab_size=300, seed=17),
                      partitions=3)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=3)
    # extend with much longer docs → global avgdl drifts upward
    more = gen_pages(spark, SynthConfig(n_docs=120, vocab_size=300, seed=18,
                                        len_mu=5.6), partitions=2)
    extend_index(spark, idx, more, n_new_segments=2)
    reader0 = IndexReader(idx)
    victims = [d for d, _ in reader0.topk("w1x", k=3)]
    delete_docs(spark, idx, doc_ids=victims[:2])

    reader = IndexReader(idx)
    assert any(f != 1.0 for f in reader.bound_factors.values()), \
        "fixture must exercise the bound-factor scaling path"
    for q in ("w1x", "w1x w2x", "w0x w3x w9x", "qqabsent"):
        global_hits = reader.topk(q, k=8)
        swept = reader.topk(q, k=8, budget_ms=60_000)
        assert global_hits == swept, q
        assert reader.last_stats.get("strategy") in (None, "segments"), q
        assert all(d not in victims[:2] for d, _ in global_hits), q


def test_noncontiguous_merge_stays_global(spark, tmp_path):
    """The compactor keeps re-encoded blocks within one stride range
    when live segments remain (merge sets split_ranges automatically),
    so a non-contiguous merge keeps every term's blocks disjoint; the
    global kernel serves it, and results match both the sweep and the
    independent exhaustive engine."""
    from mantic_sh_spark.functions.tokenize import tokenize_query, tokens_col
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.operators.merge import merge_segments
    from mantic_sh_spark.operators.query import bm25_topk
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages

    pages = gen_pages(spark, SynthConfig(n_docs=400, vocab_size=200, seed=23),
                      partitions=4)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=4)
    merge_segments(spark, idx, [0, 2], dst_segment=5, compact=True, purge=True)

    reader = IndexReader(idx)
    queries = ("w1x", "w1x w2x", "w0x w4x w7x", "w3x w9x")
    for q in queries:
        assert not _blocks_overlap(reader._blocks(sorted(set(tokenize_query(q))))), q
        got = reader.topk(q, k=8)
        assert reader.last_stats["strategy"] == "global", q
        assert got == reader.topk(q, k=8, budget_ms=60_000), q
    docs = spark.read.parquet(f"{idx}/docs").withColumn("tokens", tokens_col("text"))
    for qi, q in enumerate(queries):
        ex = [(r.doc_id, r.score)
              for r in bm25_topk(spark, docs, [(qi, q)], k=8).orderBy("rank").collect()]
        assert reader.topk(q, k=8) == ex, q


def test_global_kernel_noncontiguous_merge_falls_back(spark, tmp_path, monkeypatch):
    """LEGACY layout (compactions from before split_ranges existed): a
    non-contiguous merge whose re-encoded blocks span the stride gap
    and envelop a live segment's doc range. The global kernel serves
    this layout directly — interval bounds are summed, so overlapping
    blocks only loosen them — and results must stay identical to the
    per-segment sweep and to the exhaustive engine. (The name is kept
    from the route this layout used to fall back to.)"""
    import mantic_sh_spark.functions.codec as codec_mod
    from mantic_sh_spark.functions.tokenize import tokenize_query
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.operators.merge import merge_segments
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages

    pages = gen_pages(spark, SynthConfig(n_docs=400, vocab_size=200, seed=23),
                      partitions=4)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=4)
    # reproduce the pre-split_ranges compactor behavior
    orig = codec_mod.compact_stream_fn

    def legacy(*a, **kw):
        kw["split_ranges"] = False
        return orig(*a, **kw)

    monkeypatch.setattr(codec_mod, "compact_stream_fn", legacy)
    # fold segments 0 and 2, leaving 1 and 3 live in between
    merge_segments(spark, idx, [0, 2], dst_segment=5, compact=True, purge=True)

    reader = IndexReader(idx)
    # the fixture must actually produce the overlapping layout
    head = tokenize_query("w1x")
    assert _blocks_overlap(reader._blocks(head)), \
        "expected a spanning block from the legacy non-contiguous compaction"
    queries = ("w1x", "w1x w2x", "w0x w4x w7x", "w3x w9x")
    # the queries must hit the overlapping layout beyond the head term
    overlapping = [
        q for q in queries[1:]
        if _blocks_overlap(reader._blocks(sorted(set(tokenize_query(q)))))
    ]
    assert overlapping, "no query hit the overlapping layout — fixture drifted"
    for q in queries:
        got = reader.topk(q, k=8)
        assert reader.last_stats["strategy"] == "global", q
        assert got == reader.topk(q, k=8, budget_ms=60_000), q

    # ... and the kernel must be RIGHT on this layout, not just
    # self-consistent: compare against the independent exhaustive
    # engine over the (purged) docs table
    from mantic_sh_spark.functions.tokenize import tokens_col
    from mantic_sh_spark.operators.query import bm25_topk

    docs = spark.read.parquet(f"{idx}/docs").withColumn("tokens", tokens_col("text"))
    for qi, q in enumerate(queries):
        ex = [
            (r.doc_id, r.score)
            for r in bm25_topk(spark, docs, [(qi, q)], k=8)
            .orderBy("rank").collect()
        ]
        assert reader.topk(q, k=8) == ex, q


def _assert_dead_arrays_own_partition(reader):
    """No cached tombstone array is longer than its own segment's
    partition (outside a merge's in-flux window)."""
    from mantic_sh_spark.operators.delete import segment_tombstones

    cached = {key[1]: arr for key, (arr, _) in list(reader._cache._d.items())
              if key[0] == "dead"}
    assert cached, "the query should have loaded tombstone arrays"
    for seg, arr in cached.items():
        assert len(arr) <= len(segment_tombstones(reader.paths.tombstones, seg)), seg


def test_dead_union_cap_routes_to_sweep(spark, small_corpus, tmp_path):
    """Outside a merge's in-flux window the global kernel checks each
    block against its OWN segment's tombstone array — no union of
    segments' tombstones (8 B/id resident per replica) is ever cached,
    however churned the index — and ranks identically to the
    per-segment sweep. (The name is kept from the union cap this
    replaced.)"""
    import os
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mantic_sh_spark.operators.delete import delete_docs

    idx = str(tmp_path / "idx_cap")
    shutil.copytree(small_corpus["index_dir"], idx)

    reader = IndexReader(idx)
    q = "w1x w3x"
    victim = reader.topk(q, k=5)[0][0]
    delete_docs(spark, idx, doc_ids=[victim])
    reader.refresh()
    want = reader.topk(q, k=10)
    assert reader.last_stats["strategy"] == "global"
    assert victim not in {d for d, _ in want}
    assert want == reader.topk(q, k=10, budget_ms=60_000)
    _assert_dead_arrays_own_partition(reader)

    # ~1e7 synthetic tombstones in segment 0's partition — doc ids far
    # past the real docs, so membership (and the answer) is unchanged
    fake = np.arange(10_000_000, dtype=np.int64) + 500_000
    os.makedirs(f"{idx}/tombstones/segment_id=0", exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": fake}),
        f"{idx}/tombstones/segment_id=0/synthetic-churn.parquet",
    )
    reader.refresh()
    got = reader.topk(q, k=10)
    assert reader.last_stats["strategy"] == "global"
    assert got == want == reader.topk(q, k=10, budget_ms=60_000)
    _assert_dead_arrays_own_partition(reader)


def test_get_definition_assignment_forms(spark, tmp_path):
    """Assignment-style definitions have no leading keyword (VERDICT r4
    #7, reference src/code-intel.ts:154-332): `X = function`,
    `X = async () =>`, `X = lambda` must be found via symbol-first
    trailer probes, ranked below every leading-keyword form, with the
    position on the SYMBOL."""
    import pandas as pd

    from mantic_sh_spark.operators.index_build import build_index

    pages = spark.createDataFrame(pd.DataFrame({
        "url": [f"https://ex.com/a{i}" for i in range(7)],
        "warc_ts": pd.to_datetime(["2026-01-01"] * 7),
        "html": [b""] * 7,
        "text": [
            "export parseHtml = function (s) { return s }",
            "parseHtml = async () => { await fetchIt() }",
            "makeToken = lambda s: s.strip()",
            "calls parseHtml here and parseHtml there only",
            "def parseHtml means the keyword form still wins",
            # prose REFERENCE, not a definition: determiner guard must
            # drop the [parse, html, function] trailer match here
            "please call the parseHtml function with a string",
            # prose with 'a': same guard, different determiner
            "wrap a parseHtml function call in retries",
        ],
        "lang": ["en"] * 7,
    }))
    idx = str(tmp_path / "defidx2")
    build_index(spark, pages, idx, n_segments=1, store_positions=True)
    reader = IndexReader(idx)

    defs = reader.definitions("parseHtml", k=10)
    by_url = {d["url"]: d for d in defs}
    # keyword form first, then assignment forms; pure references absent
    assert [d["url"] for d in defs] == [
        "https://ex.com/a4",   # def parseHtml
        "https://ex.com/a0",   # parseHtml = function
        "https://ex.com/a1",   # parseHtml = async () =>
    ]
    assert defs[0]["keyword"] == "def"
    assert by_url["https://ex.com/a0"]["keyword"] == "=function"
    assert by_url["https://ex.com/a1"]["keyword"] == "=async"
    # a0 tokens: [export, parse, html, function, s, ...] → symbol at 1
    assert by_url["https://ex.com/a0"]["position"] == 1
    assert by_url["https://ex.com/a1"]["position"] == 0

    # the prose-reference docs ("the/a parseHtml function") must not
    # appear at all — the determiner guard drops those trailer matches
    assert "https://ex.com/a5" not in by_url and "https://ex.com/a6" not in by_url

    lam = reader.definitions("makeToken", k=10)
    assert [d["keyword"] for d in lam] == ["=lambda"]
    assert lam[0]["url"] == "https://ex.com/a2"


def test_lru_budget_and_epoch_guard():
    """_LRU (the reader's one cache): byte-budget eviction (oldest
    first), oversized entries served-but-never-cached, and the epoch
    guard — a put whose attempt started before clear() must be dropped,
    never installed into the new epoch (review r5 finding)."""
    import numpy as np

    from mantic_sh_spark.serve import _ENTRY_BYTES, _LRU

    a = np.zeros(5, dtype=np.int64)   # 40 bytes
    lru = _LRU(budget=2 * (a.nbytes + _ENTRY_BYTES) + 10)  # room for two
    e = lru.epoch
    lru.put(("k", "a"), a, a.nbytes, e)
    lru.put(("k", "b"), a, a.nbytes, e)
    assert lru.get(("k", "a")) is not None
    lru.put(("k", "c"), a, a.nbytes, e)  # over budget → evict LRU entry ("b")
    assert lru.get(("k", "b")) is None
    assert lru.get(("k", "a")) is not None and lru.get(("k", "c")) is not None
    assert lru.bytes <= lru.budget
    # oversized: served but never cached
    big = np.zeros(100, dtype=np.int64)
    lru.put(("k", "big"), big, big.nbytes, e)
    assert lru.get(("k", "big")) is None

    # epoch guard: a put carrying the pre-clear epoch is dropped
    lru.clear()
    lru.put(("k", "stale"), a, a.nbytes, e)
    assert lru.get(("k", "stale")) is None and lru.bytes == 0
    # a put outside any attempt (no epoch) is dropped too
    lru.put(("k", "none"), a, a.nbytes, None)
    assert lru.get(("k", "none")) is None
    # the current epoch installs normally
    lru.put(("k", "fresh"), a, a.nbytes, lru.epoch)
    assert lru.get(("k", "fresh")) is not None


def test_lru_byte_count_under_concurrent_puts_and_clears():
    """The _LRU byte count stays exact and within budget while 8 threads
    put, get and clear concurrently (one lock covers every
    read-modify-write of the count)."""
    import sys
    import threading

    import numpy as np

    from mantic_sh_spark.serve import _ENTRY_BYTES, _LRU

    arr = np.zeros(10, dtype=np.int64)
    lru = _LRU(budget=20 * (arr.nbytes + _ENTRY_BYTES))

    def work(w):
        for i in range(2000):
            if w == 0 and i % 500 == 0:
                lru.clear()
            lru.put((w, i % 50), arr, arr.nbytes, lru.epoch)
            lru.get((w, (i * 7) % 50))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(w,)) for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert lru.bytes == sum(nb for _, nb in lru._d.values()) <= lru.budget


def test_cache_bytes_stay_within_budget(small_corpus, monkeypatch):
    """Every cache entry is charged bytes, so distinct query terms can
    not grow the reader without bound: 5,000 absent-term df probes keep
    the cache at or under a few-KB budget."""
    from mantic_sh_spark import serve as serve_mod

    monkeypatch.setattr(serve_mod, "_CACHE_BUDGET", 4096)
    reader = IndexReader(small_corpus["index_dir"])
    for i in range(50):
        dfs = reader.df([f"qqabsent{i}x{j}" for j in range(100)])
        assert set(dfs.values()) == {0}
        assert reader._cache.bytes <= reader._cache.budget == 4096
    assert 0 < len(reader._cache._d) < 5000


def _refresh_once_mid_attempt(monkeypatch, reader, name: str) -> list:
    """Make reader.<name> — a method every attempt calls — run
    reader.refresh() on its first call; returns the call log."""
    calls = []
    orig = getattr(reader, name)

    def hooked(*args, **kwargs):
        calls.append(name)
        if len(calls) == 1:
            reader.refresh()
        return orig(*args, **kwargs)

    monkeypatch.setattr(reader, name, hooked)
    return calls


def test_query_lifecycle_reruns_straddling_attempt(spark, small_corpus, tmp_path,
                                                   monkeypatch):
    """Every query entry point is one _query call: a refresh landing
    mid-attempt re-runs the attempt against the new epoch, and the
    query records its stats exactly once (queries +1, last_stats carries
    ms) — for topk, phrase_topk, tiered_topk's fill path, references
    and definitions alike."""
    import shutil

    import pandas as pd

    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.operators.tiers import build_tier_index

    bm25 = str(tmp_path / "bm25")
    shutil.copytree(small_corpus["index_dir"], bm25)
    build_tier_index(spark, bm25)
    pages = spark.createDataFrame(pd.DataFrame({
        "url": [f"https://ex.com/l{i}" for i in range(3)],
        "warc_ts": pd.to_datetime(["2026-01-01"] * 3),
        "html": [b""] * 3,
        "text": [
            "def parseHtml turns markup into a tree",
            "calls parseHtml twice then parseHtml again",
            "filler words only nothing else",
        ],
        "lang": ["en"] * 3,
    }))
    pos = str(tmp_path / "pos")
    build_index(spark, pages, pos, n_segments=1, store_positions=True)

    cases = [
        (bm25, "_blocks", lambda r: r.topk("w1x w5x", k=5)),
        # one doc holds the needle: fewer than k tier matches → the fill
        # runs too, and the whole ladder must re-run, not just the fill
        (bm25, "_tier_specs", lambda r: r.tiered_topk("zzneedle0", k=10)),
        (pos, "_pos_blocks_by_segment", lambda r: r.phrase_topk("parse html", k=5)),
        (pos, "_pos_blocks_by_segment", lambda r: r.references("parseHtml", k=5)),
        (pos, "_pos_blocks_by_segment", lambda r: r.definitions("parseHtml", k=5)),
    ]
    for idx, hook, run in cases:
        want = run(IndexReader(idx))
        assert want, hook
        reader = IndexReader(idx)
        calls = _refresh_once_mid_attempt(monkeypatch, reader, hook)
        assert run(reader) == want, hook
        assert len(calls) == 2, hook
        assert reader.counters()["total"]["queries"] == 1, hook
        assert "ms" in reader.last_stats, hook
        if hook == "_tier_specs":  # the BM25 fill ran on the tiered stats
            assert reader.last_stats["strategy"] == "global"


def test_prewarm_and_recent_queries(spark, small_corpus, tmp_path):
    """prewarm() replays queries so a fresh replica's first real query
    runs the hot path (terms already faulted into the block LRU);
    recent_queries feeds it from a QueryLog dir (newest-first,
    distinct); serve_loop accepts both the {"op": "prewarm"} request
    and the prewarm= kwarg the CLI --prewarm flag passes."""
    import io
    import json

    from mantic_sh_spark.serve import (IndexReader, QueryLog,
                                       recent_queries, serve_loop)

    idx = small_corpus["index_dir"]

    cold = IndexReader(idx)
    assert cold.prewarm(["w1x w9x", "qqabsentterm"]) == 2  # absent is fine
    cold.topk("w1x w9x", k=5)
    assert cold.counters()["last"]["terms_cold"] == 0  # already faulted

    # log → recent_queries: newest-first, distinct, missing dir = []
    log_dir = str(tmp_path / "qlog")
    qlog = QueryLog(log_dir, flush_every=2)
    qlog.record("w1x", 5, [], 1.0)
    qlog.record("w2x w3x", 5, [], 1.0)
    qlog.record("w1x", 5, [], 1.0)  # duplicate, newer
    qlog.flush()
    assert recent_queries(log_dir) == ["w1x", "w2x w3x"]
    assert recent_queries(log_dir, limit=1) == ["w1x"]
    assert recent_queries(str(tmp_path / "nope")) == []

    # serve_loop: the prewarm op answers with the warmed count, and the
    # following query reports zero cold terms; prewarm= kwarg replays
    # the log tail on startup without error
    out = io.StringIO()
    serve_loop(idx, stdin=io.StringIO(
        json.dumps({"op": "prewarm", "queries": ["w0x w2x"]}) + "\n"
        + json.dumps({"q": "w0x w2x", "k": 3, "stats": True}) + "\n"
        + json.dumps({"op": "quit"}) + "\n"), stdout=out,
        log_dir=log_dir, prewarm=2)
    lines = [json.loads(line) for line in out.getvalue().splitlines()]
    assert lines[0] == {"ok": True, "warmed": 1}
    assert lines[1]["stats"]["terms_cold"] == 0


def test_mcp_tiered_search(spark, small_corpus):
    """search_files tiered=true serves the R1 ladder over MCP,
    value-identical to IndexReader.tiered_topk, with urls + snippets;
    the mode refuses phrase/session combinations loudly."""
    import json

    from mantic_sh_spark.mcp import McpServer
    from mantic_sh_spark.operators.tiers import build_tier_index
    from mantic_sh_spark.serve import IndexReader

    idx = small_corpus["index_dir"]
    build_tier_index(spark, idx)
    reader = IndexReader(idx)
    srv = McpServer(idx, reader=reader)
    resp = srv.handle({"jsonrpc": "2.0", "id": 1, "method": "tools/call",
                       "params": {"name": "search_files",
                                  "arguments": {"query": "w1x",
                                                "tiered": True,
                                                "maxResults": 4}}})
    payload = json.loads(resp["result"]["content"][0]["text"])
    want = reader.tiered_topk("w1x", k=4)
    got = [(r["doc_id"], r["tier"], r["score"]) for r in payload["results"]]
    assert got == want and len(got) == 4
    assert all(r["url"] and "snippet" in r for r in payload["results"])

    resp2 = srv.handle({"jsonrpc": "2.0", "id": 2, "method": "tools/call",
                        "params": {"name": "search_files",
                                   "arguments": {"query": "w1x",
                                                 "tiered": True,
                                                 "phrase": True}}})
    assert resp2["result"]["isError"]
    assert "exclusive" in resp2["result"]["content"][0]["text"]


def test_recent_queries_tie_order_and_corrupt_fragment(tmp_path, monkeypatch):
    """Equal-timestamp rows come out newest-first (a truncating limit
    drops the OLDEST of a tie), and a truncated fragment from a crashed
    flush is skipped instead of failing the boot-time prewarm."""
    import time as time_mod

    from mantic_sh_spark import serve as serve_mod
    from mantic_sh_spark.serve import QueryLog, recent_queries

    log_dir = str(tmp_path / "qlog")
    qlog = QueryLog(log_dir, flush_every=100)
    monkeypatch.setattr(serve_mod.time, "time", lambda: 1000.0)
    qlog.record("older-tie", 5, [], 1.0)
    qlog.record("newer-tie", 5, [], 1.0)
    qlog.flush()
    assert recent_queries(log_dir) == ["newer-tie", "older-tie"]
    assert recent_queries(log_dir, limit=1) == ["newer-tie"]

    with open(f"{log_dir}/log-9999999999999999-0.parquet", "wb") as f:
        f.write(b"PAR1 not really a parquet file")
    assert recent_queries(log_dir) == ["newer-tie", "older-tie"]


def test_format_snippet():
    """Spark-free: the snippet window around the earliest query-term
    hit, "…" on each cut edge, "" for a null text."""
    from mantic_sh_spark.serve import format_snippet

    assert format_snippet(None, ["w1"]) == ""
    assert format_snippet("", ["w1"]) == ""
    text = " ".join(f"w{i}" for i in range(100))
    # no match → the text head, cut with a trailing ellipsis only
    assert format_snippet(text, ["zz"], width=20) == text[:20].strip() + "…"
    # a match at offset 0 (case-insensitive) → no leading ellipsis
    assert format_snippet(text, ["W0"], width=20) == text[:20].strip() + "…"
    # a match at the end → leading ellipsis only
    p = text.find("w99")
    assert format_snippet(text, ["w99"], width=20) == "…" + text[p - 10:].strip()
    # a match in the middle → both ellipses, centered on the EARLIEST hit
    p = text.find("w50")
    assert format_snippet(text, ["w60", "w50"], width=20) == "…" + text[p - 10:p + 10].strip() + "…"
    # nothing cut → no ellipsis
    assert format_snippet("Short Text", ["text"], width=20) == "Short Text"


def _check_docs_fetch(reader, idx: str, extra_ids: list[int]) -> None:
    """Layout + parity of the reader's docs fetch against a brute-force
    read of the docs dir: every docs file over 300 rows has several row
    groups; urls / snippets / search(with_urls, with_snippets) equal the
    brute-force rows for the first and last id of several row groups of
    every file (so several segments), an absent id, an id in a missing
    segment and `extra_ids`; a k-id fetch reads at most k row groups."""
    import glob

    import pyarrow.parquet as pq

    from mantic_sh_spark.functions.codec import SEG_STRIDE
    from mantic_sh_spark.functions.tokenize import tokenize_query
    from mantic_sh_spark.serve import format_snippet

    t = pq.read_table(f"{idx}/docs", columns=["doc_id", "url", "text"]).to_pydict()
    url, text = dict(zip(t["doc_id"], t["url"])), dict(zip(t["doc_id"], t["text"]))
    files = sorted(glob.glob(f"{idx}/docs/segment_id=*/*.parquet"))
    assert len({f.rsplit("/", 2)[-2] for f in files}) >= 2
    probe = set()
    for f in files:
        md = pq.ParquetFile(f).metadata
        if md.num_rows > 300:
            assert md.num_row_groups > 1, f
        for g in sorted({0, md.num_row_groups // 2, md.num_row_groups - 1}):
            ids = pq.ParquetFile(f).read_row_group(g, columns=["doc_id"])["doc_id"].to_pylist()
            probe |= {ids[0], ids[-1]}
    ids = sorted(probe) + [max(url) + 1, 77 * SEG_STRIDE + 5] + list(extra_ids)
    terms = ["w1x", "w5x"]

    def fetch(doc_ids):
        before = reader.counters()["total"]["docs_row_groups"]
        got = reader.urls(doc_ids)
        return got, reader.counters()["total"]["docs_row_groups"] - before

    for d in ids:  # alone, each id must find its own row group
        got, n_rg = fetch([d])
        assert got == ({d: url[d]} if d in url else {}) and n_rg <= 1, d
    got, n_rg = fetch(ids)
    assert got == {d: url[d] for d in ids if d in url} and 0 < n_rg <= len(ids)
    assert reader.snippets(ids, terms) == {
        d: format_snippet(text[d], terms) for d in ids if d in url}
    for q in ("w1x w5x", "w2x", "w3x w7x w11x"):
        rows = reader.search(q, k=10, with_urls=True, with_snippets=True)
        assert rows, q
        st = reader.last_stats
        assert 1 <= st["docs_row_groups"] <= len(rows) and st["docs_ms"] >= 0
        for r in rows:
            assert r["url"] == url[r["doc_id"]]
            assert r["snippet"] == format_snippet(text[r["doc_id"]], tokenize_query(q))


def test_docs_fetch_matches_brute_force_read(spark, tmp_path):
    """The reader's one-read docs fetch (row groups picked by cached
    footer statistics) against a brute-force docs read, on the layouts
    every docs writer leaves: the build, an upsert's appended segment,
    and a purge merge's rewritten partitions (seen through refresh())."""
    from pyspark.sql import functions as F

    from mantic_sh_spark.operators.delete import delete_docs
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.operators.merge import merge_segments
    from mantic_sh_spark.sources.synth import gen_pages
    from mantic_sh_spark.streaming.incremental import upsert_pages

    cfg = SynthConfig(n_docs=1300, vocab_size=600, seed=31)
    pages = gen_pages(spark, cfg, partitions=4)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=2)
    reader = IndexReader(idx)
    victim = reader.topk("w2x", k=1)[0][0]
    delete_docs(spark, idx, doc_ids=[victim])
    reader.refresh()
    _check_docs_fetch(reader, idx, [victim])  # tombstoned, still a docs row

    mod_urls = [r.url for r in pages.select("url").orderBy("url").limit(40).collect()]
    modified = pages.filter(F.col("url").isin(mod_urls)).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzmodified")))
    added = gen_pages(spark, SynthConfig(n_docs=400, vocab_size=600, seed=32),
                      partitions=2).withColumn(
        "url", F.regexp_replace("url", "example/", "example/v2/"))
    res = upsert_pages(spark, idx, modified.unionByName(added), n_new_segments=1)
    assert res["modified"] == 40 and res["added"] == 400
    reader.refresh()
    _check_docs_fetch(reader, idx, [victim])

    segs = sorted(r.segment_id for r in
                  spark.read.parquet(f"{idx}/postings").select("segment_id").distinct().collect())
    merge_segments(spark, idx, segs, dst_segment=max(segs) + 1, compact=True, purge=True)
    reader.refresh()
    assert reader.urls([victim]) == {}
    _check_docs_fetch(reader, idx, [victim])


def test_doc_fields_any_layout(tmp_path):
    """Spark-free: the docs fetch stays exact on layouts no writer
    produces today — a file without doc_id statistics (read whole) and
    two files of one partition with interleaved id ranges."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mantic_sh_spark.functions.codec import SEG_STRIDE

    root = tmp_path / "idx"
    (root / "collection_stats").mkdir(parents=True)
    pq.write_table(pa.table({"n_docs": [60], "avgdl": [1.0], "sum_dl": [60]}),
                   root / "collection_stats" / "part-0.parquet")

    def write(seg, name, ids, **kw):
        d = root / "docs" / f"segment_id={seg}"
        d.mkdir(parents=True, exist_ok=True)
        ids = [seg * SEG_STRIDE + i for i in ids]
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "url": [f"u{i}" for i in ids],
                                 "text": [f"t{i}" for i in ids]}),
                       d / name, row_group_size=5, **kw)
        return ids

    ids = write(0, "a.parquet", range(20))
    ids += write(1, "a.parquet", range(20), write_statistics=False)
    ids += write(2, "a.parquet", range(0, 40, 2)) + write(2, "b.parquet", range(1, 40, 2))
    reader = IndexReader(str(root))
    want = {d: f"u{d}" for d in ids}

    def fetch(doc_ids):
        before = reader.counters()["total"]["docs_row_groups"]
        got = reader.urls(doc_ids)
        return got, reader.counters()["total"]["docs_row_groups"] - before

    assert fetch([7]) == ({7: "u7"}, 1)
    # no statistics: every row group of the file is read
    assert fetch([SEG_STRIDE + 7]) == ({SEG_STRIDE + 7: f"u{SEG_STRIDE + 7}"}, 4)
    # interleaved files: one id's range is covered by a group of each file
    d = 2 * SEG_STRIDE + 13
    assert fetch([d]) == ({d: f"u{d}"}, 2)
    assert fetch(ids + [20, 3 * SEG_STRIDE])[0] == want
    texts = reader._doc_fields(ids, ["url", "text"])
    assert texts == {"url": want, "text": {d: f"t{d}" for d in ids}}
