"""Randomized rank-identity campaign across adversarial index layouts
(tiny blocks, tiny salt chunks, 1-5 segments, optional compacting
merges): the distributed engine (wand_topk — the block-max kernel per segment)
must equal exhaustive BM25, and the serving reader (serve.IndexReader,
no Spark on the query path) must equal the distributed engine.

Every case also builds the tier containment index and checks
tiered serving (IndexReader.tiered_topk) against the batch operator
(operators/query.tiered_topk) on BOTH internal scorer strategies —
the block-pruned path and the vectorized full-decode sweep
(_SCORES_SWEEP_MIN forced to 1) — then TOMBSTONES the head of several
rankings and re-checks WAND, serving, and tiered identity against the
deleted-filtered oracles (stale tier membership must be masked by the
per-segment liveness sidecars; collection stats stay pre-delete on
both sides by contract).

Odd-seeded cases additionally build POSITIONALLY and fuzz the phrase
engine (incl. stop-term phrases — the batched keyed-searchsorted
verifier's worst case — and random slop) against an INDEPENDENT
per-doc greedy oracle in pure Python, plus reader↔engine identity.
Usage: python tools/fuzz_wand.py"""

import bisect
import shutil
import sys

sys.path.insert(0, ".")
from pyspark.sql import functions as F

from mantic_sh_spark.session import get_spark
from mantic_sh_spark.functions.tokenize import tokens_col
from mantic_sh_spark.operators.index_build import build_index
from mantic_sh_spark.operators.merge import merge_segments
from mantic_sh_spark.functions.tokenize import tokenize
from mantic_sh_spark.operators.delete import delete_docs
from mantic_sh_spark.operators.phrase import phrase_topk
from mantic_sh_spark.operators.query import bm25_topk
from mantic_sh_spark.operators.query import tiered_topk as batch_tiered
from mantic_sh_spark.operators.tiers import DEFAULT_TIER_SPECS, build_tier_index
from mantic_sh_spark.operators.wand import wand_topk
from mantic_sh_spark.serve import IndexReader
from mantic_sh_spark.sources.synth import SynthConfig, gen_pages, gen_queries

spark = get_spark(cores=8)
fails = 0

TIER_FIELDS = [f"{name}_tokens" for name, _s, _w in DEFAULT_TIER_SPECS]


def _batch_docs(idx):
    d = spark.read.parquet(f"{idx}/docs").withColumn("tokens", tokens_col("text"))
    for name, _src, window in DEFAULT_TIER_SPECS:
        d = d.withColumn(f"{name}_tokens", F.slice("tokens", 1, window))
    return d


def _tiered_want(idx, tqueries, k, exclude=frozenset()):
    """query_id → [(doc_id, tier, score)] from the batch operator,
    minus tombstoned docs: ask for k+|exclude| and drop them (the rank
    order is a deterministic total order, so the prefix is stable)."""
    rows = (
        batch_tiered(spark, _batch_docs(idx), tqueries,
                     tier_fields=TIER_FIELDS, k=k + len(exclude))
        .orderBy("query_id", "rank").collect()
    )
    out = {}
    for r in rows:
        if r.doc_id in exclude:
            continue
        lst = out.setdefault(r.query_id, [])
        if len(lst) < k:
            lst.append((r.doc_id, r.tier, r.score))
    return out


def _tiered_identity(readers, tqueries, want, k):
    return all(r.tiered_topk(q, k=k) == want.get(qid, [])
               for qid, q in tqueries for r in readers)
cases = [(101+i, [2,3,5,7,11,13][i%6], [16,24,48,96][i%4], (i%5)+1, [60,200,700,1500][i%4], i%2==0)
         for i in range(12)]
for seed, bs, cs, nseg, vocab, do_merge in cases:
    cfg = SynthConfig(n_docs=350, vocab_size=vocab, seed=seed)
    pages = gen_pages(spark, cfg, partitions=3)
    idx = f"/tmp/fuzz2_{seed}"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(spark, pages, idx, n_segments=nseg, chunk_size=cs, block_size=bs)
    if do_merge and nseg > 1:
        merge_segments(spark, idx, list(range(nseg)), dst_segment=nseg+3, compact=True)
    queries = gen_queries(cfg, n_queries=20)
    rw = wand_topk(spark, idx, queries, k=8).orderBy("query_id", "rank").collect()
    docs = spark.read.parquet(f"{idx}/docs").withColumn("tokens", tokens_col("text"))
    rx = bm25_topk(spark, docs, queries, k=8).orderBy("query_id", "rank").collect()
    ok = [(r.query_id, r.doc_id, r.score) for r in rw] == [(r.query_id, r.doc_id, r.score) for r in rx]
    # serving-path identity on the same layout
    reader = IndexReader(idx)
    wand_by_q = {}
    for r in rw:
        wand_by_q.setdefault(r.query_id, []).append((r.doc_id, round(r.score, 4)))
    serve_ok = all(
        [(d, round(s, 4)) for d, s in reader.topk(q, k=8)] == wand_by_q.get(qid, [])
        for qid, q in queries
    )
    # tiered serving vs batch identity on this layout, both scorer
    # strategies (block-pruned and the vectorized sweep), incl. a
    # stop-term head query and an absent-term query
    st = cfg.stop_term
    tq = queries + [(900, st), (901, f"{st} w1x"), (902, "qqabsentterm w1x")]
    build_tier_index(spark, idx)
    r_swp = IndexReader(idx)
    r_swp._SCORES_SWEEP_MIN = 1  # force the full-decode sweep path
    tier_ok = _tiered_identity([reader, r_swp], tq, _tiered_want(idx, tq, 8), 8)

    # tombstone the head of several rankings; WAND + serving + tiered
    # must all equal the deleted-filtered oracles (tier index left
    # stale on purpose — liveness sidecars must mask it)
    dels = sorted({r.doc_id for r in rw if r.query_id < 4 and r.rank <= 2})
    del_ok = True
    if dels:
        delete_docs(spark, idx, doc_ids=dels)
        dset = set(dels)
        rw2 = wand_topk(spark, idx, queries, k=8).orderBy("query_id", "rank").collect()
        rx2 = bm25_topk(spark, docs, queries, k=8 + len(dels)).orderBy(
            "query_id", "rank").collect()
        want_w = {}
        for r in rx2:
            if r.doc_id in dset:
                continue
            lst = want_w.setdefault(r.query_id, [])
            if len(lst) < 8:
                lst.append((r.doc_id, r.score))
        got_w = {}
        for r in rw2:
            got_w.setdefault(r.query_id, []).append((r.doc_id, r.score))
        del_ok &= got_w == {q: v for q, v in want_w.items() if v}
        reader.refresh()
        r_swp.refresh()
        del_ok &= all(
            [(d, round(s, 4)) for d, s in reader.topk(q, k=8)] == got_w.get(qid, [])
            for qid, q in queries
        )
        del_ok &= _tiered_identity(
            [reader, r_swp], tq, _tiered_want(idx, tq, 8, exclude=dset), 8)

    phrase_ok = True
    if seed % 2 == 1:
        # positional build on the same corpus/layout; fuzz phrase+slop
        posidx = f"{idx}_pos"
        shutil.rmtree(posidx, ignore_errors=True)
        build_index(spark, pages, posidx, n_segments=nseg, chunk_size=cs,
                    block_size=bs, store_positions=True)
        doc_toks = {
            r.doc_id: tokenize(r.text)
            for r in spark.read.parquet(f"{posidx}/docs").select("doc_id", "text").collect()
        }

        def brute_starts(tokens, terms, slop=0):
            # independent greedy oracle: for each start of terms[0], take
            # the smallest next position per term; valid if stretch<=slop.
            # Returns the valid match-START positions (count = len).
            pos = {t: [i for i, x in enumerate(tokens) if x == t] for t in set(terms)}
            if any(not pos[t] for t in terms):
                return []
            out = []
            for p0 in pos[terms[0]]:
                prev, good = p0, True
                for t in terms[1:]:
                    lst = pos[t]
                    j = bisect.bisect_right(lst, prev)
                    if j >= len(lst):
                        good = False
                        break
                    prev = lst[j]
                if good and (prev - p0 - (len(terms) - 1)) <= slop:
                    out.append(p0)
            return out

        def brute(tokens, terms, slop):
            return len(brute_starts(tokens, terms, slop))

        st = cfg.stop_term
        phrases = [(0, f"{st} w1x", 0), (1, f"{st} {st}", 0), (2, "w2x w3x", 0),
                   (3, f"w1x {st} w4x", seed % 3), (4, f"{st} w5x", 2), (5, "w7x", 0)]
        preader = IndexReader(posidx)
        for qid, ph, slop in phrases:
            terms = tokenize(ph)
            want = {d: brute(toks, terms, slop) for d, toks in doc_toks.items()}
            want = {d: n for d, n in want.items() if n > 0}
            got_rows = phrase_topk(spark, posidx, [(qid, ph)], k=10**6, slop=slop).collect()
            got = {r.doc_id: r.n_matches for r in got_rows}
            if got != want:
                phrase_ok = False
            sgot = dict(preader.phrase_topk(ph, k=10**6, slop=slop))
            if sgot != want:
                phrase_ok = False
        # find_references serving kernel vs the start-position oracle
        # (single-term, multi-term, and stop-term symbols)
        for sym in (f"{st} w1x", "w2x w3x", "w7x"):
            terms = tokenize(sym)
            rwant = {d: brute_starts(toks, terms) for d, toks in doc_toks.items()}
            rwant = {d: v for d, v in rwant.items() if v}
            rgot = {r["doc_id"]: r["positions"]
                    for r in preader.references(sym, k=10**6, max_positions=10**6)}
            if rgot != rwant:
                phrase_ok = False
        shutil.rmtree(posidx, ignore_errors=True)
    fails += not (ok and serve_ok and phrase_ok and tier_ok and del_ok)
    print(f"seed={seed} bs={bs} cs={cs} nseg={nseg} vocab={vocab} merge={do_merge}: "
          f"{'OK' if ok else 'MISMATCH'} serve={'OK' if serve_ok else 'MISMATCH'}"
          f" phrase={'OK' if phrase_ok else 'MISMATCH'}"
          f" tier={'OK' if tier_ok else 'MISMATCH'}"
          f" del={'OK' if del_ok else 'MISMATCH'}", flush=True)
    shutil.rmtree(idx, ignore_errors=True)
print("FAILS:", fails)
spark.stop()
