"""Block-max top-k over the compressed index (U3/K2/K3/O2).

Reference analogs: the partitioned per-chunk top-k + identical-
comparator merge of src/parallel-mantic.ts:26-75 (here: per-SEGMENT
top-k inside applyInPandas, merged by a rank window), and the
early-termination heuristic of src/smart-filter.ts:289-297 (here: the
principled version — skip every block whose max possible score cannot
beat the current k-th best).

Algorithm: block-max pruning in the spirit of Block-Max WAND (Ding &
Suel, SIGIR 2011 — public literature), run set-at-a-time in numpy
(`block_topk`): block maxima bound elementary doc intervals, the
best-bounded blocks seed the k-th best score θ, and only blocks whose
interval bound can reach θ are ever decoded. Ties break
deterministically (score desc, doc_id asc).

idf uses GLOBAL df (summed across segments at query start), so scores
are identical to the exhaustive engine; block maxima are
idf-independent by construction (see functions/codec.py) and therefore
stay valid upper bounds under any df.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bm25 import B, K1, idf as idf_fn
from ..functions.codec import BLOCK_SIZE, decode_blocks, tf_norm
from ..functions.tokenize import tokenize_query
from ..sources.catalog import IndexPaths
from .query import rank_topk

# Ranking everywhere (exhaustive engine, pure oracle, this kernel) is
# on scores rounded to SCORE_DECIMALS (fp-sum order is not deterministic
# across partitions). EPS must cover the rounding half-step so the
# block-max skip can never drop a doc that would TIE the k-th best
# after rounding: skip ⇒ true < θ - EPS ⇒ round(true) < θ. Looser
# pruning by 1e-4, never an incorrect result.
EPS = 1e-4
# Each pruning round decodes at least GROW× the postings decoded so far,
# and at least k and FLOOR postings: θ climbs from the best-bounded
# blocks outward while the number of rounds stays logarithmic in the
# decoded volume. FLOOR (16 full blocks) prices a round's fixed numpy
# overhead in postings: lists shorter than that decode in one batch.
GROW = 7
FLOOR = 16 * BLOCK_SIZE

_NO_DOCS = np.empty(0, dtype=np.int64)


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenated arange(s, s + l) over (starts, lens), vectorized."""
    ends = np.cumsum(lens)
    return np.arange(int(ends[-1]) if len(ends) else 0) + np.repeat(starts - ends + lens, lens)


class _Term:
    """One query term's blocks as numpy columns, ordered by first_doc
    (unique per term: a doc sits in at most one block of a term's
    list), with a lazy decoder that serves blocks from the decoded
    cache when the term's full decode is there."""

    __slots__ = ("first", "last", "n", "seg", "ub", "off", "gaps", "tfs", "dls",
                 "idf", "full", "chunks", "docs", "scores")

    def __init__(self, pdf: pd.DataFrame, idf: float, bound_factors: dict, full):
        first = pdf["first_doc"].to_numpy(np.int64)
        order = np.argsort(first, kind="stable")
        self.first = first[order]
        self.last = pdf["last_doc"].to_numpy(np.int64)[order]
        self.n = pdf["n"].to_numpy(np.int64)[order]
        self.seg = pdf["segment_id"].to_numpy(np.int64)[order]
        bmax = pdf["block_max"].to_numpy(np.float64)[order]
        if bound_factors:
            segs, inv = np.unique(self.seg, return_inverse=True)
            bmax = bmax * np.array([bound_factors.get(int(s), 1.0) for s in segs])[inv]
        self.ub = idf * bmax
        self.off = np.zeros(len(order) + 1, dtype=np.int64)
        np.cumsum(self.n, out=self.off[1:])
        self.gaps = pdf["doc_gaps"].to_numpy()[order]
        self.tfs = pdf["tfs"].to_numpy()[order]
        self.dls = pdf["dls"].to_numpy()[order]
        self.idf = idf
        ok = full is not None and len(full[0]) == self.off[-1]
        self.full = full if ok else None
        self.chunks = []  # (block idx, docs, tfs, dls) decoded from bytes
        self.docs, self.scores = [], []  # live postings, scored

    def decode(self, j: np.ndarray, dead, avgdl: float, k1: float, b: float,
               stats: dict | None) -> None:
        """Decode blocks j (ascending), drop tombstoned docs (each
        block checks its OWN segment's liveness array), score."""
        if self.full is not None:
            d, tf, dl = self.full
            if len(j) < len(self.n):
                pos = _ranges(self.off[j], self.n[j])
                d, tf, dl = d[pos], tf[pos], dl[pos]
        else:
            d, tf, dl = decode_blocks(self.n[j], self.gaps[j], self.tfs[j], self.dls[j])
            self.chunks.append((j, d, tf, dl))
            if stats is not None:
                stats["blocks_decoded"] = stats.get("blocks_decoded", 0) + len(j)
        if dead is not None:
            segs = self.seg[j]
            keep = None
            for s in np.unique(segs):
                arr = dead(int(s))
                if arr is None or not len(arr):
                    continue
                p = np.minimum(np.searchsorted(arr, d), len(arr) - 1)
                hit = (arr[p] == d) & np.repeat(segs == s, self.n[j])
                keep = ~hit if keep is None else keep & ~hit
            if keep is not None:
                d, tf, dl = d[keep], tf[keep], dl[keep]
        self.docs.append(d)
        self.scores.append(self.idf * tf_norm(tf, dl, avgdl, k1, b))

    def full_decode(self):
        """(docs, tfs, dls) of every block in first_doc order, or None
        unless all of them were decoded from bytes by this query."""
        if self.full is not None or sum(len(c[0]) for c in self.chunks) != len(self.n):
            return None
        if len(self.chunks) == 1:
            return self.chunks[0][1:]
        out = tuple(np.empty(int(self.off[-1]), dtype=np.int64) for _ in range(3))
        for j, *cols in self.chunks:
            pos = _ranges(self.off[j], self.n[j])
            for o, c in zip(out, cols):
                o[pos] = c
        return out


def block_topk(by_term: dict[str, pd.DataFrame], terms: list[str],
               idf_map: dict[str, float], avgdl: float, k: int,
               k1: float, b: float, bound_factors: dict[int, float] | None = None,
               dead: Callable[[int], np.ndarray | None] | None = None,
               stats: dict | None = None,
               decode_cache=None) -> list[tuple[int, float]]:
    """Exact BM25 top-k over the block frames of `terms` — the ONE
    kernel behind the Spark UDF (one segment per call) and the serving
    reader (all segments in one call, or one per call under budget_ms),
    so every surface ranks identically by construction. Returns
    [(doc_id, score)] sorted by (score desc, doc_id asc), len ≤ k.

    Frames carry segment_id; `bound_factors` (segment → factor ≥ 1,
    avgdl drift since the segment was built) scales each block's
    max; `dead` (segment → sorted tombstoned ids or None) is checked
    per block against the block's own segment.

    Block-max pruning, vectorized — no per-doc Python:
      1. every undecoded block's bound idf × block_max is summed over
         elementary doc intervals (cut at each block's first_doc and
         last_doc + 1). Blocks of one term may overlap (legacy
         compactions); a doc sits at most once per term's list, so the
         sum stays an upper bound.
      2. the blocks under the highest-bound intervals are decoded and
         scored; the k-th best (possibly partial) live doc score is θ.
      3. decoded docs enter the intervals as exact points, and the
         undecoded blocks overlapping an interval whose bound is
         ≥ θ − EPS are decoded next (best bound first, growing
         batches); the others are pruned for good. When none is left,
         a doc under a pruned block scores < θ − EPS, i.e. ranks below
         k docs whose scores are exact, so the top-k of the decoded
         sums is exact.
    Per-doc sums add terms in `terms` order, so the fp sum does not
    depend on which round decoded which block.

    `stats` accumulates blocks_considered (block rows of the query's
    lists), blocks_decoded (blocks decoded from bytes) and
    decoded_hits (terms served from the decoded cache).
    `decode_cache` (.get(term)/.put(term, value) — the serving reader
    passes a byte-budgeted LRU, one namespace for its global call and
    one per segment for its budgeted sweep) holds a term's
    decoded (docs, tfs, dls) in first_doc block order; a term is cached
    only when this query decoded all of its blocks."""
    present = [t for t in terms if len(by_term.get(t, ())) and idf_map.get(t, 0.0) > 0.0]
    if not present or k <= 0:
        return []
    if bound_factors and all(f == 1.0 for f in bound_factors.values()):
        bound_factors = None
    lists = []
    for t in present:
        full = decode_cache.get(t) if decode_cache is not None else None
        lists.append(_Term(by_term[t], idf_map[t], bound_factors, full))
        if stats is not None and lists[-1].full is not None:
            stats["decoded_hits"] = stats.get("decoded_hits", 0) + 1
    # all blocks of all terms, sorted by first_doc: interval ranges
    # then run left to right, which keeps the reduceat below linear
    which = np.concatenate([np.full(len(x.n), i) for i, x in enumerate(lists)])
    local = np.concatenate([np.arange(len(x.n)) for x in lists])
    first = np.concatenate([x.first for x in lists])
    order = np.argsort(first, kind="stable")
    which, local, first = which[order], local[order], first[order]
    end = np.concatenate([x.last for x in lists])[order] + 1
    ub = np.concatenate([x.ub for x in lists])[order]
    n = np.concatenate([x.n for x in lists])[order]
    if stats is not None:
        stats["blocks_considered"] = stats.get("blocks_considered", 0) + len(n)
    # `open_` = blocks neither decoded nor pruned. Bounds only fall and
    # θ only rises from round to round, so a pruned block stays pruned
    # and leaves the interval sums: a doc it covers already had a bound
    # below θ − EPS.
    open_ = np.arange(len(n))
    n_decoded = 0
    while True:
        batch = max(k, FLOOR, GROW * n_decoded)
        # when every open block fits in this round's batch, decode them
        # all without bounding them first
        ranged = open_ if n[open_].sum() > batch else open_[:0]
        if n_decoded or len(ranged):
            per_term = [np.concatenate(x.docs) if x.docs else _NO_DOCS for x in lists]
            docs = np.concatenate(per_term)
            keys, inv = np.unique(np.concatenate((docs, first[ranged], end[ranged])),
                                  return_inverse=True)
            psum = np.zeros(len(keys))
            at = 0
            for x, d in zip(lists, per_term):
                if len(d):
                    psum += np.bincount(inv[at:at + len(d)], weights=np.concatenate(x.scores),
                                        minlength=len(keys))
                at += len(d)
            seen = np.zeros(len(keys), dtype=bool)
            seen[inv[:len(docs)]] = True
            cand = np.flatnonzero(seen)
            score = np.round(psum[cand], 4)
            theta = (np.partition(score, len(score) - k)[len(score) - k]
                     if len(score) >= k else -np.inf)
            if not len(open_):
                break
        take = open_
        if len(ranged):
            lo, hi = inv[len(docs):len(docs) + len(open_)], inv[len(docs) + len(open_):]
            bound = psum + np.cumsum(np.bincount(lo, ub[open_], len(keys))
                                     - np.bincount(hi, ub[open_], len(keys)))
            cuts = np.empty(2 * len(open_), dtype=np.intp)
            cuts[0::2], cuts[1::2] = lo, hi
            best = np.maximum.reduceat(bound, cuts)[0::2]
            live = best >= theta - EPS
            open_, best = open_[live], best[live]
            if not len(open_):
                break
            # best bound first; among equals the larger block bound (the
            # rarer term), whose decoded docs tighten the others' intervals
            rank = np.lexsort((-ub[open_], -best))
            rank = rank[: int(np.searchsorted(np.cumsum(n[open_[rank]]), batch)) + 1]
            take = open_[rank]
            left = np.ones(len(open_), dtype=bool)
            left[rank] = False
            open_ = open_[left]
        else:
            open_ = open_[:0]
        n_decoded += int(n[take].sum())
        for i, x in enumerate(lists):
            mine = which[take] == i
            if mine.any():
                x.decode(np.sort(local[take][mine]), dead, avgdl, k1, b, stats)
    if decode_cache is not None:
        for t, x in zip(present, lists):
            full = x.full_decode()
            if full is not None:
                decode_cache.put(t, full)
    ids = keys[cand]
    if len(score) > k:
        sel = score >= theta
        ids, score = ids[sel], score[sel]
    top = np.lexsort((ids, -score))[:k]
    return list(zip(ids[top].tolist(), score[top].tolist()))


def _load_dead(dead_src, seg: int) -> "np.ndarray | None":
    """Per-task liveness: read THIS segment's tombstone partition iff
    the (metadata-sized) dead_src says the segment has one. dead_src's
    optional third element is the set of IN-FLUX partitions — a merge
    fold between its barriers has retired its sources without yet
    re-homing/purging their tombstones, so the fold's dst serves docs
    whose tombstones still sit under the src partitions. Every task
    then reads its own partition PLUS the in-flux ones (bounded by the
    fold, never all segments — review r4 finding); over-inclusion is
    correct, ids a segment never held simply never match."""
    if dead_src is None:
        return None
    influx = dead_src[2] if len(dead_src) > 2 else frozenset()
    want = sorted(({int(seg)} | set(influx)) & set(dead_src[1]))
    if not want:
        return None
    from .delete import segment_tombstones

    arrs = [segment_tombstones(dead_src[0], s) for s in want]
    arrs = [a for a in arrs if a is not None and len(a)]
    if not arrs:
        return None
    if len(arrs) == 1:
        return arrs[0]
    import numpy as np

    return np.unique(np.concatenate(arrs))


def _wand_udf(queries: dict[int, list[str]], idf_map: dict[str, float],
              avgdl: float, k: int, k1: float, b: float,
              bound_factors: dict[int, float] | None = None,
              dead_src: "tuple[str, frozenset[int]] | None" = None,
              tid2term: dict[int, str] | None = None):
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(pdf["segment_id"].iloc[0])
        dead = _load_dead(dead_src, seg)
        # posting rows carry the int64 tid; translate back to the query
        # term strings via the (query-sized) tid2term closure. Unknown
        # tids are skipped: the scan filter may be padded with a
        # never-matching sentinel (codegen-stability trick in
        # _tid_filter) that could in principle collide with a real term
        by_term = {tid2term[int(t)]: g for t, g in pdf.groupby("tid")
                   if int(t) in tid2term}
        out_q, out_d, out_s = [], [], []
        for qid, terms in queries.items():
            for doc, score in block_topk(by_term, terms, idf_map, avgdl, k, k1, b,
                                         bound_factors, lambda _s: dead):
                out_q.append(qid)
                out_d.append(doc)
                out_s.append(score)
        return pd.DataFrame({"query_id": pd.array(out_q, dtype="int32"),
                             "doc_id": pd.array(out_d, dtype="int64"),
                             "score": pd.array(out_s, dtype="float64")})

    return run


# Per-process memo of index metadata (collection stats + WAND bound
# factors), keyed by the NORMALIZED index_dir. The reference keeps the
# same thing as an in-proc LRU over loaded indexes (src/cache.ts:10-47,
# ST3 in SURVEY.md) — a query server loads metadata ONCE, not per query.
# Invalidated explicitly via refresh_meta (build/extend/merge callers).
_META_CACHE: dict[str, tuple] = {}


def _cache_key(root: str) -> str:
    """Normalize so `idx/`, `./idx` and `/abs/idx` hit one entry —
    otherwise refresh_meta after a delete/extend could miss the cached
    spelling and leave stale tombstones serving queries."""
    import os

    if "://" in root:  # non-local FS URI — normalize only the path part
        scheme, rest = root.split("://", 1)
        return f"{scheme}://{os.path.normpath(rest)}"
    return os.path.abspath(os.path.normpath(root))


def _index_meta(spark: SparkSession, paths: IndexPaths):
    """(n_docs, avgdl, bound_factors, dead_src, excluded) — memoized.
    dead_src is (tombstones_path, frozenset(segments-with-tombstones),
    in_flux_partitions) or None: the liveness CLOSURE is metadata-
    sized; each task lazily reads its own segment's tombstone partition
    (delete.segment_tombstones) plus the fold-bounded in-flux ones when
    a merge fold sits between its barriers.
    `excluded` is the frozenset of segments a reader must skip (an
    in-flight/crashed fold's partial dirs — functions/liveness.py): the
    manifest, not the partition listing, is the source of truth for
    which segments serve."""
    cached = _META_CACHE.get(_cache_key(paths.root))
    if cached is not None:
        return cached
    stats = spark.read.parquet(paths.collection_stats).collect()[0]
    n_docs, avgdl = int(stats.n_docs), float(stats.avgdl)
    # per-segment bound inflation for avgdl drift after incremental
    # extends; build_avgdl + the fold-protocol rows live in the
    # manifest lineage rows — ONE metadata-sized collect serves both
    from ..functions.liveness import reader_exclusions
    from ..sources.catalog import read_or_none

    bound_factors: dict[int, float] = {}
    excluded: frozenset = frozenset()
    union = False
    manifest = read_or_none(spark, paths.manifest)
    if manifest is not None:
        cols = set(manifest.columns)
        want = ["segment_id", "build_avgdl"] + [
            c for c in ("stage", "status", "started_at") if c in cols
        ]
        rows = manifest.select(*want).collect()
        mins: dict[int, float] = {}
        for r in rows:
            if r.build_avgdl is not None:
                s = int(r.segment_id)
                ba = float(r.build_avgdl)
                mins[s] = ba if s not in mins else min(mins[s], ba)
        bound_factors = {s: max(1.0, avgdl / ba) for s, ba in mins.items()}
        if {"stage", "status", "started_at"} <= cols:
            excluded, union = reader_exclusions(
                (int(r.segment_id), r.stage, r.status, r.started_at) for r in rows
            )
    from .delete import tombstone_segments

    dead_segs = tombstone_segments(spark, paths)
    # in-flux partitions: a committed-not-done fold's excluded sources
    # whose tombstones haven't re-homed/purged yet (bounded by the
    # fold; empty in steady state)
    influx = frozenset(excluded) & set(dead_segs) if union else frozenset()
    dead_src = (paths.tombstones, dead_segs, influx) if dead_segs else None
    key = _cache_key(paths.root)
    _META_CACHE[key] = (n_docs, avgdl, bound_factors, dead_src, excluded)
    return _META_CACHE[key]


def refresh_meta(index_dir: str | None = None) -> None:
    """Drop cached index metadata (after a build/extend/merge)."""
    if index_dir is None:
        _META_CACHE.clear()
        _DF_CACHE.clear()
        _SCAN_CACHE.clear()
    else:
        key = _cache_key(IndexPaths(index_dir).root)
        _META_CACHE.pop(key, None)
        _DF_CACHE.pop(key, None)
        for k in [k for k in _SCAN_CACHE if k[1] == key]:
            _SCAN_CACHE.pop(k, None)


# Per-process memo of the postings scan DataFrame, keyed by
# (Spark application id, normalized index root, with_positions).
# `spark.read.parquet` re-lists the 10^2-file postings layout and
# re-reads footers for schema inference on EVERY call — ~0.2 s of
# driver time that dominated the single-query distributed path
# (BENCH_r03 wand_spark_p50 regression). The lazy relation itself is
# immutable, so reusing it per session is safe; refresh_meta (every
# build/extend/merge/delete caller) invalidates by root.
_SCAN_CACHE: dict[tuple[str, str, bool], DataFrame] = {}


def _tid_filter(tids: list[int]) -> F.Column:
    """tid membership predicate shaped for a STABLE codegen cache key:
    a single-value isin optimizes to EqualTo with the literal INLINED
    in the generated source (fresh Janino compile per query — measured
    ~0.25 s, the dominant single-term wand_spark cost), so pad to two
    values with a sentinel (tid XOR a salt). The padded value is
    correctness-neutral: tids it might collide with (P ≈ vocab/2^64)
    only widen the scan; the kernels drop unknown tids. Two-plus values
    become InSet (session conf inSetConversionThreshold=1), whose value
    set is a codegen reference object — identical source across
    queries, codegen cache hit."""
    vals = list(tids)
    if len(vals) == 1:
        vals.append(vals[0] ^ 0x5BD1E995)
    return F.col("tid").isin(vals)


def _postings_scan(spark: SparkSession, paths: IndexPaths,
                   with_positions: bool = False) -> DataFrame:
    """Memoized projected postings relation (see _SCAN_CACHE)."""
    key = (spark.sparkContext.applicationId, _cache_key(paths.root), with_positions)
    df = _SCAN_CACHE.get(key)
    if df is None:
        cols = ["tid", "segment_id", "first_doc", "last_doc", "block_max", "n",
                "doc_gaps", "tfs", "dls"]
        df = spark.read.parquet(paths.postings)
        if with_positions:
            if "positions" not in df.columns:
                raise ValueError(
                    "positional query requires an index built with store_positions=True")
            cols.append("positions")
        df = df.select(*cols)
        _SCAN_CACHE[key] = df
    return df


# Per-process lazy term-metadata cache: index → {term: (global df, tid)}.
# Bounded by the query workload's vocabulary, not the index's (the
# reader never materializes the full vocab) — the serving-path
# discipline of serve.IndexReader applied to the distributed engine's
# driver. tid (the posting-row key) is computed CLIENT-SIDE with the
# pure-Python xxhash64 that is bit-identical to the build's Catalyst
# expression (functions/termhash.py; lock-step test) — the index
# stores no term strings, so a df lookup is a row-group-pruned int64
# probe of the tid-sorted terms directory.
_DF_CACHE: dict[str, dict[str, tuple[int, int]]] = {}


def _term_meta(spark: SparkSession, paths: IndexPaths, terms: list[str],
               excluded: frozenset = frozenset()) -> dict[str, tuple[int, int]]:
    """{term: (global df, tid)} per query term (df 0 when absent).
    Driver-side pyarrow row-group-pruned read of the (tiny, tid-sorted)
    terms directory — no Spark job on the query path; falls back to a
    Spark agg only when the driver genuinely has no direct reader for
    the storage scheme (narrow except: a real data/corruption error in
    the terms directory must propagate, not silently reroute).
    `excluded` segments (an in-flight/crashed fold's partial dirs)
    are dropped from the df sum — their terms rows would double-count
    df against the live sources. Cache safety: the exclusion set is
    constant per refresh epoch and refresh_meta clears _DF_CACHE."""
    from ..functions.termhash import term_tid

    cache = _DF_CACHE.setdefault(_cache_key(paths.root), {})
    missing = sorted({t for t in terms if t not in cache})
    if missing:
        tid_of = {t: term_tid(t) for t in missing}
        tids = sorted(tid_of.values())
        try:
            import pyarrow.dataset as ds
            from pyarrow.lib import ArrowInvalid, ArrowNotImplementedError

            fallback_errors = (FileNotFoundError, OSError, ArrowInvalid, ArrowNotImplementedError)
        except ImportError:
            ds = None
            fallback_errors = ()
        dfs: dict[int, int] | None = None
        if ds is not None:
            try:
                flt = ds.field("tid").isin(tids)
                if excluded:
                    flt = flt & ~ds.field("segment_id").isin(sorted(excluded))
                tbl = ds.dataset(paths.terms, format="parquet", partitioning="hive").to_table(
                    filter=flt, columns=["tid", "df"]
                )
                agg = tbl.to_pandas().groupby("tid")["df"].sum()
                dfs = {int(t): int(v) for t, v in agg.items()}
            except fallback_errors:
                dfs = None
        if dfs is None:
            sdf = spark.read.parquet(paths.terms).filter(F.col("tid").isin(tids))
            if excluded:
                sdf = sdf.filter(~F.col("segment_id").isin(sorted(excluded)))
            rows = sdf.groupBy("tid").agg(F.sum("df").alias("df")).collect()
            dfs = {int(r.tid): int(r.df) for r in rows}
        cache.update({t: (dfs.get(tid_of[t], 0), tid_of[t]) for t in missing})
    return {t: cache[t] for t in terms}


def wand_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Top-k via the index: per-segment block_topk (applyInPandas) →
    global rank-window merge. Parquet scan is pruned to the query terms
    (predicate pushdown on `term` + row-group stats from the
    sort-by-term layout)."""
    paths = IndexPaths(index_dir)
    n_docs, avgdl, bound_factors, dead_src, excluded = _index_meta(spark, paths)

    q_map = {int(qid): tokenize_query(q) for qid, q in queries}
    all_terms = sorted({t for ts in q_map.values() for t in ts})
    if not all_terms:
        return spark.createDataFrame([], "query_id int, doc_id long, score double, rank int")

    # global df + tid per query term (driver-side pruned read, memoized —
    # keeps the terms-directory Spark job off the per-query path)
    meta = _term_meta(spark, paths, all_terms, excluded=excluded)
    idf_map = {t: idf_fn(n_docs, m[0]) for t, m in meta.items() if m[0] > 0}
    tid2term = {meta[t][1]: t for t in idf_map}
    if not tid2term:
        return spark.createDataFrame([], "query_id int, doc_id long, score double, rank int")

    # project to exactly the columns the kernel reads BEFORE the
    # groupBy exchange — on a positional index this keeps the (largest)
    # positions column out of the scan and shuffle entirely. Postings
    # filter on the int64 tid (row-group stats on the tid-sorted
    # layout); the base relation is memoized per session (file listing
    # + footer schema inference cost ~0.2 s/call — _SCAN_CACHE)
    blocks = _postings_scan(spark, paths).filter(_tid_filter(list(tid2term)))
    if excluded:
        # an in-flight/crashed fold's partial segments (manifest-derived,
        # functions/liveness.py) — applied only when non-empty so the
        # common case keeps the codegen-stable plan shape
        blocks = blocks.filter(~F.col("segment_id").isin(sorted(excluded)))
    per_seg = blocks.groupBy("segment_id").applyInPandas(
        _wand_udf(q_map, idf_map, avgdl, k, k1, b, bound_factors,
                  dead_src=dead_src, tid2term=tid2term),
        schema="query_id int, doc_id long, score double",
    )
    return rank_topk(per_seg, k)
