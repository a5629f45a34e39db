"""Low-latency query serving over the parquet index (the reference's
primary consumer surface: an agent loop hitting `search_files` with
sub-second answers — src/mcp-server.ts:338-441, latency table
README.md:82-85).

Architecture: Spark is the BUILD/ANALYTICS plane; serving replicas run
this module — a long-lived `IndexReader` that reads the exact parquet
artifacts the Spark jobs commit, via pyarrow row-group-pruned reads,
and executes the SAME kernels the distributed path uses
(`operators/wand.py::block_topk` for BM25,
`operators/phrase.py::segment_phrase_matches` for positional phrase /
proximity queries). No Spark job
— and no JVM — is on the per-query path, so latency is decode-bound
(milliseconds), not job-scheduling-bound.

Scale notes (what changes at 10^12 docs, nothing structural):
  * index metadata (collection stats, bound factors, tombstones) loads
    once per refresh — the in-proc memo the reference keeps as an LRU
    over loaded indexes (src/cache.ts:10-47).
  * per-term df comes from the terms directory with a lazy per-term
    cache — the reader never materializes the vocabulary.
  * posting blocks load per (term) via parquet row-group pruning (the
    build sorts each segment by term) and stay in the reader's one
    byte-budgeted LRU (_LRU) — repeated/zipfian query terms hit memory,
    cold terms cost one columnar read. Replicas shard by index or by
    segment range when one box can't hold the hot set.
  * result urls/snippets cost one docs read that decodes only the
    ~64 KB row groups holding the ≤k ids, pruned on each partition's
    footer statistics (cached per segment in the same LRU).
  * results are (doc_id, score) — identical, by test, to wand_topk;
    phrase results identical to phrase_topk (positional indexes).

`serve_loop` is the service harness: JSON-lines in, JSON-lines out —
the same contract an MCP/HTTP adapter would wrap.
"""

from __future__ import annotations

import json
import threading
import time
from collections import OrderedDict

import numpy as np

from .functions.bm25 import B, K1, idf as idf_fn
from .functions.codec import SEG_STRIDE
from .functions.tokenize import tokenize_query
from .sources.catalog import IndexPaths

# posting rows are keyed by `tid` (dictionary-encoded term — xxhash64);
# the reader resolves term → tid from the terms directory, so no hash
# implementation exists outside the Spark build
_POSTING_COLS = ["tid", "first_doc", "last_doc", "block_max", "n",
                 "doc_gaps", "tfs", "dls"]

class TierBudgetExceeded(ValueError):
    """A tiered query where EVERY term's tier-field doc list exceeds
    the reader's materialization budget (IndexReader._TIER_DF_CAP):
    the tier ladder's semantics require ranking every tier-matched doc,
    and with no small list to intersect against the match set is a
    corpus-share array this one process refuses to hold. Run such
    queries through the batch operator (operators/query.tiered_topk —
    a distributed full-corpus pass, the semantics' native cost), or
    raise the cap on a reader with the memory to back it."""

# Byte budget of the reader's one cache (_LRU): term frames, decoded
# postings, df/tid entries, per-segment tombstone arrays, docs footer
# indexes and tier handles, verdicts and specs all share it, least
# recently used first out. Decoded postings run ~12x their varint form
# and dominate it once dense (BM25/phrase) terms are hot — each hit
# skips the decode pass that dominates those queries.
_CACHE_BUDGET = 512 * 1024 * 1024

# What a cache entry is charged beyond its payload bytes: every entry
# pays _ENTRY_BYTES (key, slot and value objects — so zero-payload
# entries such as df probes of absent terms still fill the budget), and
# each row of a term frame pays _ROW_BYTES on top of its binary payload
# (its scalar columns plus one Python bytes object per payload cell).
_ENTRY_BYTES = 128
_ROW_BYTES = 192
_PAYLOAD_COLS = ("doc_gaps", "tfs", "dls", "positions")

# the counters every query starts from, and those it adds into the
# reader totals (_record_stats)
_STATS0 = ("segments_touched", "blocks_considered", "blocks_decoded", "terms_cold")
_SUMMED = _STATS0 + ("decoded_hits", "tier_stream_intersects")

_I64 = np.iinfo(np.int64)
_NO_IDS = np.empty(0, dtype=np.int64)


def format_snippet(text: str | None, terms: list[str], width: int = 160) -> str:
    """A ~`width`-char window of `text` centered on the earliest
    occurrence of any query term (case-insensitive), with "…" marking
    each cut edge — the reference's context-formatter surface
    (src/context-formatter.ts). No term found → the text head
    (phrase-normalized forms may not substring-match); null or empty
    text → ""."""
    if not text:
        return ""
    low = text.lower()
    hits = [p for p in (low.find(t.lower()) for t in terms if t) if p >= 0]
    start = max(0, (min(hits) if hits else 0) - width // 2)
    end = min(len(text), start + width)
    return ("…" if start > 0 else "") + text[start:end].strip() + ("…" if end < len(text) else "")


class _LRU:
    """The reader's one cache: a byte-budgeted LRU over namespaced keys
    (("blocks", term), ("df", term), ("dead", segment), ("k", segment,
    term), ...). Each entry is charged its payload bytes plus
    _ENTRY_BYTES; the least recently used entries go first, and an entry
    larger than the whole budget is served but never cached.

    clear() bumps the EPOCH, and every put carries the epoch its attempt
    started under: a stale put is dropped, checked under the same lock
    clear() takes. So nothing read before a refresh is ever installed
    after it — otherwise a query straddling refresh() would leave
    pre-refresh postings or liveness in the cache for every later query.
    Thread-safe; the reader's metadata lock is never held around it."""

    def __init__(self, budget: int):
        self.budget = int(budget)
        self.bytes = 0
        self.epoch = 0
        self._lock = threading.Lock()
        self._d: OrderedDict = OrderedDict()

    def get(self, key):
        with self._lock:
            hit = self._d.get(key)
            if hit is None:
                return None
            self._d.move_to_end(key)
            return hit[0]

    def put(self, key, value, nbytes: int, epoch: int | None) -> None:
        """Install `value` (None epoch: outside any attempt — dropped)."""
        nb = int(nbytes) + _ENTRY_BYTES
        if nb > self.budget:
            return
        with self._lock:
            if epoch != self.epoch:
                return
            old = self._d.pop(key, None)
            if old is not None:
                self.bytes -= old[1]
            self._d[key] = (value, nb)
            self.bytes += nb
            while self.bytes > self.budget:
                self.bytes -= self._d.popitem(last=False)[1][1]

    def clear(self) -> None:
        with self._lock:
            self._d.clear()
            self.bytes = 0
            self.epoch += 1


class _NsDecodeCache:
    """The flat .get(term)/.put(term, value) decode-cache view the
    kernels take, over the reader's cache under one namespace (e.g.
    ("k", segment)). Values are decoded arrays or tuples of them,
    charged their nbytes; puts go through IndexReader._put, so they
    carry the calling attempt's epoch."""

    __slots__ = ("_reader", "_ns")

    def __init__(self, reader: "IndexReader", ns: tuple):
        self._reader, self._ns = reader, ns

    def get(self, term):
        return self._reader._cache.get(self._ns + (term,))

    def put(self, term, value) -> None:
        arrs = value if isinstance(value, tuple) else (value,)
        self._reader._put(self._ns + (term,), value, sum(a.nbytes for a in arrs))


class IndexReader:
    """Long-lived single-index reader over three single mechanisms:

    * ONE query lifecycle — every query (topk, phrase_topk,
      tiered_topk, references, definitions) is one `_query(attempt)`
      call: reset `truncated`, fresh stats, `_run`'s retry rules, one
      `_record_stats`.
    * ONE cache — `_LRU`, byte-budgeted (_CACHE_BUDGET); every install
      is checked against the epoch its attempt started under, and
      refresh() clears it and bumps that epoch.
    * ONE liveness rule — `_dead(seg)` (the Spark engine's
      wand._load_dead), with `_live_mask(ids)` over it.

    THREAD-SAFE for concurrent queries under a single-writer refresh
    discipline: kernels run lock-free on immutable cached frames, all
    parquet I/O runs outside the reader lock, and the lock guards only
    the metadata swap and the counters. Observability: per-query and
    cumulative read-amplification counters — segments_touched,
    blocks_considered, blocks_decoded, decoded_hits, terms_cold — via
    `counters()`; the considered/decoded gap is the block-max skip win,
    the number an operator watches at 100× scale."""

    def __init__(self, index_dir: str, k1: float = K1, b: float = B):
        self.paths = IndexPaths(index_dir)
        self.k1, self.b = k1, b
        self._lock = threading.RLock()  # metadata swap + counters
        self._refresh_lock = threading.Lock()  # one refresh at a time
        self._cache = _LRU(_CACHE_BUDGET)
        # truncated, last_stats and the attempt epoch are THREAD-LOCAL:
        # under serve_loop concurrency each worker thread must see its
        # own query's state, not a racing neighbor's (review r3 finding)
        self._tls = threading.local()
        self._last_shared: dict = {}  # most-recent counters, any thread
        self.refresh()

    @property
    def _epoch(self) -> int:
        """The cache's epoch, bumped by every refresh(): the reader's
        one staleness counter (cache installs, straddling-query
        re-runs, thread-local last_stats)."""
        return self._cache.epoch

    @property
    def truncated(self) -> bool:
        """Did THIS thread's last topk() hit its budget_ms deadline."""
        return getattr(self._tls, "truncated", False)

    @truncated.setter
    def truncated(self, value: bool) -> None:
        self._tls.truncated = bool(value)

    @property
    def gated_segments(self) -> list:
        """Fold-partial segments this reader is excluding (manifest-
        derived, functions/liveness.py) — the public fold-health
        surface (MCP index_stats reports it). Sorted; empty when no
        fold is in flight or pending GC."""
        with self._lock:
            return sorted(self._excluded_segs)

    @property
    def last_stats(self) -> dict:
        """Read-amp counters of THIS thread's last query — thread-local
        (like `truncated`) so a concurrent serve_loop's inline
        {"stats": true} response never carries a racing neighbor's
        counters; `counters()["last"]` stays the cross-thread
        most-recent view. Stats recorded before the last refresh() are
        invalid for every thread (epoch check) — counters restart with
        the new index state."""
        if getattr(self._tls, "stats_epoch", -1) != self._epoch:
            return {}
        return getattr(self._tls, "last_stats", {})

    # ---------------------------------------------------------- metadata
    def refresh(self) -> None:
        """Reload index metadata and drop the cache — call after a
        build/extend/merge/delete touched this index. The metadata reads
        run outside the reader lock; the swap, the counter reset and the
        cache clear (the epoch bump) run under it, so a concurrent query
        sees the old state or the new one, and an attempt that straddled
        the swap re-runs (_run)."""
        with self._refresh_lock:
            meta = self._read_meta()
            with self._lock:
                vars(self).update(meta)
                # counters restart with the new index state (counters()
                # promises totals "since construction/refresh")
                self._last_shared = {}
                self.totals = dict.fromkeys(("queries",) + _SUMMED + ("docs_row_groups",), 0)
                self._cache.clear()

    def _read_meta(self) -> dict:
        """The reader attributes a refresh installs: collection stats,
        per-segment bound factors, manifest gating, the tombstone census
        and the postings/terms dataset handles."""
        import re

        import pyarrow.parquet as pq

        cs = pq.read_table(self.paths.collection_stats).to_pydict()
        n_docs, avgdl = int(cs["n_docs"][0]), float(cs["avgdl"][0])

        # per-segment block-max bound inflation under avgdl drift (same rule
        # as operators/wand.py _index_meta), plus reader live-segment
        # gating: the manifest's fold-protocol rows, not the partition
        # listing, decide which segments serve (functions/liveness.py —
        # an in-flight or crashed merge/extend fold's partial dirs are
        # excluded until the fold closes or the next mutation GCs it)
        bound_factors: dict[int, float] = {}
        excluded, in_fold = frozenset(), False
        man = self._read_optional(
            self.paths.manifest,
            ["segment_id", "build_avgdl", "stage", "status", "started_at"],
        )
        if man is not None:
            pdf = man.to_pandas()
            ba = pdf.dropna(subset=["build_avgdl"])
            if len(ba):
                mins = ba.groupby("segment_id")["build_avgdl"].min()
                bound_factors = {int(s): max(1.0, avgdl / float(v)) for s, v in mins.items()}
            if {"stage", "status", "started_at"} <= set(pdf.columns):
                from .functions.liveness import reader_exclusions

                excluded, in_fold = reader_exclusions(
                    zip(pdf["segment_id"], pdf["stage"], pdf["status"],
                        pdf["started_at"].fillna(0.0))
                )

        # per-SEGMENT liveness: only the metadata-sized set of segments
        # that have tombstone partitions loads here; each segment's
        # sorted dead-id array loads lazily on first touch (_dead). A
        # purge deletes every tombstone PARTITION but leaves the root
        # dir: the dataset then has a column-less schema — clean, not a
        # crash. Partition membership comes from the hive fragment
        # paths, never the segment_id column (one int64 per tombstone,
        # 8 GB at 1e9 — review r5 finding).
        dead_segs = set()
        t = self._dataset_or_none(self.paths.tombstones)
        if t is not None and "segment_id" in t.schema.names:
            for frag in t.get_fragments():
                m = re.search(r"segment_id=(-?\d+)", frag.path)
                if m:
                    dead_segs.add(int(m.group(1)))
        return {
            "n_docs": n_docs, "avgdl": avgdl, "bound_factors": bound_factors,
            "_excluded_segs": excluded, "_dead_segs": frozenset(dead_segs),
            # a committed-not-done merge fold's excluded sources whose
            # tombstones are not yet re-homed or purged (see _dead)
            "_influx": excluded & dead_segs if in_fold else frozenset(),
            # an empty-corpus index commits only collection_stats +
            # manifest (no postings/terms/docs dirs) — serve it as empty
            "_postings": self._dataset_or_none(self.paths.postings),
            "_terms": self._dataset_or_none(self.paths.terms),
        }

    @staticmethod
    def _dataset_or_none(path: str):
        import pyarrow.dataset as ds

        try:
            return ds.dataset(path, format="parquet", partitioning="hive")
        except FileNotFoundError:
            return None

    @staticmethod
    def _read_optional(path: str, columns: list[str]):
        """Requested columns are intersected with the file schema (a
        pre-protocol manifest may lack newer columns)."""
        import pyarrow.dataset as ds

        try:
            d = ds.dataset(path, format="parquet")
        except FileNotFoundError:
            return None
        have = set(d.schema.names)
        return d.to_table(columns=[c for c in columns if c in have])

    # --------------------------------------------------------- lifecycle
    def _run(self, attempt):
        """attempt() under the two retry rules every read shares — the
        reader's one retry loop:

        * self-heal: an OSError (dataset handles an EXTERNAL mutation
          invalidated, e.g. a merge retired segment files a handle still
          lists) refreshes once and retries; if that refresh itself
          fails, the ORIGINAL error propagates (a deliberate
          missing-sidecar FileNotFoundError must not be masked by the
          refresh's own failure), and a second OSError propagates.
        * straddle: an attempt a concurrent refresh() landed in re-runs
          against the new epoch, up to 3 attempts in all — without it
          an answer could mix pre-refresh postings with post-refresh
          liveness (a purge-merge clears tombstones whose postings the
          attempt already fetched → a purged doc resurfaces).

        The attempt's start epoch is this thread's install epoch (_put)
        for its duration; nested runs restore the outer one."""
        outer = getattr(self._tls, "epoch", None)
        healed = False
        try:
            for n in range(3):
                self._tls.epoch = epoch = self._epoch
                try:
                    out = attempt()
                except OSError as first:
                    if healed or n == 2:
                        raise
                    healed = True
                    try:
                        self.refresh()
                    except OSError:
                        raise first
                    continue
                if self._epoch == epoch:
                    break
            return out
        finally:
            self._tls.epoch = outer

    def _query(self, attempt):
        """The one query lifecycle: reset `truncated`, hand each attempt
        a fresh stats dict, run it under _run, record the stats once.
        attempt(stats, t0) → the answer."""
        t0 = time.time()
        stats: dict = {}

        def once():
            self.truncated = False
            stats.clear()
            stats.update(dict.fromkeys(_STATS0, 0))
            return attempt(stats, t0)

        out = self._run(once)
        self._record_stats(stats, t0)
        return out

    def _put(self, key, value, nbytes: int) -> None:
        """Cache install under this thread's attempt epoch (_run)."""
        self._cache.put(key, value, nbytes, getattr(self._tls, "epoch", None))

    def _record_stats(self, stats: dict, t0: float) -> None:
        stats["ms"] = round((time.time() - t0) * 1e3, 3)
        self._tls.last_stats = stats
        self._tls.stats_epoch = self._epoch
        with self._lock:
            self._last_shared = stats
            self.totals["queries"] += 1
            for key in _SUMMED:
                self.totals[key] += stats.get(key, 0)

    def counters(self) -> dict:
        """Read-amplification observability: counters for the LAST query
        (segments touched, block rows considered, blocks actually
        decoded — the gap is the skip win — and cache-miss terms) plus
        cumulative totals since construction/refresh."""
        with self._lock:
            return {"last": dict(self._last_shared), "total": dict(self.totals)}

    # ---------------------------------------------------------- lookups
    def _meta(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """{term: (global df, tid)} — lazy, cached; df 0 when absent.
        tid comes from the client-side xxhash64 (functions/termhash.py,
        bit-identical to the build's Catalyst expression), so a df
        lookup is a row-group-pruned int64 probe of the tid-sorted
        terms directory — no term strings exist anywhere in the core
        index."""
        import pyarrow.dataset as ds

        from .functions.termhash import term_tid

        out: dict[str, tuple[int, int]] = {}
        for t in set(terms):
            hit = self._cache.get(("df", t))
            if hit is not None:
                out[t] = hit
        missing = sorted(set(terms) - out.keys())
        if missing:
            tid_of = {t: term_tid(t) for t in missing}
            dfs: dict[int, int] = {}
            terms_ds, excl = self._terms, self._excluded_segs
            if terms_ds is not None:
                flt = ds.field("tid").isin(sorted(tid_of.values()))
                if excl:
                    # an in-flight/crashed fold's partial segments would
                    # double-count df against the live sources
                    flt = flt & ~ds.field("segment_id").isin(sorted(excl))
                tbl = terms_ds.to_table(filter=flt, columns=["tid", "df"])
                agg = tbl.to_pandas().groupby("tid")["df"].sum()
                dfs = {int(t): int(v) for t, v in agg.items()}
            for t in missing:
                out[t] = (dfs.get(tid_of[t], 0), tid_of[t])
                self._put(("df", t), out[t], 0)
        return out

    def df(self, terms: list[str]) -> dict[str, int]:
        """Global document frequency per term (lazy, cached)."""
        return self._run(lambda: {t: m[0] for t, m in self._meta(terms).items()})

    def _dead(self, seg: int) -> "np.ndarray | None":
        """This segment's sorted tombstoned doc ids (None when clean) —
        the one liveness rule, the Spark engine's (wand._load_dead): the
        segment's own tombstone partition, plus, while a merge fold sits
        between its barriers (committed, not done), the fold's in-flux
        partitions — its retired sources' tombstones, not yet re-homed
        or purged, cover docs its dst already serves (over-inclusion is
        correct: ids a segment never held never match). Read on first
        touch, cached per segment."""
        hit = self._cache.get(("dead", seg))
        if hit is None:
            from .operators.wand import _load_dead

            hit = _load_dead((self.paths.tombstones, self._dead_segs, self._influx), seg)
            hit = _NO_IDS if hit is None else hit
            self._put(("dead", seg), hit, hit.nbytes)
        return hit if len(hit) else None

    def _live_mask(self, ids: "np.ndarray") -> "np.ndarray":
        """Boolean mask of the non-tombstoned entries of a SORTED doc-id
        array — the check shared by tier membership, the
        earlier-tiers-pin-top-k skip and the session boost (a dead doc
        must neither rank, pin nor be boosted). A tombstone sits under
        its POSTINGS-owning segment, which a non-purge merge moves away
        from doc_id // SEG_STRIDE, so every dead partition is checked."""
        def mask():
            live = np.ones(len(ids), dtype=bool)
            for seg in self._dead_segs:
                dead = self._dead(seg)
                if dead is not None:
                    j = np.searchsorted(dead, ids)
                    live &= ~((j < len(dead)) & (dead[np.minimum(j, len(dead) - 1)] == ids))
            return live

        return self._run(mask) if len(ids) else np.ones(0, dtype=bool)

    def _fetch_blocks(self, ns: str, columns: list[str], terms: list[str],
                      stats: dict | None = None) -> dict[str, "object"]:
        """term → blocks frame, cached under (ns, term) — the BM25 and
        positional paths differ only in namespace + column list: term →
        tid resolution via the terms directory, one row-group-pruned
        read of the missing tids, per-term grouping, negative caching
        of absent terms. A frame is charged its binary payload bytes
        plus _ROW_BYTES per row; every kernel treats the frames as
        immutable, so concurrent queries share them."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        out, missing = {}, []
        for t in terms:
            hit = self._cache.get((ns, t))
            if hit is None:
                missing.append(t)
            else:
                out[t] = hit
        if not missing:
            return out
        if stats is not None:
            stats["terms_cold"] = stats.get("terms_cold", 0) + len(missing)
        _tf = time.time()
        postings, excl = self._postings, self._excluded_segs
        meta = self._meta(missing)
        tid2term = {m[1]: t for t, m in meta.items() if m[0] > 0}
        if tid2term:
            flt = ds.field("tid").isin(list(tid2term))
            if excl:
                # gate out an in-flight/crashed fold's partial
                # segments (manifest-derived — see _read_meta)
                flt = flt & ~ds.field("segment_id").isin(sorted(excl))
            tbl = postings.to_table(filter=flt, columns=columns)
            pdf = tbl.to_pandas()
            size = np.full(len(pdf), _ROW_BYTES, dtype=np.int64)
            for c in _PAYLOAD_COLS:
                if c in columns:
                    size += pc.binary_length(tbl[c]).fill_null(0).to_numpy()
        else:
            import pandas as pd

            pdf = pd.DataFrame({c: [] for c in columns})
        if stats is not None:
            # cold-I/O share of the query (terms-dir probe + pruned
            # postings read + pandas conversion) — separates "the
            # fetch got slower" from "the kernel got slower" when a
            # p90 drifts (r4 what's-wrong #4 diagnosability)
            stats["fetch_ms"] = round(
                stats.get("fetch_ms", 0.0) + (time.time() - _tf) * 1e3, 3)
        for tid, g in pdf.groupby("tid"):
            t = tid2term[int(tid)]
            out[t] = g.reset_index(drop=True)
            self._put((ns, t), out[t], int(size[g.index.to_numpy()].sum()))
        for t in missing:
            if t not in out:
                out[t] = pdf.iloc[0:0]
                self._put((ns, t), out[t], 0)
        return out

    def _blocks(self, terms: list[str], stats: dict | None = None) -> dict[str, "object"]:
        """term → pandas blocks frame (with segment_id), cached."""
        return self._fetch_blocks("blocks", _POSTING_COLS + ["segment_id"], terms, stats)

    def _docs_segment(self, seg: int) -> tuple:
        """One docs partition's row-group index: (open ParquetFiles,
        per-row-group doc_id min, max and running max of max, file and
        row-group position), ordered by min. Listed and footer-parsed on
        the segment's first fetch after refresh(), then cached (charged
        its footers' serialized size plus its arrays) — no fetch
        re-parses a footer. A row group without doc_id statistics spans
        every id, so its file falls back to full reads; a missing
        partition is empty."""
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        hit = self._cache.get(("docs", seg))
        if hit is not None:
            return hit
        files, lo, hi, fpos, rpos, nbytes = [], [], [], [], [], 0
        try:
            part = ds.dataset(f"{self.paths.docs}/segment_id={seg}", format="parquet")
            paths, fs = part.files, part.filesystem
        except FileNotFoundError:
            paths, fs = [], None
        for path in paths:
            pf = pq.ParquetFile(path, filesystem=fs)
            md = pf.metadata
            names = md.schema.names
            col = names.index("doc_id") if "doc_id" in names else -1
            for r in range(md.num_row_groups):
                st = md.row_group(r).column(col).statistics if col >= 0 else None
                has = st is not None and st.has_min_max
                lo.append(st.min if has else _I64.min)
                hi.append(st.max if has else _I64.max)
                fpos.append(len(files))
                rpos.append(r)
            files.append(pf)
            nbytes += md.serialized_size
        order = np.argsort(np.asarray(lo, dtype=np.int64), kind="stable")
        lo, hi, fpos, rpos = (np.asarray(a, dtype=np.int64)[order] for a in (lo, hi, fpos, rpos))
        hi_run = np.maximum.accumulate(hi)
        nbytes += sum(a.nbytes for a in (lo, hi, hi_run, fpos, rpos))
        entry = (files, lo, hi, hi_run, fpos, rpos)
        self._put(("docs", seg), entry, nbytes)
        return entry

    def _read_doc_fields(self, ids: np.ndarray, columns: list[str]) -> tuple[dict, int]:
        """One attempt of _doc_fields → (column → {doc_id: value},
        row groups read)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        out: dict[str, dict] = {c: {} for c in columns}
        n_rg = 0
        segs = ids // SEG_STRIDE
        for seg in np.unique(segs):
            want = ids[segs == seg]
            files, lo, hi, hi_run, fpos, rpos = self._docs_segment(int(seg))
            # candidates of id x: row groups [a, b) — min ≤ x (b) and no
            # earlier group's max reaches x (a); keep those with max ≥ x.
            # Disjoint ascending groups (every writer's layout) give b - a ≤ 1.
            a = np.searchsorted(hi_run, want, "left")
            b = np.searchsorted(lo, want, "right")
            pick = sorted({j for x, i, e in zip(want, a, b) for j in range(i, e) if hi[j] >= x})
            by_file: dict[int, list[int]] = {}
            for j in pick:
                by_file.setdefault(int(fpos[j]), []).append(int(rpos[j]))
            for f, rgs in by_file.items():
                tbl = files[f].read_row_groups(sorted(rgs), columns=["doc_id", *columns],
                                               use_threads=False)
                tbl = tbl.filter(pc.is_in(tbl["doc_id"], value_set=pa.array(want)))
                d = tbl.to_pydict()
                for c in columns:
                    out[c].update(zip(d["doc_id"], d[c]))
                n_rg += len(rgs)
        return out, n_rg

    def _doc_fields(self, doc_ids: "list[int]", columns: list[str],
                    stats: dict | None = None) -> dict[str, dict]:
        """column → {doc_id: value} for `doc_ids` (absent ids have no
        entry) from ONE docs read: each id routes to its partition by
        doc_id // SEG_STRIDE (docs rows never move in a merge), the
        cached per-row-group doc_id statistics pick the row groups that
        hold the ids, and each file decodes just those
        (one read_row_groups call per file). Runs under _run, so it
        self-heals across an external rewrite (a purge replacing a
        partition's files). Counts docs_row_groups into `stats` and the
        reader totals."""
        ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
        if not len(ids):
            return {c: {} for c in columns}
        out, n_rg = self._run(lambda: self._read_doc_fields(ids, columns))
        with self._lock:
            self.totals["docs_row_groups"] += n_rg
        if stats is not None:
            stats["docs_row_groups"] = stats.get("docs_row_groups", 0) + n_rg
        return out

    def urls(self, doc_ids: list[int]) -> dict[int, str]:
        """doc_id → url (one _doc_fields read)."""
        return self._doc_fields(doc_ids, ["url"])["url"]

    def snippets(self, doc_ids: list[int], terms: list[str],
                 width: int = 160) -> dict[int, str]:
        """doc_id → context snippet (format_snippet) of each doc's text,
        from one _doc_fields read."""
        texts = self._doc_fields(doc_ids, ["text"])["text"]
        return {d: format_snippet(t, terms, width) for d, t in texts.items()}

    def attach_docs(self, rows: list[dict], query: str, with_urls: bool = True,
                    with_snippets: bool = False, snippet_width: int = 160) -> list[dict]:
        """Add "url" and/or "snippet" to each result row (keyed by
        "doc_id") from ONE _doc_fields read — the decoration every
        search surface shares (search, MCP tiered, sessions'
        boosted_search). A doc with no docs row gets None. Records
        docs_row_groups and docs_ms (read + formatting) in this
        thread's last_stats."""
        columns = [c for c, on in (("url", with_urls), ("text", with_snippets)) if on]
        if not columns or not rows:
            return rows
        t0 = time.time()
        dstats: dict = {}
        got = self._doc_fields([r["doc_id"] for r in rows], columns, dstats)
        urls, texts = got.get("url", {}), got.get("text", {})
        terms = tokenize_query(query) if with_snippets else []
        for r in rows:
            d = r["doc_id"]
            if with_urls:
                r["url"] = urls.get(d)
            if with_snippets:
                r["snippet"] = format_snippet(texts[d], terms, snippet_width) if d in texts else None
        dstats["docs_ms"] = round((time.time() - t0) * 1e3, 3)
        with self._lock:
            self.last_stats.update(dstats)
        return rows

    # ---------------------------------------------------------- queries
    def topk(self, query: str, k: int = 10,
             budget_ms: float | None = None) -> list[tuple[int, float]]:
        """[(doc_id, score)] — value-identical to wand_topk (same
        kernel — operators/wand.py::block_topk — same rounding, same
        tie-break). One global kernel call over every segment's blocks,
        or, under budget_ms, one call per segment.

        budget_ms is the ST4 timeout guard (reference: the search
        timeout that returns partial results rather than hanging an
        agent): the deadline is checked between SEGMENTS — at least one
        segment always completes — and exceeding it stops the sweep;
        self.truncated records whether the last answer was partial.

        Runs through _query: a query that straddles a concurrent
        refresh() re-runs against the new epoch, and a reader whose
        index ANOTHER process mutated self-heals (refresh + one retry)."""
        return self._query(lambda stats, t0: self._topk_attempt(query, k, budget_ms, stats, t0))

    def _topk_attempt(self, query: str, k: int, budget_ms: float | None,
                      stats: dict, t0: float) -> list[tuple[int, float]]:
        from .operators.wand import block_topk

        if self._postings is None:
            return []
        terms = tokenize_query(query)
        dfs = self.df(terms)
        idf_map = {t: idf_fn(self.n_docs, dfs[t]) for t in terms if dfs[t] > 0}
        if not idf_map:
            return []
        blocks = self._blocks(sorted(idf_map), stats=stats)
        qterms = sorted(idf_map)
        if budget_ms is None:
            # ONE kernel call over every segment's blocks: θ climbs
            # globally, and each block checks its own segment's
            # liveness and bound factor
            stats["strategy"] = "global"
            segs = np.concatenate([pdf["segment_id"].to_numpy() for pdf in blocks.values()])
            stats["segments_touched"] = len(np.unique(segs))
            return block_topk(blocks, qterms, idf_map, self.avgdl, k, self.k1, self.b,
                              self.bound_factors, self._dead, stats,
                              _NsDecodeCache(self, ("k", -1)))
        # ST4 budgeted query: one call per segment, deadline checked
        # between segments, so at least one segment always completes and
        # partial results stay segment-aligned
        stats["strategy"] = "segments"
        per_seg: dict[int, dict[str, object]] = {}
        for t, pdf in blocks.items():
            for seg, g in pdf.groupby("segment_id"):
                per_seg.setdefault(int(seg), {})[t] = g
        hits: list[tuple[int, float]] = []
        for i, (seg, by_term) in enumerate(sorted(per_seg.items())):
            if i > 0 and (time.time() - t0) * 1e3 > budget_ms:
                self.truncated = True
                break
            stats["segments_touched"] += 1
            hits.extend(
                block_topk(by_term, qterms, idf_map, self.avgdl, k, self.k1, self.b,
                           self.bound_factors, self._dead, stats,
                           _NsDecodeCache(self, ("k", seg)))
            )
        hits.sort(key=lambda x: (-x[1], x[0]))
        return hits[:k]

    @property
    def has_positions(self) -> bool:
        return self._postings is not None and "positions" in self._postings.schema.names

    def _pos_blocks(self, terms: list[str], stats: dict | None = None) -> dict[str, "object"]:
        """term → blocks frame INCLUDING positions bytes (phrase path;
        cached under its own namespace so non-phrase queries never hold
        position payloads in memory)."""
        return self._fetch_blocks("pos", _POSTING_COLS + ["positions", "segment_id"], terms,
                                  stats)

    def _pos_blocks_by_segment(self, terms: list[str],
                               stats: dict) -> dict[int, dict[str, "object"]]:
        """Positional blocks for `terms`, regrouped per segment —
        the shared front half of every positional serving query
        (phrase_topk / references / definitions). Counts
        blocks_considered; decode accounting is the caller's (it knows
        which segments its kernel actually decodes)."""
        blocks = self._pos_blocks(terms, stats=stats)
        per_seg: dict[int, dict[str, object]] = {}
        for t, pdf in blocks.items():
            if not len(pdf):
                continue
            for seg, g in pdf.groupby("segment_id"):
                per_seg.setdefault(int(seg), {})[t] = g
        for by_term in per_seg.values():
            stats["blocks_considered"] += sum(len(g) for g in by_term.values())
        return per_seg

    def phrase_topk(self, phrase: str, k: int = 10, slop: int = 0) -> list[tuple[int, int]]:
        """[(doc_id, n_matches)] ranked (n_matches desc, doc_id asc) —
        exact/sloppy phrase served from positional postings with no
        Spark job; value-identical to operators.phrase.phrase_topk
        (same per-segment kernel; phrase stays per-segment by design:
        verification decodes every candidate block, so there is nothing
        a global run could prune and the sliced decode is the
        cache-friendly form). Runs through _query, like topk."""
        return self._query(lambda stats, t0: self._phrase_attempt(phrase, k, slop, stats))

    def _phrase_attempt(self, phrase: str, k: int, slop: int,
                        stats: dict) -> list[tuple[int, int]]:
        from .functions.tokenize import tokenize
        from .operators.phrase import segment_phrase_matches

        if not self.has_positions:
            raise ValueError("phrase serving requires an index built with store_positions=True")
        terms = tokenize(phrase)  # ordered, repeats kept
        if not terms:
            return []
        per_seg = self._pos_blocks_by_segment(sorted(set(terms)), stats)
        hits: list[tuple[int, int]] = []
        for seg, by_term in per_seg.items():
            stats["segments_touched"] += 1
            # decode accounting lives in the kernel now: with decoded
            # postings cached a hot term is NOT re-decoded, and counting
            # here would over-report (review r5 finding)
            hits.extend(segment_phrase_matches(
                by_term, terms, self._dead(seg), slop,
                decoded_cache=_NsDecodeCache(self, ("p", seg)), stats=stats))
        hits.sort(key=lambda x: (-x[1], x[0]))
        return hits[:k]

    # Candidate count above which _scores_for_docs switches from the
    # block-pruned per-block loop to one vectorized full-term decode:
    # a head-term tier match can cover ~the whole corpus, where the
    # per-block Python loop (~170 µs/block + a candidates-sized
    # searchsorted PER BLOCK) ran 8-12 s while the full decode + one
    # searchsorted is milliseconds (and LRU-cached for repeats).
    _SCORES_SWEEP_MIN = 4096

    # Memory budgets for head terms at corpus scale (both are per-term
    # ROW counts; neither can trigger below ~5M docs, so the common
    # path pays nothing for them):
    # - _TIER_DF_CAP bounds any per-(field, tid) doc list this reader
    #   will MATERIALIZE for tier membership (5M rows = 40 MB int64).
    #   A term whose body df exceeds it gets one pushed-down count
    #   probe (the windowed tier list is usually far smaller than the
    #   body df); a genuinely-huge list is intersected by STREAMING
    #   scan against the already-bounded candidate set instead of
    #   materializing, and a field where EVERY list is huge raises
    #   TierBudgetExceeded — ranking a corpus-share tier is the batch
    #   operator's job, not one process's.
    # - _SWEEP_DF_CAP bounds which terms the _scores_array sweep will
    #   decode IN FULL (decoded form is ~24 B/posting vs ~1-2 B
    #   compressed in the resident frame): above it the term scores
    #   via the per-block path — slower per block, but memory stays
    #   within the frame envelope every other serving path already has.
    _TIER_DF_CAP = 5_000_000
    _SWEEP_DF_CAP = 20_000_000

    def _scores_for_docs(self, terms: list[str],
                         doc_ids: "np.ndarray") -> dict[int, float]:
        """Dict form of _scores_array for bounded-set callers outside a
        query (the session boost), run under _run."""
        if not len(doc_ids):
            return {}
        arr = self._run(lambda: self._scores_array(terms, np.asarray(doc_ids, dtype=np.int64)))
        return {int(d): float(s) for d, s in zip(doc_ids, arr)}

    def _scores_array(self, terms: list[str],
                      doc_ids: "np.ndarray") -> "np.ndarray":
        """BM25 score of SPECIFIC docs for a term set, aligned to the
        SORTED input array (the bounded lookup behind tiered serving):
        for small candidate sets, decode only the cached blocks whose
        [first_doc, last_doc] range intersects the candidate range and
        searchsorted the candidates in; above _SCORES_SWEEP_MIN
        candidates, decode each term in full (doc-sorted, cached under
        ("s", -1, term)) and do ONE searchsorted.
        Docs matching no term score 0.0. Rounding matches rank_topk (4
        decimals) so tier ladders rank identically to the batch mode."""
        from .functions.codec import decode_block, decode_blocks

        out = np.zeros(len(doc_ids), dtype=np.float64)
        if not len(doc_ids):
            return out
        dfs = self.df(terms)
        idf_map = {t: idf_fn(self.n_docs, dfs[t]) for t in terms if dfs[t] > 0}
        if idf_map:
            blocks = self._blocks(sorted(idf_map))
            lo, hi = int(doc_ids[0]), int(doc_ids[-1])
            sweep = len(doc_ids) >= self._SCORES_SWEEP_MIN
            for t, pdf in blocks.items():
                if not len(pdf):
                    continue
                # a head term past _SWEEP_DF_CAP never full-decodes
                # (decoded form is ~24 B/posting); it scores via the
                # per-block path below, which stays within the frame's
                # memory envelope
                if sweep and dfs[t] <= self._SWEEP_DF_CAP:
                    cache = _NsDecodeCache(self, ("s", -1))
                    dec = cache.get(t)
                    if dec is None:
                        d, tf, dl = decode_blocks(pdf["n"], pdf["doc_gaps"], pdf["tfs"],
                                                  pdf["dls"])
                        order = np.argsort(d, kind="stable")
                        dec = (d[order], tf[order], dl[order])
                        cache.put(t, dec)
                    d, tf, dl = dec
                    self._bm25_accumulate(out, doc_ids, d, tf, dl, idf_map[t])
                    continue
                sel = pdf[(pdf["first_doc"] <= hi) & (pdf["last_doc"] >= lo)]
                for gaps, tfs, dls in zip(sel["doc_gaps"], sel["tfs"], sel["dls"]):
                    d, tf, dl = decode_block(gaps, tfs, dls)
                    self._bm25_accumulate(out, doc_ids, d, tf, dl, idf_map[t])
        return np.round(out, 4)

    def _bm25_accumulate(self, out: "np.ndarray", doc_ids: "np.ndarray",
                         d: "np.ndarray", tf: "np.ndarray", dl: "np.ndarray",
                         idf: float) -> None:
        """Add one term's BM25 contribution for the doc-sorted postings
        (d, tf, dl) into `out` aligned to sorted `doc_ids` — shared by
        both _scores_array strategies (sweep full-decode and per-block),
        scoring with codec.tf_norm like the top-k kernel."""
        from .functions.codec import tf_norm

        j = np.searchsorted(d, doc_ids)
        ok = (j < len(d)) & (d[np.minimum(j, len(d) - 1)] == doc_ids)
        if not ok.any():
            return
        out[ok] += idf * tf_norm(tf[j[ok]], dl[j[ok]], self.avgdl, self.k1, self.b)

    def _tier_specs(self) -> list[tuple[int, str]]:
        """Ordered (ord, field-dir name) pairs from tier_index_meta, or
        [] when no tier index is materialized. Cached until refresh()
        (mutations delete + rebuild the sidecar, and the refresh
        contract already governs when the reader sees mutations)."""
        import pyarrow.dataset as ds

        specs = self._cache.get(("tier_specs",))
        if specs is None:
            try:
                d = ds.dataset(self.paths.tier_meta, format="parquet")
                t = d.to_table(columns=["ord", "name"]).to_pydict()
                specs = sorted(zip((int(o) for o in t["ord"]), t["name"]))
            except FileNotFoundError:
                specs = []
            self._put(("tier_specs",), specs, 0)
        return specs

    @staticmethod
    def _tier_stream_intersect(d, tid: int, cand: "np.ndarray") -> "np.ndarray":
        """cand ∩ (tid's tier doc list) WITHOUT materializing the list:
        scan its rows in record batches and flag candidate membership
        via searchsorted. Memory = the candidate array (≤ _TIER_DF_CAP
        by construction) + one batch; the huge list is never resident
        and never cached. cand must be sorted (np.unique/intersect1d
        outputs are)."""
        import pyarrow.dataset as ds

        keep = np.zeros(len(cand), dtype=bool)
        scanner = d.scanner(filter=ds.field("tid") == tid,
                            columns=["doc_id"], batch_size=1 << 17)
        for batch in scanner.to_batches():
            arr = batch.column(0).to_numpy()
            j = np.searchsorted(cand, arr)
            ok = (j < len(cand)) & (cand[np.minimum(j, len(cand) - 1)] == arr)
            keep[j[ok]] = True
        return cand[keep]

    def tiered_topk(self, query: str, k: int = 10) -> list[tuple[int, int, float]]:
        return self._query(lambda stats, t0: self._tiered_attempt(query, k, stats, t0))

    def _tiered_attempt(self, query: str, k: int, stats: dict,
                        t0: float) -> list[tuple[int, int, float]]:
        """[(doc_id, tier, score)] — the R1 tier ladder SERVED from the
        materialized tier containment index (operators/tiers.py;
        reference "exact title match wins", src/brain-scorer.ts:226-253)
        instead of the batch mode's full-corpus pass. Value-identical to
        operators/query.tiered_topk over the same fields: tier i = the
        doc's i-th tier field contains ALL query terms (first match
        wins), final tier = BM25 order; rank (tier asc, score desc,
        doc_id asc).

        Per-query cost: one tid-pruned probe of each (tiny) tier field
        index, one score lookup bounded by the TIER-MATCHED doc count,
        and — only when fewer than k docs tier-match — one ordinary
        WAND run for the final tier. For a head/stop term that
        tier-matches much of the corpus the ladder semantics themselves
        require ranking every match (the batch mode scans everything
        too); the WAND fill is skipped in exactly that case, so its k
        never exceeds 2k."""
        import pyarrow.dataset as ds

        from .functions.termhash import term_tid

        specs = self._tier_specs()
        if not specs:
            raise FileNotFoundError(
                f"no tier index at {self.paths.tier_index} — run "
                "operators.tiers.build_tier_index(spark, index_dir) once"
            )
        terms = sorted(set(tokenize_query(query)))
        if not terms:
            return []
        tids = {term_tid(t) for t in terms}
        # body df bounds every tier-field list for the same term (tier
        # fields are token windows of the same text) — the free signal
        # the materialization budget gates on; cached, so the later
        # _scores_array call pays nothing extra
        df_by_tid = {term_tid(t): n for t, n in self.df(terms).items()}
        n_tiers = len(specs)

        # tier membership: intersect each field's per-tid doc lists;
        # first (best) tier wins per doc. Doc lists are cached under
        # ("t", field, tid) — zipfian query terms repeat — and so are
        # the dataset HANDLES: per-query ds.dataset() re-discovery was a
        # fixed several-ms cost, and a stale handle after an external
        # mutation raises OSError into _run's self-heal like every
        # other surface.
        # Membership/ranking is ARRAY-shaped end to end: a head term
        # tier-matches a large corpus share, and the former per-doc
        # dict/list/sort Python loops were ~0.8 s at 300k matches where
        # the vectorized form is milliseconds.
        cand_parts: list = []
        tier_parts: list = []
        for ordi, name in specs:
            d = self._cache.get(("tier_ds", ordi))
            if d is None:
                d = ds.dataset(f"{self.paths.tier_index}/field={ordi}_{name}",
                               format="parquet")
                self._put(("tier_ds", ordi), d, 0)
            cache = _NsDecodeCache(self, ("t", ordi))
            by_tid: dict[int, np.ndarray] = {}
            missing = []
            suspects = []
            for tid in tids:
                hit = cache.get(tid)
                if hit is not None:
                    by_tid[tid] = hit
                elif df_by_tid[tid] > self._TIER_DF_CAP:
                    suspects.append(tid)  # body df bounds the tier list
                else:
                    missing.append(tid)
            if suspects and cand_parts and k <= sum(map(len, cand_parts)):
                # earlier tiers sort above this one, so once they hold
                # ≥ k UNIQUE LIVE docs this field cannot reach the top
                # k — skip the probes, the streams, and (critically)
                # the refusal: a query whose answer is already pinned
                # by an earlier tier must never error on a later
                # head-term field. parts can overlap across tiers, so
                # confirm with the deduped count only when the cheap
                # sum passes — and the dedup must mask TOMBSTONED docs
                # (same liveness rule applied to the final membership
                # below): dead earlier-tier matches don't pin anything,
                # and skipping on their count would silently drop live
                # later-tier docs from the answer.
                pinned = np.unique(np.concatenate(cand_parts))
                pinned = pinned[self._live_mask(pinned)]
                if k <= len(pinned):
                    continue
            huge = []
            for tid in sorted(suspects):
                # one pushed-down count decides (verdict cached per
                # epoch — zipfian head terms repeat, and the probe is
                # a filtered column scan worth paying once, not per
                # query): the windowed tier list is often far smaller
                # than the body df
                over = self._cache.get(("tier_over", ordi, tid))
                if over is None:
                    over = (d.count_rows(filter=ds.field("tid") == tid)
                            > self._TIER_DF_CAP)
                    self._put(("tier_over", ordi, tid), over, 0)
                if over:
                    huge.append(tid)
                else:
                    missing.append(tid)
            if missing:
                tbl = d.to_table(filter=ds.field("tid").isin(sorted(missing)),
                                 columns=["tid", "doc_id"])
                tid_arr = tbl.column("tid").to_numpy()
                doc_arr = tbl.column("doc_id").to_numpy()
                for tid in missing:
                    arr = doc_arr[tid_arr == tid]
                    cache.put(tid, arr)
                    by_tid[tid] = arr
            if any(not len(v) for v in by_tid.values()):
                continue
            if huge and not by_tid:
                raise TierBudgetExceeded(
                    f"every query term's doc list in tier field {name!r} "
                    f"exceeds _TIER_DF_CAP={self._TIER_DF_CAP} rows; this "
                    "reader will not materialize a corpus-share tier — "
                    "use operators/query.tiered_topk (batch) or raise the cap"
                )
            lists = sorted(by_tid.values(), key=len)
            cand = np.unique(lists[0])
            for arr in lists[1:]:
                cand = np.intersect1d(cand, arr)
                if not len(cand):
                    break
            for tid in huge:
                if not len(cand):
                    break
                stats["tier_stream_intersects"] = (
                    stats.get("tier_stream_intersects", 0) + 1)
                cand = self._tier_stream_intersect(d, tid, cand)
            if len(cand):
                cand_parts.append(cand)
                tier_parts.append(np.full(len(cand), ordi, dtype=np.int64))

        if cand_parts:
            # first occurrence in tier order = best tier per doc
            docs_all = np.concatenate(cand_parts)
            tiers_all = np.concatenate(tier_parts)
            uniq, first = np.unique(docs_all, return_index=True)
            tier_arr = tiers_all[first]
        else:
            uniq = np.empty(0, dtype=np.int64)
            tier_arr = np.empty(0, dtype=np.int64)

        # liveness: drop tombstoned docs from tier membership
        live = self._live_mask(uniq)
        uniq, tier_arr = uniq[live], tier_arr[live]

        scores = self._scores_array(terms, uniq)
        n_matched = len(uniq)
        if n_matched < k:
            # final tier: ordinary WAND top-k, minus the tier-matched
            # docs (fetch enough extra to survive the exclusion — < 2k).
            # When k or more docs tier-matched, final-tier rows can
            # never reach the top k (tier sorts first): skip the run.
            matched = set(uniq.tolist())
            fill = [(d, s) for d, s in self._topk_attempt(query, k + n_matched, None, stats, t0)
                    if d not in matched]
            if fill:
                uniq = np.concatenate([uniq, np.array([d for d, _ in fill], dtype=np.int64)])
                tier_arr = np.concatenate([tier_arr, np.full(len(fill), n_tiers, dtype=np.int64)])
                scores = np.concatenate([scores, np.array([s for _, s in fill], dtype=np.float64)])
        order = np.lexsort((uniq, -scores, tier_arr))[:k]
        return [(int(uniq[i]), int(tier_arr[i]), float(scores[i])) for i in order]

    def references(self, symbol: str, k: int = 10,
                   max_positions: int = 100) -> list[dict]:
        return self._query(
            lambda stats, t0: self._references_attempt(symbol, k, max_positions, stats))

    def _references_attempt(self, symbol: str, k: int, max_positions: int,
                            stats: dict) -> list[dict]:
        """Where does `symbol` occur — [(doc_id, url, n_matches, token
        positions)] ranked by occurrence count, served from positional
        postings with no Spark job (the reference's `find_references`
        MCP surface, src/code-intel.ts:337-383 / src/mcp-server.ts:763-847,
        which returns per-file occurrence locations). A symbol is its
        tokenized form, so camelCase identifiers ("parseHtml") match as
        exact phrases and a plain word is a single-term lookup;
        positions are within-doc token indexes (the same coordinate
        space as `token_positions`), truncated to `max_positions` per
        doc."""
        from .functions.tokenize import tokenize
        from .operators.phrase import segment_phrase_positions

        if not self.has_positions:
            raise ValueError(
                "find_references requires an index built with store_positions=True")
        terms = tokenize(symbol)
        if not terms:
            return []
        per_seg = self._pos_blocks_by_segment(sorted(set(terms)), stats)
        hits: list[tuple[int, "np.ndarray"]] = []
        for seg, by_term in per_seg.items():
            stats["segments_touched"] += 1
            hits.extend(segment_phrase_positions(
                by_term, terms, self._dead(seg),
                decoded_cache=_NsDecodeCache(self, ("p", seg)), stats=stats))
        hits.sort(key=lambda x: (-len(x[1]), x[0]))
        hits = hits[:k]
        url_map = self.urls([d for d, _ in hits])
        return [
            {"doc_id": d, "url": url_map.get(d), "n_matches": len(p),
             "positions": p[:max_positions].tolist()}
            for d, p in hits
        ]

    # definition-introducing keywords, most-specific first: a
    # "definition" of symbol X is an occurrence of X immediately
    # preceded by one of these (the positional-index analog of the
    # reference's language-pattern walk, src/code-intel.ts:154-332 —
    # it matches `def X` / `class X` / `function X` / … text patterns;
    # here each is literally the phrase [kw, *tokenize(X)])
    DEF_KEYWORDS = ("def", "class", "function", "interface", "struct",
                    "type", "const", "fn", "var", "let")

    # assignment-style definitions have no LEADING keyword (`X =
    # function(...)`, `X = async () => {}`, `X = lambda:`, `X = new
    # Foo()`, `X = require(...)`) — the reference's tree-sitter walk
    # catches these (src/code-intel.ts:154-332). The tokenizer erases
    # the `=`, so their tokenized signature is the SYMBOL immediately
    # followed by a definition-introducing token: one phrase probe
    # [*symbol-tokens, trailer] per trailer. (A bare arrow `X = (a) =>
    # b` leaves no token at all to anchor on — out of reach without
    # punctuation in the index; `async` arrows and every listed form
    # are covered.) Reported as keyword "=<trailer>", ranked below all
    # leading-keyword forms.
    DEF_TRAILERS = ("function", "async", "lambda", "new", "require")

    # prose-reference guard for the trailer probes: "call the parseHtml
    # function" tokenizes to [..., the, parse, html, function, ...] and
    # would match [*sym, function] at the symbol — but a real
    # assignment (`parseHtml = function ...`) is never preceded by a
    # determiner (the '=' the tokenizer erased sat there). A trailer
    # hit whose symbol is immediately preceded by one of these is
    # dropped (checked with one [det, *sym, trailer] probe per
    # determiner, decoded once via the LRU) — review r5 finding.
    DEF_PROSE_GUARD = ("the", "a", "an", "this", "that")

    def definitions(self, symbol: str, k: int = 10) -> list[dict]:
        return self._query(lambda stats, t0: self._definitions_attempt(symbol, k, stats))

    def _definitions_attempt(self, symbol: str, k: int, stats: dict) -> list[dict]:
        """Where is `symbol` DEFINED — [(url, keyword, position)] ranked
        (keyword priority, position asc, doc_id asc): the serving form
        of the reference's `get_definition` MCP tool
        (src/mcp-server.ts:763-847). Each definition form is one phrase
        probe over positional postings: leading-keyword forms
        [kw, *symbol-tokens] (`def X` / `class X` / …) and
        assignment-style trailer forms [*symbol-tokens, trailer]
        (`X = function` / `X = async () =>` / `X = lambda` — see
        DEF_TRAILERS). The reported position is always the SYMBOL's
        token position. Returns at most one hit per (doc, form) — the
        first occurrence, like a goto-definition target."""
        from .functions.tokenize import tokenize
        from .operators.phrase import segment_phrase_positions

        if not self.has_positions:
            raise ValueError(
                "get_definition requires an index built with store_positions=True")
        sym = tokenize(symbol)
        if not sym:
            return []
        # df-probe FIRST (cheap terms-dir reads, no position payloads):
        # an absent symbol token means no definition phrase can match,
        # and an absent keyword need not be fetched — without this the
        # head-term keywords' (large) positional postings would be read
        # and LRU-cached even for typo symbols (review r4 finding)
        dfs = self.df(sorted(set(self.DEF_KEYWORDS) | set(self.DEF_TRAILERS)
                             | set(self.DEF_PROSE_GUARD) | set(sym)))
        if any(dfs[t] == 0 for t in sym):
            return []
        kws = [kw for kw in self.DEF_KEYWORDS if dfs[kw] > 0]
        tws = [tw for tw in self.DEF_TRAILERS if dfs[tw] > 0]
        guards = [g for g in self.DEF_PROSE_GUARD if dfs[g] > 0] if tws else []
        if not kws and not tws:
            return []
        # (form_rank, label, phrase, symbol-position offset within the
        # phrase): leading-keyword probes rank above every trailer probe
        forms = [(ki, kw, [kw] + sym, 1) for ki, kw in enumerate(self.DEF_KEYWORDS)
                 if kw in set(kws)]
        forms += [(len(self.DEF_KEYWORDS) + ti, f"={tw}", sym + [tw], 0)
                  for ti, tw in enumerate(self.DEF_TRAILERS) if tw in set(tws)]
        labels = {rank: label for rank, label, _, _ in forms}
        per_seg = self._pos_blocks_by_segment(sorted(set(kws + tws + guards + sym)), stats)
        hits: list[tuple[int, int, int]] = []  # (form_rank, pos, doc)
        for seg, by_term in per_seg.items():
            if not all(t in by_term for t in sym):
                continue  # symbol absent from this segment — no decode
            seg_forms = [f for f in forms if all(t in by_term for t in f[2])]
            if not seg_forms:
                continue
            stats["segments_touched"] += 1
            # decode accounting lives in the kernel (cache hits must
            # not be counted as decodes — review r5 finding)
            dead = self._dead(seg)
            # the reader's cache, not a per-call dict: the probe terms
            # (definition keywords + hot symbols) repeat across
            # queries, and the namespace is shared with phrase/
            # references (same frames, same _term_postings decode)
            cache = _NsDecodeCache(self, ("p", seg))
            for rank, _, phrase, sym_off in seg_forms:
                matches = segment_phrase_positions(
                    by_term, phrase, dead, decoded_cache=cache, stats=stats)
                if sym_off == 0 and matches:
                    # trailer form: drop prose references ("the X
                    # function") — exclude symbol positions immediately
                    # preceded by a determiner
                    excl: dict[int, set] = {}
                    for det in guards:
                        if det not in by_term:
                            continue
                        for doc, dpos in segment_phrase_positions(
                                by_term, [det] + phrase, dead,
                                decoded_cache=cache, stats=stats):
                            excl.setdefault(doc, set()).update(
                                (p + 1) for p in dpos.tolist())
                    if excl:
                        kept = []
                        for doc, pos in matches:
                            good = [p for p in pos.tolist()
                                    if p not in excl.get(doc, ())]
                            if good:
                                kept.append((doc, np.asarray(good)))
                        matches = kept
                for doc, pos in matches:
                    hits.append((rank, int(pos[0]) + sym_off, doc))
        hits.sort()
        url_map = self.urls([d for _, _, d in hits[:k]])
        return [
            {"doc_id": d, "url": url_map.get(d),
             "keyword": labels[rank], "position": p}
            for rank, p, d in hits[:k]
        ]

    def search(self, query: str, k: int = 10, with_urls: bool = False,
               phrase: bool = False, slop: int = 0,
               budget_ms: float | None = None,
               with_snippets: bool = False, snippet_width: int = 160) -> list[dict]:
        if phrase:
            hits = self.phrase_topk(query, k, slop=slop)
            key = "n_matches"
        else:
            hits = self.topk(query, k, budget_ms=budget_ms)
            key = "score"
        rows = [{"rank": i + 1, "doc_id": d, key: s} for i, (d, s) in enumerate(hits)]
        return self.attach_docs(rows, query, with_urls, with_snippets, snippet_width)

    def prewarm(self, queries: "list[str]", k: int = 10,
                tiered: bool = False) -> int:
        """Fault the serving caches (hot-term block frames, decoded
        postings, tier doc lists) by replaying a query list — e.g. the
        query-log tail via `recent_queries` — so a fresh replica does
        not pay cold-fetch latency on its first real traffic (cold p90
        queries are ~50% fetch; the same query served hot is ~ms).
        Queries that error (absent tier index, TierBudgetExceeded, …)
        are skipped: warming is best-effort by definition. Returns the
        number replayed successfully."""
        n = 0
        for q in queries:
            try:
                self.tiered_topk(q, k=k) if tiered else self.topk(q, k=k)
                n += 1
            except Exception:
                continue
        return n


def recent_queries(log_dir: str, limit: int = 100) -> list[str]:
    """The most recent `limit` DISTINCT query strings from a QueryLog
    directory (newest first) — the natural prewarm feed: replaying
    yesterday's tail warms exactly the terms tomorrow's traffic
    repeats. Pure pyarrow (no Spark), like every serving-path read."""
    import os

    import pyarrow.parquet as pq

    if not os.path.isdir(log_dir):
        return []
    # fragments are named log-<first_ts_us>-<n>.parquet; sort by the
    # NUMERIC (ts, n) key, newest first — a plain string sort would put
    # '-10' before '-2' for same-microsecond fragments (and break on
    # any future ts digit-width change). Read only as many files as the
    # limit needs (a long-lived service's log grows without bound; the
    # prewarm feed must not scan all of it).
    def _frag_key(fname: str):
        try:
            return (1,) + tuple(int(x) for x in fname[4:-8].split("-"))
        except ValueError:
            return (0, 0)  # malformed name: sort oldest, never crash

    files = sorted((f for f in os.listdir(log_dir) if f.endswith(".parquet")),
                   key=_frag_key, reverse=True)
    seen: set = set()
    out: list[str] = []
    for fname in files:
        try:
            tbl = pq.read_table(os.path.join(log_dir, fname), columns=["ts", "q"])
        except Exception:
            # a crash mid-flush leaves a truncated fragment; the warm
            # feed is best-effort, and a replica restarting after that
            # very crash must not fail to boot on it
            continue
        ts = tbl.column("ts").to_numpy()
        qs = tbl.column("q").to_pylist()
        # ascending-stable then reversed: equal timestamps come out
        # newest-first, so a truncating limit drops the OLDEST of a tie
        for i in np.argsort(ts, kind="stable")[::-1]:
            q = qs[i]
            if q in seen:
                continue
            seen.add(q)
            out.append(q)
            if len(out) >= limit:
                return out
    return out


class ReaderPool:
    """index_dir → IndexReader LRU (ST3: the reference keeps exactly
    this — an in-proc LRU over loaded repo indexes, src/cache.ts:10-47
    — so one serving process can answer for many indexes without
    re-reading metadata per query). Thread-safe; eviction drops the
    least-recently-used reader and its caches. Reader CONSTRUCTION
    (metadata I/O) runs outside the lock; racing threads may build the
    same reader twice, the loser's copy is discarded (idempotent)."""

    def __init__(self, max_readers: int = 8, k1: float = K1, b: float = B):
        self.max_readers = max(1, int(max_readers))
        self.k1, self.b = k1, b
        self._lock = threading.Lock()
        self._lru: OrderedDict[str, IndexReader] = OrderedDict()

    @staticmethod
    def _key(index_dir: str) -> str:
        import os

        return os.path.abspath(os.path.normpath(index_dir))

    def get(self, index_dir: str) -> IndexReader:
        key = self._key(index_dir)
        with self._lock:
            r = self._lru.get(key)
            if r is not None:
                self._lru.move_to_end(key)
                return r
        built = IndexReader(index_dir, k1=self.k1, b=self.b)
        with self._lock:
            r = self._lru.get(key)
            if r is None:
                self._lru[key] = built
                r = built
            self._lru.move_to_end(key)
            while len(self._lru) > self.max_readers:
                self._lru.popitem(last=False)
        return r

    def refresh(self, index_dir: str | None = None) -> None:
        """Refresh one reader (if loaded) or every loaded reader."""
        with self._lock:
            readers = (
                list(self._lru.values()) if index_dir is None
                else [r for k, r in self._lru.items() if k == self._key(index_dir)]
            )
        for r in readers:
            r.refresh()


class QueryLog:
    """Buffered parquet sink for the serving session's query history —
    the reference's session/pattern sink (S9; its MCP server persists
    per-session query history the same way). Rows flush every
    `flush_every` requests and on close; each flush is one columnar
    file, so the log is itself a Spark-scannable table
    (`read_query_log`) feeding the session-boost join (R13 —
    `context_boost` entry shape)."""

    SCHEMA_COLS = ("ts", "q", "k", "n_results", "ms", "top_doc_ids")

    def __init__(self, log_dir: str, flush_every: int = 32):
        import os

        self.log_dir = log_dir
        self.flush_every = flush_every
        self._rows: list[dict] = []
        self._n_flushed = 0
        os.makedirs(log_dir, exist_ok=True)

    def record(self, q: str, k: int, results: list[dict], ms: float) -> None:
        self._rows.append({
            "ts": time.time(), "q": q, "k": int(k), "n_results": len(results),
            "ms": float(ms), "top_doc_ids": [int(r["doc_id"]) for r in results],
        })
        if len(self._rows) >= self.flush_every:
            self.flush()

    def flush(self) -> None:
        if not self._rows:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.table({
            "ts": pa.array([r["ts"] for r in self._rows], pa.float64()),
            "q": pa.array([r["q"] for r in self._rows], pa.string()),
            "k": pa.array([r["k"] for r in self._rows], pa.int32()),
            "n_results": pa.array([r["n_results"] for r in self._rows], pa.int32()),
            "ms": pa.array([r["ms"] for r in self._rows], pa.float64()),
            "top_doc_ids": pa.array([r["top_doc_ids"] for r in self._rows],
                                    pa.list_(pa.int64())),
        })
        pq.write_table(tbl, f"{self.log_dir}/log-{int(self._rows[0]['ts'] * 1e6)}-{self._n_flushed}.parquet")
        self._n_flushed += 1
        self._rows = []


def read_query_log(spark, log_dir: str):
    """Session query history as a DataFrame (S9 source side)."""
    return spark.read.parquet(log_dir)


def session_doc_boost(spark, log_dir: str):
    """(doc_id, hits): how often each doc appeared in this session's
    recent results — the R13 session-boost prior, joinable exactly like
    the `context_boost` entry (broadcast semi-join + when)."""
    from pyspark.sql import functions as F

    log = read_query_log(spark, log_dir)
    return (
        log.select(F.explode("top_doc_ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )


def serve_loop(index_dir: str, stdin=None, stdout=None, k1: float = K1, b: float = B,
               log_dir: str | None = None, concurrency: int = 1,
               prewarm: int = 0) -> int:
    """JSON-lines serving loop (the `serve` CLI subcommand).

    Request per line:
      {"q": "spark join", "k": 10, "urls": true}   → BM25 search
      {"q": "spark join", "snippets": true}          → + context windows
      {"q": "spark join", "stats": true}             → + read-amp counters
      {"q": "spark join", "phrase": true, "slop": 2} → positional phrase
      {"q": "spark join", "tiered": true}            → R1 tier ladder
      {"symbol": "parseHtml", "k": 10}             → find_references
      {"q": ..., "id": 7}                          → id echoed in response
      {"op": "stats"}                              → read-amp counters
      {"op": "prewarm", "queries": [...]?}         → fault hot caches
        (omitting "queries" replays the log_dir's recent distinct tail)
      {"op": "refresh"}                            → reload metadata
      {"op": "ping"}                               → liveness
      {"op": "quit"}                               → exit
    Response per line: {"results": [...], "ms": 1.8} (or {"ok": true},
    or {"error": "..."} — the loop never dies on a bad request).
    log_dir persists the session's query history (see QueryLog).

    concurrency > 1 serves queries from a thread pool (the IndexReader
    is thread-safe; see its docstring): responses may interleave out of
    request order, so clients pass "id" to correlate. Control ops
    (refresh/quit) drain in-flight queries first — the single-writer
    refresh discipline. Returns the number of queries served.

    prewarm > 0 replays that many recent distinct log_dir queries
    through THIS loop's reader before serving (same effect as an
    initial {"op": "prewarm"} request) — a restarted replica picks up
    where the last one's hot set left off.
    """
    import sys
    from concurrent.futures import ThreadPoolExecutor, wait

    stdin = stdin if stdin is not None else sys.stdin
    stdout = stdout if stdout is not None else sys.stdout
    reader = IndexReader(index_dir, k1=k1, b=b)
    if prewarm and log_dir:
        reader.prewarm(recent_queries(log_dir, int(prewarm)))
    qlog = QueryLog(log_dir) if log_dir else None
    served = 0
    out_lock = threading.Lock()
    served_lock = threading.Lock()

    def _emit(obj: dict) -> None:
        with out_lock:
            print(json.dumps(obj), file=stdout, flush=True)

    def _answer(req: dict) -> None:
        nonlocal served
        try:
            t0 = time.time()
            budget = req.get("budget_ms")
            if "symbol" in req:
                results = reader.references(
                    req["symbol"], k=int(req.get("k", 10)),
                    max_positions=int(req.get("max_positions", 100)))
                logged_q = req["symbol"]
            elif req.get("tiered"):
                results = [
                    {"rank": i + 1, "doc_id": d, "tier": t, "score": s}
                    for i, (d, t, s) in enumerate(
                        reader.tiered_topk(req["q"], k=int(req.get("k", 10))))
                ]
                logged_q = req["q"]
            else:
                results = reader.search(req["q"], k=int(req.get("k", 10)),
                                        with_urls=bool(req.get("urls", False)),
                                        phrase=bool(req.get("phrase", False)),
                                        slop=int(req.get("slop", 0)),
                                        budget_ms=float(budget) if budget is not None else None,
                                        with_snippets=bool(req.get("snippets", False)))
                logged_q = req["q"]
            ms = round((time.time() - t0) * 1e3, 2)
            with served_lock:
                served += 1
                if qlog is not None:
                    qlog.record(logged_q, req.get("k", 10), results, ms)
            resp = {"results": results, "ms": ms}
            if req.get("stats"):
                # per-request read-amplification counters inline
                # (op:stats returns the cumulative view)
                resp["stats"] = dict(reader.last_stats)
            if reader.truncated:
                resp["truncated"] = True  # ST4: partial answer, deadline hit
            if "id" in req:
                resp["id"] = req["id"]
            _emit(resp)
        except Exception as exc:  # serve loops answer errors, not crash
            err = {"error": f"{type(exc).__name__}: {exc}"}
            if "id" in req:
                err["id"] = req["id"]
            _emit(err)

    n_workers = max(1, int(concurrency))
    pool = ThreadPoolExecutor(max_workers=n_workers)
    pending: list = []

    def _drain() -> None:
        nonlocal pending
        if pending:
            wait(pending)
            pending = []

    try:
        for line in stdin:
            line = line.strip()
            if not line:
                continue
            try:
                req = json.loads(line)
            except ValueError as exc:
                _emit({"error": f"{type(exc).__name__}: {exc}"})
                continue
            op = req.get("op")
            if op == "quit":
                break
            if op == "refresh":
                _drain()  # single-writer: no query may straddle the swap
                reader.refresh()
                _emit({"ok": True})
                continue
            if op == "ping":
                _emit({"ok": True, "n_docs": reader.n_docs})
                continue
            if op == "stats":
                _emit({"ok": True, **reader.counters()})
                continue
            if op == "prewarm":
                # control op like refresh: drain in-flight queries
                # first (qlog.flush below races worker record() calls
                # otherwise) and replay inline — prewarm is a startup/
                # idle operation, not something to run under live load
                _drain()
                qs = req.get("queries")
                if qs is None:
                    if qlog is not None:
                        qlog.flush()  # include this session's tail
                    qs = (recent_queries(log_dir, int(req.get("limit", 100)))
                          if log_dir else [])
                _emit({"ok": True,
                       "warmed": reader.prewarm(list(qs),
                                                k=int(req.get("k", 10)),
                                                tiered=bool(req.get("tiered", False)))})
                continue
            if "q" not in req and "symbol" not in req:
                _emit({"error": "KeyError: 'q'"})
                continue
            if n_workers == 1:
                _answer(req)
            else:
                pending = [f for f in pending if not f.done()]
                pending.append(pool.submit(_answer, req))
        _drain()
    finally:
        pool.shutdown(wait=True)
    if qlog is not None:
        qlog.flush()
    return served
