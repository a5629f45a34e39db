"""Posting-list codec: delta + varint compression, fixed-size blocks,
block-max metadata for Block-Max WAND (U2 in SURVEY.md §2.10).

The reference has no inverted index (it brute-force scans all docs per
query — src/brain-scorer.ts:168-179); this codec is the scale-path
replacement that makes the same top-k computable at 10^12 docs.

Layout: a posting list for (term) is a sequence of BLOCKS of ≤128
postings. Each block stores:
  first_doc / last_doc : absolute doc-id bounds (skip pointers)
  block_max            : max over the block of the idf-independent
                         BM25 factor  tf_norm = tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
                         — idf is applied query-side from CURRENT
                         global df, so block maxima survive segment
                         merges and df drift unchanged.
  n                    : posting count
  doc_gaps             : varint bytes; first value is the ABSOLUTE
                         first doc id, the rest are deltas. Absolute
                         first ⇒ blocks are independently decodable
                         and block sequences from disjoint sorted
                         doc-id ranges concatenate with no re-encode
                         (this is what makes the salted two-phase
                         build and the k-way merge cheap).
  tfs                  : varint bytes of term frequencies.
  dls                  : varint bytes of per-posting doc lengths —
                         scoring is self-contained per block (no
                         random-access norms lookup inside WAND);
                         ~1-2 bytes/posting, the Lucene-norms analog.

All encode/decode is numpy-vectorized (no per-element Python loops);
this code runs inside applyInPandas/mapInPandas workers.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

BLOCK_SIZE = 128
# Doc-id stride per segment (segment = doc_id div SEG_STRIDE). Lives
# here — the numpy-only module — so the encoder can derive segment/salt
# from doc_id without the build shipping them as shuffle columns;
# operators/docs.py imports it (single source of truth).
SEG_STRIDE = 1 << 40

# varint thresholds: value >= 2^(7k) needs more than k bytes
_THRESHOLDS = [np.uint64(1) << np.uint64(7 * k) for k in range(1, 10)]


def _as_u64(values: np.ndarray) -> np.ndarray:
    """Zero-copy uint64 view of a contiguous non-negative int64 array
    (same bits); copies only when dtype/layout genuinely differ. The
    encoder's inputs are doc gaps / tfs / dls — all non-negative — and
    these views remove one full-array copy per column per batch (the
    encode is memory-bandwidth-bound in parallel)."""
    if isinstance(values, np.ndarray) and values.dtype == np.int64 and values.flags.c_contiguous:
        return values.view(np.uint64)
    return np.ascontiguousarray(values, dtype=np.uint64)


def varint_nbytes(values: np.ndarray) -> np.ndarray:
    """Per-value LEB128 encoded length (vectorized). Breaks out of the
    threshold ladder as soon as no value needs another byte — tfs stop
    after one pass, doc lengths after two; only the (rare) absolute
    block-start doc ids walk the whole ladder."""
    v = _as_u64(values)
    nbytes = np.ones(v.shape, dtype=np.int64)
    for t in _THRESHOLDS:
        m = v >= t
        if not m.any():
            break
        nbytes += m
    return nbytes


def varint_encode(values: np.ndarray, nbytes: np.ndarray | None = None) -> bytes:
    """LEB128-encode an array of non-negative ints, vectorized. Pass a
    precomputed `nbytes` (varint_nbytes) to avoid recomputing it when
    the caller already needed the lengths for offset bookkeeping."""
    v = _as_u64(values)
    if v.size == 0:
        return b""
    if nbytes is None:
        nbytes = varint_nbytes(v)
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    pos = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    for k in range(10):
        mask = nbytes > k
        if not mask.any():
            break
        chunk = (v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (nbytes[mask] > k + 1).astype(np.uint8) << 7
        out[pos[mask] + k] = chunk.astype(np.uint8) | cont
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes → uint64 array, vectorized."""
    if not buf:
        return np.empty(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    payload = (b & 0x7F).astype(np.uint64)
    is_end = b < 0x80
    ends = np.nonzero(is_end)[0]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    # byte position within its varint
    pos = np.arange(len(b), dtype=np.int64) - np.repeat(starts, ends - starts + 1)
    shifted = payload << (np.uint64(7) * pos.astype(np.uint64))
    return np.add.reduceat(shifted, starts)


def delta_encode(doc_ids: np.ndarray) -> bytes:
    """Sorted absolute doc ids → varint([first, diffs...])."""
    d = np.ascontiguousarray(doc_ids, dtype=np.int64)
    if d.size == 0:
        return b""
    gaps = np.empty_like(d)
    gaps[0] = d[0]
    np.subtract(d[1:], d[:-1], out=gaps[1:])
    return varint_encode(gaps)


def delta_decode(buf: bytes) -> np.ndarray:
    gaps = varint_decode(buf).astype(np.int64)
    return np.cumsum(gaps)


class Block(NamedTuple):
    first_doc: int
    last_doc: int
    block_max: float
    n: int
    doc_gaps: bytes
    tfs: bytes
    dls: bytes
    positions: bytes = b""


def tf_norm(tfs: np.ndarray, dls: np.ndarray, avgdl: float, k1: float, b: float) -> np.ndarray:
    """idf-independent BM25 factor, vectorized (float64)."""
    tfs = tfs.astype(np.float64)
    return tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl))


def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    k1: float,
    b: float,
    block_size: int = BLOCK_SIZE,
    positions_flat: np.ndarray | None = None,
) -> list[Block]:
    """Sorted-by-doc_id postings (one term) → list of Blocks.
    positions_flat: concatenated within-doc positions (posting j owns
    positions_flat[off[j]:off[j+1]] with off = cumsum(tfs))."""
    n = len(doc_ids)
    if n == 0:
        return []
    norms = tf_norm(tfs, dls, avgdl, k1, b)
    off = None
    if positions_flat is not None:
        off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(np.asarray(tfs, dtype=np.int64), out=off[1:])
    blocks: list[Block] = []
    for s in range(0, n, block_size):
        e = min(s + block_size, n)
        d, t, l = doc_ids[s:e], tfs[s:e], dls[s:e]
        pos_bytes = b""
        if positions_flat is not None:
            chunk = np.asarray(positions_flat[off[s] : off[e]], dtype=np.int64)
            if len(chunk):
                pg = np.empty(len(chunk), dtype=np.int64)
                pg[0] = chunk[0]
                np.subtract(chunk[1:], chunk[:-1], out=pg[1:])
                starts = off[s : e] - off[s]  # run starts within chunk
                pg[starts] = chunk[starts]
                pos_bytes = varint_encode(pg)
        blocks.append(
            Block(
                first_doc=int(d[0]),
                last_doc=int(d[-1]),
                block_max=float(norms[s:e].max()),
                n=e - s,
                doc_gaps=delta_encode(d),
                tfs=varint_encode(t),
                dls=varint_encode(l),
                positions=pos_bytes,
            )
        )
    return blocks


def decode_block(doc_gaps: bytes, tfs: bytes, dls: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One block → (doc_ids int64, tfs int64, dls int64)."""
    return (
        delta_decode(doc_gaps),
        varint_decode(tfs).astype(np.int64),
        varint_decode(dls).astype(np.int64),
    )


def decode_blocks(n, doc_gaps, tfs, dls) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batch-decode a run of blocks (any subset, any order) → the
    concatenated (doc_ids, tfs, dls), int64, in input block order: one
    varint pass per column for the whole run (decode_block has ~170µs
    fixed overhead per call; this is what makes scoring many blocks
    cheap). Blocks' first values are absolute doc ids → cumsum with
    per-block rebase."""
    counts = np.asarray(n, dtype=np.int64)
    gaps = varint_decode(b"".join(doc_gaps)).astype(np.int64)
    starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    c = np.cumsum(gaps)
    docs = c - np.repeat(c[starts] - gaps[starts], counts)
    return (docs, varint_decode(b"".join(tfs)).astype(np.int64),
            varint_decode(b"".join(dls)).astype(np.int64))


def encode_groups(
    group_starts: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    k1: float,
    b: float,
    block_size: int = BLOCK_SIZE,
) -> dict:
    """Encode MANY posting lists in one vectorized pass.

    Input arrays hold the concatenation of all groups' postings, sorted
    by doc_id within each group; group_starts marks where each group
    begins. One varint buffer is built per column for the WHOLE batch
    and sliced per block — the per-group/per-block Python cost is one
    bytes-slice, which is what lets the salted build encode ~10^5
    groups per task without per-group pandas overhead.

    Returns columnar dict: group_idx (block → input group), first_doc,
    last_doc, block_max, n; doc_gaps/tfs/dls are (whole-batch varint
    buffer, per-value byte offsets) pairs — blocks tile the posting
    space contiguously, so a consumer builds the per-block binary
    column ZERO-COPY from the buffer plus offsets[bstarts] (no
    per-block Python slicing; that listcomp was ~15% of encode time at
    web-text group sizes and pure allocator churn).
    """
    n = len(doc_ids)
    if n == 0:
        empty = (b"", np.zeros(1, dtype=np.int64))
        return {"group_idx": [], "first_doc": [], "last_doc": [], "block_max": [],
                "n": [], "p_start": np.zeros(0, dtype=np.int64),
                "p_end": np.zeros(0, dtype=np.int64),
                "doc_gaps": empty, "tfs": empty, "dls": empty}
    g = np.ascontiguousarray(group_starts, dtype=np.int64)
    doc = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tf = np.ascontiguousarray(tfs, dtype=np.int64)
    dl = np.ascontiguousarray(dls, dtype=np.int64)

    # block segmentation: within each group, a block every block_size
    lens = np.diff(np.append(g, n))
    nb = (lens + block_size - 1) // block_size
    total_blocks = int(nb.sum())
    # arange-within-group: 0,1,..,nb[i]-1 for each group i
    rep_ends = np.cumsum(nb)
    within = np.arange(total_blocks, dtype=np.int64) - np.repeat(rep_ends - nb, nb)
    bstarts = np.repeat(g, nb) + within * block_size
    bends = np.minimum(bstarts + block_size, np.repeat(g + lens, nb))
    group_idx = np.repeat(np.arange(len(g), dtype=np.int64), nb)

    # gaps: global diff, reset to absolute at every BLOCK start
    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = doc[0]
    np.subtract(doc[1:], doc[:-1], out=gaps[1:])
    gaps[bstarts] = doc[bstarts]

    norms = tf_norm(tf, dl, avgdl, k1, b)
    bmax = np.maximum.reduceat(norms, bstarts)

    out = {
        "group_idx": group_idx,
        "first_doc": doc[bstarts],
        "last_doc": doc[bends - 1],
        "block_max": bmax,
        "n": (bends - bstarts).astype(np.int32),
        # posting-space block bounds — callers slicing sidecar buffers
        # (e.g. positions) pop these
        "p_start": bstarts,
        "p_end": bends,
    }
    for name, arr in (("doc_gaps", gaps), ("tfs", tf), ("dls", dl)):
        nbytes = varint_nbytes(arr)
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(nbytes, out=offsets[1:])
        out[name] = (varint_encode(arr, nbytes), offsets)
    return out


# --------------------------------------------------------------------
# Streaming multi-group encoder used by the build's mapInArrow stage.
# Lives HERE (numpy/pyarrow-only module) so that unpickling the UDF
# closure in fresh Python workers does not drag in pandas/pyspark.sql
# imports — worker cold-start is a measurable serial cost per stage.
def encode_table(tbl, avgdl: float, k1: float, b: float, block_size: int = BLOCK_SIZE,
                 with_positions: bool = False, chunk_size: int = 1 << 14):
    """Encode a sorted run of COMPLETE (tid, segment, salt) groups of
    raw token rows into block rows — fully vectorized, zero pandas.

    `tid` is the dictionary-encoded term key (xxhash64 of the term
    string, computed Catalyst-side before the wide shuffle): the build
    never ships term STRINGS through its shuffle — an int64 key
    shuffles/sorts for a fraction of the bytes and compares in one
    instruction, and the term→string mapping lives in the (vocabulary-
    sized) terms directory instead of on every posting row.

    Input rows are pre-aggregated postings — one row per (term, doc)
    with an explicit `tf` column (and, with positions, an int-array
    `positions` column) — sorted by (tid, doc_id). Segment and salt are
    derived vectorized from doc_id (segment = id div SEG_STRIDE, salt =
    rank-in-segment div chunk_size), so they never travel as shuffle
    columns; the (tid, doc_id) order IS the (tid, segment, salt,
    doc_id) order because both are monotone in doc_id."""
    import numpy as np
    import pyarrow as pa

    n = tbl.num_rows
    tid = tbl.column("tid").to_numpy()
    doc = tbl.column("doc_id").to_numpy()
    seg = doc // SEG_STRIDE
    salt = (doc % SEG_STRIDE) // chunk_size
    dl = tbl.column("doc_len").to_numpy()

    gchanged = np.empty(n, dtype=bool)
    gchanged[0] = True
    gchanged[1:] = tid[1:] != tid[:-1]
    gchanged[1:] |= (seg[1:] != seg[:-1]) | (salt[1:] != salt[:-1])
    grows = np.flatnonzero(gchanged)
    # one row per posting: posting index space == row index space
    tf = tbl.column("tf").to_numpy().astype(np.int64)
    enc = encode_groups(grows, doc, tf, dl, avgdl, k1, b, block_size)
    gi = enc.pop("group_idx")
    bs_p = enc.pop("p_start")
    be_p = enc.pop("p_end")
    tidx = grows[gi]

    def _bin(pair):
        # zero-copy binary column: blocks tile the value space, so the
        # Arrow offsets are offsets[bstarts] + one trailing end
        buf, offsets = pair
        nb = len(bs_p)
        end = int(offsets[be_p[-1]]) if nb else 0
        if end >= 2**31:  # int32 Arrow offsets would wrap silently
            raise OverflowError(
                f"varint batch buffer {end} B exceeds binary-column int32 "
                "offsets; lower CHUNK_SIZE/block_size so one Arrow batch "
                "stays under 2 GiB")
        offs = np.empty(nb + 1, dtype=np.int32)
        offs[:-1] = offsets[bs_p]
        offs[-1] = end
        return pa.Array.from_buffers(
            pa.binary(), nb, [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(buf)]
        )

    arrays = [
        pa.array(tid[tidx].astype(np.int64)),
        pa.array(seg[tidx].astype(np.int32)),
        pa.array(np.asarray(enc["first_doc"], dtype=np.int64)),
        pa.array(np.asarray(enc["last_doc"], dtype=np.int64)),
        pa.array(np.asarray(enc["block_max"], dtype=np.float64)),
        pa.array(np.asarray(enc["n"], dtype=np.int32)),
        _bin(enc["doc_gaps"]),
        _bin(enc["tfs"]),
        _bin(enc["dls"]),
    ]
    # per-block compressed size (gaps+tfs+dls — positions excluded, as
    # in the terms-directory metric): stored so index maintenance can
    # aggregate sizes from a few int columns instead of scanning the
    # binary payloads (measured 2.8 s of the 4.5 s terms job at sf0.1).
    # Block j owns postings [bs_p[j], be_p[j]), so its bytes in each
    # column are offsets[be_p[j]] - offsets[bs_p[j]].
    blk_bytes = sum(
        enc[c][1][be_p] - enc[c][1][bs_p] for c in ("doc_gaps", "tfs", "dls")
    )
    arrays.append(pa.array(np.asarray(blk_bytes, dtype=np.int32)))
    names = ["tid", "segment_id", "first_doc", "last_doc", "block_max", "n",
             "doc_gaps", "tfs", "dls", "nbytes"]
    if with_positions:
        # per-posting position deltas (first value of each posting run
        # is the absolute position), one varint buffer for the whole
        # batch sliced by each block's flat-position bounds. Positions
        # arrive as an int-ARRAY column per posting — flatten keeps
        # per-row order, and posting j owns flat[off[j]:off[j+1]] with
        # off = cumsum(tf)
        parr = tbl.column("positions").combine_chunks()
        if isinstance(parr, pa.ChunkedArray):
            parr = parr.chunk(0) if parr.num_chunks == 1 else pa.concat_arrays(parr.chunks)
        flat = parr.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
        off = np.zeros(len(tf) + 1, dtype=np.int64)
        np.cumsum(tf, out=off[1:])
        pgaps = np.empty(len(flat), dtype=np.int64)
        pgaps[0] = flat[0]
        np.subtract(flat[1:], flat[:-1], out=pgaps[1:])
        pgaps[off[:-1]] = flat[off[:-1]]
        nbytes = varint_nbytes(pgaps)
        offsets = np.zeros(len(flat) + 1, dtype=np.int64)
        np.cumsum(nbytes, out=offsets[1:])
        buf = varint_encode(pgaps, nbytes)
        rs = off[bs_p]
        re = off[be_p]
        nbp = len(rs)
        pend = int(offsets[re[-1]]) if nbp else 0
        if pend >= 2**31:  # same int32-offset wraparound guard as _bin
            raise OverflowError(
                f"positions batch buffer {pend} B exceeds binary-column "
                "int32 offsets; lower CHUNK_SIZE/block_size so one Arrow "
                "batch stays under 2 GiB")
        poffs = np.empty(nbp + 1, dtype=np.int32)
        poffs[:-1] = offsets[rs]
        poffs[-1] = pend
        arrays.append(
            pa.Array.from_buffers(
                pa.binary(), nbp, [None, pa.py_buffer(poffs.tobytes()), pa.py_buffer(buf)]
            )
        )
        names.append("positions")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def decode_positions(buf: bytes, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """One block's positions bytes + its tf array → (flat absolute
    positions, posting offsets). Posting j's positions are
    flat[offsets[j]:offsets[j+1]] — vectorized cumsum with per-run
    rebase (the first delta of each posting run is absolute)."""
    g = varint_decode(buf).astype(np.int64)
    offsets = np.zeros(len(tfs) + 1, dtype=np.int64)
    np.cumsum(tfs, out=offsets[1:])
    cum = np.cumsum(g)
    base = np.zeros(len(tfs), dtype=np.int64)
    rs = offsets[:-1]
    base[1:] = cum[rs[1:] - 1]
    flat = cum - np.repeat(base, tfs)
    return flat, offsets


def _load_segment_dead(tombstones_path: str, segments) -> "np.ndarray | None":
    """TASK-side union of the given segments' liveness sidecars (the
    per-partition form of operators/delete.segment_tombstones, inlined
    here so hot worker code keeps its numpy/pyarrow-only import set).
    Returns a sorted unique int64 array, or None when every sidecar is
    absent/empty."""
    import pyarrow.dataset as ds

    parts = []
    for s in segments:
        try:
            d = ds.dataset(f"{tombstones_path}/segment_id={int(s)}", format="parquet")
            arr = d.to_table(columns=["doc_id"]).column("doc_id").to_numpy()
        except FileNotFoundError:
            continue
        if len(arr):
            parts.append(arr)
    if not parts:
        return None
    return np.unique(np.concatenate(parts))


def compact_stream_fn(avgdl: float, k1: float, b: float, block_size: int = BLOCK_SIZE,
                      dead_src=None, with_positions: bool = False,
                      split_ranges: bool = False):
    """mapInArrow block compactor for segment merges: input is block
    rows sorted by (tid, first_doc) within each partition. Full blocks
    PASS THROUGH without decode; undersized blocks (chunk/segment tails)
    buffer into a per-term leftover that re-emits full blocks greedily.
    Memory is O(block_size) regardless of term frequency — a stop term
    over a billion-doc merged segment streams through, never
    materializing its posting list.

    split_ranges=True keeps every emitted block within ONE doc-id
    stride range (doc_id DIV SEG_STRIDE): a merge that leaves OTHER
    live segments behind must not re-encode blocks spanning the gap
    between non-contiguous source ranges, or the spanning interval
    envelops a live segment's range and the serving reader's
    global-kernel premise (per-term block intervals globally disjoint)
    breaks. Cost: at most one short block per (term, source range) —
    exactly the cross-range merging that would be unsound. merge sets
    it automatically iff live segments remain (operators/merge.py).

    `dead_src` = (tombstones_path, [src_segment_ids]) purges tombstoned
    postings: each TASK loads the union of those segments' liveness
    sidecars itself (one bounded columnar read — the same per-segment
    discipline as the query kernels; no dead-id array ever materializes
    on the driver or ships in this closure, so a full purge-compaction
    of a billion-tombstone index plans the same as a ten-tombstone
    one). A block whose [first_doc, last_doc] range contains no dead id
    still passes through untouched; only intersecting blocks decode and
    drop the dead docs."""

    def run(batches):
        import numpy as np
        import pyarrow as pa

        dead_arr = (
            _load_segment_dead(dead_src[0], dead_src[1]) if dead_src is not None else None
        )

        cols = ["tid", "segment_id", "first_doc", "last_doc", "block_max", "n",
                "doc_gaps", "tfs", "dls", "nbytes"] + (["positions"] if with_positions else [])
        cur_tid = None
        cur_seg = 0
        buf_d: list = []  # leftover decoded postings for cur_term
        buf_t: list = []
        buf_l: list = []
        buf_p: list = []  # flat positions parallel to buf_d pieces
        out: dict = {c: [] for c in cols}

        def buffered() -> int:
            return sum(len(x) for x in buf_d)

        def emit_from_buffer(final: bool) -> None:
            """Re-encode leftover into blocks; keep a < block_size tail
            unless final."""
            nonlocal buf_d, buf_t, buf_l, buf_p
            if not buf_d:
                return
            d = np.concatenate(buf_d)
            t = np.concatenate(buf_t)
            l = np.concatenate(buf_l)
            pflat = np.concatenate(buf_p) if with_positions else None
            n_full = (len(d) // block_size) * block_size
            take = len(d) if final else n_full
            ptake = 0
            if take:
                if with_positions:
                    ptake = int(t[:take].sum())
                for bl in encode_blocks(
                    d[:take], t[:take], l[:take], avgdl, k1, b, block_size,
                    positions_flat=pflat[:ptake] if with_positions else None,
                ):
                    out["tid"].append(cur_tid)
                    out["segment_id"].append(cur_seg)
                    out["first_doc"].append(bl.first_doc)
                    out["last_doc"].append(bl.last_doc)
                    out["block_max"].append(bl.block_max)
                    out["n"].append(bl.n)
                    out["doc_gaps"].append(bl.doc_gaps)
                    out["tfs"].append(bl.tfs)
                    out["dls"].append(bl.dls)
                    out["nbytes"].append(len(bl.doc_gaps) + len(bl.tfs) + len(bl.dls))
                    if with_positions:
                        out["positions"].append(bl.positions)
            buf_d = [d[take:]] if take < len(d) else []
            buf_t = [t[take:]] if take < len(d) else []
            buf_l = [l[take:]] if take < len(d) else []
            if with_positions:
                buf_p = [pflat[ptake:]] if take < len(d) else []

        def flush_out():
            nonlocal out
            if not out["tid"]:
                return None
            rb = pa.RecordBatch.from_arrays(
                [
                    pa.array(out["tid"], pa.int64()),
                    pa.array(out["segment_id"], pa.int32()),
                    pa.array(out["first_doc"], pa.int64()),
                    pa.array(out["last_doc"], pa.int64()),
                    pa.array(out["block_max"], pa.float64()),
                    pa.array(out["n"], pa.int32()),
                    pa.array(out["doc_gaps"], pa.binary()),
                    pa.array(out["tfs"], pa.binary()),
                    pa.array(out["dls"], pa.binary()),
                    pa.array(out["nbytes"], pa.int32()),
                ]
                + ([pa.array(out["positions"], pa.binary())] if with_positions else []),
                names=cols,
            )
            out = {c: [] for c in cols}
            return rb

        for rb in batches:
            tids = rb.column("tid").to_numpy()
            segs = rb.column("segment_id").to_numpy()
            firsts = rb.column("first_doc").to_numpy()
            lasts = rb.column("last_doc").to_numpy()
            bmaxs = rb.column("block_max").to_numpy()
            ns = rb.column("n").to_numpy()
            gaps = rb.column("doc_gaps").to_pylist()
            tfs_b = rb.column("tfs").to_pylist()
            dls_b = rb.column("dls").to_pylist()
            pos_b = rb.column("positions").to_pylist() if with_positions else None
            for i in range(rb.num_rows):
                if tids[i] != cur_tid:
                    emit_from_buffer(final=True)
                    cur_tid = int(tids[i])
                    cur_seg = int(segs[i])
                if (split_ranges and buf_d
                        and int(buf_d[-1][-1]) // SEG_STRIDE
                        != int(firsts[i]) // SEG_STRIDE):
                    # crossing into a new stride range: flush the tail
                    # so no block ever spans the gap
                    emit_from_buffer(final=True)
                intersects = dead_arr is not None and (
                    int(np.searchsorted(dead_arr, firsts[i]))
                    < int(np.searchsorted(dead_arr, lasts[i], side="right"))
                )
                if (not buf_d and ns[i] == block_size and not intersects
                        and not (split_ranges
                                 and int(firsts[i]) // SEG_STRIDE
                                 != int(lasts[i]) // SEG_STRIDE)):
                    # aligned full block, no tombstones in range: pass
                    # through untouched
                    out["tid"].append(cur_tid)
                    out["segment_id"].append(int(segs[i]))
                    out["first_doc"].append(int(firsts[i]))
                    out["last_doc"].append(int(lasts[i]))
                    out["block_max"].append(float(bmaxs[i]))
                    out["n"].append(int(ns[i]))
                    out["doc_gaps"].append(gaps[i])
                    out["tfs"].append(tfs_b[i])
                    out["dls"].append(dls_b[i])
                    out["nbytes"].append(len(gaps[i]) + len(tfs_b[i]) + len(dls_b[i]))
                    if with_positions:
                        out["positions"].append(pos_b[i])
                    continue
                d, t, l = decode_block(gaps[i], tfs_b[i], dls_b[i])
                pf = None
                if with_positions:
                    pf, _poff = decode_positions(pos_b[i], t)
                if intersects:
                    pos = np.searchsorted(dead_arr, d)
                    keep = ~((pos < len(dead_arr)) & (dead_arr[np.minimum(pos, len(dead_arr) - 1)] == d))
                    if with_positions:
                        pf = pf[np.repeat(keep, t)]
                    d, t, l = d[keep], t[keep], l[keep]
                    if not len(d):
                        continue
                if split_ranges and int(d[0]) // SEG_STRIDE != int(d[-1]) // SEG_STRIDE:
                    # a SOURCE block that already spans ranges (legacy
                    # compaction of non-contiguous sources): split it
                    # so the re-encoded output is range-pure
                    rng = d // SEG_STRIDE
                    cuts = (np.flatnonzero(rng[1:] != rng[:-1]) + 1).tolist()
                    pieces = []
                    lo = 0
                    for hi in cuts + [len(d)]:
                        pieces.append((lo, hi))
                        lo = hi
                else:
                    pieces = [(0, len(d))]
                pos_off = np.concatenate(([0], np.cumsum(t))) if with_positions else None
                for lo, hi in pieces:
                    if (split_ranges and buf_d
                            and int(buf_d[-1][-1]) // SEG_STRIDE
                            != int(d[lo]) // SEG_STRIDE):
                        emit_from_buffer(final=True)
                    buf_d.append(d[lo:hi])
                    buf_t.append(t[lo:hi])
                    buf_l.append(l[lo:hi])
                    if with_positions:
                        buf_p.append(pf[pos_off[lo]:pos_off[hi]])
                    if buffered() >= block_size:
                        emit_from_buffer(final=False)
            rb_out = flush_out()
            if rb_out is not None:
                yield rb_out
        emit_from_buffer(final=True)
        rb_out = flush_out()
        if rb_out is not None:
            yield rb_out

    return run


def encode_stream_fn(avgdl: float, k1: float, b: float, block_size: int = BLOCK_SIZE,
                     with_positions: bool = False, chunk_size: int = 1 << 14):
    """mapInArrow encoder over a partition sorted by (tid, doc_id)
    (== (tid, segment, salt, doc_id) order — see encode_table): Arrow
    batch boundaries can split a group, so the trailing (possibly
    incomplete) group of each batch is carried into the next. Carry
    size is bounded by chunk_size postings (the salt guarantees no
    group exceeds one doc-id chunk)."""

    def run(batches):
        import numpy as np
        import pyarrow as pa

        carry = None
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            if carry is not None and carry.num_rows:
                tbl = pa.concat_tables([carry, tbl]).combine_chunks()
            n = tbl.num_rows
            if not n:
                continue
            # trailing rows belonging to the last (tid, seg, salt) group
            # (sorted input ⇒ they are exactly the rows equal to the last key)
            tids = tbl.column("tid").to_numpy()
            tail = tids == tids[n - 1]
            doc = tbl.column("doc_id").to_numpy()
            seg = doc // SEG_STRIDE
            salt = (doc % SEG_STRIDE) // chunk_size
            tail &= (seg == seg[n - 1]) & (salt == salt[n - 1])
            cut = n - int(tail.sum())
            carry = tbl.slice(cut)
            if cut:
                yield encode_table(tbl.slice(0, cut), avgdl, k1, b, block_size,
                                   with_positions, chunk_size)
        if carry is not None and carry.num_rows:
            yield encode_table(carry.combine_chunks(), avgdl, k1, b, block_size,
                               with_positions, chunk_size)

    return run
