"""The block-max top-k kernel (operators/wand.py::block_topk) against a
brute-force top-k on the functions/bm25.py oracle, on synthetic block
frames — no Spark. Layouts the serving routes used to special-case
(overlapping block intervals, bound factors, tombstones) all go
through the one kernel."""

import numpy as np
import pandas as pd
import pytest

from mantic_sh_spark.functions import bm25
from mantic_sh_spark.functions.codec import encode_blocks
from mantic_sh_spark.functions.tokenize import tokenize
from mantic_sh_spark.operators import wand
from mantic_sh_spark.operators.wand import block_topk

K1, B = bm25.K1, bm25.B
COPY = 1_000_000


@pytest.fixture(autouse=True, params=["rounds", "floor"])
def _batching(request, monkeypatch):
    """Run every case twice: with small batches (no floor, doubling),
    so these short lists go through many bound-and-prune rounds, and
    with the shipped constants, under which most decode in one batch."""
    if request.param == "rounds":
        monkeypatch.setattr(wand, "FLOOR", 0)
        monkeypatch.setattr(wand, "GROW", 1)


def _corpus(seed=3, n_docs=300, vocab=40):
    """(doc_id, text) pairs over a skewed vocabulary; docs COPY+i copy
    the first few docs verbatim, so exact score ties exist."""
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, vocab + 1)
    docs = []
    for i in range(n_docs):
        words = rng.choice(vocab, size=int(rng.integers(3, 40)), p=p / p.sum())
        docs.append((i, " ".join(f"t{w}" for w in words)))
    docs += [(COPY + i, text) for i, text in docs[:5]]
    return docs


def _rows(blocks, seg):
    return [{"segment_id": seg, "first_doc": blk.first_doc, "last_doc": blk.last_doc,
             "block_max": blk.block_max, "n": blk.n, "doc_gaps": blk.doc_gaps,
             "tfs": blk.tfs, "dls": blk.dls} for blk in blocks]


def _frames(docs, terms, segment_of, block_size=4, build_avgdl=None):
    """term → block frame, one posting list per (term, segment);
    `build_avgdl` (segment → avgdl) encodes that segment's block maxima
    against a stale avgdl, as after an extend."""
    toks = {d: tokenize(t) for d, t in docs}
    avgdl = sum(len(v) for v in toks.values()) / len(toks)
    out = {}
    for term in terms:
        rows = []
        hits = sorted((segment_of(d), d) for d, v in toks.items() if term in v)
        for seg in sorted({s for s, _ in hits}):
            ids = np.array([d for s, d in hits if s == seg], dtype=np.int64)
            tfs = np.array([toks[d].count(term) for d in ids], dtype=np.int64)
            dls = np.array([len(toks[d]) for d in ids], dtype=np.int64)
            ba = (build_avgdl or {}).get(seg, avgdl)
            rows += _rows(encode_blocks(ids, tfs, dls, ba, K1, B, block_size=block_size), seg)
        out[term] = pd.DataFrame(rows)
    return out, avgdl


def _brute(docs, query, k, dead=frozenset()):
    """Brute-force top-k from bm25.score_term over the whole corpus
    (collection stats include tombstoned docs), minus `dead`."""
    toks = {d: tokenize(t) for d, t in docs}
    n_docs = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n_docs
    scores = {}
    for term in sorted(set(tokenize(query))):
        df = sum(1 for v in toks.values() if term in v)
        for d, v in toks.items():
            if term in v and d not in dead:
                scores[d] = scores.get(d, 0.0) + bm25.score_term(
                    v.count(term), len(v), avgdl, n_docs, df)
    ranked = sorted(((d, round(s, 4)) for d, s in scores.items()),
                    key=lambda x: (-x[1], x[0]))
    return ranked[:k]


def _run(docs, query, k, segment_of=lambda d: 0, dead=frozenset(), **kw):
    terms = sorted(set(tokenize(query)))
    frames, avgdl = _frames(docs, terms, segment_of, **kw)
    toks = {d: set(tokenize(t)) for d, t in docs}
    idf_map = {t: bm25.idf(len(docs), sum(t in v for v in toks.values())) for t in terms}
    dead_by_seg = {}
    for d in dead:
        dead_by_seg.setdefault(segment_of(d), []).append(d)
    dead_by_seg = {s: np.array(sorted(v), dtype=np.int64) for s, v in dead_by_seg.items()}
    stats = {}
    bf = kw.get("build_avgdl")
    got = block_topk(frames, terms, idf_map, avgdl, k, K1, B,
                     {s: avgdl / a for s, a in bf.items()} if bf else None,
                     dead_by_seg.get if dead else None, stats)
    return got, stats


QUERIES = ["t0", "t3", "t17", "t1 t2", "t0 t5 t9", "t4 t11 t22 t30", "t39 t38"]


@pytest.mark.parametrize("query", QUERIES)
@pytest.mark.parametrize("k", [1, 3, 10])
def test_kernel_matches_oracle(query, k):
    docs = _corpus()
    got, stats = _run(docs, query, k)
    assert got == _brute(docs, query, k) == bm25.oracle_topk(docs, query, k)
    assert stats["blocks_decoded"] <= stats["blocks_considered"]


def test_kernel_prunes_blocks(monkeypatch):
    monkeypatch.setattr(wand, "FLOOR", 0)
    monkeypatch.setattr(wand, "GROW", 1)
    docs = _corpus(n_docs=2000)
    for query in ("t0", "t2 t35"):
        got, stats = _run(docs, query, 5)
        assert got == _brute(docs, query, 5)
        assert stats["blocks_decoded"] < stats["blocks_considered"] / 2, query


@pytest.mark.parametrize("query", QUERIES)
def test_kernel_overlapping_blocks(query):
    """Two segments holding interleaved doc ids (a legacy compaction's
    layout): every term's block intervals overlap across segments."""
    docs = _corpus()
    got, _ = _run(docs, query, 10, segment_of=lambda d: d % 2)
    frames, _ = _frames(docs, ["t0"], lambda d: d % 2)
    f = frames["t0"].sort_values("first_doc")
    assert (f["first_doc"].to_numpy()[1:] <= f["last_doc"].to_numpy()[:-1]).any()
    assert got == _brute(docs, query, 10)


@pytest.mark.parametrize("query", QUERIES)
def test_kernel_bound_factor(query):
    """Segment 1's block maxima were encoded against a smaller avgdl
    (factor > 1 after drift): the kernel must inflate them, not prune
    on the stale maxima."""
    docs = _corpus()
    toks = [len(tokenize(t)) for _, t in docs]
    got, _ = _run(docs, query, 10, segment_of=lambda d: d % 3 == 0,
                  build_avgdl={True: 0.25 * sum(toks) / len(toks)})
    assert got == _brute(docs, query, 10)


def test_kernel_bound_factor_is_applied():
    """The best doc sits in a segment whose maxima were encoded against
    avgdl/10: its stale block max is below the other segment's scores,
    so only the factor keeps that block from being pruned."""
    filler = " ".join(f"f{i}" for i in range(9))
    docs = [(i, f"x {filler}") for i in range(40)] + [(100, "x x x x y z")]
    toks = [len(tokenize(t)) for _, t in docs]
    stale = {1: 0.1 * sum(toks) / len(toks)}
    for k in (1, 3):
        got, _ = _run(docs, "x", k, segment_of=lambda d: int(d >= 100), build_avgdl=stale)
        assert got[0][0] == 100
        assert got == _brute(docs, "x", k)


@pytest.mark.parametrize("query", QUERIES)
def test_kernel_tombstones(query):
    """Each block checks its own segment's tombstones; the k best LIVE
    docs come back."""
    docs = _corpus()
    dead = frozenset(d for d, _ in _brute(docs, query, 6)[::2]) | {COPY, COPY + 1}
    got, _ = _run(docs, query, 10, segment_of=lambda d: d % 2, dead=dead)
    assert not dead & {d for d, _ in got}
    assert got == _brute(docs, query, 10, dead=dead)


def test_kernel_fewer_than_k_matches():
    docs = _corpus()
    n_match = len(_brute(docs, "t39", 10**6))
    assert 0 < n_match < 50
    got, _ = _run(docs, "t39", 50)
    assert len(got) == n_match
    assert got == _brute(docs, "t39", 50)
    assert _run(docs, "t39", 50, dead=frozenset(d for d, _ in got))[0] == []


def test_kernel_score_tie_breaks_on_doc_id():
    """Docs COPY+ are verbatim copies: equal 4-decimal scores, ranked
    by doc_id asc — the copy loses to its original, and a cut at k
    inside a tie keeps the smaller ids."""
    docs = _corpus()
    full = _brute(docs, "t0 t5", 10**6)
    dup = {d: s for d, s in full if d >= COPY}
    assert dup, "fixture must contain a matching copy"
    for k in range(1, len(full) + 1, 7):
        got, _ = _run(docs, "t0 t5", k)
        assert got == full[:k]
    for copy, s in dup.items():
        tied = [d for d, x in full if x == s]
        assert tied.index(copy - COPY) < tied.index(copy)


def test_kernel_keeps_blocks_within_eps_of_theta():
    """Doc 7 outscores doc 3 by 6e-5, yet both round to 7.4271 and doc 3
    wins the tie on doc_id. Doc 7's block has the higher bound and is
    decoded first, making θ = 7.4271; doc 3's block bound (its exact
    score, one posting per block) is BELOW θ and must survive the
    θ − EPS cut."""
    avgdl, n_docs, df = 50.37, 1000, 3
    ids = np.array([3, 7, 10, 11, 12], dtype=np.int64)
    tfs = np.array([11, 6, 1, 1, 1], dtype=np.int64)
    dls = np.array([399, 210, 50, 50, 50], dtype=np.int64)
    raw = [bm25.score_term(int(t), int(n), avgdl, n_docs, df) for t, n in zip(tfs, dls)]
    assert raw[0] < round(raw[0], 4) == round(raw[1], 4) < raw[1]
    want = sorted(((int(d), round(x, 4)) for d, x in zip(ids, raw)),
                  key=lambda x: (-x[1], x[0]))
    frame = pd.DataFrame(_rows(encode_blocks(ids, tfs, dls, avgdl, K1, B, block_size=1), 0))
    for k in (1, 2, 5):
        got = block_topk({"x": frame}, ["x"], {"x": bm25.idf(n_docs, df)}, avgdl, k, K1, B)
        assert got == want[:k]
