"""Seeded workload inputs. Everything here is a pure function of the
benchmark seed: the same seed gives the same corpus, query streams,
churn batches and registry tables. The program under test only ever
receives the generated inputs."""

from __future__ import annotations

import dataclasses
import os

import numpy as np
import pandas as pd

# Corpus shape shared by `serve` and `churn`: small enough that a cold
# Spark session builds it in well under half a run, large enough that
# the reader's per-segment kernels, the docs-table reads behind urls
# and snippets, and the build's wide shuffle all do real work.
N_DOCS = 8000
VOCAB = 20000
SEGMENTS = 4

# `serve`: the distinct-query working set replayed by the hot stream
# (≈27 of each gen_queries kind, so a 10 s run calls each query about
# four times at 1 client), and the latency/throughput rounds.
SERVE_POOL = 160
SERVE_ROUNDS = 5

# `churn`: per cycle, modified + new pages and deletes, as a share of
# the base corpus; a read pass follows each refresh (two per cycle) and
# draws from the whole vocabulary.
CHURN_MODIFIED = 0.02
CHURN_NEW = 0.02
CHURN_DELETED = 0.01
CHURN_MAX_CYCLES = 2
CHURN_READS = 100


def corpus_config(seed: int):
    from mantic_sh_spark.sources.synth import SynthConfig

    return SynthConfig(n_docs=N_DOCS, vocab_size=VOCAB, seed=seed)


def serve_pool(seed: int) -> list[str]:
    """The distinct `search_files` queries of the hot stream: the six
    kinds of `synth.gen_queries` (head, mid, needle, multi-term,
    CamelCase, absent), in equal shares."""
    from mantic_sh_spark.sources.synth import gen_queries

    return [q for _, q in gen_queries(corpus_config(seed), n_queries=SERVE_POOL)]


def serve_stream(seed: int, pool: list[str], n: int) -> list[str]:
    """Seeded shuffles of the pool, back to back: every query comes up
    equally often, so the kind mix of any run is the pool's own."""
    rng = np.random.default_rng([seed, 1])
    out: list[str] = []
    while len(out) < n:
        out += [pool[i] for i in rng.permutation(len(pool))]
    return out[:n]


def fresh_queries(seed: int, cycle: int, n: int = CHURN_READS) -> list[str]:
    """Out-of-cache reads over the whole vocabulary, so nearly every
    term is cold after a refresh. Query j has 1 + j % 3 terms; each term
    rank is drawn uniformly within its own stratum of the vocabulary,
    so every pass (and every seed) spans head, mid and tail terms in the
    same proportions and only the terms themselves vary."""
    from mantic_sh_spark.sources.synth import vocab_word

    rng = np.random.default_rng([seed, 2, cycle])
    n_terms = [1 + j % 3 for j in range(n)]
    total = sum(n_terms)
    ranks = ((np.arange(total) + rng.random(total)) * VOCAB / total).astype(int)
    ranks = ranks[rng.permutation(total)]
    out, pos = [], 0
    for k in n_terms:
        out.append(" ".join(vocab_word(int(r)) for r in ranks[pos:pos + k]))
        pos += k
    return out


def gate_queries(pool: list[str], n: int = 12) -> list[tuple[int, str]]:
    """The fixed correctness-gate sample: the first n pool queries,
    which cover every gen_queries kind twice."""
    return list(enumerate(pool[:n]))


@dataclasses.dataclass
class ChurnBatch:
    pages: pd.DataFrame  # upsert_pages input (pages schema)
    delete_urls: list[str]
    n_modified: int
    n_new: int
    text_bytes: int


def churn_batches(seed: int, cycles: int = CHURN_MAX_CYCLES) -> list[ChurnBatch]:
    """Per cycle: pages of a disjoint slice of base docs with new text
    (same url → modified), pages past the base corpus (→ added), and the
    urls of a further disjoint slice to delete."""
    from mantic_sh_spark.sources.synth import make_batch

    cfg = corpus_config(seed)
    n_mod, n_new, n_del = (int(N_DOCS * s) for s in (CHURN_MODIFIED, CHURN_NEW, CHURN_DELETED))
    perm = np.random.default_rng([seed, 3]).permutation(N_DOCS)
    per = n_mod + n_del
    out = []
    for c in range(cycles):
        mod_ids = np.sort(perm[c * per: c * per + n_mod])
        del_ids = np.sort(perm[c * per + n_mod: (c + 1) * per])
        base = make_batch(np.concatenate([mod_ids, del_ids]), cfg)
        modified = make_batch(mod_ids, dataclasses.replace(cfg, seed=seed + 1000 + c))
        modified["url"] = base["url"].to_numpy()[:n_mod]
        added = make_batch(np.arange(N_DOCS + c * n_new, N_DOCS + (c + 1) * n_new), cfg)
        pages = pd.concat([modified, added], ignore_index=True)
        out.append(ChurnBatch(
            pages=pages,
            delete_urls=base["url"].tolist()[n_mod:],
            n_modified=n_mod, n_new=n_new,
            text_bytes=int(pages["text"].str.len().sum()),
        ))
    return out


# ------------------------------------------------------------ registry

# The headline registry queries of bench.py, minus `wand_multi`,
# whose index round-trip writes a fixed path outside the checkout.
REGISTRY_QUERIES = [
    "bm25_topk", "bm25_multi", "tf_triples", "df_per_term", "dedup_exact",
    "minhash_sig", "simhash16", "token_stats", "quality_score", "ann_cosine_topk",
    "topn_per_lang", "stale_diff", "top_revenue", "phrase_positions", "fuzzy_closest",
]
REGISTRY_TABLES = ["documents", "embeddings", "orders", "customer"]

_WORDS = ("a agg batch big column customer data dup fast filter group hash join key "
          "line merge order part query row scan slow small sort spark stream table "
          "the value vector window").split()


def registry_tables(seed: int, out_dir: str, n_docs: int = 2500, n_emb: int = 1000,
                    n_orders: int = 75_000, n_cust: int = 7_500) -> None:
    """The registry queries' input tables, with the shape of the
    repository's sf0.1 test tables at half their row counts: a 31-word
    documents corpus (a few exact duplicates), 64-d unit embeddings, and
    an orders ⋈ customer pair."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)
    lens = rng.integers(10, 101, size=n_docs)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), size=n)]) for n in lens]
    for i in rng.choice(n_docs, size=8, replace=False):
        texts[i] = texts[(i + 1) % n_docs]
    langs = np.array(["en", "zh", "es", "fr", "de"])[
        rng.choice(5, size=n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, size=n_emb).astype(np.int32),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, size=n_orders).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, size=n_orders)],
        "o_totalprice": np.round(rng.uniform(900, 500_000, size=n_orders), 2),
        "o_orderdate": (np.datetime64("1992-01-01", "us")
                        + rng.integers(0, 3650, size=n_orders) * np.timedelta64(1, "D")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, size=n_orders)],
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, size=n_cust), 2),
        "c_mktsegment": np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING",
                                  "HOUSEHOLD"])[rng.integers(0, 5, size=n_cust)],
    })
    for name, tbl in zip(REGISTRY_TABLES, (docs, embeddings, orders, customer)):
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
