"""Driver-contract query registry: one Spark implementation + one
ANSI-SQL (DuckDB) oracle per operator claimed in SURVEY.md §2.

Conventions that make the driver's order-insensitive value-hash agree:
  * every computed column is aliased IDENTICALLY on both sides
  * ratios/scores → round(x, 4) as DOUBLE on both sides
  * SQL sums are cast (DuckDB promotes integer sums to HUGEINT,
    Spark keeps LONG)
  * LIMIT queries carry a fully deterministic ORDER BY (rounded score
    desc, id asc)
  * the tokenizer is the shared lock-step definition
    (functions/tokenize.py: lower + split on [^a-z0-9]+, drop empties)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text_analysis import STOPWORDS, fingerprint, lang_id, quality_score, rolling_fingerprints, token_stats
from ..functions.tokenize import tokens_col
from ..operators import dedup, similarity
from ..operators.query import bm25_topk

TOK = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"

BM25_QUERY = "spark join window"
MULTI_QUERIES = [(0, "spark join"), (1, "window group row"), (2, "qqabsentterm")]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    # doc_len stays size(tokens) — NOT the count-only tokenizer form:
    # measured r6, the heavy consumers (BM25 tf branch) need the token
    # array anyway, so an independent regexp_count makes them tokenize
    # twice (+0.5 s at 10×) to save one array build in the small stats
    # branch
    return d.withColumn("tokens", tokens_col("text", camel=False)).withColumn(
        "doc_len", F.size("tokens")
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------- core stats

def q_doc_stats(spark, sf_dir):
    return _docs_tok(spark, sf_dir).select("doc_id", F.col("doc_len").cast("long").alias("doc_len"))


SQL_DOC_STATS = f"SELECT doc_id, CAST(len({TOK}) AS BIGINT) AS doc_len FROM documents"


def q_collection_stats(spark, sf_dir):
    return _docs_tok(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("doc_len"), 4).alias("avgdl"),
    )


SQL_COLLECTION_STATS = f"""
SELECT count(*)::BIGINT AS n_docs, round(avg(CAST(len({TOK}) AS BIGINT)), 4) AS avgdl FROM documents
"""


def q_tf_triples(spark, sf_dir):
    # doc-local (term, tf) pairs via the _term_tf_pairs HOF — the
    # explode output is already unique per (term, doc), so the old
    # full-corpus groupBy shuffle is gone entirely (r6, guide §2.4)
    from ..operators.index_build import _term_tf_pairs

    d = _docs_tok(spark, sf_dir)
    return d.select("doc_id", F.explode(_term_tf_pairs("tokens")).alias("p")).select(
        F.col("p.term").alias("term"), "doc_id", F.col("p.tf").cast("long").alias("tf")
    )


SQL_TF_TRIPLES = f"""
WITH tok AS (SELECT doc_id, unnest({TOK}) AS term FROM documents)
SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok GROUP BY term, doc_id
"""


def q_df_per_term(spark, sf_dir):
    # df = docs containing the term: explode the doc-local DISTINCT
    # term set and count — one map-side-combinable shuffle of bare
    # terms, instead of the old (term, doc_id) tf shuffle + re-shuffle
    d = _docs_tok(spark, sf_dir)
    return (
        d.select(F.explode(F.array_distinct("tokens")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )


SQL_DF_PER_TERM = f"""
WITH tok AS (SELECT doc_id, unnest({TOK}) AS term FROM documents)
SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY term
"""


def q_term_lookup(spark, sf_dir):
    # single-term tf is a doc-local count — no explode, no shuffle
    d = _docs_tok(spark, sf_dir)
    tf = F.size(F.filter(F.col("tokens"), lambda x: x == F.lit("spark")))
    return d.select("doc_id", tf.cast("long").alias("tf")).filter(F.col("tf") > 0)


SQL_TERM_LOOKUP = f"""
WITH tok AS (SELECT doc_id, unnest({TOK}) AS term FROM documents)
SELECT doc_id, count(*)::BIGINT AS tf FROM tok WHERE term = 'spark' GROUP BY doc_id
"""


# ---------------------------------------------------------------- BM25

def _bm25_sql(queries: list[tuple[int, str]], k: int = 10, per_query: bool = True) -> str:
    qvals = ", ".join(f"({qid}, '{q}')" for qid, q in queries)
    rank_part = "PARTITION BY query_id " if per_query else ""
    return f"""
WITH tok AS (SELECT doc_id, unnest({TOK}) AS term FROM documents),
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
qraw AS (SELECT * FROM (VALUES {qvals}) AS t(query_id, qtext)),
q AS (SELECT DISTINCT query_id, unnest(list_filter(string_split_regex(lower(qtext), '[^a-z0-9]+'), t -> t <> '')) AS term FROM qraw),
dft AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY 1),
sc AS (
  SELECT q.query_id, tf.doc_id,
         sum( ln((stats.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1.0)
            * tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ) AS score
  FROM tf JOIN q USING(term) JOIN dft USING(term) JOIN dl USING(doc_id) CROSS JOIN stats
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(score, 4) AS score,
         row_number() OVER ({rank_part}ORDER BY round(score, 4) DESC, doc_id ASC) AS rn
  FROM sc)
SELECT CAST(query_id AS INTEGER) AS query_id, doc_id, score FROM ranked WHERE rn <= {k}
"""


def q_bm25_topk(spark, sf_dir):
    res = bm25_topk(spark, _docs_tok(spark, sf_dir), [(0, BM25_QUERY)], k=10)
    return res.select("doc_id", "score")


SQL_BM25_TOPK = f"""
SELECT doc_id, score FROM ({_bm25_sql([(0, BM25_QUERY)])})
"""


def q_bm25_multi(spark, sf_dir):
    return bm25_topk(spark, _docs_tok(spark, sf_dir), MULTI_QUERIES, k=10).select(
        "query_id", "doc_id", "score"
    )


SQL_BM25_MULTI = _bm25_sql(MULTI_QUERIES)


def q_bm25f_topk(spark, sf_dir):
    """R4 (structural-field boost, BM25F): opt-in field-weighted
    scoring — the leading tokens act as the title field (weight 2.5)
    against the body (weight 1.0), the webtext analog of the
    reference's filename/path boosts (src/brain-scorer.ts:226-253)."""
    from ..operators.query import bm25f_topk

    d = _docs_tok(spark, sf_dir).withColumn("title_tokens", F.slice("tokens", 1, 8))
    res = bm25f_topk(spark, d, [(0, BM25_QUERY)],
                     fields=[("tokens", 1.0), ("title_tokens", 2.5)], k=10)
    return res.select("doc_id", "score")


SQL_BM25F_TOPK = f"""
WITH tok AS (SELECT doc_id, unnest({TOK}) AS term FROM documents),
ttl AS (SELECT doc_id, unnest(({TOK})[1:8]) AS term FROM documents),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY 1),
wtf AS (
  SELECT term, doc_id, sum(w) AS wtf FROM (
    SELECT term, doc_id, 1.0 AS w FROM tok
    UNION ALL
    SELECT term, doc_id, 2.5 AS w FROM ttl) GROUP BY 1, 2),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
q AS (SELECT DISTINCT 0 AS query_id, unnest(list_filter(string_split_regex(lower('{BM25_QUERY}'), '[^a-z0-9]+'), t -> t <> '')) AS term),
dft AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM wtf WHERE term IN (SELECT term FROM q) GROUP BY 1),
sc AS (
  SELECT q.query_id, wtf.doc_id,
         sum( ln((stats.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1.0)
            * wtf.wtf * (1.2 + 1.0) / (wtf.wtf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ) AS score
  FROM wtf JOIN q USING(term) JOIN dft USING(term) JOIN dl USING(doc_id) CROSS JOIN stats
  GROUP BY 1, 2),
ranked AS (
  SELECT doc_id, round(score, 4) AS score,
         row_number() OVER (ORDER BY round(score, 4) DESC, doc_id ASC) AS rn
  FROM sc)
SELECT doc_id, score FROM ranked WHERE rn <= 10
"""


def q_wand_multi(spark, sf_dir):
    """THE index round-trip under the oracle gate: build the compressed
    posting-block index over the documents table (once per sf_dir),
    serve the same query set via Block-Max WAND, and map the engine's
    segment-sharded doc ids back to the table's doc_id. Must be
    value-identical to the plain-SQL BM25 oracle — proving codec +
    block-max pruning + per-segment merge change nothing."""
    import hashlib
    import os

    from ..operators.index_build import build_index
    from ..operators.wand import wand_topk

    from ..operators.index_build import INDEX_FORMAT

    tag = hashlib.md5(f"{sf_dir}|v{INDEX_FORMAT}".encode()).hexdigest()[:10]
    idx = f"/tmp/mantic_entry_idx_{tag}"
    if not os.path.exists(f"{idx}/build_manifest"):
        pages = (
            _docs(spark, sf_dir)
            .select(
                F.col("doc_id").cast("string").alias("url"),
                "text",
                "lang",
            )
        )
        build_index(spark, pages, idx, n_segments=4)
    res = wand_topk(spark, idx, MULTI_QUERIES, k=10)
    url_map = spark.read.parquet(f"{idx}/docs").select(
        F.col("doc_id").alias("engine_doc"), F.col("url").cast("long").alias("doc_id")
    )
    return (
        res.withColumnRenamed("doc_id", "engine_doc")
        .join(F.broadcast(url_map), "engine_doc")
        .select("query_id", "doc_id", "score")
    )


SQL_WAND_MULTI = SQL_BM25_MULTI


def q_phrase_index_topk(spark, sf_dir):
    """Positional-index round-trip under the oracle gate: build the
    index with store_positions=True, serve an exact-phrase top-k from
    positional postings, map back to table doc ids — must equal the
    token-position self-join oracle."""
    import hashlib
    import os

    from ..operators.index_build import build_index
    from ..operators.phrase import phrase_topk

    from ..operators.index_build import INDEX_FORMAT

    tag = hashlib.md5(f"{sf_dir}|v{INDEX_FORMAT}".encode()).hexdigest()[:10]
    idx = f"/tmp/mantic_entry_posidx_{tag}"
    if not os.path.exists(f"{idx}/build_manifest"):
        pages = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("url"), "text", "lang"
        )
        build_index(spark, pages, idx, n_segments=4, store_positions=True)
    # k covers every match → the comparison is tie-order-free (the
    # engine's internal tie-break differs from table-doc_id order)
    res = phrase_topk(spark, idx, [(0, " ".join(PHRASE))], k=100000)
    url_map = spark.read.parquet(f"{idx}/docs").select(
        F.col("doc_id").alias("engine_doc"), F.col("url").cast("long").alias("doc_id")
    )
    return (
        res.withColumnRenamed("doc_id", "engine_doc")
        .join(F.broadcast(url_map), "engine_doc")
        .select("doc_id", "n_matches")
    )


PHRASE_SLOP = 2


def q_phrase_slop(spark, sf_dir):
    """Proximity (sloppy) phrase under the oracle gate: positional-index
    round trip with slop=2 — for each start position of the first term,
    the greedy-min continuation must fit within `slop` extra tokens
    (operators/phrase.py _match_count; reference: near-adjacency bonus
    R5, src/brain-scorer.ts:332-360). Reuses the positional index built
    by q_phrase_index_topk."""
    import hashlib
    import os

    from ..operators.index_build import build_index
    from ..operators.phrase import phrase_topk

    from ..operators.index_build import INDEX_FORMAT

    tag = hashlib.md5(f"{sf_dir}|v{INDEX_FORMAT}".encode()).hexdigest()[:10]
    idx = f"/tmp/mantic_entry_posidx_{tag}"
    if not os.path.exists(f"{idx}/build_manifest"):
        pages = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("url"), "text", "lang"
        )
        build_index(spark, pages, idx, n_segments=4, store_positions=True)
    res = phrase_topk(spark, idx, [(0, " ".join(PHRASE))], k=100000, slop=PHRASE_SLOP)
    url_map = spark.read.parquet(f"{idx}/docs").select(
        F.col("doc_id").alias("engine_doc"), F.col("url").cast("long").alias("doc_id")
    )
    return (
        res.withColumnRenamed("doc_id", "engine_doc")
        .join(F.broadcast(url_map), "engine_doc")
        .select("doc_id", "n_matches")
    )


# PHRASE is defined below (shared with the exact-phrase entries); the
# SQL is a positions self-join with the greedy-min-continuation rule.
def _sql_phrase_slop() -> str:
    return f"""
WITH pos AS (
  SELECT doc_id, CAST(x['pos'] AS INTEGER) AS pos, x['token'] AS token FROM (
    SELECT doc_id, unnest(list_transform(range(0, len({TOK})),
           i -> {{'pos': i, 'token': ({TOK})[i + 1]}})) AS x
    FROM documents)),
a AS (SELECT doc_id, pos FROM pos WHERE token = '{PHRASE[0]}'),
b AS (SELECT doc_id, pos FROM pos WHERE token = '{PHRASE[1]}'),
nxt AS (
  SELECT a.doc_id, a.pos, min(b.pos) AS np
  FROM a JOIN b ON b.doc_id = a.doc_id AND b.pos > a.pos
  GROUP BY 1, 2)
SELECT doc_id, count(*)::BIGINT AS n_matches
FROM nxt WHERE np - pos - 1 <= {PHRASE_SLOP} GROUP BY doc_id
"""


# ---------------------------------------------------------------- filters / windows / sets

def q_phrase_match(spark, sf_dir):
    return _docs(spark, sf_dir).filter(F.col("text").contains("spark join")).select("doc_id")


SQL_PHRASE_MATCH = "SELECT doc_id FROM documents WHERE text LIKE '%spark join%'"


def q_topn_per_lang(spark, sf_dir):
    d = _docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3).select(
        "lang", "doc_id", "n_chars"
    )


SQL_TOPN_PER_LANG = """
SELECT lang, doc_id, n_chars FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents) WHERE rn <= 3
"""


def q_stale_diff(spark, sf_dir):
    """A10: snapshot diff — the resume primitive. Both snapshots are
    deterministic filters of the SAME table keyed by the unique doc_id,
    so the full-outer join collapses to a row-local status computation
    (r6, guide §2.4): membership in old/new and the v_old≠v_new test
    are pure functions of (doc_id, n_chars). Zero exchanges; the
    operator-form full_outer diff lives in operators/delete.py."""
    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    in_old = F.pmod(doc, F.lit(5)) != 0
    in_new = F.pmod(doc, F.lit(7)) != 0
    # v_old = n_chars, v_new = n_chars + (doc_id%3==0) → modified iff
    # doc_id%3==0 AND n_chars is non-null (NULL <> NULL is not true in
    # the full-outer form, so a NULL n_chars is never 'modified')
    status = (
        F.when(~in_old & in_new, F.lit("added"))
        .when(in_old & ~in_new, F.lit("deleted"))
        .when(in_old & in_new & (F.pmod(doc, F.lit(3)) == 0) & F.col("n_chars").isNotNull(),
              F.lit("modified"))
    )
    return (
        d.select("doc_id", status.alias("status"))
        .filter(F.col("status").isNotNull())
    )


SQL_STALE_DIFF = """
WITH old AS (SELECT doc_id, n_chars AS v_old FROM documents WHERE doc_id % 5 <> 0),
new AS (SELECT doc_id, n_chars + (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS v_new
        FROM documents WHERE doc_id % 7 <> 0)
SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
       CASE WHEN v_old IS NULL THEN 'added'
            WHEN v_new IS NULL THEN 'deleted'
            WHEN v_old <> v_new THEN 'modified'
            ELSE 'unchanged' END AS status
FROM old FULL OUTER JOIN new USING(doc_id)
WHERE (CASE WHEN v_old IS NULL THEN 'added' WHEN v_new IS NULL THEN 'deleted'
            WHEN v_old <> v_new THEN 'modified' ELSE 'unchanged' END) <> 'unchanged'
"""


def q_union_working_set(spark, sf_dir):
    d = _docs(spark, sf_dir)
    a = d.filter(F.col("lang") == "en").select("doc_id")
    b = d.filter(F.col("source") == "src1").select("doc_id")
    return a.union(b).distinct()


SQL_UNION_WORKING_SET = """
SELECT doc_id FROM documents WHERE lang = 'en'
UNION
SELECT doc_id FROM documents WHERE source = 'src1'
"""


def q_except_retained(spark, sf_dir):
    d = _docs(spark, sf_dir)
    a = d.filter(F.col("lang") == "en").select("doc_id")
    b = d.filter(F.col("n_chars") > 300).select("doc_id")
    return a.exceptAll(b)


SQL_EXCEPT_RETAINED = """
SELECT doc_id FROM documents WHERE lang = 'en'
EXCEPT ALL
SELECT doc_id FROM documents WHERE n_chars > 300
"""


def q_source_histogram(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("source"))
        .limit(3)
    )


SQL_SOURCE_HISTOGRAM = """
SELECT source, count(*)::BIGINT AS cnt FROM documents GROUP BY source
ORDER BY cnt DESC, source ASC LIMIT 3
"""


def q_keyword_overlap(spark, sf_dir):
    terms = dedup.doc_terms(_docs(spark, sf_dir))
    a = terms.select(F.col("doc_id").alias("a"), "term")
    b = terms.select((F.col("doc_id") - 1).alias("a"), "term")
    inter = a.join(b, ["a", "term"]).groupBy("a").agg(F.count(F.lit(1)).alias("ix"))
    sza = terms.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz")).withColumnRenamed("doc_id", "a")
    return (
        inter.join(sza, "a")
        .select(F.col("a").alias("doc_id"), F.round(F.col("ix") / F.col("sz"), 4).alias("overlap"))
    )


SQL_KEYWORD_OVERLAP = f"""
WITH terms AS (SELECT DISTINCT doc_id, unnest({TOK}) AS term FROM documents),
inter AS (SELECT t1.doc_id AS a, count(*)::BIGINT AS ix
          FROM terms t1 JOIN terms t2 ON t2.doc_id = t1.doc_id + 1 AND t2.term = t1.term
          GROUP BY 1),
sz AS (SELECT doc_id AS a, count(*)::BIGINT AS sz FROM terms GROUP BY 1)
SELECT a AS doc_id, round(ix * 1.0 / sz, 4) AS overlap FROM inter JOIN sz USING(a)
"""


# ---------------------------------------------------------------- events (relational ops)

def q_recency_agg(spark, sf_dir):
    e = _events(spark, sf_dir)
    return (
        e.filter(F.col("ts") >= F.lit("2024-01-20 00:00:00").cast("timestamp"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.avg("value"), 4).alias("avg_value"))
    )


SQL_RECENCY_AGG = """
SELECT event_type, count(*)::BIGINT AS cnt, round(avg(value), 4) AS avg_value
FROM events WHERE ts >= TIMESTAMP '2024-01-20 00:00:00' GROUP BY event_type
"""


def q_in_degree(spark, sf_dir):
    e = _events(spark, sf_dir)
    deg = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("indeg"))
    mx = deg.agg(F.max("indeg").alias("mx"))
    return deg.crossJoin(F.broadcast(mx)).select(
        "user_id", "indeg", F.round(F.col("indeg") * 100.0 / F.col("mx"), 4).alias("rank100")
    )


SQL_IN_DEGREE = """
WITH deg AS (SELECT user_id, count(*)::BIGINT AS indeg FROM events GROUP BY 1)
SELECT user_id, indeg, round(indeg * 100.0 / max(indeg) OVER (), 4) AS rank100 FROM deg
"""


def q_score_distribution(spark, sf_dir):
    e = _events(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.round(F.max("value"), 4).alias("max_v"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("med_v"),
        F.round(F.avg("value"), 4).alias("avg_v"),
    )


SQL_SCORE_DISTRIBUTION = """
SELECT event_type, round(max(value), 4) AS max_v,
       round(quantile_cont(value, 0.5), 4) AS med_v,
       round(avg(value), 4) AS avg_v
FROM events GROUP BY event_type
"""


def q_top_revenue(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        o.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .select("c_custkey", "c_name", "revenue")
        .limit(10)
    )


SQL_TOP_REVENUE = """
SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey ASC LIMIT 10
"""


# ---------------------------------------------------------------- text analysis

def q_token_stats(spark, sf_dir):
    return token_stats(_docs(spark, sf_dir))


SQL_TOKEN_STATS = f"""
SELECT doc_id, CAST(len({TOK}) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct({TOK})) AS BIGINT) AS n_distinct,
       CAST(length(text) AS BIGINT) AS n_chars_seen
FROM documents
"""

_SW = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"


def q_quality_score(spark, sf_dir):
    return quality_score(_docs(spark, sf_dir))


# 4-decimal rounding is done in exact int64 space on BOTH engines
# (half-up on the exact rational) — floating-point association at
# half-boundaries differs between engines by 1 ulp otherwise
SQL_QUALITY_SCORE = f"""
WITH t AS (SELECT doc_id, {TOK} AS toks FROM documents),
m AS (SELECT doc_id, len(toks) AS n,
             len(list_filter(toks, x -> list_contains({_SW}, x))) AS n_stop,
             len(list_distinct(toks)) AS n_dist
      FROM t),
s AS (SELECT doc_id, n,
             4 * least(n, 100) * n + 300 * (n_stop + n_dist) AS num,
             1000 * n AS den
      FROM m)
SELECT doc_id,
       CASE WHEN n > 0
            THEN ((20000 * num + den) // (2 * den)) / 10000.0
            ELSE 0.0 END AS quality
FROM s
"""


def q_quality_filter(spark, sf_dir):
    """Gopher-style quality reject rules (training-data curation): hard
    bounds on token count, mean word length, lexical diversity, and
    stopword ratio — the filter op the 100 TB pipeline runs before any
    modeling; per-rule columns kept for auditing."""
    from ..functions.text_analysis import quality_filter

    return quality_filter(_docs(spark, sf_dir), min_tokens=30,
                          min_distinct_ratio=0.2, min_stopword_ratio=0.01)


SQL_QUALITY_FILTER = f"""
WITH t AS (SELECT doc_id, {TOK} AS toks FROM documents),
m AS (SELECT doc_id, len(toks) AS n,
             CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> len(x))) * 1.0 / len(toks)
                  ELSE 0.0 END AS mwl,
             CASE WHEN len(toks) > 0
                  THEN len(list_distinct(toks)) * 1.0 / len(toks) ELSE 0.0 END AS dist,
             CASE WHEN len(toks) > 0
                  THEN len(list_filter(toks, x -> list_contains({_SW}, x))) * 1.0 / len(toks)
                  ELSE 0.0 END AS stop
      FROM t)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, round(mwl, 4) AS mean_word_len,
       round(dist, 4) AS distinct_ratio, round(stop, 4) AS stopword_ratio,
       (n >= 30 AND n <= 100000 AND mwl >= 2.0 AND mwl <= 12.0
        AND dist >= 0.2 AND stop >= 0.01) AS keep
FROM m
"""


def q_lang_id(spark, sf_dir):
    return lang_id(_docs(spark, sf_dir))


SQL_LANG_ID = f"""
WITH t AS (SELECT doc_id, {TOK} AS toks FROM documents),
m AS (SELECT doc_id, len(toks) AS n,
             len(list_filter(toks, x -> list_contains({_SW}, x))) AS n_stop FROM t)
SELECT doc_id, CASE WHEN (CASE WHEN n > 0 THEN n_stop * 1.0 / n ELSE 0.0 END) >= 0.03
                    THEN 'en' ELSE 'other' END AS pred_lang
FROM m
"""


def q_fingerprint(spark, sf_dir):
    return fingerprint(_docs(spark, sf_dir))


SQL_FINGERPRINT = "SELECT doc_id, md5(text) AS fp FROM documents"


def q_rolling_fp(spark, sf_dir):
    return rolling_fingerprints(_docs(spark, sf_dir).filter(F.col("doc_id") < 10), window=8)


SQL_ROLLING_FP = f"""
WITH t AS (SELECT doc_id, {TOK} AS toks FROM documents WHERE doc_id < 10)
SELECT doc_id, CAST(x['pos'] AS INTEGER) AS pos, x['rfp'] AS rfp FROM (
  SELECT doc_id, unnest(list_transform(range(0, len(toks) - 7),
         i -> {{'pos': i, 'rfp': md5(array_to_string(toks[i+1:i+8], ' '))}})) AS x
  FROM t WHERE len(toks) >= 8)
"""


# ---------------------------------------------------------------- dedup

def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_docs(spark, sf_dir))


SQL_DEDUP_EXACT = """
SELECT min(doc_id) AS doc_id, count(*)::BIGINT AS n_dupes
FROM documents GROUP BY md5(text)
"""


def q_minhash_sig(spark, sf_dir):
    return dedup.minhash_signatures(_docs(spark, sf_dir), n_hashes=8)


SQL_MINHASH_SIG = f"""
WITH terms AS (SELECT DISTINCT doc_id, unnest({TOK}) AS term FROM documents),
sigs AS (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS sig_id)
SELECT doc_id, sig_id,
       min(CAST(('0x' || substr(md5(term || '#' || sig_id), 1, 15)) AS BIGINT)) AS minhash
FROM terms CROSS JOIN sigs GROUP BY doc_id, sig_id
"""


def q_simhash(spark, sf_dir):
    return dedup.simhash16(_docs(spark, sf_dir))


SQL_SIMHASH = f"""
WITH tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM
    (SELECT doc_id, unnest({TOK}) AS term FROM documents) GROUP BY 1, 2),
h AS (SELECT doc_id, tf, CAST(('0x' || substr(md5(term || '#sim'), 1, 15)) AS BIGINT) AS h FROM tf),
votes AS (
  SELECT doc_id, bit, CAST(sum((((h >> bit) & 1) * 2 - 1) * tf) AS BIGINT) AS v
  FROM h CROSS JOIN (SELECT CAST(unnest(range(0, 16)) AS INTEGER) AS bit) GROUP BY 1, 2)
SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (1 << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


def q_lsh_pairs(spark, sf_dir):
    """LSH banding end-to-end: MinHash signatures → band keys →
    candidate pairs via band-key equi-join (the O(n²)-killer). The md5
    hash family makes even the banding oracle-reproducible."""
    return dedup.lsh_candidate_pairs(_docs(spark, sf_dir), n_hashes=8, band_size=4)


SQL_LSH_PAIRS = f"""
WITH terms AS (SELECT DISTINCT doc_id, unnest({TOK}) AS term FROM documents),
sigs AS (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS sig_id),
mh AS (SELECT doc_id, sig_id,
       min(CAST(('0x' || substr(md5(term || '#' || sig_id), 1, 15)) AS BIGINT)) AS minhash
       FROM terms CROSS JOIN sigs GROUP BY doc_id, sig_id),
bands AS (SELECT doc_id, sig_id // 4 AS band,
          md5(string_agg(minhash::VARCHAR, ',' ORDER BY sig_id)) AS band_key
          FROM mh GROUP BY doc_id, band)
SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
FROM bands l JOIN bands r ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
"""


def q_exact_clusters(spark, sf_dir):
    """Exact-duplicate cluster assignment (doc_id, rep_id,
    cluster_size) — the collapse step near_dup_pairs runs before LSH
    banding so an identical-doc mega-cluster contributes one
    representative row instead of d(d-1)/2 candidate pairs per band."""
    return dedup.exact_clusters(_docs(spark, sf_dir))


SQL_EXACT_CLUSTERS = """
WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
reps AS (SELECT h, min(doc_id) AS rep_id, count(*)::BIGINT AS cluster_size
         FROM h GROUP BY h)
SELECT doc_id, rep_id, cluster_size FROM h JOIN reps USING (h)
"""


def q_lsh_pairs_capped(spark, sf_dir):
    """LSH candidates with the duplication-skew bucket cap: band
    buckets wider than max_bucket are dropped from the candidate join
    (their width is surfaced by dedup.lsh_bucket_audit)."""
    return dedup.lsh_candidate_pairs(_docs(spark, sf_dir), n_hashes=8, band_size=4,
                                     max_bucket=16)


SQL_LSH_PAIRS_CAPPED = f"""
WITH terms AS (SELECT DISTINCT doc_id, unnest({TOK}) AS term FROM documents),
sigs AS (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS sig_id),
mh AS (SELECT doc_id, sig_id,
       min(CAST(('0x' || substr(md5(term || '#' || sig_id), 1, 15)) AS BIGINT)) AS minhash
       FROM terms CROSS JOIN sigs GROUP BY doc_id, sig_id),
bands AS (SELECT doc_id, sig_id // 4 AS band,
          md5(string_agg(minhash::VARCHAR, ',' ORDER BY sig_id)) AS band_key
          FROM mh GROUP BY doc_id, band),
capped AS (SELECT * FROM (
  SELECT doc_id, band, band_key,
         count(*) OVER (PARTITION BY band, band_key) AS width FROM bands)
  WHERE width <= 16)
SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
FROM capped l JOIN capped r
  ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
"""


def q_jaccard_pairs(spark, sf_dir):
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 150)
    sh = dedup.doc_terms(d).withColumnRenamed("term", "shingle")
    return dedup.jaccard_pairs(sh, threshold=0.15)


SQL_JACCARD_PAIRS = f"""
WITH terms AS (SELECT DISTINCT doc_id, unnest({TOK}) AS term FROM documents WHERE doc_id < 150),
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM terms GROUP BY 1),
ix AS (SELECT t1.doc_id AS a, t2.doc_id AS b, count(*)::BIGINT AS ix
       FROM terms t1 JOIN terms t2 ON t1.term = t2.term AND t1.doc_id < t2.doc_id
       GROUP BY 1, 2)
SELECT a, b, jac FROM (
  SELECT a, b, round(ix * 1.0 / (s1.sz + s2.sz - ix), 4) AS jac
  FROM ix JOIN sz s1 ON s1.doc_id = a JOIN sz s2 ON s2.doc_id = b)
WHERE jac >= 0.15
"""


def q_shingles_sample(spark, sf_dir):
    return dedup.ngram_shingles(_docs(spark, sf_dir).filter(F.col("doc_id") < 20), n=3)


SQL_SHINGLES_SAMPLE = f"""
WITH t AS (SELECT doc_id, {TOK} AS toks FROM documents WHERE doc_id < 20)
SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(toks) - 1),
       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
FROM t WHERE len(toks) >= 3
"""


# ---------------------------------------------------------------- fuzzy / classify / graph

FUZZY_Q = "windoq"  # one edit away from 'window'


def q_fuzzy_closest(spark, sf_dir):
    """T7/T8 + J7: Levenshtein closest-match top-3 over the term
    vocabulary (reference: src/entity-extractor.ts:112-174 — exact→1.0,
    substring→0.9, else 1 − dist/maxLen; filter ≥ threshold, take 3)."""
    # the df counts were never used — distinct terms suffice, so skip
    # the per-doc tf machinery entirely (r6): one distinct over bare
    # doc-local term sets, then TakeOrderedAndProject
    terms = (
        _docs_tok(spark, sf_dir)
        .select(F.explode(F.array_distinct("tokens")).alias("term"))
        .distinct()
    )
    q = F.lit(FUZZY_Q)
    sim = (
        F.when(F.col("term") == q, F.lit(1.0))
        .when(F.col("term").contains(q) | q.contains(F.col("term")), F.lit(0.9))
        .otherwise(1.0 - F.levenshtein("term", q) / F.greatest(F.length("term"), F.length(q)))
    )
    return (
        terms.select("term", F.round(sim, 4).alias("sim"))
        .filter(F.col("sim") >= 0.5)
        .orderBy(F.desc("sim"), F.asc("term"))
        .limit(3)
    )


SQL_FUZZY_CLOSEST = f"""
WITH terms AS (SELECT DISTINCT unnest({TOK}) AS term FROM documents),
s AS (SELECT term,
        round(CASE WHEN term = '{FUZZY_Q}' THEN 1.0
                   WHEN term LIKE '%{FUZZY_Q}%' OR '{FUZZY_Q}' LIKE '%' || term || '%' THEN 0.9
                   ELSE 1.0 - levenshtein(term, '{FUZZY_Q}') * 1.0
                        / greatest(length(term), length('{FUZZY_Q}')) END, 4) AS sim
      FROM terms)
SELECT term, sim FROM s WHERE sim >= 0.5 ORDER BY sim DESC, term ASC LIMIT 3
"""


def q_doc_classify(spark, sf_dir):
    """P5/P6: ordered classification chain (reference: path →
    code|config|test|docs|generated|other, src/file-classifier.ts:86-130)
    re-expressed on webtext metadata, plus the per-class rollup."""
    d = _docs(spark, sf_dir)
    cls = (
        F.when(F.col("lang") != "en", F.lit("foreign"))
        .when(F.col("n_chars") < 120, F.lit("stub"))
        .when(F.col("text").contains("window"), F.lit("reference"))
        .when(F.col("n_chars") > 400, F.lit("longform"))
        .otherwise(F.lit("other"))
    )
    return (
        d.select("doc_id", cls.alias("doc_class"))
        .groupBy("doc_class")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("doc_id").alias("first_doc"))
    )


SQL_DOC_CLASSIFY = """
WITH c AS (SELECT doc_id,
        CASE WHEN lang <> 'en' THEN 'foreign'
             WHEN n_chars < 120 THEN 'stub'
             WHEN text LIKE '%window%' THEN 'reference'
             WHEN n_chars > 400 THEN 'longform'
             ELSE 'other' END AS doc_class
      FROM documents)
SELECT doc_class, count(*)::BIGINT AS cnt, min(doc_id) AS first_doc FROM c GROUP BY doc_class
"""


def q_token_positions(spark, sf_dir):
    """T9: positional split — posexplode gives (doc_id, pos, token),
    the positional-postings primitive (reference splits content to
    lines and reports line positions, src/smart-filter.ts:670-735)."""
    d = _docs_tok(spark, sf_dir).filter(F.col("doc_id") < 5)
    return d.select("doc_id", F.posexplode("tokens").alias("pos", "token"))


SQL_TOKEN_POSITIONS = f"""
WITH t AS (SELECT doc_id, {TOK} AS toks FROM documents WHERE doc_id < 5)
SELECT doc_id, CAST(x['pos'] AS INTEGER) AS pos, x['token'] AS token FROM (
  SELECT doc_id, unnest(list_transform(range(0, len(toks)),
         i -> {{'pos': i, 'token': toks[i + 1]}})) AS x
  FROM t)
"""


def q_two_hop(spark, sf_dir):
    """J4: 2-hop neighborhood via self-join (reference: dependents of
    dependents, src/impact-analyzer.ts:157-169) — parts co-supplied
    with part 1 through shared suppliers, excluding part 1 itself."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = li.select("l_partkey", "l_suppkey").distinct()
    e1 = edges.filter(F.col("l_partkey") == 1).select("l_suppkey")
    return (
        edges.join(F.broadcast(e1), "l_suppkey")
        .filter(F.col("l_partkey") != 1)
        .select("l_partkey")
        .distinct()
    )


SQL_TWO_HOP = """
WITH edges AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
hop1 AS (SELECT l_suppkey FROM edges WHERE l_partkey = 1)
SELECT DISTINCT l_partkey FROM edges JOIN hop1 USING(l_suppkey) WHERE l_partkey <> 1
"""


def q_canonical_groups(spark, sf_dir):
    """J8: canonical-duplicate grouping (reference: group results by
    suffix-stripped base name, src/canonical-analyzer.ts:27-113) —
    canonical member = min doc_id per (source, lang) family."""
    d = _docs(spark, sf_dir)
    return d.groupBy("source", "lang").agg(
        F.min("doc_id").alias("canonical_doc"),
        F.count(F.lit(1)).alias("n_members"),
        F.max("n_chars").alias("max_chars"),
    )


SQL_CANONICAL_GROUPS = """
SELECT source, lang, min(doc_id) AS canonical_doc, count(*)::BIGINT AS n_members,
       max(n_chars) AS max_chars
FROM documents GROUP BY source, lang
"""


def q_context_boost(spark, sf_dir):
    """J6/R13: broadcast semi-join context boost (reference: +150 for
    docs in the session/context set, src/smart-filter.ts:770-781)."""
    d = _docs(spark, sf_dir)
    ctx = d.filter(F.col("lang") == "de").select("doc_id").withColumn("in_ctx", F.lit(1))
    j = d.join(F.broadcast(ctx), "doc_id", "left")
    boosted = F.col("n_chars") + F.when(F.col("in_ctx").isNotNull(), 150).otherwise(0)
    return j.select("doc_id", boosted.cast("long").alias("boosted_score"))


SQL_CONTEXT_BOOST = """
SELECT doc_id, CAST(n_chars + CASE WHEN doc_id IN
         (SELECT doc_id FROM documents WHERE lang = 'de') THEN 150 ELSE 0 END AS BIGINT)
       AS boosted_score
FROM documents
"""


def q_blast_radius(spark, sf_dir):
    """A7: weighted blast-radius score + bucketize (reference:
    10·direct + 3·indirect + 2·tests capped at 100 then bucketed,
    src/impact-analyzer.ts:112-140) over per-user event fanout."""
    e = _events(spark, sf_dir)
    agg = e.groupBy("user_id").agg(
        F.count_distinct("event_type").alias("direct"),
        F.count(F.lit(1)).alias("indirect"),
    )
    radius = F.least(F.lit(100), 10 * F.col("direct") + 3 * F.col("indirect"))
    bucket = (
        F.when(radius < 20, "small")
        .when(radius < 50, "medium")
        .when(radius < 80, "large")
        .otherwise("critical")
    )
    return agg.select(
        "user_id", radius.cast("long").alias("radius"), bucket.alias("bucket")
    )


SQL_BLAST_RADIUS = """
WITH a AS (SELECT user_id, count(DISTINCT event_type) AS direct, count(*) AS indirect
           FROM events GROUP BY user_id),
r AS (SELECT user_id, least(100, 10 * direct + 3 * indirect) AS radius FROM a)
SELECT user_id, CAST(radius AS BIGINT) AS radius,
       CASE WHEN radius < 20 THEN 'small' WHEN radius < 50 THEN 'medium'
            WHEN radius < 80 THEN 'large' ELSE 'critical' END AS bucket
FROM r
"""


PHRASE = ("spark", "join")


SQL_PHRASE_INDEX_TOPK = f"""
WITH pos AS (
  SELECT doc_id, CAST(x['pos'] AS INTEGER) AS pos, x['token'] AS token FROM (
    SELECT doc_id, unnest(list_transform(range(0, len({TOK})),
           i -> {{'pos': i, 'token': ({TOK})[i + 1]}})) AS x
    FROM documents))
SELECT a.doc_id, count(*)::BIGINT AS n_matches
FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
WHERE a.token = '{PHRASE[0]}' AND b.token = '{PHRASE[1]}'
GROUP BY a.doc_id
"""


def q_phrase_positions(spark, sf_dir):
    """R3/R5 analog: exact-phrase match via POSITIONAL intersection —
    posexplode to (doc_id, pos, token), self-join on pos+1 (reference:
    in-order path-sequence matching, src/brain-scorer.ts:286-360).
    Returns matching docs with the match count."""
    # adjacency is a doc-local property: count positions i with
    # tokens[i] = a and tokens[i+1] = b in one HOF pass — no posexplode,
    # no self-join, no shuffle (r6, guide §2.4). The empty-array explode
    # trick keeps the whole computation single-evaluation per doc.
    d = _docs_tok(spark, sf_dir)

    def _with_toks(tk):
        n = F.size(tk)
        idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
            F.array().cast("array<int>")
        )
        cnt = F.size(
            F.filter(
                idx,
                lambda i: (F.get(tk, i - 1) == F.lit(PHRASE[0]))
                & (F.get(tk, i) == F.lit(PHRASE[1])),
            )
        ).cast("long")
        return F.when(cnt > 0, F.array(cnt)).otherwise(F.array().cast("array<bigint>"))

    arr = F.get(F.transform(F.array(F.col("tokens")), _with_toks), 0)
    return d.select("doc_id", F.explode(arr).alias("n_matches"))


SQL_PHRASE_POSITIONS = f"""
WITH pos AS (
  SELECT doc_id, CAST(x['pos'] AS INTEGER) AS pos, x['token'] AS token FROM (
    SELECT doc_id, unnest(list_transform(range(0, len({TOK})),
           i -> {{'pos': i, 'token': ({TOK})[i + 1]}})) AS x
    FROM documents))
SELECT a.doc_id, count(*)::BIGINT AS n_matches
FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
WHERE a.token = '{PHRASE[0]}' AND b.token = '{PHRASE[1]}'
GROUP BY a.doc_id
"""


def q_event_window_agg(spark, sf_dir):
    """ST-analog: event-time tumbling-window aggregation (F.window —
    the same operator Structured Streaming uses with a watermark; here
    exercised in batch so the oracle can replay it)."""
    e = _events(spark, sf_dir)
    w = F.window("ts", "1 day")
    return (
        e.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
        .filter(F.col("cnt") >= 5)
    )


SQL_EVENT_WINDOW_AGG = """
SELECT date_trunc('day', ts) AS win_start, event_type,
       count(*)::BIGINT AS cnt, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2 HAVING count(*) >= 5
"""


def q_regex_extract(spark, sf_dir):
    """T4/T5 analog: regex extraction over content — pull all distinct
    4+-letter capitalized-looking tokens per doc via regexp_extract_all
    (reference: import/export regex extraction over file content,
    src/dependency-graph.ts:38-228; webtext analog = href/entity pulls)."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
    hits = F.array_distinct(F.regexp_extract_all("text", F.lit(r"\b(co\w{4,})\b"), 1))
    return d.select("doc_id", F.explode(hits).alias("hit"))


SQL_REGEX_EXTRACT = r"""
SELECT doc_id, unnest(list_distinct(regexp_extract_all(text, '\b(co\w{4,})\b', 1))) AS hit
FROM documents WHERE doc_id < 50
"""


def q_confidence(spark, sf_dir):
    """R14: per-result confidence — blend of score/median (0.6) and
    score/avg (0.4) over the result set (reference:
    src/file-metadata.ts:80-104, src/process-request.ts:29)."""
    e = _events(spark, sf_dir)
    scores = e.groupBy("user_id").agg(F.sum("value").alias("score"))
    stats = scores.agg(
        F.expr("percentile(score, 0.5)").alias("med"), F.avg("score").alias("avg")
    )
    return scores.crossJoin(F.broadcast(stats)).select(
        "user_id",
        F.round(
            0.6 * F.col("score") / F.col("med") + 0.4 * F.col("score") / F.col("avg"), 4
        ).alias("confidence"),
    )


SQL_CONFIDENCE = """
WITH s AS (SELECT user_id, sum(value) AS score FROM events GROUP BY 1),
st AS (SELECT quantile_cont(score, 0.5) AS med, avg(score) AS avg FROM s)
SELECT user_id, round(0.6 * score / med + 0.4 * score / avg, 4) AS confidence
FROM s CROSS JOIN st
"""


# ---------------------------------------------------------------- similarity

def q_ann_cosine_topk(spark, sf_dir):
    # query vector stays a one-row broadcast DataFrame — the old
    # .first() ran a separate driver-side job inside the timed region
    emb = _emb(spark, sf_dir)
    qdf = emb.filter(F.col("vec_id") == 0)
    return similarity.cosine_topk_df(emb, qdf, k=10, exclude_id=0).select("vec_id", "cos")


SQL_ANN_COSINE_TOPK = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
s AS (SELECT e.vec_id,
        list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))) AS dot,
        sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
        sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0)
SELECT vec_id, cos FROM (
  SELECT vec_id, round(dot / (na * nb), 4) AS cos FROM s)
ORDER BY cos DESC, vec_id ASC LIMIT 10
"""


def q_near_dup_exact(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs — the EXACT all-pairs
    baseline the LSH-bucketed scale path (similarity.
    embedding_near_dup_pairs) approximates. Oracle-scale only by
    design: a<b self-join with the cosine as a Catalyst zip_with/
    aggregate fold (no UDF); at production scale the bucketed variant
    bounds candidates. Threshold 0.4 is calibrated to the synthetic
    embeddings table (its clusters top out at cos ≈ 0.51)."""
    emb = _emb(spark, sf_dir)
    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(F.aggregate(
        c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    pairs = a.join(b, F.col("a") < F.col("b"))
    cos = F.round(dot / (norm(F.col("va")) * norm(F.col("vb"))), 4)
    return pairs.select("a", "b", cos.alias("cos")).filter(F.col("cos") >= 0.4)


SQL_NEAR_DUP_EXACT = """
WITH e AS (SELECT vec_id, embedding FROM embeddings)
SELECT x.vec_id AS a, y.vec_id AS b,
       round(
         list_sum(list_transform(range(1, len(x.embedding) + 1),
             i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
          * sqrt(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))),
         4) AS cos
FROM e x JOIN e y ON x.vec_id < y.vec_id
WHERE round(
         list_sum(list_transform(range(1, len(x.embedding) + 1),
             i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
          * sqrt(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))),
         4) >= 0.4
"""


def q_tiered_rank(spark, sf_dir):
    """R1 exact-match tiers under the oracle gate (opt-in mode): tier 0
    = ALL query terms inside the title window (first 8 tokens), tier 1
    = inside the lead window (first 30), tier 2 = body-only; BM25 order
    within a tier (reference tier ladder, src/brain-scorer.ts:226-253)."""
    from ..operators.query import tiered_topk

    d = (
        _docs_tok(spark, sf_dir)
        .withColumn("title_tokens", F.slice("tokens", 1, 8))
        .withColumn("lead_tokens", F.slice("tokens", 1, 30))
    )
    res = tiered_topk(spark, d, [(0, BM25_QUERY)],
                      tier_fields=["title_tokens", "lead_tokens"], k=10)
    return res.select("doc_id", F.col("tier").cast("int").alias("tier"), "score")


def _sql_tiered_rank() -> str:
    from ..functions.tokenize import tokenize_query

    qset = sorted(set(tokenize_query(BM25_QUERY)))
    qlit = "[" + ", ".join(f"'{t}'" for t in qset) + "]"
    return f"""
WITH tok AS (SELECT doc_id, unnest({TOK}) AS term FROM documents),
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
q AS (SELECT DISTINCT 0 AS query_id, unnest(list_filter(string_split_regex(lower('{BM25_QUERY}'), '[^a-z0-9]+'), t -> t <> '')) AS term),
dft AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY 1),
sc AS (
  SELECT tf.doc_id,
         sum( ln((stats.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1.0)
            * tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ) AS score
  FROM tf JOIN q USING(term) JOIN dft USING(term) JOIN dl USING(doc_id) CROSS JOIN stats
  GROUP BY 1),
tiers AS (
  SELECT doc_id,
         CASE WHEN list_has_all(({TOK})[1:8], {qlit}) THEN 0
              WHEN list_has_all(({TOK})[1:30], {qlit}) THEN 1
              ELSE 2 END AS tier
  FROM documents),
ranked AS (
  SELECT sc.doc_id, tiers.tier, round(sc.score, 4) AS score,
         row_number() OVER (ORDER BY tiers.tier ASC, round(sc.score, 4) DESC, sc.doc_id ASC) AS rn
  FROM sc JOIN tiers USING (doc_id))
SELECT doc_id, CAST(tier AS INTEGER) AS tier, score FROM ranked WHERE rn <= 10
"""


def q_semantic_rerank(spark, sf_dir):
    """R15 end-to-end under the oracle gate: BM25 top-50 candidates →
    deterministic feature-hashing embeddings (md5 60-bit buckets, ±1
    sign, L2 norm) → cosine vs the query vector → top-10. Same algebra
    as the reference's MiniLM rerank (src/semantic-scorer.ts:157-244);
    the neural swap point is hashed_embeddings (see docstring)."""
    from ..functions.tokenize import tokenize_query
    from ..operators.similarity import semantic_rerank

    d = _docs_tok(spark, sf_dir)
    cand = bm25_topk(spark, d, [(0, BM25_QUERY)], k=50).select("doc_id")
    return semantic_rerank(d, cand, tokenize_query(BM25_QUERY), dim=32, k=10).select(
        "doc_id", "cos"
    )


def _sql_semantic_rerank() -> str:
    from ..functions.tokenize import tokenize_query
    from ..operators.similarity import hash_embed_query

    qvec = hash_embed_query(tokenize_query(BM25_QUERY), 32)
    qvals = ", ".join(f"({i}, {v!r})" for i, v in enumerate(qvec) if v != 0.0)
    h = "('0x'||substr(md5(term||'#emb'),1,15))::BIGINT"
    return f"""
WITH cand AS (SELECT doc_id FROM ({_bm25_sql([(0, BM25_QUERY)], k=50)})),
ct AS (SELECT doc_id, unnest({TOK}) AS term FROM documents
       WHERE doc_id IN (SELECT doc_id FROM cand)),
hb AS (SELECT doc_id,
              CAST({h} % 32 AS INT) AS bucket,
              CASE WHEN ({h} >> 40) & 1 = 1 THEN 1.0 ELSE -1.0 END AS sgn
       FROM ct),
vec AS (SELECT doc_id, bucket, sum(sgn) AS v FROM hb GROUP BY 1, 2),
nrm AS (SELECT doc_id, sqrt(sum(v * v)) AS n FROM vec GROUP BY 1),
qv AS (SELECT * FROM (VALUES {qvals}) AS t(bucket, qval)),
dot AS (SELECT vec.doc_id, sum(vec.v * qv.qval) AS d FROM vec JOIN qv USING(bucket) GROUP BY 1),
cs AS (SELECT nrm.doc_id,
              round(CASE WHEN nrm.n = 0 THEN 0.0
                         ELSE coalesce(dot.d, 0.0) / nrm.n END, 4) AS cos
       FROM nrm LEFT JOIN dot ON nrm.doc_id = dot.doc_id),
ranked AS (SELECT doc_id, cos, row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS rn FROM cs)
SELECT doc_id, cos FROM ranked WHERE rn <= 10
"""


# ---------------------------------------------------------------- registry

REGISTRY: dict[str, tuple] = {
    # name: (spark_fn, oracle_sql_or_None)
    "doc_stats": (q_doc_stats, SQL_DOC_STATS),
    "collection_stats": (q_collection_stats, SQL_COLLECTION_STATS),
    "tf_triples": (q_tf_triples, SQL_TF_TRIPLES),
    "df_per_term": (q_df_per_term, SQL_DF_PER_TERM),
    "term_lookup": (q_term_lookup, SQL_TERM_LOOKUP),
    "bm25_topk": (q_bm25_topk, SQL_BM25_TOPK),
    "bm25_multi": (q_bm25_multi, SQL_BM25_MULTI),
    "bm25f_topk": (q_bm25f_topk, SQL_BM25F_TOPK),
    "wand_multi": (q_wand_multi, SQL_WAND_MULTI),
    "phrase_match": (q_phrase_match, SQL_PHRASE_MATCH),
    "topn_per_lang": (q_topn_per_lang, SQL_TOPN_PER_LANG),
    "stale_diff": (q_stale_diff, SQL_STALE_DIFF),
    "union_working_set": (q_union_working_set, SQL_UNION_WORKING_SET),
    "except_retained": (q_except_retained, SQL_EXCEPT_RETAINED),
    "source_histogram": (q_source_histogram, SQL_SOURCE_HISTOGRAM),
    "keyword_overlap": (q_keyword_overlap, SQL_KEYWORD_OVERLAP),
    "recency_agg": (q_recency_agg, SQL_RECENCY_AGG),
    "in_degree": (q_in_degree, SQL_IN_DEGREE),
    "score_distribution": (q_score_distribution, SQL_SCORE_DISTRIBUTION),
    "top_revenue": (q_top_revenue, SQL_TOP_REVENUE),
    "token_stats": (q_token_stats, SQL_TOKEN_STATS),
    "quality_score": (q_quality_score, SQL_QUALITY_SCORE),
    "quality_filter": (q_quality_filter, SQL_QUALITY_FILTER),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "doc_fingerprint": (q_fingerprint, SQL_FINGERPRINT),
    "rolling_fp": (q_rolling_fp, SQL_ROLLING_FP),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "minhash_sig": (q_minhash_sig, SQL_MINHASH_SIG),
    "simhash16": (q_simhash, SQL_SIMHASH),
    "lsh_pairs": (q_lsh_pairs, SQL_LSH_PAIRS),
    "exact_clusters": (q_exact_clusters, SQL_EXACT_CLUSTERS),
    "lsh_pairs_capped": (q_lsh_pairs_capped, SQL_LSH_PAIRS_CAPPED),
    "jaccard_pairs": (q_jaccard_pairs, SQL_JACCARD_PAIRS),
    "shingles_sample": (q_shingles_sample, SQL_SHINGLES_SAMPLE),
    "ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN_COSINE_TOPK),
    "near_dup_exact": (q_near_dup_exact, SQL_NEAR_DUP_EXACT),
    "semantic_rerank": (q_semantic_rerank, _sql_semantic_rerank()),
    "tiered_rank": (q_tiered_rank, _sql_tiered_rank()),
    "fuzzy_closest": (q_fuzzy_closest, SQL_FUZZY_CLOSEST),
    "doc_classify": (q_doc_classify, SQL_DOC_CLASSIFY),
    "token_positions": (q_token_positions, SQL_TOKEN_POSITIONS),
    "two_hop": (q_two_hop, SQL_TWO_HOP),
    "canonical_groups": (q_canonical_groups, SQL_CANONICAL_GROUPS),
    "context_boost": (q_context_boost, SQL_CONTEXT_BOOST),
    "blast_radius": (q_blast_radius, SQL_BLAST_RADIUS),
    "phrase_index_topk": (q_phrase_index_topk, SQL_PHRASE_INDEX_TOPK),
    "phrase_positions": (q_phrase_positions, SQL_PHRASE_POSITIONS),
    "phrase_slop": (q_phrase_slop, _sql_phrase_slop()),
    "event_window_agg": (q_event_window_agg, SQL_EVENT_WINDOW_AGG),
    "regex_extract": (q_regex_extract, SQL_REGEX_EXTRACT),
    "confidence": (q_confidence, SQL_CONFIDENCE),
}
