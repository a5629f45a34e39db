"""Plan-quality assertions: pushdown, pruning, broadcast — the scale
guarantees (SURVEY.md §4) checked on the actual physical plans."""

from pyspark.sql import functions as F

from mantic_sh_spark.functions.tokenize import tokens_col
from mantic_sh_spark.operators.query import bm25_scores, query_terms_df
from mantic_sh_spark.plans.explain import (
    explain_str,
    has_broadcast_join,
    has_pushed_filter,
    read_schema_columns,
)

SF = "/root/testdata/sf0.001"


def test_term_filter_pushes_down_to_postings_scan(spark, small_corpus):
    # postings are keyed by the dictionary-encoded int64 tid; resolve the
    # query terms through the terms directory exactly like wand_topk does
    from mantic_sh_spark.operators.wand import _term_meta
    from mantic_sh_spark.sources.catalog import IndexPaths

    meta = _term_meta(spark, IndexPaths(small_corpus["index_dir"]), ["w1x", "w2x"])
    tids = [m[1] for m in meta.values() if m[0] > 0]
    assert len(tids) == 2
    blocks = spark.read.parquet(f"{small_corpus['index_dir']}/postings").filter(
        F.col("tid").isin(tids)
    )
    assert has_pushed_filter(blocks, "tid"), explain_str(blocks)[:2000]


def test_docs_scan_prunes_columns(spark, small_corpus):
    docs = spark.read.parquet(f"{small_corpus['index_dir']}/docs").select("doc_id", "doc_len")
    cols = read_schema_columns(docs)
    assert "text" not in cols and "url" not in cols, cols


def test_query_term_join_is_broadcast(spark):
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .withColumn("tokens", tokens_col("text", camel=False))
        .withColumn("doc_len", F.size("tokens"))
    )
    qt = query_terms_df(spark, [(0, "spark join window")])
    scored = bm25_scores(docs, qt)
    assert has_broadcast_join(scored), explain_str(scored)[:3000]


def test_segment_partition_pruning(spark, small_corpus):
    one_seg = spark.read.parquet(f"{small_corpus['index_dir']}/postings").filter(
        F.col("segment_id") == 1
    )
    plan = explain_str(one_seg)
    # partition filter must appear as PartitionFilters, not a post-scan Filter
    assert "PartitionFilters" in plan and "segment_id" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
