"""pages → docs: deterministic doc-id assignment, doc/collection stats.

Reference analogs: FileEntry construction (src/types.ts:88-107), the
precompute projection hoist (src/brain-scorer.ts:113-137 — P3 in
SURVEY.md), totalFiles / size metadata (src/types.ts:134,
src/file-metadata.ts:20-43).

Doc-id scheme (SURVEY.md §7 watch-list #7): ids must be reproducible
across reruns and independent of task scheduling. We bucket rows by
pmod(xxhash64(url), n_segments) — the segment — order by url within a
segment, and add a per-segment base offset. Offsets are spaced by a
fixed stride (capacity per segment) so ids are deterministic even
without knowing other segments' exact counts, segments own disjoint
contiguous id ranges (what makes posting-block concatenation and
k-way merge cheap), and chunk salts are pure functions of doc_id.

Cost at scale: one hash-partitioned shuffle of (url,text,…) — the same
shuffle any dedup/bucketing pass needs — plus a per-segment sort that
Spark executes as a local sort within partitions (no extra shuffle:
repartition(segment) aligns partitioning with the window spec).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.tokenize import token_count_col, tokens_col

# Each segment owns doc ids [seg * SEG_STRIDE, seg * SEG_STRIDE + count).
# 2^40 capacity per segment supports ~10^12 docs per segment; with up
# to 2^23 segments the id space stays inside int64. Defined in
# functions/codec.py (the encoder derives segment/salt from doc_id).
from ..functions.codec import SEG_STRIDE  # noqa: E402
# Salted range-chunk inside a segment: postings for one (term, chunk)
# encode together; chunks concatenate in doc-id order with no re-sort.
CHUNK_SIZE = 1 << 14
# Target docs row-group size. At Spark's default (128 MB) a whole
# segment is ONE row group, and a serving read of ≤k result docs would
# decompress every touched segment's full url/text chunks. Small row
# groups let serve.IndexReader._doc_fields decode only the row groups
# whose doc_id statistics hold the ids. parquet-mr checks the size no
# earlier than every 100 rows, so short docs land in 100-row groups.
DOCS_ROW_GROUP_BYTES = 64 * 1024


def write_docs(df: DataFrame, path: str, mode: str = "overwrite",
               partitioned: bool = True) -> None:
    """The ONLY docs-table writer (build docs stage, extend/upsert
    appends, purge rewrites) — it fixes the row-group size the serving
    reader's pruning relies on.

    partitioned=True writes the hive table root (partitionBy
    segment_id); the caller's rows must already be doc_id-ordered
    within each segment (build_docs' window order is), so every file's
    row groups cover disjoint, ascending doc_id ranges. partitioned=False
    rewrites ONE segment dir: the rows are gathered into one file sorted
    by doc_id, whatever plan (broadcast or sort-merge anti-join)
    produced them. Layout only decides how many row groups a fetch
    decodes; the reader checks every row group's statistics, so any
    layout still reads correctly."""
    if not partitioned:
        df = df.coalesce(1).sortWithinPartitions("doc_id")
    w = df.write.mode(mode).option("parquet.block.size", DOCS_ROW_GROUP_BYTES)
    if partitioned:
        w = w.partitionBy("segment_id")
    w.parquet(path)


def build_docs(
    pages: DataFrame,
    n_segments: int = 8,
    segment_offset: int = 0,
    chunk_size: int = CHUNK_SIZE,
) -> DataFrame:
    """→ (doc_id, url, text, lang, warc_ts, doc_len, segment_id, salt, tokens).

    Deterministic for a given (pages content, n_segments, segment_offset)
    regardless of input partitioning or parallelism. segment_offset lets
    incremental builds allocate FRESH segment ids (and hence fresh,
    disjoint doc-id ranges) for newly arrived pages — the ST2 path.
    """
    # html is never persisted in docs — drop it BEFORE the segment
    # shuffle (it is the fattest column of the pages table; shipping it
    # through the exchange just to drop it afterwards dominated the
    # docs-stage shuffle volume)
    if "html" in pages.columns:
        pages = pages.drop("html")
    seg = (F.pmod(F.xxhash64("url"), F.lit(n_segments)) + F.lit(segment_offset)).cast("int")
    df = pages.withColumn("segment_id", seg)
    df = df.repartition(n_segments, "segment_id")
    w = Window.partitionBy("segment_id").orderBy("url")
    df = df.withColumn("rn", F.row_number().over(w) - F.lit(1))
    df = df.withColumn("doc_id", F.col("segment_id").cast("long") * F.lit(SEG_STRIDE) + F.col("rn"))
    df = df.withColumn("salt", (F.col("rn") / F.lit(chunk_size)).cast("int"))
    df = df.withColumn("tokens", tokens_col("text"))
    # doc_len via the count-only tokenizer form: consumers that drop
    # `tokens` before writing (the docs stage does) then never build
    # the token-string array at all — Catalyst prunes it, and the
    # count form's regexp_count allocates no per-token strings
    # (measured GC-bound across executor JVMs; functions/tokenize.py)
    df = df.withColumn("doc_len", token_count_col("text"))
    return df.drop("rn", "html")


def doc_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, doc_len, segment_id) — the norms sidecar."""
    return docs.select("doc_id", "doc_len", "segment_id")


def collection_stats(docs: DataFrame) -> DataFrame:
    """Single row: n_docs, avgdl (src/types.ts:134 totalFiles analog)."""
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
    )
