"""ZipNum-style sharded capture index: sorted CDX(J) lines packed into
independently-gzipped blocks of N lines, plus a small secondary index of
``first-key<TAB>part<TAB>offset<TAB>length<TAB>n_lines`` per block. This
is the publicly-documented layout pywb/OpenWayback serve binary-
searchable CDX from ("ZipNum Sharded Index") and the shape of Common
Crawl's cc-index cdx shards; the reference library itself stops at flat
CDX lines, so this is the scale tier above `operators/indexer.py`.

Why this layout wins at 100 TB: the full index never needs to be held
or scanned anywhere — lookups binary-search the secondary index (1/N
the size of the index, RAM-trivial) and then ranged-read ONLY the
matching gzip blocks. Block fetches go through the same scheme-
dispatched ranged reader as WARC member fetches
(`sources/warc._open_ranged`), so a cluster serves lookups straight
from object storage.

Spark shapes:
- write: one range exchange on the line (CDX merge order IS the plain
  lexicographic line sort), then a per-partition pass that gzips blocks
  and emits summary rows — no driver-side data movement, part files
  written from executors;
- full read: one task per block span, embarrassingly parallel;
- prefix lookup: the summary is filtered FIRST (driver-side, it is
  1/N-sized by construction) and only surviving blocks are fetched —
  the parquet-partition-pruning analog for a line index.
"""

from __future__ import annotations

import gzip
import os
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SUMMARY_NAME = "cluster.idx"


def write_zipnum(
    lines: DataFrame,
    out_dir: str,
    lines_per_block: int = 3000,
    *,
    line_col: str = "line",
    num_parts: int | None = None,
) -> None:
    """Write a ZipNum cluster under ``out_dir``: ``part-{pid:05d}.gz``
    shard files (concatenated gzip members, one per block) plus the
    ``cluster.idx`` secondary index, itself in key order.

    The input needs no pre-sorting: one ``repartitionByRange`` +
    ``sortWithinPartitions`` on the line puts every shard in CDX merge
    order and makes shard ranges globally disjoint, so the concatenation
    of shards in pid order IS the sorted index.
    """
    if lines_per_block <= 0:
        raise ValueError(
            f"lines_per_block must be positive, got {lines_per_block}")
    spark = lines.sparkSession
    n = num_parts or spark.sparkContext.defaultParallelism
    os.makedirs(out_dir, exist_ok=True)
    staged = (
        lines.select(F.col(line_col).alias("line"))
        .repartitionByRange(n, "line")
        .sortWithinPartitions("line")
    )

    def pack(rows) -> Iterator[tuple]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        part_name = f"part-{pid:05d}.gz"
        path = os.path.join(out_dir, part_name)
        offset = 0
        wrote = False
        with open(path, "wb") as f:
            block: list[str] = []

            def flush():
                nonlocal offset, wrote
                if not block:
                    return None
                raw = ("\n".join(block) + "\n").encode("utf-8")
                gz = gzip.compress(raw, mtime=0)
                f.write(gz)
                wrote = True
                first = block[0]
                key = " ".join(first.split(" ", 2)[:2])
                row = (key, part_name, offset, len(gz), len(block))
                offset += len(gz)
                return row

            for r in rows:
                block.append(r["line"])
                if len(block) == lines_per_block:
                    yield flush()
                    block = []
            last = flush()
            if last is not None:
                yield last
        if not wrote:
            os.remove(path)

    summary = spark.createDataFrame(
        staged.rdd.mapPartitions(pack),
        "key string, part string, offset long, length long, n_lines long",
    )
    # the summary is 1/lines_per_block the index size — small by design;
    # a single sorted text file is the format servers mmap/binary-search
    rows = summary.collect()
    rows.sort(key=lambda r: (r["part"], r["offset"]))
    with open(os.path.join(out_dir, SUMMARY_NAME), "w", encoding="utf-8") as f:
        for r in rows:
            f.write(f"{r['key']}\t{r['part']}\t{r['offset']}"
                    f"\t{r['length']}\t{r['n_lines']}\n")


def read_summary(spark: SparkSession, cluster_dir: str) -> DataFrame:
    """The secondary index as a DataFrame (key, part, offset, length,
    n_lines), in cluster order."""
    path = os.path.join(cluster_dir, SUMMARY_NAME)
    lines = spark.read.text(path)
    c = F.split(F.col("value"), "\t")
    return lines.select(
        c[0].alias("key"),
        c[1].alias("part"),
        c[2].cast("long").alias("offset"),
        c[3].cast("long").alias("length"),
        c[4].cast("long").alias("n_lines"),
    )


def _fetch_blocks(cluster_dir: str):
    """Block-spec rows -> decompressed index lines; runs on executors via
    the scheme-dispatched ranged reader (local paths short-circuit to a
    plain seek+read)."""
    from warcio_spark.sources.warc import _open_ranged

    def run(rows) -> Iterator[tuple]:
        for r in rows:
            path = os.path.join(cluster_dir, r["part"])
            gz = _open_ranged(path, r["offset"], r["length"])
            for ln in gzip.decompress(gz).decode("utf-8").splitlines():
                yield (ln,)

    return run


def read_zipnum(spark: SparkSession, cluster_dir: str) -> DataFrame:
    """Every line of the cluster, one task per block. The result is in
    cluster (CDX merge) order per partition; add ``orderBy('line')`` at
    whatever scope needs a total order."""
    specs = read_summary(spark, cluster_dir)
    return spark.createDataFrame(
        specs.rdd.mapPartitions(_fetch_blocks(cluster_dir)), "line string")


def _pruned_summary(spark: SparkSession, cluster_dir: str,
                    prefix: str | None) -> DataFrame:
    """Summary rows whose block can contain ``prefix``-matching lines,
    with a ``blk`` ordinal in cluster order. A block's range is [its
    first key, next block's first key]; it survives when ``next_key >=
    prefix`` and ``first_key <= prefix+high`` — the binary-search window
    every zipnum server computes. The unpartitioned window runs over the
    SUMMARY (1/N-sized, one task by design — same budget as the server's
    in-RAM binary search)."""
    from pyspark.sql import Window

    specs = read_summary(spark, cluster_dir)
    # cluster order = (part, offset); next block's first key bounds mine
    w = Window.orderBy("part", "offset")
    specs = specs.withColumn("next_key", F.lead("key").over(w))
    if prefix is not None:
        hi = prefix + "￿"
        specs = specs.filter(
            (F.col("key") <= hi)
            & (F.col("next_key").isNull() | (F.col("next_key") >= prefix))
        )
    return specs.drop("next_key").withColumn(
        "blk", F.row_number().over(Window.orderBy("part", "offset")) - 1)


def zipnum_prefix(spark: SparkSession, cluster_dir: str,
                  prefix: str) -> DataFrame:
    """All index lines starting with ``prefix`` (a urlkey or urlkey
    prefix), fetching only blocks whose key range can contain it: the
    filter runs on the summary (1/N-sized), the fetch touches only
    survivors — block-level pruning, the point of the layout.
    """
    survivors = _pruned_summary(spark, cluster_dir, prefix).drop("blk")
    out = spark.createDataFrame(
        survivors.rdd.mapPartitions(_fetch_blocks(cluster_dir)),
        "line string")
    return out.filter(F.col("line").startswith(prefix))


def zipnum_num_pages(spark: SparkSession, cluster_dir: str,
                     page_size_blocks: int,
                     prefix: str | None = None) -> int:
    """The CDX server pagination API's ``showNumPages=true``: how many
    pages of ``page_size_blocks`` secondary-index blocks the (optionally
    prefix-pruned) query spans — ``ceil(matched_blocks / pageSize)``,
    the publicly documented IA/pywb semantics (pagination granularity is
    the ZipNum block, never the line). Driver-side count of the
    1/N-sized summary."""
    if page_size_blocks <= 0:
        raise ValueError(
            f"page_size_blocks must be positive, got {page_size_blocks}")
    n = _pruned_summary(spark, cluster_dir, prefix).count()
    return -(-n // page_size_blocks)


def zipnum_page(spark: SparkSession, cluster_dir: str, page: int,
                page_size_blocks: int,
                prefix: str | None = None) -> DataFrame:
    """One page of the paginated CDX query (``page=N&pageSize=M``):
    fetch ONLY the page's blocks — summary rows [page*M, (page+1)*M) in
    cluster order among the prefix's survivors — then line-filter to the
    prefix. Out-of-range pages are empty, pages are 0-based, and the
    union of all pages equals ``zipnum_prefix`` exactly (pinned in
    tests/test_zipnum.py). Each page run re-reads only the 1/N summary
    plus its own M gzip blocks, so clients page through a 10^10-line
    index with bounded work per request — the reason the IA server
    exposes pagination at block granularity."""
    if page_size_blocks <= 0:
        raise ValueError(
            f"page_size_blocks must be positive, got {page_size_blocks}")
    if page < 0:
        raise ValueError(f"page must be >= 0, got {page}")
    lo, hi = page * page_size_blocks, (page + 1) * page_size_blocks
    survivors = (
        _pruned_summary(spark, cluster_dir, prefix)
        .filter((F.col("blk") >= lo) & (F.col("blk") < hi)).drop("blk"))
    out = spark.createDataFrame(
        survivors.rdd.mapPartitions(_fetch_blocks(cluster_dir)),
        "line string")
    if prefix is not None:
        out = out.filter(F.col("line").startswith(prefix))
    return out


def zipnum_block_summary(
    lines: DataFrame,
    lines_per_block: int,
    *,
    line_col: str = "line",
    persist_tracker: list | None = None,
) -> DataFrame:
    """The cluster's secondary index as a pure DataFrame computation —
    (block_id, first_key, n_lines) for blocks of ``lines_per_block``
    consecutive lines in CDX merge (lexicographic line) order, with
    ``first_key`` the block's first ``urlkey timestamp``. This is what
    ``write_zipnum`` materializes per shard (minus the gzip byte
    offsets, which only exist once blocks are compressed); single-shard
    clusters produce exactly these blocks.

    The global line numbering runs on plans/prefix.range_rank (range
    exchange + per-range window + range offsets broadcast from a counts
    branch of the same plan) — no unpartitioned window, so the summary
    of a 10^10-line index is one ordinary shuffle, not a single-task
    sort."""
    if lines_per_block <= 0:
        raise ValueError(
            f"lines_per_block must be positive, got {lines_per_block}")
    from warcio_spark.plans.prefix import with_global_row_number

    rn = with_global_row_number(
        lines.select(F.col(line_col).alias("line")), "line", "rn",
        persist_tracker=persist_tracker,
    )
    key = F.concat_ws(
        " ", F.split_part(F.col("first_line"), F.lit(" "), F.lit(1)),
        F.split_part(F.col("first_line"), F.lit(" "), F.lit(2)),
    )
    return (
        rn.withColumn("block_id",
                      F.floor(F.col("rn") / lines_per_block).cast("long"))
        .groupBy("block_id")
        .agg(F.min("line").alias("first_line"),
             F.count(F.lit(1)).cast("long").alias("n_lines"))
        .select("block_id", key.alias("first_key"), "n_lines")
    )


def paged_block_summary(
    lines: DataFrame,
    lines_per_block: int,
    page_size_blocks: int,
    *,
    line_col: str = "line",
    persist_tracker: list | None = None,
) -> DataFrame:
    """The pagination face of ``zipnum_block_summary`` as a pure
    DataFrame computation — each block assigned to its page
    (``floor(block_id / page_size_blocks)``, the IA server's mapping),
    aggregated to one row per page: (page, n_blocks, n_lines,
    first_key, last_key). This is exactly what ``zipnum_num_pages`` /
    ``zipnum_page`` compute from the materialized ``cluster.idx``
    (minus gzip offsets); the disk-backed face is pytest-pinned to it.
    One extra partial agg over the block summary — no new shuffle
    pattern at any scale."""
    if page_size_blocks <= 0:
        raise ValueError(
            f"page_size_blocks must be positive, got {page_size_blocks}")
    blocks = zipnum_block_summary(
        lines, lines_per_block, line_col=line_col,
        persist_tracker=persist_tracker)
    return (
        blocks.withColumn(
            "page",
            F.floor(F.col("block_id") / page_size_blocks).cast("long"))
        .groupBy("page")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum("n_lines").cast("long").alias("n_lines"),
            F.min(F.struct("block_id", "first_key"))["first_key"]
            .alias("first_key"),
            F.max(F.struct("block_id", "first_key"))["first_key"]
            .alias("last_key"),
        )
    )


def zipnum_prefix_multi(spark: SparkSession, cluster_dirs,
                        prefix: str) -> DataFrame:
    """Query-time merge across several clusters — the pywb multi-source
    shape that makes ZipNum indexing INCREMENTAL: new captures land in
    their own (small) cluster and lookups union the per-cluster pruned
    reads, so the big historical cluster is never rewritten (Common
    Crawl ships one cluster per crawl the same way). Each cluster
    contributes only its surviving blocks; total work is the sum of the
    per-cluster binary-search windows. Merge order is per-cluster —
    callers needing a total order add ``orderBy('line')`` at their
    scope, exactly as with ``read_zipnum``."""
    dirs = list(cluster_dirs)
    if not dirs:
        raise ValueError("zipnum_prefix_multi needs at least one cluster")
    out = None
    for d in dirs:
        part = zipnum_prefix(spark, d, prefix)
        out = part if out is None else out.unionByName(part)
    return out


def compact_zipnum(spark: SparkSession, cluster_dirs, out_dir: str,
                   lines_per_block: int = 3000, *,
                   num_parts: int | None = None,
                   dedup: bool = False) -> None:
    """Rewrite several clusters as ONE new cluster — the periodic
    recompaction that bounds query-time fan-out in the incremental-index
    lifecycle (deltas accumulate via ``zipnum_prefix_multi``; Common
    Crawl's monthly cdx shards are exactly such per-crawl clusters, and
    pywb operators merge them the same way).

    Spark shape: every input block becomes one read task (the inputs'
    own sort is NOT reused — a global merge of K sorted sources is one
    ``repartitionByRange`` on the line anyway, which ``write_zipnum``
    already performs), so compaction is read-tasks + one range exchange
    + packed writes, no driver-side data path. The inputs are untouched;
    swap them for ``out_dir`` only after the write returns (the
    cluster.idx write is last, so a finished idx marks a complete
    cluster).

    ``dedup=True`` drops byte-identical lines across the inputs (the
    same capture indexed by overlapping delta windows) with one extra
    hash exchange; default keeps every line — duplicate CAPTURES of a
    url are distinct lines (different timestamp/offset) and always
    survive."""
    dirs = list(cluster_dirs)
    if not dirs:
        raise ValueError("compact_zipnum needs at least one cluster")
    lines = None
    for d in dirs:
        part = read_zipnum(spark, d)
        lines = part if lines is None else lines.unionByName(part)
    if dedup:
        lines = lines.distinct()
    write_zipnum(lines, out_dir, lines_per_block,
                 num_parts=num_parts)
