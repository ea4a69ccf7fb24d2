"""Bucketed seen-set table: the crawl's single durable seen set and the
co-located-join storage layout for the exact anti-join (complements the
in-memory filters of operators/seen.py).

The seen set is a catalog table BUCKETED BY url_hash (bucketBy + sortBy).
With subset co-partitioning enabled (session.py sets
``spark.sql.requireAllClusterKeysForCoPartition=false``), the exact
anti-join on (url_hash, url) accepts the table's HashPartitioning(url_hash)
— the 10^10-row seen side is NEVER shuffled; only the (much smaller)
candidate batch exchanges, hashed to the bucket layout.  Appends preserve
the bucket spec, so incremental growth keeps the property, and every write
hash-aligns its rows to the buckets first, so it adds at most one file per
bucket.

Rows carry a ``round_no`` column so the table can serve as the crawl
loop's DURABLE ground truth: frontier.checkpoint() appends each round's new
urls stamped with the round before the round's ``.done`` commit record,
and a resume reads ``round_no <= last committed round`` — rows appended by
a round that crashed before its ``.done`` record are excluded by the filter
(and the re-run's re-append only duplicates rows, which a left_anti join
ignores).  The streaming dedup sink (streaming/dedup.py) keeps its seen
table in the same layout, with the micro-batch epoch as ``round_no``.  This
module issues every seen-table write; its callers never write one
themselves.  Every append writes files whose round_no is constant, so the
parquet min/max footer makes the resume filter a file-level prune, not a
scan.  Correctness never depends on the hash: the join keys include the
full url string, so hash collisions can never drop a URL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_BUCKETS = 64


def _bucket_aligned(seen: DataFrame, round_no: int, n_buckets: int) -> DataFrame:
    """(url, url_hash, round_no) rows hash-partitioned on url_hash into a
    partition count that divides ``n_buckets``.  A bucket id is the same
    murmur3 ``pmod`` that hash partitioning computes, so with P | n_buckets
    every bucket's rows sit in one task: a write adds one file per
    non-empty bucket, not one per (bucket, input partition).  P is the
    largest such divisor within ``spark.sql.shuffle.partitions``, so a
    small delta is not split into n_buckets near-empty tasks."""
    cap = max(int(seen.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")), 1)
    parts = max(d for d in range(1, min(cap, n_buckets) + 1) if n_buckets % d == 0)
    return seen.select(
        "url", "url_hash", F.lit(int(round_no)).cast("int").alias("round_no")
    ).repartition(parts, "url_hash")


def create_seen_table(
    seen: DataFrame, table: str, n_buckets: int = N_BUCKETS, round_no: int = 0
) -> None:
    """Initial build: (url, url_hash, round_no) rows into a bucketed,
    bucket-sorted catalog table."""
    (
        _bucket_aligned(seen, round_no, n_buckets)
        .write.mode("overwrite")
        .bucketBy(n_buckets, "url_hash")
        .sortBy("url_hash")
        .format("parquet")
        .saveAsTable(table)
    )


def append_seen(
    delta: DataFrame, table: str, n_buckets: int = N_BUCKETS, round_no: int = 0
) -> None:
    """Incremental growth: append a round's new urls; the bucket spec must
    match the table's.  The rows are hash-aligned to the buckets first, so
    an append adds at most ``n_buckets`` files whatever the delta's
    partitioning."""
    (
        _bucket_aligned(delta, round_no, n_buckets)
        .write.mode("append")
        .bucketBy(n_buckets, "url_hash")
        .sortBy("url_hash")
        .format("parquet")
        .saveAsTable(table)
    )


def seen_view(spark: SparkSession, table: str, round_no: int | None = None) -> DataFrame:
    """(url, url_hash) view of the table, optionally bounded at a committed
    round — the resume read: rows a torn round appended past the bound are
    invisible.  The filter + projection preserve the scan's bucket layout,
    so downstream anti-joins keep the zero-seen-side-shuffle property."""
    tbl = spark.table(table)
    if round_no is not None:
        tbl = tbl.filter(F.col("round_no") <= int(round_no))
    return tbl.select("url", "url_hash")


def recover_seen_table(spark: SparkSession, table: str, n_buckets: int = N_BUCKETS) -> bool:
    """Cross-session resume: the table is durable state but the default
    in-memory catalog forgets it when the session dies — files survive under
    the warehouse while tableExists() is False.  Re-register the surviving
    data with the original bucket spec, so the anti-join keeps both its
    state and its zero-shuffle layout.  NEVER drop (ann_store._drop_stale
    drops on that collision, right for a rebuildable index, wrong here):
    dropping the seen set would re-admit every URL ever deduplicated.
    Returns True iff the table is registered."""
    if spark.catalog.tableExists(table):
        return True
    from .ann_store import _fs, _table_dir

    loc = _table_dir(spark, table)
    fs, jpath = _fs(spark, loc)
    if not fs.exists(jpath):
        return False  # genuinely no prior state
    entries = fs.listStatus(jpath)
    if not any(not s.getPath().getName().startswith(("_", ".")) for s in entries):
        # only a torn write's _temporary droppings — NOT committed state;
        # clean them so a CREATE path can recreate the location
        fs.delete(jpath, True)
        return False
    spark.sql(
        f"""CREATE TABLE {table} (url STRING, url_hash BIGINT, round_no INT)
            USING parquet
            CLUSTERED BY (url_hash) SORTED BY (url_hash) INTO {n_buckets} BUCKETS
            LOCATION '{loc}'"""
    )
    return True


def filter_unseen_bucketed(
    spark: SparkSession, candidates: DataFrame, table: str, round_no: int | None = None
) -> DataFrame:
    """Exact anti-join against the bucketed table: candidates carry
    (canon_url, url_hash); the seen side reads bucket-aligned (no exchange),
    the candidate side shuffles once on url_hash to match the buckets."""
    tbl = seen_view(spark, table, round_no)
    cond = (candidates["url_hash"] == tbl["url_hash"]) & (
        candidates["canon_url"] == tbl["url"]
    )
    return candidates.join(tbl, on=cond, how="left_anti")


def seen_count(spark: SparkSession, table: str) -> int:
    return spark.table(table).count()


def data_file_count(spark: SparkSession, table: str) -> int:
    """Committed data files under the table location (listing-cost proxy —
    the thing per-round appends grow by one file set per bucket).  crawl.run
    asks every round, so the count is one glob call into the JVM (it skips
    ``_SUCCESS``, ``_temporary`` and ``.crc`` entries), not a py4j round
    trip per file."""
    from .ann_store import _fs, _table_dir

    fs, jpath = _fs(spark, _table_dir(spark, table) + "/[^_.]*")
    return len(fs.globStatus(jpath) or [])


def compact_into_generation(
    spark: SparkSession, table: str, new_table: str,
    round_no: int, n_buckets: int = N_BUCKETS,
) -> None:
    """Rewrite the seen table into a fresh single-generation table: all rows
    ≤ ``round_no`` collapse into one file set per bucket, stamped with
    ``round_no``.  The CALLER owns the atomic cutover (frontier.
    compact_seen_table flips the ckpt dir's _SEEN_TABLE pointer and then
    drops the old generation) — this function only produces the complete
    new table, so a crash at any point here leaves the old generation live
    and untouched."""
    # a prior torn compaction may have left committed files (re-register so
    # the overwrite below can commit) or only _temporary droppings (cleaned)
    recover_seen_table(spark, new_table, n_buckets)
    rows = seen_view(spark, table, round_no)
    # duplicate rows from torn-round re-appends collapse here too (the
    # anti-join never cared, but the new generation should be clean)
    create_seen_table(rows.distinct(), new_table, n_buckets, round_no=round_no)
