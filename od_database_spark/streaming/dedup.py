"""Streaming URL deduplication: the batch rounds' EXACT seen-set contract
applied per micro-batch (SURVEY.md §2.10 + F8), so the streaming ingest path
suppresses duplicate URLs with the same guarantees as crawl rounds.

Per micro-batch (foreachBatch):
  1. canonicalize + in-batch dedup,
  2. exact anti-join against the durable BUCKETED seen table — the crawl's
     layout and code (operators/seen_store.py: the 10^10-row seen side
     never shuffles; the micro-batch exchanges once on url_hash),
  3. append the new urls to the table through seen_store.append_seen, with
     the micro-batch epoch as their ``round_no``,
  4. materialize the epoch's output from the TABLE, not from step 2.

Step 4 is what makes replay safe: foreachBatch is at-least-once, so a batch
can re-run after a crash.  On replay the anti-join finds nothing new (the
previous attempt's rows are already in the table), the append is a no-op,
and the epoch output regenerates identically from the table's round_no
column — every write is idempotent, giving the exactly-once outcome the
reference's indexer retry loop (tasks.py:93-112) only approximates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.urls import with_canonical
from ..operators import seen_store

URL_STREAM = T.StructType([T.StructField("url", T.StringType(), False)])


def stream_urls(spark: SparkSession, in_dir: str) -> DataFrame:
    """File-source stream of discovered URLs (one JSON object per line)."""
    return (
        spark.readStream.schema(URL_STREAM)
        .option("maxFilesPerTrigger", 16)
        .json(in_dir)
    )


def dedup_sink(seen_table: str, out_dir: str):
    """foreachBatch sink implementing the idempotent dedup protocol above.
    The epoch output lands at ``{out_dir}/epoch={epoch_id}`` (overwrite —
    replay-stable)."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        cand = with_canonical(batch_df).dropDuplicates(["canon_url"])
        # a table that survived a dead session is re-registered, never dropped
        if seen_store.recover_seen_table(spark, seen_table):
            new = seen_store.filter_unseen_bucketed(spark, cand, seen_table)
        else:
            new = cand
        rows = new.select(F.col("canon_url").alias("url"), "url_hash")
        seen_store.append_seen(rows, seen_table, round_no=epoch_id)
        (
            spark.table(seen_table)
            .filter(F.col("round_no") == int(epoch_id))
            .select("url", "url_hash")
            .write.mode("overwrite")
            .parquet(f"{out_dir}/epoch={epoch_id}")
        )

    return sink


def run_stream_dedup(
    spark: SparkSession,
    in_dir: str,
    seen_table: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Drain everything currently available through the dedup sink and stop
    (availableNow) — call again after more files land; the streaming
    checkpoint assigns later files to later epochs and the seen table
    carries the dedup state across invocations."""
    q = (
        stream_urls(spark, in_dir)
        .writeStream.foreachBatch(dedup_sink(seen_table, out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # foreachBatch runs in a CLONED SparkSession whose inserts invalidate
    # only the clone's relation cache — refresh in the caller's session so a
    # pre-drain read doesn't pin a stale file listing (dedup inside the sink
    # is unaffected: it reads through the clone).
    if spark.catalog.tableExists(seen_table):
        spark.catalog.refreshTable(seen_table)
    return q
