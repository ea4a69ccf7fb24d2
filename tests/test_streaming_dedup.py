"""Streaming URL dedup: duplicates across micro-batches suppressed exactly
once, and the foreachBatch protocol is idempotent under replay."""

import json
import os
import shutil
import tempfile

import pytest

from od_database_spark.operators import seen_store
from od_database_spark.streaming import dedup as SD

from .seen_tables import purge_table


@pytest.fixture()
def dirs(spark):
    d = tempfile.mkdtemp(prefix="oddb_sdedup_")
    table = "stream_seen_test"
    purge_table(spark, table)
    yield d, table
    purge_table(spark, table)
    shutil.rmtree(d, ignore_errors=True)


def _write_batch(in_dir, name, urls):
    os.makedirs(in_dir, exist_ok=True)
    with open(os.path.join(in_dir, name), "w") as f:
        for u in urls:
            f.write(json.dumps({"url": u}) + "\n")


def test_duplicates_across_micro_batches_suppressed_once(spark, dirs):
    d, table = dirs
    in_dir, out_dir, ckpt = f"{d}/in", f"{d}/out", f"{d}/ckpt"

    # micro-batch 1: 50 urls, one in-batch dup (canonicalization collapses
    # the default port / fragment variants to the same canon_url)
    batch1 = [f"http://h{i}.t/a/" for i in range(50)] + ["http://h0.t:80/a/#frag"]
    _write_batch(in_dir, "b1.json", batch1)
    SD.run_stream_dedup(spark, in_dir, table, out_dir, ckpt)

    # micro-batch 2: 30 repeats of batch 1 + 20 new
    batch2 = [f"http://h{i}.t/a/" for i in range(20, 70)]
    _write_batch(in_dir, "b2.json", batch2)
    SD.run_stream_dedup(spark, in_dir, table, out_dir, ckpt)

    seen = spark.table(table)
    assert seen.count() == 70  # each unique canon_url exactly once
    assert seen.select("url").distinct().count() == 70
    out = spark.read.parquet(f"{out_dir}/epoch=*")
    got = sorted(r["url"] for r in out.collect())
    assert got == sorted(f"http://h{i}.t/a/" for i in range(70))
    # epoch attribution: the repeats did NOT re-emit in batch 2
    e1 = spark.read.parquet(f"{out_dir}/epoch=0")
    assert e1.count() == 50


def test_sink_replay_is_idempotent(spark, dirs):
    """foreachBatch is at-least-once: re-running an epoch's sink (crash
    between the table append and the output write, or after both) must leave
    the table and the epoch output byte-identical."""
    d, table = dirs
    out_dir = f"{d}/out"
    sink = SD.dedup_sink(table, out_dir)
    batch = spark.createDataFrame(
        [(f"http://h{i}.t/x/",) for i in range(40)], "url string"
    )
    sink(batch, 7)
    before_seen = sorted(r["url"] for r in spark.table(table).collect())
    before_out = sorted(
        r["url"] for r in spark.read.parquet(f"{out_dir}/epoch=7").collect()
    )
    sink(batch, 7)  # replay
    assert sorted(r["url"] for r in spark.table(table).collect()) == before_seen
    assert (
        sorted(r["url"] for r in spark.read.parquet(f"{out_dir}/epoch=7").collect())
        == before_out
    )
    # a LATER batch replayed also stays stable with prior epochs intact
    batch2 = spark.createDataFrame(
        [(f"http://h{i}.t/x/",) for i in range(30, 60)], "url string"
    )
    sink(batch2, 8)
    sink(batch2, 8)
    assert spark.table(table).count() == 60
    assert spark.read.parquet(f"{out_dir}/epoch=8").count() == 20


def test_streamed_seen_table_has_seen_store_layout(spark, dirs):
    """The sink writes through seen_store: the streamed table has the
    crawl's seen-table layout (N_BUCKETS buckets on url_hash, a round_no
    column holding the micro-batch epoch), and one micro-batch's append
    adds at most N_BUCKETS data files whatever the batch's partitioning."""
    d, table = dirs
    sink = SD.dedup_sink(table, f"{d}/out")

    def batch(tag, n):
        return spark.createDataFrame(
            [(f"http://h{i}.t/{tag}/",) for i in range(n)], "url string"
        ).repartition(8)

    sink(batch("x", 200), 3)
    detail = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    }
    assert detail["Num Buckets"] == str(seen_store.N_BUCKETS)
    assert detail["Bucket Columns"] == "[`url_hash`]"
    before = seen_store.data_file_count(spark, table)
    assert 0 < before <= seen_store.N_BUCKETS
    sink(batch("y", 500), 4)
    assert 0 < seen_store.data_file_count(spark, table) - before <= seen_store.N_BUCKETS
    per_epoch = {
        r["round_no"]: r["count"]
        for r in spark.table(table).groupBy("round_no").count().collect()
    }
    assert per_epoch == {3: 200, 4: 500}


def test_cross_session_resume_recovers_seen_table(spark, dirs):
    """The seen table is durable state: when the session (and with it the
    in-memory catalog) dies but the warehouse files survive, the next run
    must RE-REGISTER the table — not treat the batch as all-new and not
    crash with LOCATION_ALREADY_EXISTS — so duplicates from before the
    restart stay suppressed."""
    from urllib.parse import urlparse

    d, table = dirs
    in_dir, out_dir, ckpt = f"{d}/in", f"{d}/out", f"{d}/ckpt"
    _write_batch(in_dir, "b1.json", [f"http://h{i}.t/a/" for i in range(40)])
    SD.run_stream_dedup(spark, in_dir, table, out_dir, ckpt)
    assert spark.table(table).count() == 40

    # simulate session death: files survive, the catalog entry does not.
    # (dropping a MANAGED table deletes its files, so stash + restore.)
    loc = urlparse(
        spark.conf.get("spark.sql.warehouse.dir").rstrip("/") + "/" + table
    ).path
    stash = f"{d}/stash"
    shutil.copytree(loc, stash)
    spark.sql(f"DROP TABLE {table}")
    shutil.copytree(stash, loc)
    assert not spark.catalog.tableExists(table)

    # 30 repeats + 20 new urls in the "next session"
    _write_batch(in_dir, "b2.json", [f"http://h{i}.t/a/" for i in range(10, 60)])
    SD.run_stream_dedup(spark, in_dir, table, out_dir, ckpt)
    seen = spark.table(table)
    assert seen.count() == 60  # repeats suppressed across the restart
    assert spark.read.parquet(f"{out_dir}/epoch=1").count() == 20
    # the recovered table keeps its bucket layout (zero-shuffle anti-join)
    from od_database_spark.plans import explain as PL

    probe = spark.createDataFrame(
        [("http://h0.t/a/", 1)], "canon_url string, url_hash long"
    )
    from od_database_spark.operators import seen_store

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = PL.plan_string(
            seen_store.filter_unseen_bucketed(spark, probe, table), "simple"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Bucketed: true" in plan
