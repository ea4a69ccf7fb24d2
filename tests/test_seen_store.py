"""Bucketed seen-set table: exactness + the co-located-join plan property
(the seen side must never shuffle)."""

import re

import pytest
from pyspark.sql import functions as F

from od_database_spark.operators import seen_store as SS
from od_database_spark.plans import explain as PL


@pytest.fixture()
def seen_table(spark):
    # managed table in the session's default warehouse (spark-warehouse/,
    # gitignored); DROP TABLE removes the files
    name = "seen_bucketed_test"
    seen = spark.range(2000).select(
        F.format_string("http://h%d.t/d%d/", F.pmod("id", F.lit(37)), F.col("id")).alias("url")
    ).select("url", F.xxhash64("url").alias("url_hash"))
    SS.create_seen_table(seen, name, n_buckets=8)
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def _cands(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.format_string("http://h%d.t/d%d/", F.pmod("id", F.lit(37)), F.col("id")).alias("canon_url")
    ).select("canon_url", F.xxhash64("canon_url").alias("url_hash")).localCheckpoint(eager=True)


def test_bucketed_anti_join_exact_and_seen_never_shuffles(spark, seen_table):
    cand = _cands(spark, 1000, 3000)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        out = SS.filter_unseen_bucketed(spark, cand, seen_table)
        plan = PL.plan_string(out, "simple")
        ex = re.findall(r"Exchange (?:hash|range)partitioning[^\n]*", plan)
        # exactly ONE shuffle: the candidate side, hashed on url_hash alone
        # to match the table's bucket layout; the seen scan is exchange-free
        assert len(ex) == 1, plan
        assert "url_hash" in ex[0] and "canon_url" not in ex[0], ex
        got = {r["canon_url"] for r in out.collect()}
        assert got == {f"http://h{i % 37}.t/d{i}/" for i in range(2000, 3000)}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_append_preserves_bucketing_and_exactness(spark, seen_table):
    delta = spark.range(2000, 2500).select(
        F.format_string("http://h%d.t/d%d/", F.pmod("id", F.lit(37)), F.col("id")).alias("url")
    ).select("url", F.xxhash64("url").alias("url_hash"))
    SS.append_seen(delta, seen_table, n_buckets=8)
    assert SS.seen_count(spark, seen_table) == 2500
    cand = _cands(spark, 2400, 2600)
    out = SS.filter_unseen_bucketed(spark, cand, seen_table)
    got = {r["canon_url"] for r in out.collect()}
    assert got == {f"http://h{i % 37}.t/d{i}/" for i in range(2500, 2600)}


def test_append_writes_at_most_one_file_per_bucket(spark):
    """An append hash-aligns its rows to the buckets first, so an
    8-partition delta adds at most N_BUCKETS data files (not one per
    (bucket, delta partition)), and the anti-join answer is unchanged."""
    name = "seen_bucket_aligned_test"

    def urls(lo, hi, parts):
        return spark.range(lo, hi, 1, parts).select(
            F.format_string("http://h%d.t/d%d/", F.pmod("id", F.lit(37)), F.col("id")).alias("url")
        ).select("url", F.xxhash64("url").alias("url_hash"))

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        SS.create_seen_table(urls(0, 2000, 8), name)
        created = SS.data_file_count(spark, name)
        assert created <= SS.N_BUCKETS
        delta = urls(2000, 3000, 8)
        assert delta.rdd.getNumPartitions() == 8
        SS.append_seen(delta, name, round_no=1)
        assert SS.data_file_count(spark, name) - created <= SS.N_BUCKETS
        assert SS.seen_count(spark, name) == 3000
        cand = _cands(spark, 2900, 3200)
        got = {r["canon_url"] for r in SS.filter_unseen_bucketed(spark, cand, name).collect()}
        assert got == {f"http://h{i % 37}.t/d{i}/" for i in range(3000, 3200)}
        bounded = SS.filter_unseen_bucketed(spark, cand, name, round_no=0)
        assert {r["canon_url"] for r in bounded.collect()} == {
            f"http://h{i % 37}.t/d{i}/" for i in range(2900, 3200)
        }
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
