"""Stats materialization (search/search.py:42-45,307-314 analog) + the
SearchLogEntry write path (database.py:302-313, views.py:211-227)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from od_database_spark.operators import search as S
from od_database_spark.sources import statsstore


@pytest.fixture()
def files_df(spark):
    rows = [
        (i % 7, f"dir{i % 3}", f"f{i:04d}", ["jpg", "png", "txt"][i % 3],
         1000 * (i + 1), 1500000000 + 86400 * (i % 400))
        for i in range(600)
    ]
    return spark.createDataFrame(
        rows, "website_id long, path string, name string, ext string, size long, epoch long"
    ).withColumn("mtime", F.timestamp_seconds("epoch")).drop("epoch")


def test_snapshot_commit_and_read(spark, files_df, tmp_path):
    path = str(tmp_path / "stats")
    v1 = statsstore.materialize_stats(files_df, path)
    assert v1 == "v00001"
    snap = statsstore.read_stats(spark, path)
    assert set(snap) == set(statsstore.STAT_FRAMES)
    ext = {r["ext"]: r["doc_count"] for r in snap["ext_stats"].collect()}
    assert ext == {"jpg": 200, "png": 200, "txt": 200}
    # a second materialization commits a new version and GCs ancient ones
    v2 = statsstore.materialize_stats(files_df.limit(300), path)
    assert v2 == "v00002"
    assert statsstore.read_stats(spark, path)["file_stats"].collect()[0]["count"] == 300


def test_reader_mid_commit_sees_previous_snapshot(spark, files_df, tmp_path):
    """The atomic-pointer property: a fully-written-but-uncommitted version
    is invisible; a crash mid-commit leaves the old snapshot live."""
    path = str(tmp_path / "stats")
    statsstore.materialize_stats(files_df, path)
    before = statsstore.read_stats(spark, path)["file_stats"].collect()[0]["count"]
    # simulate a commit interrupted AFTER its data writes but BEFORE the
    # pointer flip: write v00002's dirs by hand, leave _LATEST untouched
    from od_database_spark.operators.search import global_stats

    stats = global_stats(files_df.limit(100))
    for name in statsstore.STAT_FRAMES:
        stats[name].write.mode("overwrite").parquet(os.path.join(path, "v00002", name))
    assert statsstore.snapshot_version(path) == "v00001"
    mid = statsstore.read_stats(spark, path)["file_stats"].collect()[0]["count"]
    assert mid == before  # reader still serves the committed snapshot
    # the next materialization must NOT adopt the orphaned v00002 name blindly
    statsstore.materialize_stats(files_df.limit(200), path)
    assert statsstore.read_stats(spark, path)["file_stats"].collect()[0]["count"] == 200


def test_failed_frame_write_leaves_no_orphan_version(spark, files_df, tmp_path, monkeypatch):
    """A frame write that raises must not leave its half-written version
    dir behind, and the committed snapshot stays the live one."""
    from od_database_spark.operators.search import global_stats

    path = str(tmp_path / "stats")
    v1 = statsstore.materialize_stats(files_df, path)

    def failing_stats(files):
        stats = global_stats(files)
        stats["sizes_histogram"] = stats["sizes_histogram"].withColumn(
            "boom", F.raise_error(F.lit("frame write failed"))
        )
        return stats

    monkeypatch.setattr(statsstore, "global_stats", failing_stats)
    with pytest.raises(Exception, match="frame write failed"):
        statsstore.materialize_stats(files_df, path)
    assert statsstore.snapshot_version(path) == v1
    assert sorted(d for d in os.listdir(path) if d.startswith("v")) == [v1]
    assert statsstore.read_stats(spark, path)["file_stats"].collect()[0]["count"] == 600


def test_search_and_log_appends_reference_fields(spark, files_df, tmp_path):
    """Every search appends exactly one SearchLogEntry row with the
    reference's fields (init_script.sql:28-39): query, extensions, page,
    blocked, results (total hits, not the page), took."""
    log_dir = str(tmp_path / "qlog")
    out = S.search_and_log(
        spark, files_df, log_dir, "f00", per_page=10,
        extensions=["jpg"], remote_addr="10.0.0.1",
    )
    n_page = out.count()
    log = S.read_query_log(spark, log_dir).collect()
    assert len(log) == 1
    row = log[0]
    assert row["query"] == "f00" and row["extensions"] == "jpg"
    assert row["remote_addr"] == "10.0.0.1" and row["blocked"] is False
    assert row["page"] == 0 and row["took_ms"] > 0
    assert row["search_time"] is not None
    # results = TOTAL matches (names f0000..f0099 are 100 'f00'-trigram hits,
    # jpg subset), not the 10-row page
    assert n_page == 10
    assert row["results"] > n_page

    # a blocked query logs blocked=True, zero results, returns no rows
    out2 = S.search_and_log(
        spark, files_df, log_dir, "naughty word", blocked_terms={"naughty"},
    )
    assert out2.count() == 0
    log2 = S.read_query_log(spark, log_dir).orderBy("search_time").collect()
    assert len(log2) == 2
    assert any(r["blocked"] and r["results"] == 0 for r in log2)

    # A9 runs on ENGINE-PRODUCED logs now
    meta = S.index_meta_stats(files_df, S.read_query_log(spark, log_dir)).collect()[0]
    assert meta["query_count"] == 2
    assert meta["blocked_rate"] == 0.5


def test_blocklist_gate_folds_ascii(spark):
    """filter.py:20-31 semantics: fold + lower + strip quote chars."""
    assert S.is_blocked_query('Crème "NAUGHTY"', {"naughty"})
    assert S.is_blocked_query("crème", {"creme"})  # folded token matches
    assert not S.is_blocked_query("naughtylike", {"naughty"})
