"""The bucketed seen table: a checkpointed crawl's single durable seen set
(the zero-seen-side-shuffle layout).  Contract: bit-identical crawl order +
seen set vs an uncheckpointed crawl, resume-exactness (torn rounds excluded
by the round_no bound), cross-session table recovery, generation
compaction, and one table per ckpt dir."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from od_database_spark import schema
from od_database_spark.datagen import world
from od_database_spark.operators import frontier as fr
from od_database_spark.operators import seen_store as SS

from .seen_tables import purge_ckpt, purge_table

N_HOSTS = 20
MAX_ROUNDS = 10
TABLE = "seen_crawl_mode_test"


def _reads_table(df, table):
    """True iff every file ``df`` scans lives under ``table``'s location."""
    files = df.inputFiles()
    return bool(files) and all(f"/{table}/" in f for f in files)


@pytest.fixture(scope="module")
def world_dfs(spark):
    pages = world.gen_pages(spark, N_HOSTS).cache()
    robots = world.gen_robots(spark, N_HOSTS).cache()
    blacklist = world.gen_blacklist(spark, N_HOSTS).cache()
    pages.count()
    return pages, robots, blacklist


def _run(spark, world_dfs, ckpt_dir=None, resume_at=None, use_bloom=False):
    pages, robots, blacklist = world_dfs
    seeds = world.gen_seeds(spark, N_HOSTS)
    empty = spark.createDataFrame([], schema.SEEN)
    accepted = fr.submit_seeds(spark, seeds, empty, blacklist, pages)
    state = fr.initial_state(
        accepted, use_bloom=use_bloom, expected_total_urls=10_000
    )
    fetched_all = []
    for _ in range(MAX_ROUNDS):
        if state.frontier.count() == 0:
            break
        state, fetched, _images = fr.expand_round(state, pages, robots)
        fetched_all.append(fetched.select("url", "discovery_seq", "priority").collect())
        if ckpt_dir is not None:
            state = fr.checkpoint(state, ckpt_dir)
        if resume_at is not None and state.round_no == resume_at:
            state = fr.load_checkpoint(spark, ckpt_dir)
    return state, fetched_all


def _order(fetched_all):
    return [
        r["url"]
        for rows in fetched_all
        for r in sorted(rows, key=lambda r: (-r["priority"], r["discovery_seq"]))
    ]


def test_table_mode_crawl_identical_to_default(spark, world_dfs):
    """Same world, checkpointed (seen table) vs uncheckpointed (in-memory
    union): crawl order and final seen set must be bit-identical (the
    storage layout is an optimization, never semantics)."""
    ckpt = tempfile.mkdtemp(prefix="oddb_ckpt_tblid_")
    try:
        state_d, fetched_d = _run(spark, world_dfs)
        state_t, fetched_t = _run(spark, world_dfs, ckpt_dir=ckpt)
        seen_d = {r["url"] for r in state_d.seen.collect()}
        seen_t = {r["url"] for r in state_t.seen.collect()}
        assert seen_t == seen_d
        assert _order(fetched_t) == _order(fetched_d)
        assert state_t.frontier.count() == 0
        # the table carries per-round stamps covering every committed round
        table = fr._seen_table_of(ckpt)
        assert table == fr._derived_seen_table(ckpt)
        assert _reads_table(state_t.seen, table)
        tbl = spark.table(table)
        assert tbl.columns == ["url", "url_hash", "round_no"]
        assert tbl.count() == len(seen_d)  # no duplicate appends on a clean run
        assert tbl.agg(F.max("round_no")).collect()[0][0] <= state_t.round_no
    finally:
        purge_ckpt(spark, ckpt)


def test_table_mode_bloom_crawl_identical(spark, world_dfs):
    """Bloom prefilter + table ground truth compose: identical results."""
    ckpt = tempfile.mkdtemp(prefix="oddb_ckpt_tblbloom_")
    try:
        state_d, fetched_d = _run(spark, world_dfs)
        state_t, fetched_t = _run(spark, world_dfs, ckpt_dir=ckpt, use_bloom=True)
        assert {r["url"] for r in state_t.seen.collect()} == {
            r["url"] for r in state_d.seen.collect()
        }
        assert _order(fetched_t) == _order(fetched_d)
    finally:
        purge_ckpt(spark, ckpt)


def test_table_mode_resume_identical_and_excludes_torn_round(spark, world_dfs):
    ckpt = tempfile.mkdtemp(prefix="oddb_ckpt_tbl_")
    try:
        state_b, fetched_b = _run(spark, world_dfs)
        state_r, fetched_r = _run(spark, world_dfs, ckpt_dir=ckpt, resume_at=2)
        assert {r["url"] for r in state_r.seen.collect()} == {
            r["url"] for r in state_b.seen.collect()
        }
        assert _order(fetched_r) == _order(fetched_b)

        # torn-round simulation: rows appended by a round that never reached
        # its .done marker must be invisible to a resume (round_no bound)
        table = fr._seen_table_of(ckpt)
        last = fr.latest_round(ckpt)
        torn = spark.createDataFrame(
            [("http://torn.example/x/", 12345)], "url string, url_hash long"
        )
        SS.append_seen(torn, table, round_no=last + 1)
        loaded = fr.load_checkpoint(spark, ckpt)
        assert _reads_table(loaded.seen, table)
        urls = {r["url"] for r in loaded.seen.collect()}
        assert "http://torn.example/x/" not in urls
        assert urls == {r["url"] for r in state_b.seen.collect()}
    finally:
        purge_ckpt(spark, ckpt)


def test_table_mode_cross_session_recovery(spark, world_dfs):
    """Session death loses the in-memory catalog but not the warehouse
    files: load_checkpoint must re-register the seen table (bucket spec
    intact) and resume with the full seen set."""
    from urllib.parse import urlparse

    ckpt = tempfile.mkdtemp(prefix="oddb_ckpt_tblrec_")
    stash = tempfile.mkdtemp(prefix="oddb_stash_") + "/t"
    try:
        state, fetched = _run(spark, world_dfs, ckpt_dir=ckpt)
        want = {r["url"] for r in state.seen.collect()}
        table = fr._seen_table_of(ckpt)

        loc = urlparse(
            spark.conf.get("spark.sql.warehouse.dir").rstrip("/") + "/" + table
        ).path
        shutil.copytree(loc, stash)
        spark.sql(f"DROP TABLE {table}")  # managed drop deletes files too
        shutil.copytree(stash, loc)
        assert not spark.catalog.tableExists(table)

        loaded = fr.load_checkpoint(spark, ckpt)
        assert spark.catalog.tableExists(table)
        assert {r["url"] for r in loaded.seen.collect()} == want
    finally:
        shutil.rmtree(os.path.dirname(stash), ignore_errors=True)
        purge_ckpt(spark, ckpt)


def test_table_mode_compaction_trims_rounds_and_files(spark, world_dfs):
    """Compaction: superseded round dirs deleted AND the per-round append
    file sets fold into a fresh single-generation table (the pointer flips
    atomically; old generation dropped); resume reconstructs the identical
    seen set from the new generation."""
    ckpt = tempfile.mkdtemp(prefix="oddb_ckpt_tblcmp_")
    try:
        state, fetched = _run(spark, world_dfs, ckpt_dir=ckpt)
        want = {r["url"] for r in state.seen.collect()}
        table = fr._seen_table_of(ckpt)
        files_before = SS.data_file_count(spark, table)
        assert state.round_no >= 3  # several appends happened
        latest = fr.compact_checkpoints(spark, ckpt)
        rounds = [d for d in os.listdir(ckpt) if d.startswith("round_")]
        assert rounds == [f"round_{latest:05d}"]
        new_table = fr._seen_table_of(ckpt)
        assert new_table == f"{table}__g1"
        assert not spark.catalog.tableExists(table)  # old generation dropped
        # one file set per bucket instead of one per (bucket, round)
        assert SS.data_file_count(spark, new_table) < files_before
        loaded = fr.load_checkpoint(spark, ckpt)
        assert _reads_table(loaded.seen, new_table)
        assert {r["url"] for r in loaded.seen.collect()} == want
        # a second compaction rolls the generation again, idempotently
        fr.compact_seen_table(spark, ckpt)
        assert fr._seen_table_of(ckpt) == f"{table}__g2"
        assert {
            r["url"] for r in fr.load_checkpoint(spark, ckpt).seen.collect()
        } == want
    finally:
        purge_ckpt(spark, ckpt)


def test_table_mode_crash_before_pointer_flip_keeps_old_generation(
    spark, world_dfs
):
    """Torn compaction: the new generation fully written but the pointer
    not flipped — the loader keeps serving the OLD table; the next
    compaction overwrites the orphan and completes."""
    ckpt = tempfile.mkdtemp(prefix="oddb_ckpt_tbltorn_")
    try:
        state, _ = _run(spark, world_dfs, ckpt_dir=ckpt)
        want = {r["url"] for r in state.seen.collect()}
        table = fr._seen_table_of(ckpt)
        latest = fr.latest_round(ckpt)
        # simulate the crash window: generation written, pointer untouched
        SS.compact_into_generation(spark, table, f"{table}__g1", latest)
        assert fr._seen_table_of(ckpt) == table
        loaded = fr.load_checkpoint(spark, ckpt)
        assert _reads_table(loaded.seen, table)
        assert {r["url"] for r in loaded.seen.collect()} == want
        # retry completes over the orphan
        assert fr.compact_seen_table(spark, ckpt) == f"{table}__g1"
        assert {
            r["url"] for r in fr.load_checkpoint(spark, ckpt).seen.collect()
        } == want
    finally:
        purge_ckpt(spark, ckpt)


def test_table_mode_seen_side_never_shuffles(spark, world_dfs):
    """The plan property that motivates the mode: with the bloom off and the
    broadcast path disabled, the exact anti-join against the table reads the
    seen side bucket-aligned — the only exchange hashes the CANDIDATES on
    url_hash."""
    import re

    from od_database_spark.plans import explain as PL

    purge_table(spark, TABLE)
    try:
        seen = spark.range(3000).select(
            F.format_string("http://h%d.t/d%d/", F.pmod("id", F.lit(31)), F.col("id")).alias("url")
        ).select("url", F.xxhash64("url").alias("url_hash"))
        SS.create_seen_table(seen, TABLE, round_no=0)
        cand = spark.range(2000, 4000).select(
            F.format_string("http://h%d.t/d%d/", F.pmod("id", F.lit(31)), F.col("id")).alias("canon_url")
        ).select("canon_url", F.xxhash64("canon_url").alias("url_hash"))
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = SS.filter_unseen_bucketed(spark, cand, TABLE, round_no=0)
            plan = PL.plan_string(out, "simple")
            ex = re.findall(r"Exchange (?:hash|range)partitioning[^\n]*", plan)
            assert len(ex) == 1, plan
            assert "url_hash" in ex[0] and "canon_url" not in ex[0], ex
            got = {r["canon_url"] for r in out.collect()}
            assert got == {f"http://h{i % 31}.t/d{i}/" for i in range(3000, 4000)}
            # the crawl path feeds filter_unseen the ALIASED table view —
            # the fallback anti-join must inherit the bucket alignment
            # (alias-aware output partitioning), candidates-only exchange
            from od_database_spark.operators import seen as seen_ops

            out2 = seen_ops.filter_unseen(cand, SS.seen_view(spark, TABLE, 0))
            ex2 = re.findall(
                r"Exchange (?:hash|range)partitioning[^\n]*",
                PL.plan_string(out2, "simple"),
            )
            assert len(ex2) == 1 and "canon_url" not in ex2[0], ex2
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        purge_table(spark, TABLE)


def test_crawl_run_table_mode_with_compaction(spark, world_dfs, tmp_path, monkeypatch):
    """crawl.run end-to-end with a ckpt dir and in-crawl compaction (the
    seen table's file-count trigger, lowered so a short crawl crosses it):
    identical fetched set vs the uncheckpointed run, and the final state
    reads a rolled generation of the dir's seen table."""
    from od_database_spark import crawl

    pages, robots, blacklist = world_dfs
    seeds = world.gen_seeds(spark, N_HOSTS)
    ck = str(tmp_path / "ck")
    try:
        base = crawl.run(
            spark, seeds, pages, robots, blacklist, fetch=False, use_bloom=False,
        )
        # this 4-round crawl never nears 8 full bucket sets: compact after
        # every round instead
        monkeypatch.setattr(crawl, "COMPACT_FILES", 0)
        tbl = crawl.run(
            spark, seeds, pages, robots, blacklist, fetch=False, use_bloom=False,
            ckpt_dir=ck,
        )
        assert tbl.rounds == base.rounds
        assert tbl.urls_fetched == base.urls_fetched
        table = fr._seen_table_of(ck)
        assert table.startswith(fr._derived_seen_table(ck) + "__g")  # rolled
        assert _reads_table(tbl.state.seen, table)
        seen_b = {r["url"] for r in base.state.seen.collect()}
        seen_t = {r["url"] for r in tbl.state.seen.collect()}
        assert seen_t == seen_b
    finally:
        purge_ckpt(spark, ck)


def test_table_mode_compaction_floor_rejects_older_round_load(spark, world_dfs):
    """ADVICE r5 fix: generation compaction re-stamps every surviving row
    with the latest round, so a crash between the _SEEN_TABLE pointer flip
    and the round-dir trim used to let load_checkpoint(round_no=<older>)
    silently reconstruct an EMPTY seen set.  The _SEEN_FLOOR pointer now
    makes that load RAISE instead (raise-not-readmit invariant, table-mode
    form); loads at/after the floor still work."""
    ckpt = tempfile.mkdtemp(prefix="oddb_ckpt_floor_")
    try:
        state, _fetched = _run(spark, world_dfs, ckpt_dir=ckpt)
        assert state.round_no >= 2
        want = {r["url"] for r in state.seen.collect()}
        older = state.round_no - 1
        latest = state.round_no
        # simulate the crash window: compact the TABLE (pointer + floor
        # flip) but leave the older round dirs untrimmed
        fr.compact_seen_table(spark, ckpt)
        assert os.path.isdir(os.path.join(ckpt, f"round_{older:05d}"))
        with pytest.raises(ValueError, match="compaction floor"):
            fr.load_checkpoint(spark, ckpt, round_no=older)
        loaded = fr.load_checkpoint(spark, ckpt, round_no=latest)
        assert {r["url"] for r in loaded.seen.collect()} == want
    finally:
        purge_ckpt(spark, ckpt)
