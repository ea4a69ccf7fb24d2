"""Crawl-order + URL-seen-set equivalence vs the pure-Python oracle
(BASELINE.json metric: 'crawl-order + URL-seen-set exact match vs reference'),
plus checkpoint/resume identity (SURVEY.md §5.7) and bloom exactness."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from od_database_spark import schema
from od_database_spark.datagen import world
from od_database_spark.functions.urls import with_canonical
from od_database_spark.operators import frontier as fr
from od_database_spark.operators import seen as seen_ops

from .oracle import Oracle
from .seen_tables import purge_ckpt, purge_table

N_HOSTS = 30
MAX_ROUNDS = 12


@pytest.fixture(scope="module")
def world_dfs(spark):
    pages = world.gen_pages(spark, N_HOSTS).cache()
    robots = world.gen_robots(spark, N_HOSTS).cache()
    blacklist = world.gen_blacklist(spark, N_HOSTS).cache()
    pages.count()
    return pages, robots, blacklist


@pytest.fixture(scope="module")
def oracle_world(world_dfs):
    pages, robots, blacklist = world_dfs
    pages_d = {
        r["url"]: {
            "links": list(r["links"]),
            "redirects": r["redirects"],
            "link_tag_count": r["link_tag_count"],
            "script_tag_count": r["script_tag_count"],
        }
        for r in pages.collect()
    }
    robots_d = {
        r["host"]: (r["crawl_delay"], list(r["disallow_prefixes"] or []))
        for r in robots.collect()
    }
    bl = {r["url"] for r in blacklist.collect()}
    return pages_d, robots_d, bl


def run_oracle(oracle_world, n_seed_hosts=N_HOSTS):
    pages_d, robots_d, bl = oracle_world
    o = Oracle(pages_d, robots_d, bl)
    seeds = world.seed_urls(n_seed_hosts)
    o.submit([(u, i, 1) for i, u in enumerate(seeds)])
    o.crawl(max_rounds=MAX_ROUNDS)
    return o


def run_spark(spark, world_dfs, ckpt_dir=None, resume_at=None, compact_at=None):
    pages, robots, blacklist = world_dfs
    seeds = world.gen_seeds(spark, N_HOSTS)
    empty_sites = spark.createDataFrame([], schema.SEEN)
    accepted = fr.submit_seeds(spark, seeds, empty_sites, blacklist, pages)
    state = fr.initial_state(accepted)
    fetched_all, image_all = [], []
    for rnd in range(MAX_ROUNDS):
        if state.frontier.count() == 0:
            break
        state, fetched, images = fr.expand_round(state, pages, robots)
        fetched_all.append(
            fetched.select("url", "discovery_seq", "priority").collect()
        )
        image_all.extend(r["url"] for r in images.select("url").collect())
        if ckpt_dir is not None:
            state = fr.checkpoint(state, ckpt_dir)
        if compact_at is not None and state.round_no == compact_at:
            fr.compact_checkpoints(spark, ckpt_dir)
            state = fr.load_checkpoint(spark, ckpt_dir)
        if resume_at is not None and state.round_no == resume_at:
            # simulate a crash: reload purely from disk
            state = fr.load_checkpoint(spark, ckpt_dir)
    return accepted, state, fetched_all, image_all


@pytest.fixture(scope="module")
def spark_run(spark, world_dfs):
    return run_spark(spark, world_dfs)


def test_accepted_websites_match(spark_run, oracle_world):
    accepted, _, _, _ = spark_run
    o = Oracle(*oracle_world)
    seeds = world.seed_urls(N_HOSTS)
    o.submit([(u, i, 1) for i, u in enumerate(seeds)])
    got = {r["url"] for r in accepted.select("url").collect()}
    assert got == set(o.websites), (
        sorted(got - set(o.websites))[:5],
        sorted(set(o.websites) - got)[:5],
    )


def test_seen_set_exact_match(spark_run, oracle_world):
    _, state, _, _ = spark_run
    o = run_oracle(oracle_world)
    got = {r["url"] for r in state.seen.select("url").collect()}
    assert got == o.seen, (sorted(got - o.seen)[:5], sorted(o.seen - got)[:5])


def test_crawl_order_exact_match(spark_run, oracle_world):
    """Crawl ORDER is the contract (priority-then-FIFO dequeue); seq values
    are opaque ids (packed, not dense) so the comparison is the URL sequence."""
    _, _, fetched_all, _ = spark_run
    o = run_oracle(oracle_world)
    spark_order = []
    for rnd_rows in fetched_all:
        spark_order.extend(
            r["url"]
            for r in sorted(rnd_rows, key=lambda r: (-r["priority"], r["discovery_seq"]))
        )
    oracle_order = [url for url, _seq in o.crawl_order]
    assert spark_order == oracle_order, (
        spark_order[:5], oracle_order[:5], len(spark_order), len(oracle_order),
    )


def test_image_urls_match(spark_run, oracle_world):
    _, _, _, image_all = spark_run
    o = run_oracle(oracle_world)
    assert set(image_all) == o.image_urls


def test_frontier_drained(spark_run):
    _, state, _, _ = spark_run
    assert state.frontier.count() == 0


def _flat_order(fs):
    # seq values are run-specific (packed); the ORDER must be identical
    return [
        r["url"]
        for rows in fs
        for r in sorted(rows, key=lambda r: (-r["priority"], r["discovery_seq"]))
    ]


def test_checkpoint_resume_identical(spark, world_dfs, spark_run):
    ckpt = tempfile.mkdtemp(prefix="oddb_ckpt_")
    try:
        _, state_resumed, fetched_r, _ = run_spark(
            spark, world_dfs, ckpt_dir=ckpt, resume_at=2
        )
        _, state_base, fetched_b, _ = spark_run
        seen_r = {r["url"] for r in state_resumed.seen.collect()}
        seen_b = {r["url"] for r in state_base.seen.collect()}
        assert seen_r == seen_b
        assert _flat_order(fetched_r) == _flat_order(fetched_b)
    finally:
        purge_ckpt(spark, ckpt)


def test_resume_across_compaction_boundary_identical(spark, world_dfs, spark_run):
    """Compaction at round 1 then a crash-resume at round 2 must reproduce
    the uncheckpointed crawl bit-for-bit (seen set + order)."""
    ckpt = tempfile.mkdtemp(prefix="oddb_ckpt_cmp_")
    try:
        _, state_resumed, fetched_r, _ = run_spark(
            spark, world_dfs, ckpt_dir=ckpt, resume_at=2, compact_at=1
        )
        _, state_base, fetched_b, _ = spark_run
        seen_r = {r["url"] for r in state_resumed.seen.collect()}
        seen_b = {r["url"] for r in state_base.seen.collect()}
        assert seen_r == seen_b
        assert _flat_order(fetched_r) == _flat_order(fetched_b)
    finally:
        purge_ckpt(spark, ckpt)


def test_loader_raises_on_torn_or_alien_checkpoints(spark, world_dfs):
    """The loader must never silently resume with a wrong seen set: a ckpt
    dir whose seen table is gone (no catalog entry, no files) raises, a
    fresh run refuses to checkpoint over another run's rounds, and a loader
    pointed at another run's rounds raises."""
    pages, robots, blacklist = world_dfs
    seeds = world.gen_seeds(spark, N_HOSTS)
    empty = spark.createDataFrame([], schema.SEEN)
    ckpt = tempfile.mkdtemp(prefix="oddb_ckpt_guard_")
    try:
        accepted = fr.submit_seeds(spark, seeds, empty, blacklist, pages)
        state = fr.initial_state(accepted)
        for _ in range(2):
            state, _, _ = fr.expand_round(state, pages, robots)
            state = fr.checkpoint(state, ckpt)

        # reused ckpt_dir: a FRESH run (new run_id) must refuse to checkpoint
        # over another run's rounds...
        state_b = fr.initial_state(accepted)
        state_b, _, _ = fr.expand_round(state_b, pages, robots)
        with pytest.raises(ValueError, match="another run"):
            fr.checkpoint(state_b, ckpt)

        # the pointed-at seen table lost (catalog entry AND files): resuming
        # would re-admit every URL ever seen
        purge_table(spark, fr._seen_table_of(ckpt))
        with pytest.raises(FileNotFoundError, match="neither a catalog entry"):
            fr.load_checkpoint(spark, ckpt)

        # ...and a loader pointed at rounds from a different run refuses too
        with open(os.path.join(ckpt, "_RUN"), "w") as f:
            f.write("deadbeef0000")
        with pytest.raises(ValueError, match="different run"):
            fr.load_checkpoint(spark, ckpt)
    finally:
        purge_ckpt(spark, ckpt)


def test_old_seen_delta_layout_raises(spark, world_dfs, tmp_path):
    """A ckpt dir in the removed per-round layout (a .done round with a
    seen_delta/ parquet dir and no _SEEN_TABLE pointer) must make the loader
    and the compactor raise — never resume with an EMPTY seen set."""
    pages, robots, blacklist = world_dfs
    seeds = world.gen_seeds(spark, N_HOSTS)
    empty = spark.createDataFrame([], schema.SEEN)
    ckpt = str(tmp_path / "old_layout")
    try:
        accepted = fr.submit_seeds(spark, seeds, empty, blacklist, pages)
        state, _, _ = fr.expand_round(fr.initial_state(accepted), pages, robots)
        state = fr.checkpoint(state, ckpt)
        rd = os.path.join(ckpt, "round_00001")
        state.seen.write.parquet(os.path.join(rd, "seen_delta"))
        os.remove(os.path.join(ckpt, "_SEEN_TABLE"))
        assert fr.latest_round(ckpt) == 1
        with pytest.raises(FileNotFoundError, match="_SEEN_TABLE"):
            fr.load_checkpoint(spark, ckpt)
        with pytest.raises(FileNotFoundError, match="_SEEN_TABLE"):
            fr.compact_checkpoints(spark, ckpt)
        assert os.path.isdir(rd)  # the compactor deleted nothing
    finally:
        purge_ckpt(spark, ckpt)


def test_two_ckpt_dirs_own_distinct_tables(spark, world_dfs, oracle_world, tmp_path):
    """Two crawls checkpointed in one session, interleaved round for round:
    each ckpt dir derives its own seen table, and each resumes to its own
    oracle seen set (a shared table would leak one crawl's URLs into the
    other's anti-join)."""
    from od_database_spark import crawl

    pages, robots, blacklist = world_dfs
    dirs = {N_HOSTS: str(tmp_path / "all_seeds"), N_HOSTS // 2: str(tmp_path / "half")}
    try:
        for n, ck in dirs.items():
            r = crawl.run(
                spark, world.gen_seeds(spark, n), pages, robots, blacklist,
                ckpt_dir=ck, max_rounds=2, fetch=False,
            )
            assert r.rounds == 2
        assert len({fr._seen_table_of(ck) for ck in dirs.values()}) == 2
        seen = {}
        for n, ck in dirs.items():
            r = crawl.run(
                spark, world.gen_seeds(spark, n), pages, robots, blacklist,
                ckpt_dir=ck, resume=True, fetch=False,
            )
            assert r.state.frontier.count() == 0
            seen[n] = {x["url"] for x in r.state.seen.collect()}
            want = run_oracle(oracle_world, n).seen
            assert seen[n] == want, (sorted(seen[n] - want)[:5], sorted(want - seen[n])[:5])
        assert seen[N_HOSTS // 2] < seen[N_HOSTS]
    finally:
        for ck in dirs.values():
            purge_ckpt(spark, ck)


def test_multi_parent_image_fetched_once(spark):
    """Two pages linking the SAME image URL must yield exactly one fetched
    row (fetch derives bytes and captions from image_id, so a duplicate
    would silently append the same payload twice), with the keeper row
    attributed to the earliest discovery."""
    from od_database_spark.operators import fetch as fetch_ops

    host = "shared.test"
    root = f"http://{host}/"
    img = f"http://{host}/shared/pic.jpg"
    pages = spark.createDataFrame(
        [
            (root, host, ["a/", "b/"], 0, 0, False),
            (f"{root}a/", host, [img], 0, 0, False),
            (f"{root}b/", host, [img], 0, 0, False),
        ],
        schema.PAGES,
    )
    robots = spark.createDataFrame(
        [(host, 1.0, [])],
        "host string, crawl_delay double, disallow_prefixes array<string>",
    )
    accepted = spark.createDataFrame(
        [(root,)], "url string"
    ).select(
        "url",
        F.xxhash64("url").alias("url_hash"),
        F.xxhash64("url").alias("website_id"),
        F.lit(host).alias("host"),
        F.lit(1).alias("priority"),
        F.lit(0).cast("long").alias("submit_seq"),
    )
    state = fr.initial_state(accepted)
    image_dfs = []
    for _ in range(4):
        if state.frontier.count() == 0:
            break
        state, _fetched, images = fr.expand_round(state, pages, robots)
        image_dfs.append(images)
    all_images = image_dfs[0]
    for df in image_dfs[1:]:
        all_images = all_images.unionByName(df)
    raw = all_images.collect()
    assert len(raw) == 2  # both parents emitted the link
    assert len({r["image_id"] for r in raw}) == 1
    deduped = fr.dedup_image_urls(all_images)
    rows = deduped.collect()
    assert len(rows) == 1
    # keeper = earliest discovery order (a/ is enqueued before b/)
    keep = rows[0]
    earliest = min(raw, key=lambda r: (r["parent_seq"], r["link_idx"]))
    assert (keep["parent_seq"], keep["link_idx"]) == (
        earliest["parent_seq"], earliest["link_idx"],
    )
    assert fetch_ops.fetch_images(deduped).count() == 1


def test_bloom_prefilter_exactness(spark):
    # bloom-accelerated filter_unseen must equal the exact anti-join
    seen_urls = [(world.root_url(i), ) for i in range(200)]
    seen_df = (
        with_canonical(spark.createDataFrame(seen_urls, "url string"))
        .select(F.col("canon_url").alias("url"), "url_hash")
    ).cache()
    cand = with_canonical(
        spark.createDataFrame(
            [(world.root_url(i),) for i in range(150, 350)], "url string"
        )
    ).cache()
    bloom = seen_ops.PartitionedBloom.build(seen_df, n_parts=8)
    without = {r["canon_url"] for r in seen_ops.filter_unseen(cand, seen_df).collect()}
    with_bloom = {
        r["canon_url"] for r in seen_ops.filter_unseen(cand, seen_df, bloom).collect()
    }
    assert without == with_bloom
    assert with_bloom == {world.root_url(i) for i in range(200, 350)}


def test_filter_unseen_broadcast_gate_fallback_exact(spark):
    """When the maybe-seen sliver exceeds the broadcast bound, filter_unseen
    must fall back to the shuffled anti-join — same exact answer, and the
    plan no longer force-broadcasts the (unbounded) sliver."""
    from od_database_spark.plans import explain as PL

    seen_urls = [(world.root_url(i),) for i in range(300)]
    seen_df = with_canonical(spark.createDataFrame(seen_urls, "url string")).select(
        F.col("canon_url").alias("url"), "url_hash"
    ).localCheckpoint(eager=True)
    cand = with_canonical(
        spark.createDataFrame([(world.root_url(i),) for i in range(250, 400)], "url string")
    ).localCheckpoint(eager=True)
    bloom = seen_ops.PartitionedBloom.build(seen_df, n_parts=8)
    expect = {world.root_url(i) for i in range(300, 400)}
    fast = seen_ops.filter_unseen(cand, seen_df, bloom)
    slow = seen_ops.filter_unseen(cand, seen_df, bloom, broadcast_limit=10)
    assert {r["canon_url"] for r in fast.collect()} == expect
    assert {r["canon_url"] for r in slow.collect()} == expect
    assert PL.exchange_count(fast) == 0  # gated IN: still the zero-shuffle plan
    assert PL.exchange_count(slow) > 0  # gated OUT: plain shuffled anti-join


def test_bloom_no_false_negatives(spark):
    import numpy as np

    seen_urls = [(world.root_url(i),) for i in range(500)]
    seen_df = with_canonical(spark.createDataFrame(seen_urls, "url string")).select(
        F.col("canon_url").alias("url"), "url_hash"
    )
    bloom = seen_ops.PartitionedBloom.build(seen_df, n_parts=16)
    keys = np.array([r["url_hash"] for r in seen_df.collect()], dtype=np.int64)
    assert bloom.probe_np(keys).all()  # every member must report maybe-seen


def test_checkpoint_writes_lineage_and_metrics(spark, world_dfs):
    ckpt = tempfile.mkdtemp(prefix="oddb_lineage_")
    try:
        pages, robots, blacklist = world_dfs
        seeds = world.gen_seeds(spark, N_HOSTS)
        empty = spark.createDataFrame([], schema.SEEN)
        accepted = fr.submit_seeds(spark, seeds, empty, blacklist, pages)
        state = fr.initial_state(accepted)
        state, fetched, _ = fr.expand_round(state, pages, robots)
        state = fr.checkpoint(state, ckpt, metrics={"urls_fetched": fetched.count(), "round_sec": 1.5})
        rd = os.path.join(ckpt, f"round_{state.round_no:05d}")
        lineage = spark.read.parquet(os.path.join(rd, "lineage"))
        rows = lineage.collect()
        assert {r["table"] for r in rows} == {"frontier", "seen_append"}
        # delta checkpointing: this is the FIRST checkpoint, so the appended
        # rows (seeds + round-1 discoveries) ARE the whole seen set
        seen_total = sum(r["rows"] for r in rows if r["table"] == "seen_append")
        assert seen_total == state.seen.count()
        assert all(r["token"].startswith((r["table"],)) for r in rows)
        metrics = fr._read_record(ckpt, state.round_no)["metrics"]
        assert metrics["urls_fetched"] == fetched.count()
        assert metrics["round_sec"] == 1.5
    finally:
        purge_ckpt(spark, ckpt)


def test_resume_reads_one_commit_record_per_round(spark, world_dfs, monkeypatch):
    """A resume reads each committed round's `.done` record exactly once,
    and every record holds the round's identity, its row counts and the
    crawl's per-round metrics, each equal to what the round wrote."""
    from od_database_spark import crawl

    pages, robots, blacklist = world_dfs
    ckpt = tempfile.mkdtemp(prefix="oddb_ckpt_rec_")
    try:
        crawl.run(
            spark, world.gen_seeds(spark, N_HOSTS), pages, robots, blacklist,
            ckpt_dir=ckpt, max_rounds=3, fetch=False,
        )
        reads = []
        real = fr._read_record
        monkeypatch.setattr(
            fr, "_read_record", lambda d, r: reads.append(r) or real(d, r)
        )
        loaded = fr.load_checkpoint(spark, ckpt)
        assert reads == [1, 2, 3] and loaded.round_no == 3
        monkeypatch.undo()

        table = spark.table(fr._seen_table_of(ckpt))
        run_id = fr._read_pointer(ckpt, "_RUN")
        for r in reads:
            rec = fr._read_record(ckpt, r)
            assert set(rec) == set(fr._RECORD_KEYS)
            assert (rec["round_no"], rec["next_seq"], rec["run_id"]) == (r, 0, run_id)
            rd = os.path.join(ckpt, f"round_{r:05d}")
            od = os.path.join(ckpt, "outputs", f"round_{r:05d}")
            assert rec["frontier_rows"] == spark.read.parquet(os.path.join(rd, "frontier")).count()
            assert rec["seen_delta_rows"] == table.filter(F.col("round_no") == r).count()
            m = rec["metrics"]
            assert set(m) == {"urls_fetched", "images_found", "round_sec"}
            assert m["urls_fetched"] == spark.read.parquet(os.path.join(od, "fetched")).count()
            assert m["images_found"] == spark.read.parquet(os.path.join(od, "images")).count()
        assert loaded.frontier_rows == loaded.frontier.count()
    finally:
        purge_ckpt(spark, ckpt)


def test_old_marker_is_not_a_commit_record(spark, world_dfs, tmp_path):
    """A `.done` holding the older layout's bare "ok" marker (round state in
    meta/ parquet) is not a commit record: loading, resuming or compacting
    such a dir raises instead of resuming blind."""
    from od_database_spark import crawl

    pages, robots, blacklist = world_dfs
    seeds = world.gen_seeds(spark, N_HOSTS)
    empty = spark.createDataFrame([], schema.SEEN)
    ckpt = str(tmp_path / "old_marker")
    try:
        accepted = fr.submit_seeds(spark, seeds, empty, blacklist, pages)
        state, _, _ = fr.expand_round(fr.initial_state(accepted), pages, robots)
        state = fr.checkpoint(state, ckpt)
        rd = os.path.join(ckpt, "round_00001")
        spark.createDataFrame(
            [(1, 0, fr._read_pointer(ckpt, "_RUN"))],
            "round_no int, next_seq long, run_id string",
        ).write.parquet(os.path.join(rd, "meta"))
        with open(os.path.join(rd, ".done"), "w") as f:
            f.write("ok")
        assert fr.latest_round(ckpt) == 1
        with pytest.raises(FileNotFoundError, match="not a round commit record"):
            fr.load_checkpoint(spark, ckpt)
        with pytest.raises(FileNotFoundError, match="not a round commit record"):
            crawl.run(spark, seeds, pages, robots, blacklist, ckpt_dir=ckpt, resume=True)
        with pytest.raises(FileNotFoundError, match="not a round commit record"):
            fr.compact_checkpoints(spark, ckpt)
        assert os.path.isdir(rd)  # the compactor deleted nothing
    finally:
        purge_ckpt(spark, ckpt)


def test_leftover_record_tmp_leaves_round_uncommitted(spark, world_dfs, tmp_path):
    """A crash inside the record write leaves `.done.tmp` and no `.done`:
    that round is not committed, and a resume loads the round before it."""
    pages, robots, blacklist = world_dfs
    seeds = world.gen_seeds(spark, N_HOSTS)
    empty = spark.createDataFrame([], schema.SEEN)
    ckpt = str(tmp_path / "torn_record")
    try:
        accepted = fr.submit_seeds(spark, seeds, empty, blacklist, pages)
        state, _, _ = fr.expand_round(fr.initial_state(accepted), pages, robots)
        state = fr.checkpoint(state, ckpt)
        want = {r["url"] for r in state.seen.collect()}
        state2, _, _ = fr.expand_round(state, pages, robots)
        fr.checkpoint(state2, ckpt)
        rd = os.path.join(ckpt, "round_00002")
        os.replace(os.path.join(rd, ".done"), os.path.join(rd, ".done.tmp"))
        assert fr.latest_round(ckpt) == 1
        loaded = fr.load_checkpoint(spark, ckpt)
        assert loaded.round_no == 1
        assert {r["url"] for r in loaded.seen.collect()} == want
        with pytest.raises(FileNotFoundError, match="not committed"):
            fr.load_checkpoint(spark, ckpt, round_no=2)
    finally:
        purge_ckpt(spark, ckpt)


def _finished_jobs_after(spark, job_id):
    """Finished Spark jobs with an id above ``job_id``, read from the status
    store the way the benchmark's job accounting reads it."""
    import json

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(sc._jsc.sc().statusStore().jobsList(None)))
    return sorted(
        j["jobId"] for j in jobs
        if j["jobId"] > job_id and j.get("completionTime") is not None
    )


def test_checkpoint_round_trip_job_budget(spark, world_dfs, tmp_path):
    """One checkpoint + load_checkpoint round trip without the bloom runs at
    most 5 Spark jobs: the frontier write, the seen append (its bucket
    shuffle and its write) and the lineage manifests (their one map stage
    and their write).  The commit record and the loader's reads are
    driver-side files, so they run none."""
    pages, robots, blacklist = world_dfs
    seeds = world.gen_seeds(spark, N_HOSTS)
    empty = spark.createDataFrame([], schema.SEEN)
    ckpt = str(tmp_path / "budget")
    try:
        accepted = fr.submit_seeds(spark, seeds, empty, blacklist, pages)
        state = fr.initial_state(accepted)
        for _ in range(2):
            state, _, _ = fr.expand_round(state, pages, robots)
            before = max(_finished_jobs_after(spark, -1), default=-1)
            state = fr.checkpoint(state, ckpt)
            loaded = fr.load_checkpoint(spark, ckpt)
            jobs = _finished_jobs_after(spark, before)
            assert 1 <= len(jobs) <= 5, (state.round_no, jobs)
            assert loaded.frontier_rows == state.frontier_rows
    finally:
        purge_ckpt(spark, ckpt)


def test_bloom_crawl_equals_exact_crawl(spark, world_dfs):
    """Crawl with the incrementally-maintained bloom prefilter must produce
    the exact same seen set and fetch order as the exact-only crawl."""
    pages, robots, blacklist = world_dfs
    seeds = world.gen_seeds(spark, N_HOSTS)
    empty = spark.createDataFrame([], schema.SEEN)
    accepted = fr.submit_seeds(spark, seeds, empty, blacklist, pages)
    state = fr.initial_state(accepted, use_bloom=True, expected_total_urls=5000, bloom_parts=8)
    fetched_all = []
    for _ in range(MAX_ROUNDS):
        if state.frontier.count() == 0:
            break
        state, fetched, _ = fr.expand_round(state, pages, robots)
        fetched_all.append(fetched.select("url", "discovery_seq", "priority").collect())
    assert state.bloom is not None and state.bloom.bitsets
    base = run_spark(spark, world_dfs)
    seen_bloom = {r["url"] for r in state.seen.collect()}
    seen_base = {r["url"] for r in base[1].seen.collect()}
    assert seen_bloom == seen_base
    flat = lambda fs: [
        r["url"]
        for rows in fs
        for r in sorted(rows, key=lambda r: (-r["priority"], r["discovery_seq"]))
    ]
    assert flat(fetched_all) == flat(base[2])


def test_checkpoint_writes_delta_not_full_copy(spark, world_dfs):
    """Write-amplification contract: round k's checkpoint appends to the
    seen table only the urls discovered since the previous checkpoint,
    never the whole seen set."""
    ckpt = tempfile.mkdtemp(prefix="oddb_delta_")
    try:
        pages, robots, blacklist = world_dfs
        seeds = world.gen_seeds(spark, N_HOSTS)
        empty = spark.createDataFrame([], schema.SEEN)
        accepted = fr.submit_seeds(spark, seeds, empty, blacklist, pages)
        state = fr.initial_state(accepted)
        state, _, _ = fr.expand_round(state, pages, robots)
        state = fr.checkpoint(state, ckpt)
        seen_r1 = {r["url"] for r in state.seen.collect()}
        state, _, _ = fr.expand_round(state, pages, robots)
        state = fr.checkpoint(state, ckpt)
        seen_r2 = {r["url"] for r in state.seen.collect()}
        tbl = spark.table(fr._seen_table_of(ckpt))
        stamp = lambda k: {r["url"] for r in tbl.filter(F.col("round_no") == k).collect()}
        assert stamp(1) == seen_r1                # first append = everything so far
        assert stamp(2) == seen_r2 - seen_r1      # second append = ONLY the new urls
        assert len(stamp(2)) < len(seen_r2)       # never a full copy
        assert tbl.count() == len(seen_r2)        # no row written twice
        # and the loader reads back the exact set
        loaded = fr.load_checkpoint(spark, ckpt)
        assert loaded.seen.count() == len(seen_r2)
    finally:
        purge_ckpt(spark, ckpt)


def test_ftp_liveness_required(spark, world_dfs):
    """S10 parity (od_util.py:180-185): an ftp root is accepted iff the
    server responds (page row exists); HTTP tag heuristics never apply to
    ftp, and a dead ftp server is rejected."""
    pages, _, blacklist = world_dfs
    live_ftp = None
    for r in pages.select("url").collect():
        if r["url"].startswith("ftp://") and r["url"].count("/") == 3:
            live_ftp = r["url"]
            break
    assert live_ftp is not None, "world should contain ftp roots"
    cand = with_canonical(
        spark.createDataFrame(
            [(live_ftp, 0, 1), ("ftp://deadserver.example/", 1, 1)],
            "url string, submit_seq long, priority int",
        ),
        "url",
    )
    got = {
        r["canon_url"]
        for r in seen_ops.filter_is_od(cand, pages).select("canon_url").collect()
    }
    assert live_ftp in got
    assert "ftp://deadserver.example/" not in got


def test_compact_checkpoints(spark, world_dfs):
    """Compaction folds the seen table's per-round appends into one
    generation and drops older round dirs; the reloaded seen set is
    identical."""
    ckpt = tempfile.mkdtemp(prefix="oddb_compact_")
    try:
        pages, robots, blacklist = world_dfs
        seeds = world.gen_seeds(spark, N_HOSTS)
        empty = spark.createDataFrame([], schema.SEEN)
        accepted = fr.submit_seeds(spark, seeds, empty, blacklist, pages)
        state = fr.initial_state(accepted)
        for _ in range(3):
            state, _, _ = fr.expand_round(state, pages, robots)
            state = fr.checkpoint(state, ckpt)
        before = {r["url"] for r in state.seen.collect()}
        surviving = fr.compact_checkpoints(spark, ckpt)
        assert surviving == state.round_no
        dirs = [d for d in os.listdir(ckpt) if d.startswith("round_")]
        assert dirs == [f"round_{surviving:05d}"]
        loaded = fr.load_checkpoint(spark, ckpt)
        after = {r["url"] for r in loaded.seen.collect()}
        assert after == before
        # and the crawl can keep going after compaction
        nxt, _, _ = fr.expand_round(loaded, pages, robots)
        assert nxt.round_no == surviving + 1
    finally:
        purge_ckpt(spark, ckpt)


def test_politeness_cutoff_shuffle_fallback_identical(spark):
    """max_broadcast_hosts: above the bound the due/carry split joins the
    per-host cutoffs by shuffle instead of broadcast — identical selection
    (the ≥10^8-host deployment path), and the broadcast hint is gone from
    the plan."""
    from od_database_spark.plans import explain as PL

    frontier = (
        spark.range(4000)
        .select(
            F.format_string("http://h%d.p/d%d/", F.pmod("id", F.lit(97)), F.col("id")).alias("url"),
            F.xxhash64(F.format_string("u%d", F.col("id"))).alias("url_hash"),
            F.pmod("id", F.lit(97)).alias("website_id"),
            F.format_string("h%d.p", F.pmod("id", F.lit(97))).alias("host"),
            (F.pmod("id", F.lit(5)) + 1).cast("int").alias("priority"),
            F.lit(1).alias("depth"),
            F.col("id").alias("discovery_seq"),
        )
        .localCheckpoint(eager=True)
    )
    robots = spark.createDataFrame(
        [(f"h{i}.p", 1.0 + (i % 3), []) for i in range(97)],
        "host string, crawl_delay double, disallow_prefixes array<string>",
    )

    def run(**kw):
        due, carry, cut = fr.politeness_select(frontier, robots, round_seconds=9, **kw)
        d = {(r["url"],) for r in due.select("url").collect()}
        c = {(r["url"],) for r in carry.select("url").collect()}
        cut.unpersist()
        return d, c

    d_b, c_b = run()
    d_s, c_s = run(max_broadcast_hosts=0)  # force the shuffle path
    assert d_b == d_s and c_b == c_s and d_b and c_b

    due, _carry, cut = fr.politeness_select(
        frontier, robots, round_seconds=9, max_broadcast_hosts=0
    )
    plan = PL.plan_string(due, "simple")
    # the cutoff join must not be a broadcast in fallback mode
    assert "BroadcastHashJoin" not in plan.split("Window")[0], plan
    cut.unpersist()


def test_resolve_intra_batch_depths_param_parity(spark):
    """The r6 ``depths`` shortcut (caller-known depth domain skips the
    discovery job) must select the exact same accepted set as discovery —
    including the serial-fixpoint subtleties: a LATER root does not
    retro-block an earlier-accepted subdir, and an exact duplicate resolves
    to the earliest submit_seq.  A superset depth list is also a no-op."""
    rows = [
        ("http://h.ex/a/b/", 1, 2),   # dir accepted first
        ("http://h.ex/a/", 5, 1),     # later root: must NOT block seq-1 dir
        ("http://h.ex/a/c/", 7, 2),   # dir after the root: blocked by seq-5 root
        ("http://h.ex/z/", 2, 1),     # root accepted
        ("http://h.ex/z/q/", 3, 2),   # blocked by seq-2 root
        ("http://h.ex/a/b/", 9, 2),   # exact dup: loses to seq 1
    ]
    df = spark.createDataFrame(rows, "canon_url string, submit_seq long, depth int")
    key = lambda out: sorted((r["canon_url"], r["submit_seq"]) for r in out.collect())
    base = key(fr.resolve_intra_batch(df))
    assert base == [("http://h.ex/a/", 5), ("http://h.ex/a/b/", 1), ("http://h.ex/z/", 2)]
    assert key(fr.resolve_intra_batch(df, depths=[1, 2])) == base
    assert key(fr.resolve_intra_batch(df, depths=[1, 2, 3, 4])) == base


def test_resolve_intra_batch_depths_missing_level_raises(spark):
    """A caller-supplied depth domain that misses an occurring depth must
    fail the call, not silently drop that level's rows."""
    rows = [("http://h.ex/a/", 1, 1), ("http://h.ex/a/b/", 2, 2)]
    df = spark.createDataFrame(rows, "canon_url string, submit_seq long, depth int")
    with pytest.raises(Exception, match="not in depths"):
        fr.resolve_intra_batch(df, depths=[1])
