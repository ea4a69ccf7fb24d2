"""Crawl → ANN-index integration (r4 VERDICT #8): the crawl's fetched
images, embedded and streamed through the incremental index maintenance
sink, must produce the SAME index as a full rebuild over the same images —
the two halves of the engine (crawl pipeline, ANN store) meeting end-to-end.
Plus the long-crawl block-pinning cap (#9): with ckpt_dir set, crawl.run
spills round outputs to parquet instead of pinning every round's
localCheckpoint blocks."""

import json
import os

import pytest
from pyspark.sql import functions as F

from od_database_spark import crawl, schema
from od_database_spark.datagen import world
from od_database_spark.operators import ann_store
from od_database_spark.operators import fetch as fetch_ops
from od_database_spark.operators import frontier as fr
from od_database_spark.operators.dedup import ann_band_buckets
from od_database_spark.operators.multimodal import embed_images
from od_database_spark.streaming import index_maintenance as IM

from .seen_tables import purge_ckpt, purge_table

N_HOSTS = 12


@pytest.fixture(scope="module")
def world_dfs(spark):
    pages = world.gen_pages(spark, N_HOSTS).cache()
    robots = world.gen_robots(spark, N_HOSTS).cache()
    blacklist = world.gen_blacklist(spark, N_HOSTS).cache()
    pages.count()
    return pages, robots, blacklist


def test_crawl_images_stream_into_index_equals_full_rebuild(
    spark, world_dfs, tmp_path
):
    pages, robots, blacklist = world_dfs
    seeds = world.gen_seeds(spark, N_HOSTS)
    empty = spark.createDataFrame([], schema.SEEN)
    accepted = fr.submit_seeds(spark, seeds, empty, blacklist, pages)
    state = fr.initial_state(accepted)

    in_dir, ckpt = str(tmp_path / "vecs"), str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    lsh_table = "crawl_stream_lsh_test"
    purge_table(spark, lsh_table)

    round_vec_counts = []
    all_image_urls = []
    try:
        for rnd in range(2):
            state, _fetched, images = fr.expand_round(state, pages, robots)
            all_image_urls.append(images)
            # this round's NEW images: fetch → decode → embed → vector rows
            imgs = fetch_ops.fetch_images(fr.dedup_image_urls(images))
            vecs = embed_images(imgs).collect()
            round_vec_counts.append(len(vecs))
            with open(os.path.join(in_dir, f"round{rnd}.json"), "w") as f:
                for r in vecs:
                    f.write(json.dumps(
                        {"vec_id": r["vec_id"], "embedding": list(r["embedding"])}
                    ) + "\n")
            # incremental maintenance: drain this round's vectors into the
            # index (first drain builds, second appends to the frozen layout)
            IM.run_stream_index(spark, in_dir, lsh_table, ckpt)
        assert all(n > 0 for n in round_vec_counts)

        # full rebuild over ALL images the crawl discovered (both rounds),
        # deduped exactly as crawl.run does before fetching
        union = all_image_urls[0].unionByName(all_image_urls[1])
        all_imgs = fetch_ops.fetch_images(fr.dedup_image_urls(union))
        full = (
            embed_images(all_imgs)
            .dropDuplicates(["vec_id"])
            .select(
                "vec_id",
                F.explode(ann_band_buckets(F.col("embedding"))).alias("bucket"),
            )
        )
        got = sorted((r["vec_id"], r["bucket"]) for r in spark.table(lsh_table).collect())
        want = sorted((r["vec_id"], r["bucket"]) for r in full.collect())
        assert got == want and len(got) > 0
    finally:
        purge_table(spark, lsh_table)


def test_long_crawl_bounded_block_store(spark, world_dfs, tmp_path):
    """#9: a many-round checkpointed crawl must not pin one localCheckpoint
    per round per output — outputs spill to the ckpt dir (parquet-backed
    frames, their blocks unpersisted); results identical to the in-memory
    form.  The proof is structural, not a cached-RDD census (async
    ContextCleaner GC makes census counts flaky in a shared session)."""
    pages, robots, blacklist = world_dfs
    seeds = world.gen_seeds(spark, N_HOSTS)

    # small politeness budget stretches the same world over many rounds
    # (round_seconds must be >= the max crawl_delay (5s) or zero-budget
    # hosts carry forever and the frontier never drains)
    base = crawl.run(
        spark, seeds, pages, robots, blacklist, round_seconds=6,
        max_rounds=25, fetch=False, use_bloom=False,
    )
    ck_dir = str(tmp_path / "ck")
    try:
        ck = crawl.run(
            spark, seeds, pages, robots, blacklist, round_seconds=6,
            max_rounds=25, fetch=False, use_bloom=False,
            ckpt_dir=ck_dir,
        )
        assert ck.rounds == base.rounds and ck.rounds >= 8
        assert ck.urls_fetched == base.urls_fetched
        # identical outputs...
        def urls(result):
            out = []
            for df in result.fetched_pages:
                out.append(sorted(r["url"] for r in df.select("url").collect()))
            return out

        assert urls(ck) == urls(base)
        # ...and every returned round frame reads from checkpoint-dir FILES
        # (zero pinned blocks), where the in-memory form is RDD-block-backed
        for df in ck.fetched_pages + ck.image_urls:
            files = df.inputFiles()
            assert files and all(str(tmp_path) in f for f in files)
        assert all(not df.inputFiles() for df in base.fetched_pages)
    finally:
        purge_ckpt(spark, ck_dir)
