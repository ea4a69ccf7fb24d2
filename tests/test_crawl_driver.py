"""Top-level crawl.run() driver: end-to-end with checkpointing and resume."""

import tempfile

from od_database_spark import crawl
from od_database_spark.datagen import world
from od_database_spark.operators import fetch as fetch_ops

from .seen_tables import purge_ckpt


def test_run_end_to_end_and_resume(spark):
    n = 15
    pages = world.gen_pages(spark, n).cache()
    robots = world.gen_robots(spark, n).cache()
    blacklist = world.gen_blacklist(spark, n)
    seeds = world.gen_seeds(spark, n)
    ckpt = tempfile.mkdtemp(prefix="oddb_drv_")
    try:
        r1 = crawl.run(
            spark, seeds, pages, robots, blacklist,
            ckpt_dir=ckpt, max_rounds=3, expected_total_urls=5000,
        )
        assert r1.rounds == 3 and r1.urls_fetched > 0
        # resume from the checkpoint and finish the crawl
        r2 = crawl.run(
            spark, seeds, pages, robots, blacklist,
            ckpt_dir=ckpt, resume=True, expected_total_urls=5000,
        )
        assert r2.state.frontier.count() == 0
        # fresh uninterrupted run must agree on the final seen set
        r3 = crawl.run(spark, seeds, pages, robots, blacklist, fetch=False)
        seen_resumed = {x["url"] for x in r2.state.seen.collect()}
        seen_fresh = {x["url"] for x in r3.state.seen.collect()}
        assert seen_resumed == seen_fresh
        # image pipeline: decoded rows verify clean
        if r2.images is not None:
            verified = fetch_ops.verify_images(r2.images)
            assert verified.filter(~verified.pixel_ok).count() == 0
    finally:
        purge_ckpt(spark, ckpt)
