"""Top-level crawl driver: the engine's equivalent of the reference's
main loop (task submission → crawler fleet → indexer threads,
views.py/tasks.py) as one resumable batch pipeline.

    from od_database_spark import crawl
    result = crawl.run(spark, seeds_df, pages, robots, blacklist,
                       ckpt_dir="/data/ckpt")

Each round is checkpointed before the next begins, into ``round_<n>/``
under the ckpt dir: ``frontier/`` (parquet), ``lineage/`` (per-partition
lineage manifests) and ``.done``, the round's JSON commit record (round,
run id, frontier and seen-delta row counts, and the round's fetched and
image counts and seconds).  The round's new URLs are appended to the ckpt
dir's bucketed seen table (operators/seen_store.py, the single durable
seen set) before the record is written, and the round's outputs go to
``outputs/round_<n>/{fetched,images}/``.  A killed run resumes exactly
where it stopped (``resume=True``).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import schema
from .operators import fetch as fetch_ops
from .operators import frontier as fr
from .operators import seen_store

# compact the ckpt dir's seen table once it holds more data files than eight
# full-bucket appends write (each append adds at most N_BUCKETS files)
COMPACT_FILES = 8 * seen_store.N_BUCKETS


def _spill(df: DataFrame, path: str) -> tuple[DataFrame, int]:
    """Write one round output as parquet; return the parquet-backed frame
    and the row count observed on that write.  One job: no ``count()``, and
    the read-back takes the known schema instead of inferring it."""
    rows = Observation()
    df.observe(rows, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(path)
    df.unpersist()
    return df.sparkSession.read.schema(df.schema).parquet(path), int(rows.get["n"])


@dataclass
class CrawlResult:
    state: fr.CrawlState
    rounds: int
    urls_fetched: int
    images: DataFrame | None
    fetched_pages: list[DataFrame] = field(default_factory=list)
    image_urls: list[DataFrame] = field(default_factory=list)


def run(
    spark: SparkSession,
    seeds: DataFrame,
    pages: DataFrame,
    robots: DataFrame,
    blacklist: DataFrame,
    ckpt_dir: str | None = None,
    resume: bool = False,
    max_rounds: int = 100,
    round_seconds: int = fr.ROUND_SECONDS,
    use_bloom: bool = True,
    expected_total_urls: int = 1_000_000,
    fetch: bool = True,
) -> CrawlResult:
    """Submit the seed list (full dedup chain), run BFS rounds under the
    politeness budget until the frontier drains, then fetch+decode the
    discovered images.  Returns lazy DataFrames; nothing is collected.

    ``robots`` is either the parsed politeness dim (host, crawl_delay,
    disallow_prefixes) or RAW fetched bodies (host, robots_txt) — raw input
    is parsed natively through functions.robots.parse_robots.

    With ``ckpt_dir`` set, the seen set after each round is the dir's
    bucketed seen table, so the exact anti-join reads it co-located (zero
    seen-side shuffle even off the bloom fallback path), and a resume
    reads it bounded at the last committed round.  Once the table holds
    more than ``COMPACT_FILES`` data files (a driver-side listing, no Spark
    job), the round's checkpoint is followed by a generation compaction."""
    if "robots_txt" in robots.columns:
        from .functions.robots import parse_robots

        robots = parse_robots(robots)
    if resume and ckpt_dir is not None and fr.latest_round(ckpt_dir) is not None:
        state = fr.load_checkpoint(
            spark, ckpt_dir, use_bloom=use_bloom, expected_total_urls=expected_total_urls
        )
    else:
        empty = spark.createDataFrame([], schema.SEEN)
        accepted = fr.submit_seeds(spark, seeds, empty, blacklist, pages)
        state = fr.initial_state(
            accepted, use_bloom=use_bloom, expected_total_urls=expected_total_urls
        )

    urls_fetched = 0
    fetched_pages: list[DataFrame] = []
    image_urls: list[DataFrame] = []
    rounds = 0
    while rounds < max_rounds:
        # a loaded state carries its frontier count from the commit record
        n_frontier = state.frontier_rows
        if n_frontier is None:
            n_frontier = state.frontier.count()
        if n_frontier == 0:
            break
        t0 = time.time()
        state, fetched, images = fr.expand_round(state, pages, robots, round_seconds)
        if ckpt_dir is None:
            n_fetched, n_images = fetched.count(), images.count()
        else:
            # spill the round's outputs to the checkpoint dir and hand the
            # caller parquet-backed frames instead of pinning every round's
            # localCheckpoint blocks for the whole crawl — on a 100-round
            # crawl the block store otherwise grows linearly with rounds
            # (round-4 verdict item).  Resume state is untouched: these are
            # OUTPUTS, committed per round alongside (not inside) the
            # record-guarded state dirs.
            odir = os.path.join(ckpt_dir, "outputs", f"round_{state.round_no:05d}")
            fetched, n_fetched = _spill(fetched, os.path.join(odir, "fetched"))
            images, n_images = _spill(images, os.path.join(odir, "images"))
        urls_fetched += n_fetched
        fetched_pages.append(fetched)
        image_urls.append(images)
        rounds += 1
        if ckpt_dir is not None:
            bloom = state.bloom  # checkpoint()'s reload builds no bloom
            state = fr.checkpoint(
                state,
                ckpt_dir,
                metrics={
                    "urls_fetched": n_fetched,
                    "round_sec": time.time() - t0,
                    "images_found": n_images,
                },
            )
            table = fr._seen_table_of(ckpt_dir)
            if seen_store.data_file_count(spark, table) > COMPACT_FILES:
                # bound the seen table's file count on long crawls; the
                # in-memory state reads the generation compaction drops, so
                # reload from the surviving round
                fr.compact_checkpoints(spark, ckpt_dir)
                state = fr.load_checkpoint(spark, ckpt_dir)
            state.bloom = bloom  # carry the in-memory filter across the reload

    images_df = None
    if fetch and image_urls:
        all_images = image_urls[0]
        for df in image_urls[1:]:
            all_images = all_images.unionByName(df)
        # multi-parent images fetch exactly once (deterministic keeper)
        images_df = fetch_ops.fetch_images(fr.dedup_image_urls(all_images))

    return CrawlResult(
        state=state,
        rounds=rounds,
        urls_fetched=urls_fetched,
        images=images_df,
        fetched_pages=fetched_pages,
        image_urls=image_urls,
    )
