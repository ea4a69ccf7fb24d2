"""URL frontier + fetch scheduler: BFS rounds with per-host politeness
(SURVEY.md §2.7; north_rule core).

Reference semantics being matched:
- task queue ordering: priority DESC then FIFO (task_tracker submit,
  tasks.py:149-166; fetch loop tasks.py:91-112) — FIFO here is the
  deterministic discovery sequence.
- per-site affinity: the reference keys tasks by hash64=website_id
  (tasks.py:158); we partition scheduling windows by host.
- politeness (north_rule C9, not in the reference snapshot): per-host budget
  of floor(round_seconds / crawl_delay) URLs per round + robots disallow
  prefixes.
- duplicate suppression: enqueue-time seen-set check (database.py:78-90,
  129-136) — a URL enters the frontier at most once, ever.

Scale notes (10^10 frontier):
- No driver-side loops over rows; each round is one DataFrame DAG.
- The politeness rank is a window partitioned by host → one shuffle keyed by
  host.  Host skew is bounded: the window only needs the per-host TOP-budget
  rows, so we pre-prune with a salted partial rank before the exact window
  (two-phase top-k) — the mega-host never serializes a round.
- The discovery sequence packs (round, range partition, position) into one
  long (packed_seq): one range shuffle, not a single-partition window.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .. import schema
from ..functions.urls import parent_prefixes_col, with_canonical
from . import seen as seen_ops

ROUND_SECONDS = 60  # scheduling quantum: budget = floor(60 / crawl_delay)
SKEW_SALT = 16  # politeness phase-1 buckets per host (see politeness_select)
IMAGE_EXT_RE = r"\.(jpg|jpeg|png|bmp|gif)$"


def packed_seq(df: DataFrame, order_cols: list, round_no: int) -> DataFrame:
    """Order-preserving (NOT dense) ``discovery_seq`` in ONE pass:
    range-partition + sort, then pack (round, partition, position) into one
    long.  A dense numbering would need a per-partition counts job, an
    offsets broadcast join and an extra cache materialization — the seq
    VALUES depend on sampled partition boundaries, but their ORDER always
    equals the sort order, which is the crawl-order contract (the reference's
    task ids are opaque too; only priority-then-FIFO dequeue order is
    observable — tasks.py:149-166).

    Layout: bits 45+ round+1, bits 33-44 partition id, bits 0-32 row position
    → strictly monotone across rounds, sort-ordered within a round.  The
    partition field holds 12 bits, so the range shuffle is EXPLICITLY capped
    at 4096 partitions (an explicit count also stops AQE from renumbering);
    without the cap a >4096-partition config would shiftleft into the round
    bits and silently corrupt the ordering contract.
    """
    n_parts = min(
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")), 4096
    )
    d = df.repartitionByRange(n_parts, *order_cols).sortWithinPartitions(*order_cols)
    packed = (
        F.lit((round_no + 1) << 45)
        + F.shiftleft(F.spark_partition_id().cast("long"), 33)
        + F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    )
    # localCheckpoint: freezes the (partition, position) assignment AND cuts
    # the iterative lineage in the same materialization.
    return d.select("*", packed.alias("discovery_seq")).localCheckpoint(eager=True)


def resolve_intra_batch(passed: DataFrame, depths: list | None = None) -> DataFrame:
    """Serial-submission semantics over a parallel batch (views.py:269-302
    replayed in submit_seq order): among identical canonical URLs the earliest
    submission wins; a candidate is rejected iff an ACCEPTED strict prefix of
    it has a smaller submit_seq.  Dependencies always point from shallower to
    deeper URLs, so iterating depth levels ascending reaches the exact serial
    fixpoint in max-depth passes (small: reference URLs are directory roots).

    ``depths``: a caller that constructs the batch and KNOWS its depth
    domain can pass it (any superset of the occurring values is safe — an
    empty level is a no-op) to skip the distinct-depth discovery job, one
    full evaluation of the batch (r6, guide §1.2: don't compute what the
    caller already knows).  Default None preserves the discovery pass.  A
    row whose depth is missing from ``depths`` would match no level and
    vanish, so it fails the call instead.
    """
    # earliest-submit winner per canonical URL via min(struct(...)) — the
    # aggregation partial-combines map-side so duplicate URLs collapse
    # BEFORE the exchange, vs the former row_number window's full sort of
    # every row (guide §2.3: aggregate before you shuffle).  submit_seq is
    # globally unique within a batch, so the struct min IS the window's
    # first row; remaining fields only break (impossible) seq ties
    # deterministically.
    others = [c for c in passed.columns if c not in ("canon_url", "submit_seq")]
    cols = {c: F.col(f"_w.{c}") for c in passed.columns}
    cols["canon_url"] = F.col("canon_url")
    if depths is not None:
        # checked in the cached projection: the cache build evaluates it on
        # every row, so the guard costs no extra job
        cols["depth"] = F.when(
            cols["depth"].isin(list(depths)), cols["depth"]
        ).otherwise(
            F.raise_error(
                F.format_string(
                    "resolve_intra_batch: depth %s of %s is not in depths=%s",
                    cols["depth"], F.col("canon_url"), F.lit(str(sorted(depths))),
                )
            )
        )
    uniq = (
        passed.groupBy("canon_url")
        .agg(
            F.min(
                F.struct(F.col("submit_seq"), *[F.col(c) for c in others])
            ).alias("_w")
        )
        .select(*[cols[c].alias(c) for c in passed.columns])
    )
    uniq = uniq.cache()
    if depths is None:
        depths = [r["depth"] for r in uniq.select("depth").distinct().collect()]
    accepted: DataFrame | None = None
    for d in sorted(depths):
        level = uniq.filter(F.col("depth") == d)
        if accepted is not None:
            pref = level.withColumn(
                "_prefix", F.explode(parent_prefixes_col(F.col("canon_url")))
            ).filter(F.col("_prefix") != F.col("canon_url"))
            blockers = accepted.select(
                F.col("canon_url").alias("_prefix"),
                F.col("submit_seq").alias("_acc_seq"),
            )
            blocked = (
                pref.join(blockers, on="_prefix", how="inner")
                .filter(F.col("_acc_seq") < F.col("submit_seq"))
                .select(F.col("canon_url").alias("_b_url"))
                .distinct()
            )
            level = level.join(
                blocked, on=level["canon_url"] == blocked["_b_url"], how="left_anti"
            )
        accepted = level if accepted is None else accepted.unionByName(level)
    if accepted is None:
        uniq.unpersist()
        return passed.limit(0)
    # materialize before releasing the cache (block-store hygiene: submit is
    # one-shot, but the cache must not outlive the call)
    accepted = accepted.localCheckpoint(eager=True)
    uniq.unpersist()
    return accepted


def submit_seeds(
    spark: SparkSession,
    seeds: DataFrame,
    websites: DataFrame,
    blacklist: DataFrame,
    pages: DataFrame,
) -> DataFrame:
    """Full submit pipeline: canonicalize → static dedup chain vs existing
    state → intra-batch serial resolution → accepted websites with stable ids.

    Returns a websites-shaped DataFrame (website_id = xxhash64 of the
    canonical url — deterministic, replayable; the reference's SERIAL id is
    an artifact of Postgres, X9 note in SURVEY.md).
    """
    cand = with_canonical(seeds, "url")
    # get_top_directory climb happens BEFORE validity/dedup, like the
    # reference's try_enqueue (views.py:270-271)
    cand = seen_ops.climb_to_top(cand, pages)
    chained = seen_ops.submit_chain(cand, websites, blacklist, pages)
    resolved = resolve_intra_batch(chained)
    return resolved.select(
        F.xxhash64("canon_url").alias("website_id"),
        F.col("canon_url").alias("url"),
        F.col("host"),
        F.col("submit_seq"),
        F.col("priority"),
        F.col("depth"),
        F.col("url_hash"),
    )


@dataclass
class CrawlState:
    """One round's complete state — everything needed to resume.

    ``bloom`` is the incrementally-maintained seen-set prefilter (north rule:
    partitioned bloom checked via vectorized Arrow UDFs).  It is an
    accelerator only — correctness always comes from the exact anti-join —
    so it is NOT checkpointed; a resume rebuilds it from the seen table
    (PartitionedBloom.build) or runs without it."""

    round_no: int
    frontier: DataFrame  # schema.FRONTIER
    seen: DataFrame  # schema.SEEN
    next_seq: int
    bloom: "seen_ops.PartitionedBloom | None" = None
    # new seen rows since the last DURABLE checkpoint: checkpoint() appends
    # only these to the seen table (O(new-urls) per round, not
    # O(all-urls-ever) — the difference between linear and quadratic total
    # checkpoint I/O at 10^10)
    seen_delta: "DataFrame | None" = None
    # operational run identity: stamped into every round's commit record
    # and the ckpt_dir's _RUN file so a loader can detect (and refuse) round
    # dirs left behind by a DIFFERENT run in a reused ckpt_dir — silently
    # resuming a stale run's rounds re-crawls or wrongly skips URLs
    run_id: str | None = None
    # frontier row count when already known (a loaded state takes it from
    # its commit record), so the crawl loop's drain test costs no job
    frontier_rows: int | None = None


def initial_state(
    accepted: DataFrame,
    use_bloom: bool = False,
    expected_total_urls: int = 1_000_000,
    bloom_parts: int = 64,
) -> CrawlState:
    """Round-0 state from accepted submissions: every accepted root enters the
    frontier (depth 0) and the seen set, ordered by (priority DESC, submit
    FIFO) exactly like the task tracker queue.

    ``use_bloom`` sizes a partitioned bloom for ``expected_total_urls`` and
    maintains it incrementally across rounds (delta build + bitwise OR).
    Nothing is durable yet: the first checkpoint() writes the seeds to the
    ckpt dir's seen table together with that round's discoveries."""
    ordered = packed_seq(
        accepted.select(
            "url", "url_hash", "website_id", "host", "priority",
            F.lit(0).alias("depth"), "submit_seq",
        ),
        [F.desc("priority"), F.asc("submit_seq")],
        round_no=0,
    )
    frontier = ordered.select(
        "url", "url_hash", "website_id", "host",
        F.col("priority").cast("int"), F.col("depth").cast("int"), "discovery_seq",
    )
    seen = frontier.select("url", "url_hash")
    state = CrawlState(
        round_no=0, frontier=frontier, seen=seen, next_seq=0,
        seen_delta=seen,
        run_id=uuid.uuid4().hex[:12],  # operational marker, not a data id
    )
    if use_bloom:
        geom = seen_ops.PartitionedBloom.params_for(
            max(expected_total_urls, 1), bloom_parts
        )
        state.bloom = seen_ops.PartitionedBloom.build(
            seen, n_parts=bloom_parts, geometry=geom
        )
    return state


def politeness_select(
    frontier: DataFrame,
    robots: DataFrame,
    round_seconds: int = ROUND_SECONDS,
    max_broadcast_hosts: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Two-phase skew-safe politeness selection → (due, carry, aux).

    SHUFFLE SHAPE (the 10^10 number that matters): the ranking windows never
    see the url string — they run over a slim (url_hash, host, priority,
    discovery_seq) projection (~32 B/row vs ~200 B full rows), and the full
    frontier is split due/carry by a BROADCAST join against per-host CUTOFF
    keys, i.e. map-side only: full rows cross ZERO exchanges in the
    politeness stage.  Selection per host is a strict total order
    (priority DESC, discovery_seq ASC; seq is globally unique), so "the
    budget-th selected key" is a complete description of the selected set:
    due ⇔ (-priority, seq) ≤ cutoff.

    Phase 1 ranks within (host, salt-of-url_hash) buckets and keeps only each
    bucket's top-budget rows: any row in a host's GLOBAL top-budget has fewer
    than budget rows ahead of it overall, hence fewer than budget ahead of it
    in its own bucket — so the global winners always survive the pre-prune.
    Phase 2 ranks the survivors (≤ salt×budget rows per host, bounded no
    matter how big the host) exactly and reduces them to one cutoff row per
    host.  At ≥10^8 distinct hosts the cutoff table outgrows a broadcast:
    when the (checkpointed, metadata-cheap) cutoff count exceeds
    ``max_broadcast_hosts``, the final split joins the cutoffs by SHUFFLE on
    host instead — one extra exchange of the full rows, same semantics,
    bounded driver memory (identical due/carry pinned by test).

    Returns (due, carry, aux): the caller unpersists ``aux`` (the tiny
    cutoff checkpoint) after materializing due/carry (expand_round does).
    """
    slim = frontier.select("url_hash", "host", "priority", "discovery_seq")
    budgeted = slim.join(
        F.broadcast(robots.select("host", "crawl_delay")), on="host", how="left"
    ).withColumn(
        "_budget",
        F.floor(F.lit(round_seconds) / F.coalesce(F.col("crawl_delay"), F.lit(1.0))).cast("int"),
    ).drop("crawl_delay")
    w1 = Window.partitionBy("host", "_salt").orderBy(
        F.desc("priority"), F.asc("discovery_seq")
    )
    stage1 = (
        budgeted.withColumn("_salt", F.pmod(F.col("url_hash"), F.lit(SKEW_SALT)))
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= F.col("_budget"))  # pre-prune inside the plan
    )
    # both ranking phases run in ONE job (two stacked window exchanges over
    # slim keys); the only materialization of the whole selection is the
    # tiny cutoff table below — one fewer job and one fewer block-store
    # checkpoint per round than checkpointing the phase-1 survivors
    w2 = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("discovery_seq"))
    sel = stage1.withColumn("_rank", F.row_number().over(w2)).filter(
        F.col("_rank") <= F.col("_budget")
    )
    # cutoff = lexicographic max of (-priority, seq) over the selected rows =
    # the LAST selected key in rank order (rank order ascends on exactly that
    # tuple); hosts with fewer rows than budget yield their overall max → all
    # rows pass; hosts with budget 0 have no row here → no rows due.
    cutoffs = (
        sel.groupBy("host")
        .agg(
            F.max(
                F.struct(
                    (-F.col("priority")).alias("np"),
                    F.col("discovery_seq").alias("seq"),
                )
            ).alias("_cut")
        )
        .select(
            "host", F.col("_cut.np").alias("_cut_np"), F.col("_cut.seq").alias("_cut_seq")
        )
        .localCheckpoint(eager=True)
    )
    # the gate is OPT-IN (None = always broadcast, zero extra jobs — the
    # r3 job-trim holds): a deployment at ≥10^8 hosts passes a bound, pays
    # one metadata-cheap count off the checkpoint above, and falls back to
    # a shuffled cutoff join when the per-host table outgrows the driver
    if max_broadcast_hosts is None or cutoffs.count() <= max_broadcast_hosts:
        joined = frontier.join(F.broadcast(cutoffs), on="host", how="left")
    else:
        joined = frontier.join(cutoffs, on="host", how="left")
    np_ = -F.col("priority")
    is_due = F.coalesce(
        (np_ < F.col("_cut_np"))
        | ((np_ == F.col("_cut_np")) & (F.col("discovery_seq") <= F.col("_cut_seq"))),
        F.lit(False),
    )
    due = joined.filter(is_due).drop("_cut_np", "_cut_seq")
    carry = joined.filter(~is_due).drop("_cut_np", "_cut_seq")
    return due, carry, cutoffs


def _resolve_child(parent: F.Column, link: F.Column) -> F.Column:
    """Join a relative link onto its canonical parent directory URL.
    Absolute links pass through; '../' climbs one level (canonical parents
    make normpath unnecessary beyond one step per link)."""
    return (
        F.when(link.rlike(r"^[a-z]+://"), link)
        .when(
            link == "../",
            F.regexp_replace(parent, r"[^/]+/$", ""),
        )
        .otherwise(F.concat(parent, link))
    )


def expand_round(
    state: CrawlState,
    pages: DataFrame,
    robots: DataFrame,
    round_seconds: int = ROUND_SECONDS,
) -> tuple[CrawlState, DataFrame, DataFrame]:
    """One BFS round.  Returns (next_state, fetched_pages, image_urls):

    1. politeness-rank the frontier; fetch rows with rank <= budget
    2. robots disallow prefixes are never fetched (but stay seen)
    3. join the page table (synthetic network); redirects yield no links
    4. children: same-host subdirectories → next frontier (depth+1);
       image-extension files → image fetch set
    5. enqueue-time dedup: anti-join vs seen; assign packed discovery_seq
    """
    # two-phase skew-safe selection (slim ranking + broadcast cutoffs); the
    # tiny cutoff checkpoint is unpersisted at the end of the round.  due and
    # carry read STRAIGHT from the frontier checkpoint (map-side broadcast
    # join), so the old frontier must stay persisted until this round's
    # outputs are materialized below.
    due, carry, cutoffs = politeness_select(state.frontier, robots, round_seconds)

    # robots disallow: path prefix match against the host's disallow list
    due = due.join(
        F.broadcast(robots.select("host", "disallow_prefixes")), on="host", how="left"
    )
    path = F.regexp_replace(F.col("url"), r"^[a-z]+://[^/]+", "")
    disallowed = F.exists(
        F.coalesce(F.col("disallow_prefixes"), F.array()),
        lambda p: path.startswith(p),
    )
    fetchable = due.filter(~disallowed).drop("disallow_prefixes")

    # materialize the fetch result ONCE, up front: three downstream outputs
    # (next frontier, image urls, the fetched pages themselves) all branch
    # from this join — checkpointing the branches individually re-ran the
    # due→pages join up to 3x per round (measured in the round-3 job trim)
    fetched = fetchable.join(
        pages.select(
            F.col("url"), F.col("links"), F.col("redirects"),
        ),
        on="url",
        how="inner",  # missing page = dead URL, nothing to expand
    ).filter(~F.col("redirects")).localCheckpoint(eager=True)

    kids = fetched.select(
        F.col("url").alias("parent"),
        F.col("url_hash").alias("parent_hash"),
        F.col("website_id"),
        F.col("host"),
        F.col("priority"),
        (F.col("depth") + 1).alias("depth"),
        F.col("discovery_seq").alias("parent_seq"),
        F.posexplode("links").alias("link_idx", "link"),
    ).withColumn("child_url", _resolve_child(F.col("parent"), F.col("link")))

    # stay in-site: same host, below the parent tree; never follow external
    same_host = F.col("child_url").startswith(
        F.concat(F.regexp_extract(F.col("parent"), r"^([a-z]+://[^/]+/)", 1))
    )
    dirs = kids.filter(F.col("link").endswith("/") & (F.col("link") != "../") & same_host)
    images = kids.filter(F.col("link").rlike(IMAGE_EXT_RE) & same_host)

    new_urls = (
        dirs.select(
            F.col("child_url").alias("url"),
            F.xxhash64("child_url").alias("url_hash"),
            "website_id",
            "host",
            "priority",
            F.col("depth").cast("int"),
            "parent_seq",
            "link_idx",
        )
    )
    # within-round dedup (two parents can link the same dir): earliest in the
    # round's discovery order wins — same key as the seq assignment below.
    # Arg-min via min(struct(...)) instead of a row_number window: the
    # aggregation partial-combines map-side, so duplicate children collapse
    # BEFORE the shuffle ((-priority, parent_seq, link_idx) is unique per
    # child, so the struct min is the exact window winner).
    new_urls = (
        new_urls.groupBy("url")
        .agg(
            F.min(
                F.struct(
                    (-F.col("priority")).alias("np"),
                    F.col("parent_seq"),
                    F.col("link_idx"),
                    F.col("url_hash"),
                    F.col("website_id"),
                    F.col("host"),
                    F.col("depth"),
                )
            ).alias("_w")
        )
        .select(
            "url",
            F.col("_w.url_hash").alias("url_hash"),
            F.col("_w.website_id").alias("website_id"),
            F.col("_w.host").alias("host"),
            (-F.col("_w.np")).cast("int").alias("priority"),
            F.col("_w.depth").alias("depth"),
            F.col("_w.parent_seq").alias("parent_seq"),
            F.col("_w.link_idx").alias("link_idx"),
        )
    )

    # materialize the round's candidate set ONCE: filter_unseen consumes it
    # three ways with the bloom on (definite-new branch, maybe-seen branch,
    # and the broadcast-gate count) — without the checkpoint each re-runs
    # the explode+arg-min chain above, and the gate count would be a full
    # recompute instead of a metadata read
    new_urls = new_urls.withColumnRenamed("url", "canon_url").localCheckpoint(
        eager=True
    )
    unseen = seen_ops.filter_unseen(new_urls, state.seen, state.bloom).withColumnRenamed(
        "canon_url", "url"
    )

    numbered = packed_seq(
        unseen,
        [F.desc("priority"), F.asc("parent_seq"), F.asc("link_idx")],
        round_no=state.round_no + 1,
    ).drop("parent_seq", "link_idx")

    # lineage management for the iterative loop: the frontier is small, so an
    # eager localCheckpoint per round keeps the next round's window/rank plan
    # shallow; the seen set stays a flat union of per-round checkpointed
    # deltas (numbered is checkpointed inside packed_seq) — linear plan, no
    # per-round copy.  Durable cuts happen in checkpoint().
    next_frontier = carry.unionByName(
        numbered.select("url", "url_hash", "website_id", "host", "priority", "depth", "discovery_seq")
    ).localCheckpoint(eager=True)
    image_urls = images.select(
        F.col("child_url").alias("url"),
        F.col("website_id"),
        F.col("host"),
        F.col("parent_seq"),
        F.col("link_idx"),
        # full 64-bit id (%016x renders the long as unsigned two's-complement
        # hex): a 32-bit id would hit birthday collisions at ~10^5 images and
        # fetch derives BYTES AND CAPTIONS from image_id, so colliding URLs
        # would silently share pixels
        F.format_string("img_%016x", F.xxhash64("child_url")).alias("image_id"),
    )
    # materialize the round's remaining outputs, then free the cutoff
    # checkpoint and the OLD frontier — their blocks are unrecoverable after
    # unpersist, so nothing returned may still depend on them (next_frontier,
    # fetched and image_urls are all checkpointed by here; without the
    # frontier unpersist, every round's checkpoint piles up in the block
    # store).  fetched was checkpointed up front; image_urls derives from it
    # (cheap explode+filter job).
    image_urls = image_urls.localCheckpoint(eager=True)
    cutoffs.unpersist()
    new_urls.unpersist()  # numbered (the only dependent) is checkpointed
    try:
        state.frontier.unpersist()
    except Exception:
        pass
    # the seen set grows as an in-memory union until checkpoint() makes the
    # delta durable and reloads it as the bucketed seen-table view
    new_rows = numbered.select("url", "url_hash")
    new_seen = state.seen.unionByName(new_rows)
    new_delta = (
        new_rows if state.seen_delta is None else state.seen_delta.unionByName(new_rows)
    )

    bloom = state.bloom
    if bloom is not None:
        # incremental maintenance: delta bloom over this round's NEW urls
        # only, OR'd into the running filter — the full seen set is never
        # rescanned
        delta = seen_ops.PartitionedBloom.build(
            numbered.select("url", "url_hash"),
            n_parts=bloom.n_parts,
            geometry=(bloom.bits_per_part, bloom.k),
        )
        bloom.union_update(delta)

    next_state = CrawlState(
        round_no=state.round_no + 1,
        frontier=next_frontier,
        seen=new_seen,
        next_seq=0,  # packed seqs embed the round; no global counter needed
        bloom=bloom,
        seen_delta=new_delta,
        run_id=state.run_id,
    )
    return next_state, fetched, image_urls


def dedup_image_urls(image_urls: DataFrame) -> DataFrame:
    """Fetch-time image dedup: on a real web graph one image is linked from
    MANY pages (expand_round dedups directory children but each round's
    image rows keep every parent), and fetch derives bytes AND captions from
    image_id — so without this, a multi-parent image is fetched and appended
    once per link.  Keeper = earliest discovery (min (parent_seq, link_idx)),
    via the same map-side-combining min(struct) arg-min as the directory
    dedup in expand_round.  The group key is the URL itself, not image_id:
    image_id is a 64-bit url hash, and at 10^10 images birthday collisions
    are EXPECTED (n²/2^65 ≈ a few) — keying on the hash would silently merge
    two distinct URLs into one fetch.  Same url ⇒ same image_id, so each
    group still carries exactly one id."""
    return (
        image_urls.groupBy("url")
        .agg(
            F.min(
                F.struct(
                    F.col("parent_seq"),
                    F.col("link_idx"),
                    F.col("website_id"),
                    F.col("host"),
                    F.col("image_id"),
                )
            ).alias("_w")
        )
        .select(
            "url",
            F.col("_w.website_id").alias("website_id"),
            F.col("_w.host").alias("host"),
            F.col("_w.parent_seq").alias("parent_seq"),
            F.col("_w.link_idx").alias("link_idx"),
            F.col("_w.image_id").alias("image_id"),
        )
    )


# --- checkpoint / resume ---------------------------------------------------


def _lineage_manifest(tables: dict[str, DataFrame], round_no: int) -> DataFrame:
    """Per-partition lineage rows (SURVEY.md S12 analog): one row per
    (round, table, partition) with a deterministic token — replaces the
    reference's uuid upload slots (tasks.py:167-176; X9: no uuid,
    replayable).  Every table's rows are tagged with their own partition id
    and summarised by ONE aggregation (one map stage for all tables).  A
    mapInArrow summary would save the map stage's job, but its Python
    workers cost ~4x the CPU of this native shuffle at crawl-round sizes."""
    tagged = None
    for name, df in tables.items():
        part = df.select(
            F.spark_partition_id().alias("partition_id"),
            F.lit(name).alias("table"),
            F.crc32(F.col("url").cast("binary")).alias("_ck"),
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    return (
        tagged.groupBy("table", "partition_id")
        .agg(F.count("*").alias("rows"), F.sum("_ck").alias("_ck"))
        .select(
            F.lit(round_no).alias("round"),
            F.col("partition_id"),
            F.col("table"),
            F.col("rows"),
            F.format_string(
                "%s_%d_%08x", F.col("table"), F.col("partition_id"),
                F.pmod(F.coalesce(F.col("_ck"), F.lit(0)), F.lit(4294967296)),
            ).alias("token"),
        )
    )


# keys every round's commit record (its `.done` file) must hold
_RECORD_KEYS = ("round_no", "next_seq", "run_id", "frontier_rows", "seen_delta_rows", "metrics")


def checkpoint(state: CrawlState, ckpt_dir: str, metrics: dict | None = None) -> CrawlState:
    """Persist one round's state under ``round_<n>/``; its `.done` commit
    record commits it atomically (everything is written before the record
    exists).  The task-tracker lease/reassign loop (tasks.py:93-112,
    max_assign_time) collapses into this: an interrupted round simply
    re-runs from the last committed record.

    Round dir layout:

    - ``frontier/``: the frontier, parquet;
    - ``lineage/``: per-partition lineage manifests (which partitions of
      the frontier and of the seen append contributed how many rows, with
      content-derived tokens) — the north rule's lineage contract;
    - ``.done``: the commit record, a small JSON file written by the driver
      (tmp + ``os.replace``) holding ``round_no``, ``next_seq``, ``run_id``,
      ``frontier_rows``, ``seen_delta_rows`` and the caller's ``metrics``
      (``crawl.run`` passes the round's fetched and image counts).  The
      row counts are observed on the lineage write, so they cost no job.

    The durable seen set is ONE bucketed catalog table per ckpt dir
    (operators/seen_store.py), named by the dir's ``_SEEN_TABLE`` pointer.
    Each checkpoint appends only ``state.seen_delta`` (the rows not yet
    durable), stamped with the round number: per-round I/O is O(delta),
    never a full copy.  The append lands BEFORE the commit record, so a
    crash in between leaves rows a resume's ``round_no <=`` bound excludes
    (the re-run re-appends; duplicate rows are harmless to the left_anti).
    The first checkpoint into a dir derives the table name from the dir,
    overwrites whatever a dead run left at that name, then writes the
    pointer.
    """
    from . import seen_store

    rd = os.path.join(ckpt_dir, f"round_{state.round_no:05d}")
    spark = state.frontier.sparkSession
    run_id = _establish_run(ckpt_dir, state.run_id)
    delta = (
        state.seen_delta
        if state.seen_delta is not None
        else spark.createDataFrame([], schema.SEEN)
    )
    state.frontier.write.mode("overwrite").parquet(os.path.join(rd, "frontier"))
    table = _read_pointer(ckpt_dir, "_SEEN_TABLE")
    if table is None:
        # this dir owns the derived name: re-register surviving files (so
        # the overwrite can commit instead of LOCATION_ALREADY_EXISTS), then
        # overwrite; the pointer is written only once the table exists
        table = _derived_seen_table(ckpt_dir)
        seen_store.recover_seen_table(spark, table)
        seen_store.create_seen_table(delta, table, round_no=state.round_no)
        _write_pointer(ckpt_dir, "_SEEN_TABLE", table)
    else:
        seen_store.append_seen(delta, table, round_no=state.round_no)
    tables = {"frontier": state.frontier, "seen_append": delta}
    counts = Observation()
    _lineage_manifest(tables, state.round_no).observe(counts, *[
        F.coalesce(F.sum(F.when(F.col("table") == t, F.col("rows"))), F.lit(0)).alias(t)
        for t in tables
    ]).write.mode("overwrite").parquet(os.path.join(rd, "lineage"))
    record = {
        "round_no": state.round_no,
        "next_seq": state.next_seq,
        "run_id": run_id,
        "frontier_rows": int(counts.get["frontier"]),
        "seen_delta_rows": int(counts.get["seen_append"]),
        "metrics": {k: float(v) for k, v in (metrics or {}).items()},
    }
    _write_pointer(rd, ".done", json.dumps(record, sort_keys=True))  # the commit point
    # reload from disk so downstream plans read the bucketed table and the
    # frontier files instead of dragging the whole lineage DAG across rounds
    return load_checkpoint(spark, ckpt_dir, state.round_no)


def _derived_seen_table(ckpt_dir: str) -> str:
    """Seen-table name owned by one ckpt dir: distinct dirs never share a
    table, and the same dir always maps to the same name."""
    digest = hashlib.sha1(os.path.abspath(ckpt_dir).encode()).hexdigest()
    return f"seen_{digest[:16]}"


def _read_pointer(ckpt_dir: str, name: str) -> str | None:
    ptr = os.path.join(ckpt_dir, name)
    if not os.path.isfile(ptr):
        return None
    with open(ptr) as f:
        return f.read().strip() or None


def _write_pointer(ckpt_dir: str, name: str, value: str) -> None:
    """Atomic pointer-file write (tmp + rename): readers see the old value
    or the new one, never a torn one."""
    ptr = os.path.join(ckpt_dir, name)
    tmp = ptr + ".tmp"
    with open(tmp, "w") as f:
        f.write(value)
    os.replace(tmp, ptr)


def _establish_run(ckpt_dir: str, run_id: str | None) -> str:
    """Pin the ckpt_dir to one run via the _RUN pointer file.  A mismatch
    means the dir holds a DIFFERENT run's rounds — refuse rather than let a
    later resume silently mix in another run's state."""
    os.makedirs(ckpt_dir, exist_ok=True)
    existing = _read_pointer(ckpt_dir, "_RUN")
    if run_id is None:
        run_id = existing or uuid.uuid4().hex[:12]
    if existing is not None and existing != run_id:
        raise ValueError(
            f"{ckpt_dir} belongs to run {existing!r}, not {run_id!r}: it holds "
            "another run's checkpoints. Resume that run (resume=True) or use a "
            "clean ckpt_dir."
        )
    if existing is None:
        _write_pointer(ckpt_dir, "_RUN", run_id)
    return run_id


def _seen_table_of(ckpt_dir: str) -> str:
    """The ckpt dir's seen table.  A dir without the pointer was never
    checkpointed, or predates the seen-table layout (per-round seen_delta
    parquet, no longer read) — raise rather than resume with an EMPTY seen
    set, which would re-admit every URL ever crawled."""
    table = _read_pointer(ckpt_dir, "_SEEN_TABLE")
    if table is None:
        raise FileNotFoundError(
            f"{ckpt_dir} has no _SEEN_TABLE pointer: it holds no seen table "
            "(an old per-round seen_delta layout is not readable). Re-crawl "
            "into a clean ckpt_dir."
        )
    return table


def compact_seen_table(spark: SparkSession, ckpt_dir: str) -> str:
    """Generation compaction: per-round appends add one file set per bucket,
    so a 1000-round crawl's seen table holds 64k small files.  Rewrite
    everything ≤ the latest committed round into a fresh single-generation
    table (``<base>__g{n}``), flip the ckpt dir's ``_SEEN_TABLE`` pointer
    atomically, then drop the old generation.

    Crash-safe at every step: the new generation is fully committed before
    the pointer flips (a crash before the flip leaves the old table live
    and the orphan generation is overwritten by the next attempt); a crash
    after the flip but before the drop leaves a dead old generation that
    the next compaction's DROP IF EXISTS clears.  Callers holding a live
    CrawlState must reload from the checkpoint afterwards (crawl.run's
    compaction branch does) — the state reads the old generation.

    Generation compaction stamps every surviving row with the latest round,
    so a load of an older round could no longer reconstruct its seen set
    (the ``round_no <=`` bound would yield an EMPTY one).  The ``_SEEN_FLOOR``
    pointer, written BEFORE ``_SEEN_TABLE`` flips, makes such a load raise; a
    crash in between leaves an over-strict floor with the old generation
    still live, which errs on raising, never on re-admitting seen URLs."""
    from . import seen_store
    from .ann_store import _fs, _table_dir

    table = _seen_table_of(ckpt_dir)
    latest = latest_round(ckpt_dir)
    if latest is None:
        raise FileNotFoundError(f"no completed round under {ckpt_dir}")
    _read_record(ckpt_dir, latest)  # an unreadable layout raises before any rewrite
    m = re.match(r"^(.*?)(?:__g(\d+))?$", table)
    base, gen = m.group(1), int(m.group(2) or 0)
    new_table = f"{base}__g{gen + 1}"
    if not seen_store.recover_seen_table(spark, table):
        raise FileNotFoundError(f"seen table {table!r} has no surviving state")
    seen_store.compact_into_generation(spark, table, new_table, latest)
    _write_pointer(ckpt_dir, "_SEEN_FLOOR", str(latest))
    _write_pointer(ckpt_dir, "_SEEN_TABLE", new_table)  # the commit point
    # previous generation is dead once the pointer moved.  A RECOVERED old
    # table is EXTERNAL (CREATE ... LOCATION), so DROP alone leaves its
    # files — delete the location through the FS API as well (no-op for a
    # managed drop that already removed it).
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    fs, jpath = _fs(spark, _table_dir(spark, table))
    fs.delete(jpath, True)
    return new_table


def compact_checkpoints(spark: SparkSession, ckpt_dir: str) -> int:
    """Fold the seen table's per-round append file sets into a fresh
    generation (compact_seen_table) and drop the superseded round dirs —
    the LSM-style compaction that bounds the seen table's file listing on
    long crawls (resume-to-latest stays exact; the retention trade is losing
    resume-to-earlier rounds, the standard checkpoint-retention policy).
    Returns the surviving round number; callers must reload state
    afterwards — the table name changed."""
    compact_seen_table(spark, ckpt_dir)
    latest = latest_round(ckpt_dir)
    for d in os.listdir(ckpt_dir):
        if d.startswith("round_") and int(d.split("_")[1]) < latest:
            shutil.rmtree(os.path.join(ckpt_dir, d), ignore_errors=True)
    return latest


def _committed_rounds(ckpt_dir: str) -> list[int]:
    """Round numbers whose commit record exists, ascending.  A leftover
    ``.done.tmp`` (a crash inside the record write) commits nothing."""
    if not os.path.isdir(ckpt_dir):
        return []
    return sorted(
        int(d.split("_")[1])
        for d in os.listdir(ckpt_dir)
        if d.startswith("round_") and os.path.exists(os.path.join(ckpt_dir, d, ".done"))
    )


def _read_record(ckpt_dir: str, round_no: int) -> dict:
    """A committed round's commit record.  A `.done` that is not one (the
    older layout's bare marker beside ``meta/`` parquet) raises: the round's
    identity and counts are unknown, and resuming it blind could mix runs."""
    path = os.path.join(ckpt_dir, f"round_{round_no:05d}", ".done")
    try:
        with open(path) as f:
            record = json.load(f)
    except (OSError, ValueError):
        record = None
    if (
        not isinstance(record, dict)
        or any(k not in record for k in _RECORD_KEYS)
        or record["round_no"] != round_no
    ):
        raise FileNotFoundError(
            f"{path} is not a round commit record (an older checkpoint "
            "layout's marker?). Re-crawl into a clean ckpt_dir."
        )
    return record


def latest_round(ckpt_dir: str) -> int | None:
    rounds = _committed_rounds(ckpt_dir)
    return rounds[-1] if rounds else None


def load_checkpoint(
    spark: SparkSession,
    ckpt_dir: str,
    round_no: int | None = None,
    use_bloom: bool = False,
    expected_total_urls: int = 1_000_000,
    bloom_parts: int = 64,
) -> CrawlState:
    """Resume state at ``round_no`` (default: the latest committed round).
    Reads one commit record per committed round up to it (driver-side JSON,
    no Spark job) and refuses rounds of another run.  The seen set is the
    ckpt dir's seen table bounded at that round — rows a torn round
    appended past the bound are excluded (file-level prune: round_no is
    constant per appended file)."""
    from . import seen_store

    committed = _committed_rounds(ckpt_dir)
    if round_no is None:
        if not committed:
            raise FileNotFoundError(f"no completed round under {ckpt_dir}")
        round_no = committed[-1]
    elif round_no not in committed:
        raise FileNotFoundError(f"round {round_no} under {ckpt_dir} is not committed")
    records = [_read_record(ckpt_dir, r) for r in committed if r <= round_no]
    record = records[-1]
    run_id = _read_pointer(ckpt_dir, "_RUN")
    if run_id is None:
        raise FileNotFoundError(
            f"{ckpt_dir} has no _RUN pointer — pre-run-id checkpoint layout; "
            "re-checkpoint with this version before resuming."
        )
    table = _seen_table_of(ckpt_dir)
    # every committed round up to the loaded one must belong to THIS run
    # (stale rounds from a prior run in a reused dir)
    alien = sorted(r["round_no"] for r in records if r["run_id"] != run_id)
    if alien:
        raise ValueError(
            f"rounds {alien} under {ckpt_dir} belong to a different run than "
            f"_RUN={run_id!r} (reused ckpt_dir) — refusing to resume them."
        )
    floor = _read_pointer(ckpt_dir, "_SEEN_FLOOR")
    if floor is not None and round_no < int(floor):
        raise ValueError(
            f"round {round_no} predates the seen-table compaction floor "
            f"{floor} under {ckpt_dir}: generation compaction re-stamped "
            "all rows with the latest round, so this round's seen set no "
            "longer exists — resuming would run with an EMPTY seen set."
        )
    # re-register surviving files after session loss
    if not seen_store.recover_seen_table(spark, table):
        raise FileNotFoundError(
            f"{ckpt_dir} points at seen table {table!r} but neither a "
            "catalog entry nor surviving files exist — resuming would "
            "re-admit every URL ever seen."
        )
    rd = os.path.join(ckpt_dir, f"round_{round_no:05d}")
    state = CrawlState(
        round_no=record["round_no"],
        frontier=spark.read.schema(schema.FRONTIER).parquet(os.path.join(rd, "frontier")),
        seen=seen_store.seen_view(spark, table, round_no),
        next_seq=record["next_seq"],
        seen_delta=None,  # everything durable now; next delta starts empty
        run_id=run_id,
        frontier_rows=record["frontier_rows"],
    )
    if use_bloom:
        # the bloom is derived state — rebuild from the durable seen table
        geom = seen_ops.PartitionedBloom.params_for(
            max(expected_total_urls, 1), bloom_parts
        )
        state.bloom = seen_ops.PartitionedBloom.build(
            state.seen, n_parts=bloom_parts, geometry=geom
        )
    return state
