"""Materialized global-stats snapshots: the reference regenerates its four
global aggregations on a 120-minute scheduler and serves them from a file
cache (`/root/reference/search/search.py:42-45,307-314` — `_stats.json`
written by the scheduler thread, read by every stats request).  This module
is that job Spark-side: `materialize_stats` runs the `global_stats`
aggregation frames once and commits them as ONE immutable snapshot version;
`read_stats` serves the committed snapshot without touching the fact table.

Commit protocol = the dimstore versioned-pointer pattern (sources/
dimstore.py): every frame of the snapshot lands under an immutable
``v{n}/<frame>/`` dir, then a tiny ``_LATEST`` pointer flips atomically
(os.replace locally; a single-object PUT on an object store).  A reader
concurrent with a commit resolves the pointer once and reads only that
complete immutable version — it can never see half a snapshot (the
reference's file cache has the same property only because json.dump of a
small dict is effectively atomic; at warehouse scale the version dir is
what buys it).  The previous version is retained one generation for
in-flight readers.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..operators.search import global_stats

STAT_FRAMES = (
    "ext_stats", "file_stats", "sizes_histogram", "dates_histogram",
    "website_scatter",
)


def _latest_version(path: str) -> str | None:
    ptr = os.path.join(path, "_LATEST")
    if not os.path.isfile(ptr):
        return None
    with open(ptr) as f:
        v = f.read().strip()
    return v or None


def materialize_stats(files: DataFrame, path: str) -> str:
    """Run the A4-A8 aggregation jobs over the fact table and commit them as
    one snapshot version; returns the committed version name.  This is the
    scheduled job — everything else reads snapshots."""
    os.makedirs(path, exist_ok=True)
    cur = _latest_version(path)
    n = int(cur[1:]) + 1 if cur else 1
    vdir = f"v{n:05d}"
    stats = global_stats(files)

    # the five aggregation jobs are independent — submit them from a small
    # thread pool so each job's task tail back-fills the executors instead
    # of serializing five scans (guide §2.6); every frame still lands
    # before the pointer flips, so the commit protocol is unchanged
    def _write(name: str) -> None:
        stats[name].write.mode("overwrite").parquet(os.path.join(path, vdir, name))

    from concurrent.futures import ThreadPoolExecutor

    try:
        with ThreadPoolExecutor(max_workers=3) as pool:
            list(pool.map(_write, STAT_FRAMES))
    except BaseException:
        # the pool has joined every write: drop the half-written version so
        # no orphan dir outlives the failed commit (_LATEST never moved)
        shutil.rmtree(os.path.join(path, vdir), ignore_errors=True)
        raise
    tmp = os.path.join(path, "_LATEST.tmp")
    with open(tmp, "w") as f:
        f.write(vdir)
    os.replace(tmp, os.path.join(path, "_LATEST"))  # the atomic commit point
    keep = {vdir, cur}
    for d in os.listdir(path):
        if d.startswith("v") and d not in keep:
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    return vdir


def read_stats(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """The committed snapshot's frames (search/search.py:307-314 read path).
    Raises when no snapshot has ever committed — serving empty stats as if
    they were real is the failure mode the reference's `if os.path.exists`
    check papers over."""
    v = _latest_version(path)
    if v is None:
        raise FileNotFoundError(f"no committed stats snapshot under {path}")
    return {
        name: spark.read.parquet(os.path.join(path, v, name))
        for name in STAT_FRAMES
    }


def snapshot_version(path: str) -> str | None:
    return _latest_version(path)
