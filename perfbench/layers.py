"""The layer map of the traced run: which public functions become spans,
which counts are taken at their boundaries, and the full list of
per-layer metric names the traced run emits.

Counting work runs inside a ``trace.count`` child span, so it shows as
tracing overhead and never lands on the layer being measured.  The bloom's
maybe-seen share and false-positive rate are taken only here, through the
public ``seen.maybe_seen_col``.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from od_database_spark import crawl
from od_database_spark.operators import ann_store, fetch, seen_store
from od_database_spark.operators import frontier as fr
from od_database_spark.operators import seen as seen_ops

# spans emitted per traced operation: calls, self_s, jobs, shuffle_write_bytes
SPAN_NAMES = (
    "crawl.run",
    "frontier.submit_seeds",
    "frontier.initial_state",
    "frontier.politeness_select",
    "frontier.expand_round",
    "frontier.packed_seq",
    "frontier.checkpoint",
    "frontier.load_checkpoint",
    "frontier.compact_checkpoints",
    "seen.filter_unseen",
    "seen.bloom_build",
    "seen.bloom_union",
    "seen_store.append_seen",
    "fetch.fetch_images",
    "fetch.verify_images",
    "fetch.exec",
    "ann_store.ensure_index",
    "queries.build",
    "queries.exec",
    "trace.count",
)
SPAN_FIELDS = (("calls", "count"), ("self_s", "s"), ("jobs", "count"), ("shuffle_write_bytes", "bytes"))
DRIVER_S_SPANS = ("frontier.expand_round", "frontier.checkpoint", "queries.build", "queries.exec")
COUNTS = (
    ("frontier.due_rows", "rows"),
    ("frontier.carry_rows", "rows"),
    ("frontier.jobs_per_round", "count"),
    ("checkpoint.bytes_written", "bytes"),
    ("seen.candidates", "rows"),
    ("seen.unseen", "rows"),
    ("seen.new_ratio", "ratio"),
    ("seen.bloom_maybe_share", "ratio"),
    ("seen.bloom_fpr", "ratio"),
    ("seen.bloom_bytes", "bytes"),
    ("seen_store.data_files", "count"),
    ("fetch.image_bytes", "bytes"),
    ("fetch.verify_failures", "count"),
)
ENGINE = (
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.busy_share", "ratio"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
)
TRACE = (
    ("trace.overhead_share", "ratio"),
    ("trace.span_sum_share", "ratio"),
    ("run.steal_share", "ratio"),
    ("run.peak_rss_mb", "MB"),
)


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in BENCHMARK.json order."""
    out = [(f"{s}.{f}", u) for s in SPAN_NAMES for f, u in SPAN_FIELDS]
    out += [(f"{s}.driver_s", "s") for s in DRIVER_S_SPANS]
    return out + list(COUNTS) + list(ENGINE) + list(TRACE)


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _arg(args, kwargs, pos: int, name: str, default=None):
    if len(args) > pos:
        return args[pos]
    return kwargs.get(name, default)


def install(tracer) -> None:
    """Wrap every public layer function the workloads reach."""
    t = tracer

    def after_select(args, kwargs, result):
        due, carry, _aux = result
        t.add("frontier.due_rows", due.count())
        t.add("frontier.carry_rows", carry.count())

    def after_checkpoint(args, kwargs, result):
        state, ckpt_dir = _arg(args, kwargs, 0, "state"), _arg(args, kwargs, 1, "ckpt_dir")
        t.add("checkpoint.bytes_written",
              _dir_bytes(os.path.join(ckpt_dir, f"round_{state.round_no:05d}")))

    def after_filter(args, kwargs, result):
        candidates = _arg(args, kwargs, 0, "candidates")
        bloom = _arg(args, kwargs, 2, "bloom")
        n_cand, n_new = candidates.count(), result.count()
        t.add("seen.candidates", n_cand)
        t.add("seen.unseen", n_new)
        if bloom is not None:
            spark = candidates.sparkSession
            flagged = candidates.select(
                seen_ops.maybe_seen_col(spark, bloom, F.col("url_hash")).cast("long").alias("m")
            ).agg(F.sum("m")).collect()[0][0] or 0
            t.add("bloom.flagged", flagged)
            # no false negatives: every already-seen candidate is flagged
            t.add("bloom.false_pos", flagged - (n_cand - n_new))
            t.add("bloom.probed_new", n_new)

    def bloom_bytes(bloom):
        t.counts["seen.bloom_bytes"] = max(
            t.counts.get("seen.bloom_bytes", 0.0),
            float(sum(b.nbytes for b in bloom.bitsets.values())),
        )

    def after_append(args, kwargs, result):
        rows, table = _arg(args, kwargs, 0, "seen"), _arg(args, kwargs, 1, "table")
        t.counts["seen_store.data_files"] = float(
            seen_store.data_file_count(rows.sparkSession, table)
        )

    t.patch(crawl, "run", "crawl.run")
    t.patch(fr, "submit_seeds", "frontier.submit_seeds")
    t.patch(fr, "initial_state", "frontier.initial_state")
    t.patch(fr, "politeness_select", "frontier.politeness_select", after_select)
    t.patch(fr, "expand_round", "frontier.expand_round")
    t.patch(fr, "packed_seq", "frontier.packed_seq")
    t.patch(fr, "checkpoint", "frontier.checkpoint", after_checkpoint)
    t.patch(fr, "load_checkpoint", "frontier.load_checkpoint")
    t.patch(fr, "compact_checkpoints", "frontier.compact_checkpoints")
    t.patch(seen_ops, "filter_unseen", "seen.filter_unseen", after_filter)
    t.patch(seen_ops.PartitionedBloom, "build", "seen.bloom_build",
            lambda a, k, r: bloom_bytes(r), is_classmethod=True)
    t.patch(seen_ops.PartitionedBloom, "union_update", "seen.bloom_union",
            lambda a, k, r: bloom_bytes(a[0]))
    t.patch(seen_store, "append_seen", "seen_store.append_seen", after_append)
    t.patch(fetch, "fetch_images", "fetch.fetch_images")
    t.patch(fetch, "verify_images", "fetch.verify_images")
    for attr in sorted(vars(ann_store)):
        if attr.startswith("ensure_") and callable(getattr(ann_store, attr)):
            t.patch(ann_store, attr, "ann_store.ensure_index")


def derived_counts(tracer, units: int) -> dict[str, float]:
    """Per-operation counts plus the ratios built from them."""
    c = tracer.counts
    out = {
        name: c.get(name, 0.0) / units
        for name, _u in COUNTS
        if name not in ("seen.new_ratio", "seen.bloom_maybe_share", "seen.bloom_fpr",
                        "seen.bloom_bytes", "seen_store.data_files")
    }
    out["seen.bloom_bytes"] = c.get("seen.bloom_bytes", 0.0)
    out["seen_store.data_files"] = c.get("seen_store.data_files", 0.0)
    cand, new = c.get("seen.candidates", 0.0), c.get("seen.unseen", 0.0)
    out["seen.new_ratio"] = new / cand if cand else 0.0
    out["seen.bloom_maybe_share"] = c.get("bloom.flagged", 0.0) / cand if cand else 0.0
    probed = c.get("bloom.probed_new", 0.0)
    out["seen.bloom_fpr"] = c.get("bloom.false_pos", 0.0) / probed if probed else 0.0
    return out
