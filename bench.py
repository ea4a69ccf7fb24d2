#!/usr/bin/env python
"""Benchmark harness (driver contract + BASELINE.json north rule).

Default mode (what the driver runs):
  1. times every oracle-checked query at $SPARK_GRAFT_SF_DIR (default
     /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
  2. runs the crawl pipeline (frontier BFS + image fetch/decode) at TWO
     parallelism levels — local[8] and local[32] (the sandbox stand-in for N
     vs 4N executors) — in subprocesses, and reports URLs/sec, images/sec and
     scaling efficiency
  3. prints ONE JSON line to stdout; all progress goes to stderr

Crawl-only subprocess mode:
  python bench.py --crawl --cpus 8 --hosts 20000   # one JSON line
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_HOSTS = int(os.environ.get("ODDB_BENCH_HOSTS", "10000"))
# N vs 4N pairs, per metric: the image fetch/decode stage is CPU-bound and
# scales through 32 threads; the frontier stage is shuffle/memory-bandwidth
# bound, and this VM saturates its memory bus above ~8 threads (pure-CPU spin
# loops scale 25x to 32 workers; row-shuffle work does not), so its honest
# N→4N window is 2→8.  Both pairs satisfy the rule's "N and 4N cores".
CRAWL_SCALING_CPUS = (8, 32)
FRONTIER_SCALING_CPUS = (2, 8)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def run_queries(spark, sf_dir: str) -> tuple[dict[str, float], float, float]:
    """Returns (per-query seconds, ingest seconds, query-loop wall seconds).
    Ingest (index builds) is reported SEPARATELY from the suite wall — a
    cold warehouse otherwise inflates the headline by the one-time build
    cost (r5 found 33s of fresh builds inside a r4-comparable 36s number)."""
    from od_database_spark.operators import ann_store
    from od_database_spark.queries import REGISTRY

    # one untimed warmup query so the alphabetically-first timed query does
    # not absorb JVM/codegen/parquet-footer warmup
    warm_fn, _ = REGISTRY["global_totals"]
    warm_fn(spark, sf_dir).count()
    # index builds are the INGEST job (build-once/query-many) — run them
    # untimed so per-query numbers measure the query path, and report the
    # build cost on its own line
    t0 = time.time()
    ann_store.ensure_lsh_index(spark, sf_dir)
    ann_store.ensure_ivf_index(spark, sf_dir)
    ann_store.ensure_text_lsh_index(spark, sf_dir)
    ann_store.ensure_shingle_index(spark, sf_dir)
    ann_store.ensure_simhash_index(spark, sf_dir)
    from od_database_spark.queries import _ensure_scaled_ivf, _ensure_scaled_lsh

    _ensure_scaled_lsh(spark, sf_dir)
    _ensure_scaled_ivf(spark, sf_dir)
    ingest_s = round(time.time() - t0, 2)
    log(f"ann index builds (untimed ingest): {ingest_s}s")

    times: dict[str, float] = {}
    t_loop = time.time()
    for name, (fn, _sql) in sorted(REGISTRY.items()):
        t0 = time.time()
        # noop sink, not count(): count() lets Catalyst prune unreferenced
        # aggregate expressions and eliminate distinct-key left joins, so it
        # times a fraction of the real plan for some queries.  NOTE: this
        # makes r3+ per-query numbers incomparable to r1/r2 for the queries
        # count() used to prune (they get honestly SLOWER in the report).
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        times[name] = round(time.time() - t0, 3)
        log(f"query {name}: {times[name]:.2f}s")
    return times, ingest_s, round(time.time() - t_loop, 3)


# Corpus-proportional queries for the 10x anchor (the bounded-id queries
# like simhash/quality_flags/ascii_fold measure a constant slice and are
# excluded on purpose): the similarity family scans the perturbed
# documents/embeddings replicas; the rest scan the key-shifted replicas of
# the star-schema tables — so round-over-round deltas measure EXECUTOR work
# across the whole registry, not just the vector path.
SF10X_QUERIES = [
    # similarity / dedup family (documents + embeddings)
    "minhash_lsh", "ngram_jaccard", "text_dedup_keep", "dedup_components",
    "lang_id", "token_count", "rolling_fingerprint",
    "embedding_topk", "embedding_lsh_ann", "embedding_neardup",
    "embedding_batch_ann", "embedding_dedup_keep",
    "embedding_bucket_search", "embedding_ivf_search",
    # search/agg/join family (events, orders, customer, part, lineitem)
    "ext_breakdown", "text_quality", "dedup_exact", "multi_match", "blocklist",
    "global_totals", "extended_stats", "size_histogram",
    "date_histogram", "website_scatter", "listing_page", "recrawl_pool",
    "random_row", "join_deleted_default", "filtered_search",
    "prefix_semi_join", "trigram_rank", "highlight",
    # scaled-geometry / trained-quantizer index views
    "embedding_lsh_scaled", "ivf_cell_stats", "ivf_cell_stats_scaled",
    "embedding_neardup_scaled", "embedding_ivf_search_scaled",
    # crawl-operator oracle rows over star-schema-derived inputs
    "image_phash_neardup", "submit_dedup",
]
SF10X_REPLICAS = 10

# fact/dim tables replicated by KEY SHIFT (replica k adds k*max to each key
# so joins keep 1:1 semantics — duplicated keys would multiply join matches
# 10x and make 10x data cost 100x join work, which is not what real growth
# costs).  FKs shift by the REFERENCED table's base so each replica joins
# its own dim replica.
SF10X_PLAIN_TABLES = {
    "events": {"event_id": "events"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "customer": {"c_custkey": "customer"},
    "part": {"p_partkey": "part"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part"},
}
SF10X_KEY_OF = {
    "events": "event_id", "orders": "o_orderkey",
    "customer": "c_custkey", "part": "p_partkey",
}


def _sf10x_key(spark, src_dir: str) -> str:
    """Content-signature cache key: regenerating the source IN PLACE changes
    the key, so a stale cached 10x corpus is abandoned instead of silently
    served (the same staleness class ann_store._source_sig guards)."""
    import hashlib

    from od_database_spark.operators.ann_store import _source_sig

    tables = ["documents", "embeddings", *sorted(SF10X_PLAIN_TABLES)]
    sigs = "|".join(_source_sig(spark, src_dir, t, params="sf10x") for t in tables)
    return hashlib.md5(f"{sigs}:{SF10X_REPLICAS}".encode()).hexdigest()[:10]


def ensure_sf10x(spark, src_dir: str) -> str:
    """Deterministic 10x corpus derived from ``src_dir``: replica k shifts
    ids and PERTURBS content (word suffix per replica; hash-derived noise on
    embedding components) so replicas are not near-duplicates of each other
    — naive row duplication would put every clone in the same LSH buckets
    and blow candidate pairs up quadratically, which is not what 10x real
    data costs.  Star-schema tables replicate by key shift (see
    SF10X_PLAIN_TABLES).  Replica 0 is the original data.  Cached under
    /tmp, keyed by source CONTENT signature."""
    from pyspark.sql import functions as F

    key = _sf10x_key(spark, src_dir)
    out = os.path.join("/tmp", f"oddb_bench_sf10x_{key}")
    marker = os.path.join(out, "_BUILT")
    if os.path.isfile(marker):
        return out
    t0 = time.time()
    docs = spark.read.parquet(f"{src_dir}/documents.parquet")
    embs = spark.read.parquet(f"{src_dir}/embeddings.parquet")
    n_docs = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    n_vecs = embs.agg(F.max("vec_id")).collect()[0][0] + 1
    doc_parts, emb_parts = [docs], [embs]
    for k in range(1, SF10X_REPLICAS):
        suffixed = F.array_join(
            F.transform(F.split("text", " "), lambda w: F.concat(w, F.lit(f"~{k}"))),
            " ",
        )
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + k * n_docs).alias("doc_id"),
                suffixed.alias("text"), "lang", "source", "n_chars",
            )
        )
        vid = F.col("vec_id")
        noise = lambda i: (
            (F.pmod(vid * 2654435761 + i * 40503 + F.lit(k * 97), F.lit(2001)) - 1000)
            / F.lit(3000.0)
        ).cast("float")
        emb_parts.append(
            embs.select(
                (vid + k * n_vecs).alias("vec_id"),
                F.transform("embedding", lambda x, i: x + noise(i)).alias("embedding"),
                "label",
            )
        )
    d10 = doc_parts[0]
    for p in doc_parts[1:]:
        d10 = d10.unionByName(p)
    e10 = emb_parts[0]
    for p in emb_parts[1:]:
        e10 = e10.unionByName(p)
    d10.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    e10.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")

    bases = {
        tbl: spark.read.parquet(f"{src_dir}/{tbl}.parquet")
        .agg(F.max(col)).collect()[0][0] + 1
        for tbl, col in SF10X_KEY_OF.items()
    }
    for tbl, shifts in SF10X_PLAIN_TABLES.items():
        df = spark.read.parquet(f"{src_dir}/{tbl}.parquet")
        parts = [df]
        for k in range(1, SF10X_REPLICAS):
            parts.append(
                df.select(
                    *[
                        (F.col(c) + k * bases[shifts[c]]).alias(c)
                        if c in shifts
                        else F.col(c)
                        for c in df.columns
                    ]
                )
            )
        t10 = parts[0]
        for p in parts[1:]:
            t10 = t10.unionByName(p)
        t10.write.mode("overwrite").parquet(f"{out}/{tbl}.parquet")

    with open(marker, "w") as f:
        f.write("ok")
    log(f"sf10x corpus built in {time.time() - t0:.1f}s at {out}")
    return out


def run_sf10x(spark, src_dir: str) -> dict:
    """The executor-work anchor: corpus-proportional queries at 10x rows,
    where the similarity family's driver-side plan constants (1.5-3s of
    literal-tree planning, measured r2) no longer dominate.  ANN index
    builds run untimed first (build-once is the ingest contract)."""
    from od_database_spark.operators import ann_store
    from od_database_spark.queries import REGISTRY

    sf10x_dir = ensure_sf10x(spark, src_dir)
    t0 = time.time()
    ann_store.ensure_lsh_index(spark, sf10x_dir)
    ann_store.ensure_ivf_index(spark, sf10x_dir)
    ann_store.ensure_text_lsh_index(spark, sf10x_dir)
    ann_store.ensure_shingle_index(spark, sf10x_dir)
    from od_database_spark.queries import _ensure_scaled_ivf, _ensure_scaled_lsh

    _ensure_scaled_lsh(spark, sf10x_dir)
    _ensure_scaled_ivf(spark, sf10x_dir)
    index_build_s = round(time.time() - t0, 2)
    log(f"sf10x ann index build: {index_build_s}s")
    times: dict[str, float] = {}
    all_trials: dict[str, list] = {}
    for name in SF10X_QUERIES:
        fn, _sql = REGISTRY[name]
        trials = []
        # best-of-3: best-of-2 still admitted steal outliers (r3's final-run
        # token_count 12.99s vs 1.41s best — measured); trials are recorded
        # so the steal spread stays visible in the artifact
        for _ in range(3):
            t1 = time.time()
            # noop sink, not count(): count() lets Catalyst PRUNE unreferenced
            # aggregates and eliminate distinct-key left joins, timing a
            # fraction of the real query (text_dedup_keep's whole verify
            # pipeline was optimized away under count() — measured)
            fn(spark, sf10x_dir).write.mode("overwrite").format("noop").save()
            trials.append(time.time() - t1)
        times[name] = round(min(trials), 3)
        all_trials[name] = [round(t, 2) for t in trials]
        log(f"sf10x {name}: {times[name]:.2f}s {all_trials[name]}")
    result = {
        "replicas": SF10X_REPLICAS,
        "src": src_dir,
        "index_build_sec": index_build_s,
        "queries": times,
        "trials": all_trials,
        "total_sec": round(sum(times.values()), 2),
    }
    result["scaled_geometry"] = run_scaled_geometry(spark, sf10x_dir)
    result["scaled_ivf"] = run_scaled_ivf(spark, sf10x_dir)
    return result


# 4×2^9 = 2048 buckets vs the default 4×2^6 = 256 (single-sourced with the
# oracle-checked embedding_lsh_scaled query)
from od_database_spark.queries import ANN_SCALED_ROWS as SCALED_ROWS  # noqa: E402


def run_scaled_geometry(spark, sf10x_dir: str) -> dict:
    """The scaled-geometry ANN anchor (the last open 100-TB question from
    round 3): the default 4×2^6 LSH geometry is FROZEN for oracle parity, so
    at 10x rows the in-bucket candidate-pair count grows ~quadratically and
    embedding_neardup/dedup_keep wall time with it.  The fix has always been
    parameterization (queries.ann_planes → more rows per band → bands × 2^rows
    buckets); this run is the EVIDENCE: same corpus, same queries, geometry
    sized to the corpus — candidate pairs and wall time both drop."""
    from pyspark.sql import functions as F

    from od_database_spark.operators import ann_store
    from od_database_spark.operators.dedup import embedding_near_dup
    from od_database_spark.queries import ANN_BANDS, ANN_ROWS, t as load

    e = load(spark, sf10x_dir, "embeddings")
    out = {}
    for label, rows in (("fixed", None), ("scaled", SCALED_ROWS)):
        # measure a FRESH build: run_sf10x's untimed ingest already built
        # both geometries, so a bare ensure_* here is a _VALIDATED memo hit
        # and would record memo-lookup time as index_build_sec (r4 artifact
        # did exactly that) — drop the table and forget the memo first
        tbl = ann_store.lsh_table_name(
            sf10x_dir, bands=None if rows is None else ANN_BANDS, rows=rows
        )
        ann_store._drop_stale(spark, tbl)
        ann_store._forget(tbl)
        t0 = time.time()
        if rows is None:
            name = ann_store.ensure_lsh_index(spark, sf10x_dir)
        else:
            name = ann_store.ensure_lsh_index(spark, sf10x_dir, bands=ANN_BANDS, rows=rows)
        build_s = round(time.time() - t0, 2)
        keyed = spark.table(name)
        a, b = keyed.alias("a"), keyed.alias("b")
        pairs = (
            a.join(b, on="bucket")
            .filter(F.col("a.vec_id") < F.col("b.vec_id"))
            .select("a.vec_id", "b.vec_id")
            .distinct()
            .count()
        )
        neardup = lambda: embedding_near_dup(
            e, "embedding", "vec_id", threshold=0.25, keyed=keyed
        )
        trials = []
        for _ in range(3):
            t1 = time.time()
            neardup().write.mode("overwrite").format("noop").save()
            trials.append(time.time() - t1)
        keep_trials = []
        for _ in range(3):
            t1 = time.time()
            # the keep-list step over the same candidate feed
            # (q_embedding_dedup_keep's shape, keyed by this geometry)
            drops = neardup().select(F.col("id_b").alias("vec_id")).distinct()
            flagged = e.join(
                drops.withColumn("_drop", F.lit(True)), on="vec_id", how="left"
            )
            (
                flagged.groupBy("label")
                .agg(
                    F.sum(F.when(F.col("_drop"), 0).otherwise(1)).alias("kept"),
                    F.sum(F.when(F.col("_drop"), 1).otherwise(0)).alias("dropped"),
                )
                .write.mode("overwrite").format("noop").save()
            )
            keep_trials.append(time.time() - t1)
        out[label] = {
            "bands": ANN_BANDS,
            "rows": rows if rows is not None else "default",
            "bucket_keyspace": ANN_BANDS * (2 ** (rows if rows is not None else ANN_ROWS)),
            "index_build_sec": build_s,
            "candidate_pairs": pairs,
            "neardup_sec": round(min(trials), 3),
            "neardup_trials_sec": [round(x, 2) for x in trials],
            "dedup_keep_sec": round(min(keep_trials), 3),
            "dedup_keep_trials_sec": [round(x, 2) for x in keep_trials],
        }
        log(f"sf10x geometry {label}: pairs={pairs} neardup={out[label]['neardup_sec']}s "
            f"keep={out[label]['dedup_keep_sec']}s")
    f, s = out["fixed"], out["scaled"]
    out["pair_reduction"] = round(f["candidate_pairs"] / max(s["candidate_pairs"], 1), 2)
    return out


def run_scaled_ivf(spark, sf10x_dir: str) -> dict:
    """Scaled-K IVF anchor: the coarse quantizer sized to the corpus
    (k ≈ √N) vs the oracle-parity default K=16, both as FRESH geometry-keyed
    builds.  What scales: per-cell inverted lists shrink ~K/16×, so an
    nprobe probe reads nprobe/K of the index (cells_read_fraction) while
    probe ranking stays a K-row broadcast — probe cost and per-cell scan
    balance at k≈√N.  DPP firing on the probe is plan-checked."""
    import math

    from pyspark.sql import functions as F

    from od_database_spark.operators import ann_store
    from od_database_spark.queries import IVF_K, IVF_NPROBE, ivf_probe, t as load

    e = load(spark, sf10x_dir, "embeddings")
    n = e.count()
    out = {"n_vectors": n}
    for label, k in (("default", None), ("scaled", int(math.isqrt(n)))):
        cents_tbl, cells_tbl = ann_store.ivf_table_names(sf10x_dir, k)
        for tbl in (cents_tbl, cells_tbl):
            ann_store._drop_stale(spark, tbl)
            ann_store._forget(tbl)
        t0 = time.time()
        cents_tbl, cells_tbl = ann_store.ensure_ivf_index(spark, sf10x_dir, k=k)
        build_s = round(time.time() - t0, 2)
        cents, cells = spark.table(cents_tbl), spark.table(cells_tbl)
        occ = (
            cells.groupBy("cell").count()
            .agg(F.max("count").alias("mx"), F.avg("count").alias("av"), F.count("*").alias("nc"))
            .collect()[0]
        )
        qrow = e.filter(F.col("vec_id") == 0)
        probe = ivf_probe(qrow, cents, cells, IVF_NPROBE)
        dpp = "dynamicpruning" in probe._jdf.queryExecution().toString().lower()
        trials = []
        for _ in range(3):
            t1 = time.time()
            ivf_probe(qrow, cents, cells, IVF_NPROBE).write.mode("overwrite").format(
                "noop"
            ).save()
            trials.append(time.time() - t1)
        kk = IVF_K if k is None else k
        out[label] = {
            "k": kk,
            "index_build_sec": build_s,
            "live_cells": int(occ["nc"]),
            "max_cell": int(occ["mx"]),
            "avg_cell": round(float(occ["av"]), 1),
            "cells_read_fraction": round(IVF_NPROBE / kk, 4),
            "dpp_fires": bool(dpp),
            "probe_sec": round(min(trials), 3),
            "probe_trials_sec": [round(x, 2) for x in trials],
        }
        log(f"sf10x ivf {label}: {out[label]}")
    return out


def run_crawl(spark, n_hosts: int) -> dict:
    """Full pipeline: submit → BFS to exhaustion → image fetch/decode.
    World generation and caching are setup (untimed); the timed window is
    the frontier expansion + the fetch/decode stage.  No checkpoints: the
    seen set stays an in-memory union (``seen_mode`` "df")."""
    from pyspark.sql import functions as F

    from od_database_spark import schema
    from od_database_spark.datagen import world
    from od_database_spark.operators import fetch as fetch_ops
    from od_database_spark.operators import frontier as fr

    pages = world.gen_pages(spark, n_hosts).cache()
    robots = world.gen_robots(spark, n_hosts).cache()
    blacklist = world.gen_blacklist(spark, n_hosts)
    n_pages = pages.count()
    robots.count()
    log(f"world: {n_hosts} hosts, {n_pages} pages")

    seeds = world.gen_seeds(spark, n_hosts)
    empty = spark.createDataFrame([], schema.SEEN)

    t0 = time.time()
    accepted = fr.submit_seeds(spark, seeds, empty, blacklist, pages)
    state = fr.initial_state(
        accepted,
        use_bloom=os.environ.get("ODDB_BENCH_BLOOM", "1") == "1",
        expected_total_urls=max(n_pages * 2, 10_000),
    )
    urls_fetched = 0
    image_url_dfs = []
    rounds = 0
    while True:
        state, fetched, image_urls = fr.expand_round(state, pages, robots)
        n_frontier = state.frontier.count()  # frontier is localCheckpointed
        urls_fetched += fetched.count()
        image_url_dfs.append(image_urls)  # already checkpointed by expand_round
        rounds += 1
        log(f"round {rounds}: frontier={n_frontier} fetched_total={urls_fetched}")
        if n_frontier == 0 or rounds >= 20:
            break
    crawl_s = time.time() - t0

    all_images = image_url_dfs[0]
    for df in image_url_dfs[1:]:
        all_images = all_images.unionByName(df)
    # multi-parent images fetch exactly once (no-op in the synthetic world,
    # where every image has one parent — asserted by the unchanged count)
    all_images = fr.dedup_image_urls(all_images).localCheckpoint(eager=True)

    # trial 1 warms the Python workers; best-of-3 rides out CPU-steal noise
    fetch_trials, n_images = [], 0
    for _ in range(3):
        t1 = time.time()
        n_images = fetch_ops.fetch_images(all_images).count()
        fetch_trials.append(time.time() - t1)
    fetch_s = min(fetch_trials)

    t2 = time.time()
    verified = fetch_ops.verify_images(fetch_ops.fetch_images(all_images))
    bad = verified.filter(
        ~F.col("pixel_ok") | ~F.col("caption_ok") | ~F.col("phash_ok")
    ).count()
    verify_s = time.time() - t2

    return {
        "hosts": n_hosts,
        "pages": n_pages,
        "seen_mode": "df",
        "rounds": rounds,
        "urls_fetched": urls_fetched,
        "crawl_sec": round(crawl_s, 2),
        "urls_per_sec": round(urls_fetched / crawl_s, 1),
        "images": n_images,
        "fetch_sec": round(fetch_s, 2),
        "fetch_trials_sec": [round(t, 2) for t in fetch_trials],
        "images_per_sec": round(n_images / fetch_s, 1),
        "verify_sec": round(verify_s, 2),
        "verify_failures": bad,
    }


def _shuffle_write_bytes(spark) -> int:
    """Total shuffle-write bytes across completed stages, read from Spark's
    in-process status store (perfbench/sparkstats.py; works with the UI
    off).  The per-URL shuffle volume is the cluster-relevant frontier
    metric — it is what crosses the network per scheduling round at 1000
    executors, and it is independent of this VM's memory-bus ceiling."""
    from perfbench.sparkstats import jobs

    return int(sum(j["shuffle_write_bytes"] for j in jobs(spark.sparkContext)))


def run_frontier_throughput(spark, n_urls: int, seen_mode: str = "df") -> dict:
    """Single-pass frontier-expansion throughput on a LARGE synthetic
    frontier (the 10^10-frontier stand-in): one politeness-ranked, link-
    exploded, seen-filtered, packed_seq-numbered expansion over n_urls
    pending URLs against a seen set of the same order.  One pass amortizes
    per-round fixed costs, so this measures operator throughput, which is
    what scales with executors — the end-to-end mini-crawl (run_crawl)
    measures the round machinery instead.

    ``seen_mode``: 'df' anti-joins a plain seen DataFrame (both sides
    shuffle); 'table' anti-joins the BUCKETED seen_store table — the seen
    side reads co-located (zero exchange), only the candidates hash to the
    bucket layout.  Both modes report shuffle-write B/URL."""
    from pyspark.sql import functions as F

    from od_database_spark.operators import frontier as fr
    from od_database_spark.operators import seen as seen_ops
    from od_database_spark.operators import seen_store as SS

    par = spark.sparkContext.defaultParallelism
    n_hosts = max(n_urls // 200, 16)

    def synth(ids):
        return ids.select(
            F.format_string(
                "http://h%d.bench.example/d%d/", F.pmod("id", F.lit(n_hosts)), F.col("id")
            ).alias("url"),
            F.col("id").alias("seq"),
        )

    frontier = synth(spark.range(0, n_urls, 1, par * 4)).select(
        "url",
        F.xxhash64("url").alias("url_hash"),
        F.pmod(F.xxhash64("url"), F.lit(100)).cast("long").alias("website_id"),
        F.regexp_extract("url", r"^http://([^/]+)/", 1).alias("host"),
        (F.pmod("seq", F.lit(5)) + 1).cast("int").alias("priority"),
        F.lit(1).alias("depth"),
        F.col("seq").alias("discovery_seq"),
    ).localCheckpoint(eager=True)
    # seen set: half the children that expansion will produce
    seen = (
        synth(spark.range(0, n_urls, 2, par * 4))
        .select(F.concat("url", F.lit("sub0/")).alias("url"))
        .select("url", F.xxhash64("url").alias("url_hash"))
        .localCheckpoint(eager=True)
    )
    seen_table = None
    if seen_mode == "table":
        # untimed setup: the durable bucketed table is the INGEST artifact
        # (built once, grown by appends); the trial measures the query side
        seen_table = "seen_bench_frontier"
        SS.recover_seen_table(spark, seen_table)
        SS.create_seen_table(seen, seen_table, round_no=0)
    robots = spark.createDataFrame(
        [(f"h{i}.bench.example", 1.0, []) for i in range(min(n_hosts, 100000))],
        "host string, crawl_delay double, disallow_prefixes array<string>",
    )

    def one_trial() -> tuple[float, int, int]:
        sb0 = _shuffle_write_bytes(spark)
        t0 = time.time()
        due, _carry, cutoffs = fr.politeness_select(frontier, robots, round_seconds=10**9)
        kids = due.select(
            "website_id", "host", "priority",
            (F.col("depth") + 1).alias("depth"),
            F.col("discovery_seq").alias("parent_seq"),
            F.posexplode(
                F.transform(F.sequence(F.lit(0), F.lit(3)), lambda i: F.concat(F.col("url"), F.lit("sub"), i, F.lit("/")))
            ).alias("link_idx", "canon_url"),
        ).withColumn("url_hash", F.xxhash64("canon_url"))
        if seen_table is not None:
            unseen = SS.filter_unseen_bucketed(spark, kids, seen_table)
        else:
            unseen = seen_ops.filter_unseen(kids, seen)
        numbered = fr.packed_seq(
            unseen, [F.desc("priority"), F.asc("parent_seq"), F.asc("link_idx")], round_no=1
        )
        n_new = numbered.count()  # cheap: counts the checkpointed blocks
        el = time.time() - t0
        sb1 = _shuffle_write_bytes(spark)
        numbered.unpersist()
        cutoffs.unpersist()
        return el, n_new, sb1 - sb0

    # best-of-3: this sandbox VM shows heavy CPU-steal noise (single runs
    # swing >50%), so the steady-state capability is the minimum.
    # AUTO-broadcast off for the trials: at sandbox scale the 1M-row seen
    # side fits the 64MB broadcast threshold, which a 10^10-row seen set
    # never will — the B/URL number must measure the non-broadcast regime
    # (explicit F.broadcast hints — politeness cutoffs, robots — still fire;
    # only the anti-join's auto choice is pinned)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        trials = [one_trial() for _ in range(3)]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
    el, n_new, shuffle_b = min(trials, key=lambda t: t[0])
    expanded = n_urls + 4 * n_urls  # rank inputs + exploded children
    out = {
        "n_urls": n_urls,
        "seen_mode": seen_mode,
        "children": 4 * n_urls,
        "new_enqueued": n_new,
        "sec": round(el, 2),
        "trials_sec": [round(t, 2) for t, _n, _s in trials],
        "frontier_urls_per_sec": round(expanded / el, 1),
    }
    # shuffle bytes are plan-determined (identical across trials up to AQE
    # coalescing); B/URL uses the frontier size as denominator, the round-2
    # convention (BENCH.md 49.7→32.8)
    out["shuffle_write_bytes"] = shuffle_b
    out["shuffle_b_per_url"] = round(shuffle_b / n_urls, 1)
    if seen_table is not None:
        spark.sql(f"DROP TABLE IF EXISTS {seen_table}")
    return out


def run_seen_scale(spark, n_cand: int = 500_000, seen_sizes=(2_000_000, 8_000_000)) -> dict:
    """THE seen-store scaling evidence: anti-join a FIXED candidate batch
    against growing seen sets in both layouts.  At 10^10 URLs the seen set
    is orders of magnitude bigger than a round's candidate batch, so what
    matters is whose bytes cross the wire: the plain-DataFrame anti-join
    shuffles BOTH sides (per-round network cost grows with the whole seen
    set), the bucketed seen_store table shuffles only the candidates (seen
    side reads co-located — flat cost no matter how big the history).
    Auto-broadcast is off: a 10^10-row seen side can never broadcast, so the
    non-broadcast plan is the regime under test."""
    from pyspark.sql import functions as F

    from od_database_spark.operators import seen as seen_ops
    from od_database_spark.operators import seen_store as SS

    par = spark.sparkContext.defaultParallelism
    cand = (
        spark.range(0, n_cand, 1, par * 4)
        .select(
            F.format_string("http://h%d.sc.example/d%d/", F.pmod("id", F.lit(5000)), F.col("id")).alias("canon_url")
        )
        .select("canon_url", F.xxhash64("canon_url").alias("url_hash"))
        .localCheckpoint(eager=True)
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    out = {"n_candidates": n_cand, "sizes": {}}
    try:
        for n_seen in seen_sizes:
            # seen covers half the candidates plus (n_seen - n_cand/2) other urls
            seen = (
                spark.range(0, n_seen * 2, 2, par * 4)
                .select(
                    F.format_string("http://h%d.sc.example/d%d/", F.pmod("id", F.lit(5000)), F.col("id")).alias("url")
                )
                .select("url", F.xxhash64("url").alias("url_hash"))
                .localCheckpoint(eager=True)
            )
            tbl = "seen_bench_scale"
            SS.recover_seen_table(spark, tbl)
            SS.create_seen_table(seen, tbl, round_no=0)
            row = {}
            for label in ("df", "table"):
                best, bytes_best, n_out = None, None, None
                for _ in range(3):
                    sb0 = _shuffle_write_bytes(spark)
                    t0 = time.time()
                    if label == "df":
                        unseen = seen_ops.filter_unseen(cand, seen)
                    else:
                        unseen = SS.filter_unseen_bucketed(spark, cand, tbl)
                    n_out = unseen.count()
                    el = time.time() - t0
                    sb1 = _shuffle_write_bytes(spark)
                    if best is None or el < best:
                        best, bytes_best = el, sb1 - sb0
                row[label] = {
                    "sec": round(best, 2),
                    "unseen": n_out,
                    "shuffle_write_bytes": bytes_best,
                    "shuffle_b_per_candidate": round(bytes_best / n_cand, 1),
                }
                log(f"seen-scale {n_seen} {label}: {row[label]}")
            assert row["df"]["unseen"] == row["table"]["unseen"]  # exactness
            out["sizes"][str(n_seen)] = row
            seen.unpersist()
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return out


def run_fetch_throughput(spark, n_images: int) -> dict:
    """Fetch/decode stage in isolation (Arrow-batched numpy, no shuffle) —
    the CPU-bound half of the pipeline, best-of-3."""
    from pyspark.sql import functions as F

    from od_database_spark.operators import fetch as fetch_ops

    urls = (
        spark.range(n_images)
        .select(
            F.format_string("img_%016x", F.xxhash64("id")).alias("image_id"),
            F.format_string("h%d.example.net", F.pmod("id", F.lit(500))).alias("host"),
        )
        .localCheckpoint(eager=True)
    )
    trials = []
    n = 0
    for _ in range(3):
        t0 = time.time()
        n = fetch_ops.fetch_images(urls).count()
        trials.append(time.time() - t0)
    best = min(trials)
    return {
        "n_images": n,
        "sec": round(best, 2),
        "trials_sec": [round(t, 2) for t in trials],
        "images_per_sec": round(n / best, 1),
    }


def bench_subprocess(mode: str, cpus: int, extra: list[str]) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), mode,
         "--cpus", str(cpus), *extra],
        capture_output=True, text=True, env=env, timeout=3600,
    )
    sys.stderr.write(out.stderr[-2000:])
    if out.returncode != 0:
        raise RuntimeError(f"{mode} bench @ {cpus} cpus failed: {out.stderr[-500:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--crawl", action="store_true", help="crawl-only, one JSON line")
    ap.add_argument("--frontier", action="store_true", help="frontier-throughput only")
    ap.add_argument("--seenscale", action="store_true",
                    help="seen-set anti-join shuffle scaling (df vs bucketed table)")
    ap.add_argument("--fetch", action="store_true", help="fetch/decode-throughput only")
    ap.add_argument("--sf10x", action="store_true", help="10x-corpus query anchor only")
    ap.add_argument("--images", type=int, default=int(os.environ.get("ODDB_BENCH_IMAGES", "40000")))
    ap.add_argument("--cpus", type=int, default=CPUS)
    ap.add_argument("--hosts", type=int, default=BENCH_HOSTS)
    ap.add_argument("--urls", type=int, default=int(os.environ.get("ODDB_BENCH_URLS", "2000000")))
    ap.add_argument("--seen-mode", choices=["df", "table"], default="df",
                    help="frontier bench: seen side as plain DataFrame or bucketed table")
    ap.add_argument("--no-scaling", action="store_true")
    args = ap.parse_args()

    from od_database_spark.session import get_spark

    if args.crawl or args.frontier or args.fetch or args.sf10x or args.seenscale:
        spark = get_spark(
            app_name=f"oddb-bench-sub-{args.cpus}", cpus=args.cpus,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        if args.crawl:
            print(json.dumps(run_crawl(spark, args.hosts)), flush=True)
        elif args.fetch:
            print(json.dumps(run_fetch_throughput(spark, args.images)), flush=True)
        elif args.sf10x:
            print(json.dumps(run_sf10x(spark, SF_DIR)), flush=True)
        elif args.seenscale:
            print(json.dumps(run_seen_scale(spark)), flush=True)
        else:
            print(
                json.dumps(run_frontier_throughput(spark, args.urls, args.seen_mode)),
                flush=True,
            )
        return

    spark = get_spark(
        app_name="oddb-bench", cpus=args.cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    qtimes, ingest_s, loop_wall = run_queries(spark, SF_DIR)
    spark.stop()

    result = {
        "metric": "oracle-query-suite wall time + crawl throughput at N/4N parallelism",
        "value": loop_wall,  # query loop only; ingest reported separately
        "unit": "sec",
        "queries": qtimes,
        "index_ingest_sec": ingest_s,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
    }

    if not args.no_scaling and os.environ.get("ODDB_BENCH_SF10X", "1") == "1":
        log("--- sf10x query anchor ---")
        result["sf10x"] = bench_subprocess("--sf10x", args.cpus, [])

    if not args.no_scaling:
        crawl, front = {}, {}
        for c in CRAWL_SCALING_CPUS:
            log(f"--- crawl bench at local[{c}] ---")
            crawl[str(c)] = bench_subprocess("--crawl", c, ["--hosts", str(args.hosts)])
        for c in FRONTIER_SCALING_CPUS:
            log(f"--- frontier throughput at local[{c}] ---")
            front[str(c)] = bench_subprocess("--frontier", c, ["--urls", str(args.urls)])
        fetch = {}
        for c in FRONTIER_SCALING_CPUS:
            log(f"--- fetch/decode throughput at local[{c}] ---")
            fetch[str(c)] = bench_subprocess("--fetch", c, ["--images", str(args.images)])
        cfac = CRAWL_SCALING_CPUS[1] / CRAWL_SCALING_CPUS[0]
        ffac = FRONTIER_SCALING_CPUS[1] / FRONTIER_SCALING_CPUS[0]
        lo, hi = crawl[str(CRAWL_SCALING_CPUS[0])], crawl[str(CRAWL_SCALING_CPUS[1])]
        flo, fhi = front[str(FRONTIER_SCALING_CPUS[0])], front[str(FRONTIER_SCALING_CPUS[1])]
        result["crawl"] = {
            "hosts": args.hosts,
            f"urls_per_sec_local{CRAWL_SCALING_CPUS[0]}": lo["urls_per_sec"],
            f"urls_per_sec_local{CRAWL_SCALING_CPUS[1]}": hi["urls_per_sec"],
            f"images_per_sec_local{CRAWL_SCALING_CPUS[0]}": lo["images_per_sec"],
            f"images_per_sec_local{CRAWL_SCALING_CPUS[1]}": hi["images_per_sec"],
            "images_scaling_efficiency": round(
                hi["images_per_sec"] / (cfac * lo["images_per_sec"]), 3
            ),
            "verify_failures": hi["verify_failures"],
            "detail": crawl,
        }
        log("--- frontier seen-table mode (shuffle B/URL) ---")
        ftbl = bench_subprocess(
            "--frontier", FRONTIER_SCALING_CPUS[1],
            ["--urls", str(args.urls), "--seen-mode", "table"],
        )
        log("--- seen-set anti-join shuffle scaling (df vs bucketed table) ---")
        result["seen_scale"] = bench_subprocess("--seenscale", FRONTIER_SCALING_CPUS[1], [])
        result["frontier"] = {
            "n_urls": args.urls,
            f"frontier_urls_per_sec_local{FRONTIER_SCALING_CPUS[0]}": flo["frontier_urls_per_sec"],
            f"frontier_urls_per_sec_local{FRONTIER_SCALING_CPUS[1]}": fhi["frontier_urls_per_sec"],
            "frontier_scaling_efficiency": round(
                fhi["frontier_urls_per_sec"] / (ffac * flo["frontier_urls_per_sec"]), 3
            ),
            # the cluster-relevant number: per-URL shuffle volume of the full
            # expansion pass, df-mode (both anti-join sides shuffle) vs the
            # bucketed seen table (seen side co-located, zero exchange)
            "shuffle_b_per_url_df": fhi.get("shuffle_b_per_url"),
            "shuffle_b_per_url_table": ftbl.get("shuffle_b_per_url"),
            "seen_table_detail": ftbl,
            "detail": front,
        }
        dlo, dhi = fetch[str(FRONTIER_SCALING_CPUS[0])], fetch[str(FRONTIER_SCALING_CPUS[1])]
        result["fetch_decode"] = {
            "n_images": args.images,
            f"images_per_sec_local{FRONTIER_SCALING_CPUS[0]}": dlo["images_per_sec"],
            f"images_per_sec_local{FRONTIER_SCALING_CPUS[1]}": dhi["images_per_sec"],
            "fetch_scaling_efficiency": round(
                dhi["images_per_sec"] / (ffac * dlo["images_per_sec"]), 3
            ),
            "detail": fetch,
        }

    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
