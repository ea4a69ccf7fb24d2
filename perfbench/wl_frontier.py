"""``frontier`` workload: one large BFS round resumed from a committed state.

Set-up commits one crawl state through ``fr.checkpoint``: F pending URLs
over F/URLS_PER_HOST hosts, and a seen history SEEN_MULTIPLE times the
frontier (twice the round's candidate set).  Every page links four child
directories, two of which are already seen.  One operation resumes the
state with ``fr.load_checkpoint`` using the crawl's default prefilter (the
bloom) and seen layout, then runs one ``fr.expand_round`` whose host budgets
admit every row (crawl_delay 1 s, so a 60 s round admits 60 per host).

The seen set, the bloom, politeness ranking and ``packed_seq`` do most of
the work here; fetch and per-round checkpoint writes do none.  Every
operation starts from the same committed state: ``expand_round`` writes
nothing durable, and the blocks it caches are released between operations.

Not in BENCHMARK.json, whose runs cannot afford a third workload
(README.md, "Time budget and sizes"); run it with ``--workload frontier``.
The smoke test runs it at a tiny scale.
"""

from __future__ import annotations

import os
import time
from statistics import median

from pyspark.sql import functions as F

from od_database_spark.operators import frontier as fr
from proctime import tree_cpu_s

N_URLS = 20_000
URLS_PER_HOST = 50
SEEN_MULTIPLE = 8  # seen rows per frontier row: frontier + 2 seen children + history
CHILDREN = 4


class FrontierWorkload:
    name = "frontier"

    def __init__(self, spark, root: str, seed: int, scale: float):
        self.spark, self.root, self.seed = spark, root, seed
        self.n = max(int(N_URLS * scale), 200)
        self.hosts = max(self.n // URLS_PER_HOST, 1)
        self.reps = 0
        self.frames: list = []

    # --- set-up ----------------------------------------------------------

    def _url(self, id_col, kind: str):
        return F.format_string(
            f"http://s{self.seed}h%d.frontier.example/{kind}%d/",
            F.pmod(id_col, F.lit(self.hosts)), id_col,
        )

    def prepare(self) -> None:
        """Nothing: the expected counts follow from how set-up builds the
        state."""

    def setup(self) -> None:
        spark, n = self.spark, self.n
        for df in self.frames:
            df.unpersist()
        ids = spark.range(0, n, 1, 8)
        frontier = ids.select(self._url(F.col("id"), "p").alias("url"), "id").select(
            "url",
            F.xxhash64("url").alias("url_hash"),
            F.pmod(F.col("id"), F.lit(97)).alias("website_id"),
            F.regexp_extract("url", r"^http://([^/]+)/", 1).alias("host"),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(self.seed)), F.lit(5)) + 1).cast("int").alias("priority"),
            F.lit(1).alias("depth"),
            (F.lit(2 << 45) + F.col("id")).alias("discovery_seq"),
        )
        links = F.array(*[F.lit(f"c{i}/") for i in range(CHILDREN)])
        self.pages = frontier.select(
            "url", "host", links.alias("links"),
            F.lit(0).alias("link_tag_count"), F.lit(0).alias("script_tag_count"),
            F.lit(False).alias("redirects"),
        ).cache()
        self.robots = spark.range(0, self.hosts, 1, 4).select(
            F.format_string(f"s{self.seed}h%d.frontier.example", "id").alias("host"),
            F.lit(1.0).alias("crawl_delay"),
            F.array().cast("array<string>").alias("disallow_prefixes"),
        ).cache()
        seen_children = frontier.select(
            F.explode(F.array(F.concat("url", F.lit("c0/")), F.concat("url", F.lit("c2/")))).alias("url")
        )
        history = spark.range(0, n * (SEEN_MULTIPLE - 3), 1, 8).select(
            self._url(F.col("id"), "old").alias("url")
        )
        seen = frontier.select("url").unionByName(seen_children).unionByName(history).select(
            "url", F.xxhash64("url").alias("url_hash")
        )
        self.ckpt = os.path.join(self.root, f"frontier_ckpt_{self.reps}")
        self.reps += 1
        state = fr.CrawlState(
            round_no=1, frontier=frontier, seen=seen, next_seq=0, seen_delta=seen,
            run_id=f"bench{self.seed}",
        )
        fr.checkpoint(state, self.ckpt)
        self.frames = [self.pages, self.robots]
        for df in self.frames:
            df.count()
        self.seen_rows = n * SEEN_MULTIPLE

    def warm_up(self, tally) -> None:
        out = self.op()
        tally.record(self.check(out))
        self.reset(out)

    # --- the operation ---------------------------------------------------

    def op(self, tracer=None) -> dict:
        c0, t0 = tree_cpu_s(), time.perf_counter()
        state = fr.load_checkpoint(self.spark, self.ckpt, use_bloom=True)
        t1, c1 = time.perf_counter(), tree_cpu_s()
        nxt, fetched, images = fr.expand_round(state, self.pages, self.robots)
        n_next = nxt.frontier.count()
        t2, c2 = time.perf_counter(), tree_cpu_s()
        return {
            "state": state, "next": nxt, "fetched": fetched, "images": images,
            "n_next": n_next, "resume_s": t1 - t0, "expand_s": t2 - t1, "wall": t2 - t0,
            "resume_cpu_s": c1 - c0, "expand_cpu_s": c2 - c1,
        }

    def trace_counts(self, out: dict, tracer) -> None:
        pass

    def check(self, out: dict) -> list[str]:
        problems = []
        new = out["next"].frontier.filter(F.col("depth") == 2).count()
        fetched = out["fetched"].count()
        want_new = self.n * CHILDREN // 2
        if fetched != self.n:
            problems.append(f"fetched {fetched} pages, expected {self.n}")
        if new != want_new:
            problems.append(f"enqueued {new} new urls, expected {want_new}")
        if out["n_next"] != want_new:
            problems.append(f"next frontier holds {out['n_next']} rows, expected {want_new}")
        return problems

    def reset(self, out: dict) -> None:
        if out["state"].bloom is not None:
            out["state"].bloom.invalidate_broadcast()

    # --- metrics ---------------------------------------------------------

    def summarize(self, outs: list[dict]) -> tuple[dict, dict]:
        expanded = self.n + self.n * CHILDREN  # rows ranked + child urls produced
        e2e = {
            "op_cpu_s": median([o["resume_cpu_s"] + o["expand_cpu_s"] for o in outs]),
            "items_per_cpu_s": median([expanded / o["expand_cpu_s"] for o in outs]),
            "aux_items_per_cpu_s": median([self.seen_rows / o["resume_cpu_s"] for o in outs]),
        }
        detail = {
            "resume_s": (median([o["resume_s"] for o in outs]), "s"),
            "expand_urls_per_s": (median([expanded / o["expand_s"] for o in outs]), "urls/s"),
            "frontier_urls": (float(self.n), "urls"),
            "seen_rows": (float(self.seen_rows), "rows"),
        }
        return e2e, detail
