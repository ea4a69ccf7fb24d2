"""``crawl`` workload: the user's whole pipeline at sandbox size.

One operation submits the seed list of a synthetic world, crawls with
``crawl.run(ckpt_dir=..., max_rounds=STOP_AFTER)`` (stopping partway), then
resumes with ``crawl.run(resume=True)`` until the frontier drains, and
finally fetches, decodes and verifies every distinct discovered image.
Per-round fixed costs (checkpoint writes, reloads, job count) dominate here,
and it is the only workload that runs the fetch/decode/verify path.

The world is WINDOWS windows of WINDOW_HOSTS host ids chosen by the seed.
Each window starts WINDOW_OFFSET ids after a multiple of WINDOW_PERIOD, a
common multiple of every modulus the world generator classifies hosts by,
so every window has the same mix of mega, spam, redirect, FTP and
blacklisted hosts while page trees, robots and images differ per seed.
The offset puts exactly one mega host in each window, and one that is not
blacklisted, so the crawl walks its deep, wide tree.  Kept windows drain in
ROUNDS rounds when crawled alone; at that depth the mega host's tree
overruns its per-host politeness budget in some round, so the carry path
runs in every window.  Page and image counts still vary from window to
window, so the seed's candidate windows are taken in order and kept only
while their oracle replays keep the world's totals near WINDOWS median
windows (``pick_windows``): every seed gives the same amount of work to
within TOLERANCE.  The expected output is an uninterrupted replay of the
whole world by ``tests/oracle.py``.  Picking and replaying are the
benchmark's own work and run before the timed set-up.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from statistics import median

from pyspark.sql import functions as F

from od_database_spark import crawl, schema
from od_database_spark.datagen import world
from od_database_spark.operators import fetch
from od_database_spark.operators import frontier as fr
from proctime import tree_cpu_s
from spans import no_span
from tests.oracle import Oracle

WINDOWS = 2
WINDOW_HOSTS = 29
WINDOW_PERIOD = 3 * 4 * 8 * 11 * 13 * 17 * 19 * 29  # host-class moduli of datagen.world
# hosts start+30 .. start+58: the one mega host, start+58, is neither
# blacklisted (% 19), spam (% 13), redirect (% 17) nor FTP (% 11)
WINDOW_OFFSET = 30
ROUNDS = 5  # rounds a kept window takes to drain on its own
WINDOW_URLS, WINDOW_IMAGES = 134, 337  # medians over windows that drain in ROUNDS
TOLERANCE = 0.02  # of the whole world's page and image counts
MAX_CANDIDATES = 1000
STOP_AFTER = 2  # rounds before the simulated stop; the resume drains the rest
MAX_RESUMES = 10


def walk_host(host_id: int) -> list[dict]:
    """Every directory page of one host, via the world's per-page function."""
    rows, stack = [], ["/"]
    while stack:
        path = stack.pop()
        row = world.page_row(host_id, path)
        rows.append(row)
        stack.extend(
            path + link for link in row["links"]
            if link.endswith("/") and link != "../" and "://" not in link
        )
    return rows


def world_rows(host_ids) -> tuple[list, list, list]:
    """(pages, robots, blacklist) rows of a set of hosts."""
    pages = [r for h in host_ids for r in walk_host(h)]
    robots = [
        (world.host_name(h), float(1 + world._h64("delay", h) % 5),
         ["/private/"] if world._h64("priv", h) % 3 == 0 else [])
        for h in host_ids
    ]
    blacklist = [
        (h, f"{world.host_scheme(h)}://{world.host_name(h)}")
        for h in host_ids if h % 19 == 0
    ]
    return pages, robots, blacklist


def replay(host_ids, seeds) -> tuple[Oracle, int]:
    """Uninterrupted oracle crawl of the world ``host_ids`` spans, and the
    number of rounds it took to drain."""
    pages, robots, blacklist = world_rows(host_ids)
    oracle = Oracle(
        {p["url"]: p for p in pages},
        {h: (d, dis) for h, d, dis in robots},
        {u for _i, u in blacklist},
    )
    oracle.submit(seeds)
    rounds = 0
    while oracle.frontier:
        oracle.crawl_round()
        rounds += 1
    return oracle, rounds


def pick_windows(rng: random.Random, n: int) -> list[int]:
    """First hosts of ``n`` distinct windows that each drain in ROUNDS
    rounds and whose replays fetch and find, in total, within TOLERANCE of
    ``n`` median windows' pages and images.  Every window but the last only
    has to keep the running totals within 5 % of that many median
    windows."""
    starts: list[int] = []
    urls = images = 0
    for _ in range(MAX_CANDIDATES):
        lo = rng.randrange(1, 1 << 20) * WINDOW_PERIOD + WINDOW_OFFSET
        o, rounds = replay(range(lo, lo + WINDOW_HOSTS), submissions(window_seeds(lo)))
        k = len(starts) + 1
        tol = TOLERANCE if k == n else 0.05
        u, i = urls + len(o.crawl_order), images + len(o.image_urls)
        if (lo not in starts and rounds == ROUNDS
                and abs(u - k * WINDOW_URLS) <= tol * k * WINDOW_URLS
                and abs(i - k * WINDOW_IMAGES) <= tol * k * WINDOW_IMAGES):
            starts.append(lo)
            urls, images = u, i
            if k == n:
                return starts
    raise RuntimeError(f"no {n} windows near the median after {MAX_CANDIDATES} candidates")


def submissions(urls: list[str]) -> list[tuple[str, int, int]]:
    """(url, submit_seq, priority) rows in submission order."""
    return [(u, i, 1) for i, u in enumerate(urls)]


def window_seeds(lo: int) -> list[str]:
    """Raw seed URLs of the window whose first host is ``lo``: every root plus
    messy variants that exercise the submit chain's dedup paths (case,
    missing slash, fragment, invalid, nonexistent and real child
    directories)."""
    rng = random.Random(lo)
    urls: list[str] = []
    for h in range(lo, lo + WINDOW_HOSTS):
        root = world.root_url(h)
        urls.append(root)
        kind = rng.randrange(8)
        if kind == 0:
            urls.append(root.upper())
        elif kind == 1:
            urls.append(root[:-1])
        elif kind == 2:
            urls.append(root + "media0/")
        elif kind == 3:
            urls.append(root + "#frag")
        elif kind == 4:
            urls.append(f"not a url {h}")
        elif kind == 5:
            subs = [l for l in world.page_links(h, "/") if l.endswith("/") and "://" not in l]
            if subs:
                urls.append(root + subs[0])
    return urls


class CrawlWorkload:
    name = "crawl"

    def __init__(self, spark, root: str, seed: int, scale: float):
        self.spark, self.root = spark, root
        self.seed = seed
        self.windows = max(int(round(WINDOWS * scale)), 1)
        self.ops = 0

    # --- set-up ----------------------------------------------------------

    def prepare(self) -> None:
        """The benchmark's own work, before the timed set-up: pick the
        seed's windows and replay the world with the oracle."""
        starts = pick_windows(random.Random(self.seed), self.windows)
        self.host_ids = [h for lo in starts for h in range(lo, lo + WINDOW_HOSTS)]
        self.seed_rows = submissions([u for lo in starts for u in window_seeds(lo)])
        oracle, _rounds = replay(self.host_ids, self.seed_rows)
        self.expected = {
            "fetched": {u for u, _seq in oracle.crawl_order},
            "images": set(oracle.image_urls),
            "seen": set(oracle.seen),
        }

    def setup(self) -> None:
        """Generate the world's input rows with ``datagen.world``'s per-host
        functions."""
        self.inputs = (*world_rows(self.host_ids), self.seed_rows)

    def warm_up(self, tally) -> None:
        """Hand the inputs to Spark, cached.  No crawl runs before the timed
        one: a crawl is a batch job its user starts cold, so the operation
        is measured as the user meets it."""
        spark = self.spark
        pages, robots, blacklist, seeds = self.inputs
        self.pages = spark.createDataFrame(pages, schema.PAGES).cache()
        self.robots = spark.createDataFrame(robots, schema.ROBOTS).cache()
        self.blacklist = spark.createDataFrame(
            blacklist or [(0, "http://never.invalid")], schema.BLACKLIST
        ).cache()
        self.seeds = spark.createDataFrame(seeds, "url string, submit_seq long, priority int").cache()
        for df in (self.pages, self.robots, self.blacklist, self.seeds):
            df.count()

    # --- the operation ---------------------------------------------------

    def op(self, tracer=None) -> dict:
        span = tracer.span if tracer else no_span
        ckpt = os.path.join(self.root, f"crawl_ckpt_{self.ops}")
        self.ops += 1
        args = (self.spark, self.seeds, self.pages, self.robots, self.blacklist)
        c0, t0 = tree_cpu_s(), time.perf_counter()
        results = [crawl.run(*args, ckpt_dir=ckpt, max_rounds=STOP_AFTER)]
        for _ in range(MAX_RESUMES):
            if results[-1].state.frontier.count() == 0:
                break
            results.append(crawl.run(*args, ckpt_dir=ckpt, resume=True))
        t1, c1 = time.perf_counter(), tree_cpu_s()
        image_urls = results[0].image_urls[0]
        for df in [d for r in results for d in r.image_urls][1:]:
            image_urls = image_urls.unionByName(df)
        image_urls = fr.dedup_image_urls(image_urls)
        verified = fetch.verify_images(fetch.fetch_images(image_urls))
        bad = ~F.col("pixel_ok") | ~F.col("caption_ok") | ~F.col("phash_ok")
        with span("fetch.exec"):
            checked = verified.select("image_id", bad.alias("bad")).collect()
        t2, c2 = time.perf_counter(), tree_cpu_s()
        return {
            "results": results, "image_urls": image_urls, "checked": checked,
            "ckpt": ckpt, "crawl_s": t1 - t0, "images_s": t2 - t1, "wall": t2 - t0,
            "crawl_cpu_s": c1 - c0, "images_cpu_s": c2 - c1,
            "urls": sum(r.urls_fetched for r in results),
        }

    def trace_counts(self, out: dict, tracer) -> None:
        with tracer.span("trace.count"):
            fetched = fetch.fetch_images(out["image_urls"])
            tracer.add("fetch.image_bytes", fetched.agg(F.sum(F.length("bytes"))).collect()[0][0] or 0)
        tracer.add("fetch.verify_failures", sum(1 for r in out["checked"] if r["bad"]))

    def check(self, out: dict) -> list[str]:
        exp, problems = self.expected, []
        fetched = [
            r["url"] for res in out["results"] for df in res.fetched_pages
            for r in df.select("url").collect()
        ]
        if len(fetched) != len(set(fetched)):
            problems.append(f"{len(fetched) - len(set(fetched))} urls fetched twice")
        if set(fetched) != exp["fetched"]:
            problems.append(_diff("fetched urls", set(fetched), exp["fetched"]))
        if out["urls"] != len(fetched):
            problems.append(f"urls_fetched {out['urls']} != {len(fetched)} fetched rows")
        images = {r["url"] for r in out["image_urls"].select("url").collect()}
        if images != exp["images"]:
            problems.append(_diff("image urls", images, exp["images"]))
        seen = {r["url"] for r in out["results"][-1].state.seen.select("url").collect()}
        if seen != exp["seen"]:
            problems.append(_diff("seen set", seen, exp["seen"]))
        failures = sum(1 for r in out["checked"] if r["bad"])
        if failures:
            problems.append(f"{failures} images failed verification")
        if len(out["checked"]) != len(exp["images"]):
            problems.append(f"{len(out['checked'])} images verified, expected {len(exp['images'])}")
        return problems

    def reset(self, out: dict) -> None:
        shutil.rmtree(out["ckpt"], ignore_errors=True)

    # --- metrics ---------------------------------------------------------

    def summarize(self, outs: list[dict]) -> tuple[dict, dict]:
        """(end-to-end metrics, wall-clock detail)."""
        e2e = {
            "op_cpu_s": median([o["crawl_cpu_s"] + o["images_cpu_s"] for o in outs]),
            "items_per_cpu_s": median([o["urls"] / o["crawl_cpu_s"] for o in outs]),
            "aux_items_per_cpu_s": median([len(o["checked"]) / o["images_cpu_s"] for o in outs]),
        }
        detail = {
            "op_wall_s": (median([o["wall"] for o in outs]), "s"),
            "crawl_urls_per_s": (median([o["urls"] / o["crawl_s"] for o in outs]), "urls/s"),
            "images_per_s": (median([len(o["checked"]) / o["images_s"] for o in outs]), "images/s"),
            "rounds": (float(sum(r.rounds for r in outs[0]["results"])), "count"),
            "urls_fetched": (float(outs[0]["urls"]), "urls"),
            "images_verified": (float(len(outs[0]["checked"])), "images"),
        }
        return e2e, detail


def _diff(what: str, got: set, want: set) -> str:
    missing, extra = sorted(want - got)[:3], sorted(got - want)[:3]
    return f"{what}: {len(want - got)} missing {missing}, {len(got - want)} unexpected {extra}"
