#!/usr/bin/env python3
"""The benchmark's own smoke test, at tiny sizes.

    python3 perfbench/smoke.py

For every workload in BENCHMARK.json, and for the by-hand ``frontier``
workload, it makes two benchmark runs, each a subprocess started from the
root of the checkout:

* an untraced run, which must pass its output checks and print every
  end-to-end metric of BENCHMARK.json with its unit and a value above 0;
* a traced run whose output is corrupted on purpose (one URL dropped from
  the crawl result; one row of one query altered; one page dropped from the
  frontier round's fetched pages), which must print every
  per-layer metric with its unit and count the corruption as a failed
  operation.

Exits 0 when every check holds; prints each failed check to stderr.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = {"crawl": "0.5", "queries": "1", "frontier": "0.05"}
BY_HAND = ("frontier",)  # runnable workloads that BENCHMARK.json leaves out


def corrupt(workload: str) -> None:
    """Patch the workload so that its output is wrong in one row."""
    if workload == "crawl":
        import wl_crawl

        op = wl_crawl.CrawlWorkload.op

        def dropping_op(self, *a, **k):
            out = op(self, *a, **k)
            pages = out["results"][0].fetched_pages
            first = pages[0].select("url").first()["url"]
            pages[0] = pages[0].filter(pages[0].url != first)
            return out

        wl_crawl.CrawlWorkload.op = dropping_op
    elif workload == "frontier":
        import wl_frontier

        op = wl_frontier.FrontierWorkload.op

        def dropping_op(self, *a, **k):
            out = op(self, *a, **k)
            first = out["fetched"].select("url").first()["url"]
            out["fetched"] = out["fetched"].filter(out["fetched"].url != first)
            return out

        wl_frontier.FrontierWorkload.op = dropping_op
    elif workload == "queries":
        from pyspark.sql import functions as F

        from od_database_spark import queries as Q

        fn, sql = Q.REGISTRY["ext_breakdown"]

        def altered(spark, sf_dir):
            df = fn(spark, sf_dir)
            return df.withColumn(
                "cnt", F.when(F.col("lang") == "en", F.col("cnt") + 1).otherwise(F.col("cnt"))
            )

        Q.REGISTRY["ext_breakdown"] = (altered, sql)
    else:
        raise ValueError(f"no corruption defined for workload {workload!r}")


def bench(argv: list[str], corrupted: bool) -> dict:
    script = os.path.join(HERE, "smoke.py" if corrupted else "run.py")
    cmd = [sys.executable, script] + (["--corrupt"] if corrupted else []) + argv
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}")
    return json.loads(lines[-1])


def expect_metrics(result: dict, spec: list[dict], what: str, positive: bool) -> list[str]:
    got = result["metrics"]
    problems = [f"{what}: {m['name']} missing" for m in spec if m["name"] not in got]
    problems += [f"{what}: unexpected metric {n}" for n in got if n not in {m["name"] for m in spec}]
    for m in spec:
        v = got.get(m["name"])
        if v is None:
            continue
        if v["unit"] != m["unit"]:
            problems.append(f"{what}: {m['name']} unit {v['unit']} != {m['unit']}")
        if positive and not v["value"] > 0:
            problems.append(f"{what}: {m['name']} = {v['value']}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems: list[str] = []
    for name in [w["name"] for w in spec["workloads"]] + list(BY_HAND):
        args = ["--workload", name, "--seed", "1", "--seconds", "0", "--scale", SCALE[name]]
        clean = bench(args + ["--trace", "0"], corrupted=False)
        problems += expect_metrics(clean, spec["end_to_end"], f"{name} untraced", True)
        if not clean["correct"] or clean["failed"]:
            problems.append(f"{name} untraced: {clean['failed']} failed operations")
        bad = bench(args + ["--trace", "1"], corrupted=True)
        problems += expect_metrics(bad, spec["per_layer"], f"{name} traced", False)
        if bad["correct"] or bad["failed"] < 1:
            problems.append(f"{name} corrupted: the corruption was not counted as a failure")
        print(f"{name}: clean {clean['failed']}/{clean['attempted']} failed, "
              f"corrupted {bad['failed']}/{bad['attempted']} failed", file=sys.stderr)
    for p in problems:
        print(f"SMOKE FAILED {p}", file=sys.stderr)
    print("smoke test " + ("failed" if problems else "passed"), file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--corrupt":
        sys.path.insert(0, HERE)
        sys.path.insert(0, ROOT)
        import run

        argv = sys.argv[2:]
        corrupt(argv[argv.index("--workload") + 1])
        sys.exit(run.main(argv))
    sys.exit(main())
