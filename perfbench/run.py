#!/usr/bin/env python3
"""The repository's benchmark: one workload per run at local[4],
end-to-end metrics from an untraced run, per-layer metrics from a traced
one.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  Progress and a table of every metric go
to stderr; the last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones
(the same stages run with spans installed; it also reports the tracing
overhead).  Each run works in its own directory under
``.perfbench_tmp/`` (warehouse, checkpoints, SPARK_LOCAL_DIRS, TMPDIR) and
removes it on exit.  See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import uuid

from proctime import descendants

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SETUP_REPS = 3
SPAN_SUM_TOLERANCE = 0.10  # top-level span walls vs the traced crawl wall
# end-to-end metric -> unit, in BENCHMARK.json order
E2E = {"setup_s": "s", "op_cpu_s": "s", "items_per_cpu_s": "1/s", "aux_items_per_cpu_s": "1/s"}


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}] {msg}", file=sys.stderr, flush=True)


class Tally:
    """Operations attempted and failed; a failure is an exception or a
    failed output check."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, problems: list[str], what: str = "", ops: int = 1) -> None:
        """``ops`` operations were attempted; each problem is one failed
        operation, but an operation fails at most once."""
        self.attempted += ops
        self.failed += min(len(problems), ops)
        for p in problems:
            log(f"CHECK FAILED {what}: {p}")


def cpu_counters() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def peak_rss_mb(spark) -> float:
    """High-water RSS of the driver JVM plus the Python driver."""
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def start_session(run_dir: str):
    local = os.path.join(run_dir, "local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    from od_database_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=CORES,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # the status store is the per-layer data source: keep every job
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and its JVM, then wait until every process the run
    started (the JVM, Spark's Python daemon and workers) has ended."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.perf_counter() + 30
    while descendants() and time.perf_counter() < deadline:
        time.sleep(0.1)


def make_workload(name: str, spark, run_dir: str, seed: int, scale: float):
    if name == "crawl":
        from wl_crawl import CrawlWorkload as W
    elif name == "frontier":
        from wl_frontier import FrontierWorkload as W
    else:
        from wl_queries import QueriesWorkload as W
    return W(spark, run_dir, seed, scale)


def release_new_blocks(sc, before: set) -> None:
    """Unpersist every RDD cached since ``before`` was taken, so each
    operation starts with the block store it found."""
    for rid, rdd in dict(sc._jsc.getPersistentRDDs()).items():
        if rid not in before:
            rdd.unpersist(True)


def timed_ops(wl, seconds: float, tally: Tally, tracer=None) -> list[dict]:
    """Operations until ``seconds`` have passed (at least one).  Output
    checks run outside the operation's wall time, its job group and the
    trace."""
    sc = wl.spark.sparkContext
    outs = []
    deadline = time.perf_counter() + seconds
    while True:
        before = set(dict(sc._jsc.getPersistentRDDs()).keys())
        sc.setJobGroup("timed", "timed")
        started = time.time()
        try:
            out = wl.op(tracer=tracer)
        except Exception as e:
            tally.record([f"{type(e).__name__}: {e}"[:500]], wl.name)
            break
        out["span"] = (started, started + out["wall"])
        if tracer is not None:
            wl.trace_counts(out, tracer)
        sc.setJobGroup("check", "check")
        with paused(tracer):
            tally.record(wl.check(out), wl.name, out.get("ops", 1))
        outs.append(out)
        wl.reset(out)
        release_new_blocks(sc, before)
        if time.perf_counter() >= deadline:
            break
    return outs


def paused(tracer):
    return tracer.paused() if tracer is not None else contextlib.nullcontext()


def run(args, run_dir: str) -> dict:
    steal0, total0 = cpu_counters()
    t0 = time.perf_counter()
    spark = start_session(run_dir)
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    log(f"session {session_s:.2f}s  master={sc.master}")
    tally = Tally()
    wl = make_workload(args.workload, spark, run_dir, args.seed, args.scale)
    t = time.perf_counter()
    wl.prepare()
    log(f"prepare {time.perf_counter() - t:.2f}s (not in setup_s)")

    setup_times = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        wl.setup()
        setup_times.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.warm_up(tally)
    warm_s = time.perf_counter() - t
    setup_s = session_s + statistics.median(setup_times) + warm_s
    log(f"setup {[round(x, 2) for x in setup_times]}s (median), warm-up {warm_s:.2f}s")

    tracer = None
    if args.trace:
        import layers
        from spans import Tracer

        tracer = Tracer(spark, uuid.uuid4().hex[:8])
        layers.install(tracer)
    try:
        index = None
        if args.workload == "queries":
            sc.setJobGroup("timed", "timed")
            index = wl.index_stage()
            sc.setJobGroup("check", "check")
            with paused(tracer):
                wl.warm_pass(tally)
        outs = timed_ops(wl, args.seconds, tally, tracer)
    finally:
        if tracer is not None:
            tracer.unpatch_all()
    if not outs:
        raise SystemExit("no operation completed")
    log(f"{len(outs)} timed operations: {[round(o['wall'], 2) for o in outs]}s")
    e2e, detail = wl.summarize(outs, index) if index else wl.summarize(outs)
    e2e["setup_s"] = setup_s
    detail["peak_rss_mb"] = (peak_rss_mb(spark), "MB")
    metrics = {k: (e2e[k], unit) for k, unit in E2E.items()}
    layer = {}
    if tracer is not None:
        layer = layer_metrics(args, tracer, outs, index["index_s"] if index else 0.0)
        if args.workload == "crawl":
            share = layer["trace.span_sum_share"]
            tally.record([f"top-level spans cover {share:.3f} of the operation's wall"]
                         if abs(share - 1.0) > SPAN_SUM_TOLERANCE else [], "trace")
    steal1, total1 = cpu_counters()
    steal_share = (steal1 - steal0) / max(total1 - total0, 1)
    stop_session(spark)
    log("session stopped")

    report(args, metrics, detail, layer, tally, steal_share)
    if tracer is not None:
        from layers import per_layer_metrics

        layer["run.steal_share"] = steal_share
        layer["run.peak_rss_mb"] = detail["peak_rss_mb"][0]
        metrics = {n: (layer.get(n, 0.0), u) for n, u in per_layer_metrics()}
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def layer_metrics(args, tracer, outs: list[dict], stage_wall: float) -> dict:
    """Per-layer metrics of the traced stages, per timed operation."""
    import layers
    import sparkstats
    from spans import covered

    jobs = sparkstats.jobs(tracer.sc)
    units = len(outs)
    m = tracer.layer_metrics(jobs, units)
    m.update(layers.derived_counts(tracer, units))
    m["frontier.jobs_per_round"] = _jobs_per_round(tracer, jobs)
    op_wall = sum(o["wall"] for o in outs)
    overhead = tracer.overhead_s()
    m["trace.overhead_share"] = overhead / max(op_wall + stage_wall - overhead, 1e-9)
    top = [(s.start, s.end) for s in tracer.spans if s.parent is None]
    m["trace.span_sum_share"] = sum(covered(top, *o["span"]) for o in outs) / op_wall
    # engine totals: jobs of the timed stages and of every layer span,
    # counting and output checks excluded
    counted = {tracer.group_of(s.sid) for s in tracer.spans if not tracer.counting(s)}
    work = [j for j in jobs if j["group"] == "timed" or j["group"] in counted]
    totals = sparkstats.engine_totals(work, op_wall + stage_wall, CORES)
    share = totals.pop("spark.busy_share")
    m.update({k: v / units for k, v in totals.items()})
    m["spark.busy_share"] = share
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"spans_{args.workload}_{args.seed}_{tracer.run_id}.jsonl"))
    return m


def _jobs_per_round(tracer, jobs) -> float:
    """Jobs run inside expand_round, its children included (counting spans
    excluded), per call."""
    groups: dict[str, int] = {}
    for j in jobs:
        groups[j["group"]] = groups.get(j["group"], 0) + 1
    rounds = [s for s in tracer.spans if s.name == "frontier.expand_round"]
    if not rounds:
        return 0.0

    def inclusive(sid: int) -> int:
        sp = tracer.spans[sid]
        if sp.name == "trace.count":
            return 0
        return groups.get(tracer.group_of(sid), 0) + sum(inclusive(c) for c in sp.children)

    return sum(inclusive(s.sid) for s in rounds) / len(rounds)


def report(args, metrics, detail, layer, tally, steal_share) -> None:
    log(f"--- {args.workload} seed={args.seed} trace={args.trace}")
    for k, (v, u) in list(metrics.items()) + list(detail.items()):
        log(f"{k:40s} {v:14.4f} {u}")
    rate = tally.failed / tally.attempted if tally.attempted else 0.0
    log(f"{'error_rate':40s} {rate:14.4f} ratio ({tally.failed}/{tally.attempted})")
    log(f"{'cpu_steal_share':40s} {steal_share:14.4f} ratio")
    for k in sorted(layer):
        log(f"{k:40s} {layer[k]:14.4f}")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("crawl", "frontier", "queries"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input-size multiplier (the smoke test uses small ones)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "od_database_spark", "__init__.py")):
        log(f"no od_database_spark package under {ROOT}: run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
