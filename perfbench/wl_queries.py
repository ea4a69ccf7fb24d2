"""``queries`` workload: the search, stats and similarity layer and the
index ingest that feeds it.

The inputs are the repository's reference tables at sf0.001 (the ones the
query registry is tested on), copied under ``data/`` because a run may read
nothing outside its checkout; the seed shuffles the query order.  Each
set-up copies them into a directory of its own under the run's directory,
so index builds start cold.  Then:

1. timed: build every ann_store index the query set reads, cold, on the
   last set-up's copy, as the first Spark work of the session (the build is
   a batch job its user starts in a fresh session);
2. warm-up (untimed): one pass over the query set whose rows are
   normalized and compared with each query's DuckDB oracle SQL on the same
   files, then WARM_PASSES passes into the noop sink, so the JIT-compiled
   planner paths have settled before the timed passes;
3. timed: passes over the query set in a seed-shuffled order, each query
   written to a noop sink (never ``.count()``, which lets Catalyst prune
   the plan), until the run's seconds are spent.

QUERIES is a fixed slice of ``queries.REGISTRY``; see README.md for why
the benchmark cannot afford the whole registry per run and why
``filtered_search`` is left out.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
from statistics import median

import pyarrow.parquet as pq

from od_database_spark import queries as Q
from od_database_spark.operators import ann_store

from proctime import tree_cpu_s
from spans import no_span

# the reference tables the query set reads
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")
TABLES = ("documents", "events", "orders", "part")
WARM_PASSES = 3
# one slice of every registry family: stats aggregates, pagination, text
# search, language id, text near-dup (MinHash LSH, shingle Jaccard,
# SimHash) -- the ones whose indexes and DuckDB oracle are cheap enough to
# build and check on every run (README.md)
QUERIES = (
    "ext_breakdown", "global_totals", "date_histogram",
    "listing_page",
    "multi_match", "trigram_rank", "lang_id",
    "text_dedup_keep", "minhash_lsh", "ngram_jaccard", "simhash_neardup",
)
# (ann_store ensure function, source table it indexes) for every index
# QUERIES reads; looked up by name at call time so a traced run sees its spans
INDEXES = (
    ("ensure_text_lsh_index", "documents"),
    ("ensure_shingle_index", "documents"),
    ("ensure_simhash_index", "documents"),
)


def normalize(rows, colnames):
    """Order-insensitive canonical form of a result (the oracle test's
    comparison: columns by name, floats to 4 places, rows sorted)."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            vals.append(round(v, 4) if isinstance(v, float) else v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


class QueriesWorkload:
    name = "queries"

    def __init__(self, spark, root: str, seed: int, scale: float):
        self.spark, self.root, self.seed = spark, root, seed
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)
        self.reps = 0

    def prepare(self) -> None:
        """Nothing: the expected rows come from DuckDB on the warm-up pass."""

    def setup(self) -> None:
        """A fresh copy of the reference tables, so no index exists yet."""
        self.sf_dir = os.path.join(self.root, f"data_{self.reps}")
        self.reps += 1
        os.makedirs(self.sf_dir)
        for t in TABLES:
            shutil.copyfile(os.path.join(DATA, f"{t}.parquet"),
                            os.path.join(self.sf_dir, f"{t}.parquet"))

    def warm_up(self, tally) -> None:
        """Nothing: the index build is timed cold, and the warm pass runs
        between it and the timed passes."""

    # --- stages ----------------------------------------------------------

    def index_stage(self) -> dict:
        """The timed cold build of every index QUERIES reads."""
        c0, t0 = tree_cpu_s(), time.perf_counter()
        for ensure, _table in INDEXES:
            getattr(ann_store, ensure)(self.spark, self.sf_dir)
        return {"index_s": time.perf_counter() - t0, "cpu_s": tree_cpu_s() - c0,
                "rows": sum(pq.read_metadata(os.path.join(self.sf_dir, f"{t}.parquet")).num_rows
                            for _e, t in INDEXES)}

    def warm_pass(self, tally) -> None:
        """The oracle-checked pass, then WARM_PASSES untimed noop passes."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.sf_dir, t)}.parquet'"
                )
            for name in self.order:
                tally.record(self.check_one(con, name), name)
        finally:
            con.close()
        for _ in range(WARM_PASSES):
            tally.record(self.op()["errors"], "warm pass", len(self.order))

    def check_one(self, con, name: str) -> list[str]:
        fn, sql = Q.REGISTRY[name]
        try:
            df = fn(self.spark, self.sf_dir)
            cols = df.columns
            got = normalize([tuple(r) for r in df.collect()], cols)
        except Exception as e:  # a query that raises is a failed operation
            return [f"{name}: {type(e).__name__}: {e}"[:300]]
        res = con.execute(sql)
        want_cols = [d[0] for d in res.description]
        want = normalize(res.fetchall(), want_cols)
        if sorted(cols) != sorted(want_cols):
            return [f"{name}: columns {cols} != oracle {want_cols}"]
        if got != want:
            bad = sum(1 for a, b in zip(got, want) if a != b) + abs(len(got) - len(want))
            return [f"{name}: {bad} rows differ from the oracle ({len(got)} vs {len(want)})"]
        return []

    def run_query(self, name: str, span) -> tuple[float, float]:
        """(wall seconds, CPU seconds) of one query."""
        fn, _sql = Q.REGISTRY[name]
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with span("queries.build"):
            df = fn(self.spark, self.sf_dir)
        with span("queries.exec"):
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, tree_cpu_s() - c0

    def op(self, tracer=None) -> dict:
        """One warm pass over the query set."""
        span = tracer.span if tracer else no_span
        lat, cpu, errors = {}, {}, []
        t0 = time.perf_counter()
        for name in self.order:
            try:
                lat[name], cpu[name] = self.run_query(name, span)
            except Exception as e:  # a query that raises is a failed operation
                errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
        return {"lat": lat, "cpu": cpu, "errors": errors, "ops": len(self.order),
                "wall": time.perf_counter() - t0}

    def trace_counts(self, out: dict, tracer) -> None:
        pass

    def check(self, out: dict) -> list[str]:
        return out["errors"]

    def reset(self, out: dict) -> None:
        pass

    def summarize(self, outs: list[dict], index: dict) -> tuple[dict, dict]:
        """Per query, the median over the timed passes; op_cpu_s sums those
        medians (the median pass), items_per_cpu_s inverts their geometric
        mean, so a saving on a short query counts as much as one on a long
        query.  Wall-clock figures go to the detail."""
        def medians(key: str) -> dict[str, float]:
            return {q: median(o[key][q] for o in outs if q in o[key])
                    for q in self.order if any(q in o[key] for o in outs)}

        cpu, wall = medians("cpu"), medians("lat")
        lat = sorted(v for o in outs for v in o["lat"].values())
        e2e = {
            "op_cpu_s": sum(cpu.values()),
            "items_per_cpu_s": 1.0 / _geomean(cpu.values()),
            "aux_items_per_cpu_s": index["rows"] / index["cpu_s"],
        }
        detail = {
            "query_suite_s": (sum(wall.values()), "s"),
            "query_geomean_s": (_geomean(wall.values()), "s"),
            "query_p50_s": (_quantile(lat, 0.5), "s"),
            "index_build_s": (index["index_s"], "s"),
            "query_samples": (float(len(lat)), "count"),
        }
        # p90 only when at least ten samples lie beyond it
        if len(lat) >= 100:
            detail["query_p90_s"] = (_quantile(lat, 0.9), "s")
        for q in sorted(wall):
            detail[f"query.{q}.wall_s"] = (wall[q], "s")
            detail[f"query.{q}.cpu_s"] = (cpu[q], "s")
        return e2e, detail


def _geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(max(x, 1e-3)) for x in xs) / len(xs))


def _quantile(xs: list[float], q: float) -> float:
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
