"""Job and stage metrics from Spark's in-process status store.

``sc._jsc.sc().statusStore()`` is the AppStatusStore the web UI reads; it
is populated with ``spark.ui.enabled=false`` too.  Both lists are
serialized to JSON inside the JVM by the Jackson mapper the REST API uses,
so one py4j call returns every job (or stage) instead of one call per
field.
"""

from __future__ import annotations

import json

_STAGE_KEYS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("memoryBytesSpilled", 1),
    "tasks": ("numCompleteTasks", 1),
}


def _mapper(sc):
    jvm = sc._jvm
    scala_mod = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(scala_mod)
    return mapper


def drain(sc) -> None:
    """Wait until the listener bus has delivered every event, so jobs that
    just finished are visible in the store."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def jobs(sc) -> list[dict]:
    """Every finished job with its group, interval (epoch seconds) and the
    summed metrics of the stages it ran.  A stage listed by several jobs
    (a reused shuffle) is counted once, for the lowest job id; skipped
    stages ran nothing and count for none."""
    drain(sc)
    store = sc._jsc.sc().statusStore()
    mapper = _mapper(sc)
    raw_jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    raw_stages = json.loads(mapper.writeValueAsString(store.stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), sc._jvm.java.util.ArrayList()
    )))
    stages = {s["stageId"]: s for s in raw_stages if s["status"] == "COMPLETE"}
    out, claimed = [], set()
    for j in sorted(raw_jobs, key=lambda j: j["jobId"]):
        if j.get("completionTime") is None:
            continue
        row = {
            "id": j["jobId"],
            "group": j.get("jobGroup") or "",
            "start": j["submissionTime"] / 1000.0,
            "end": j["completionTime"] / 1000.0,
            "stages": 0,
            **{k: 0.0 for k in _STAGE_KEYS},
        }
        for sid in j["stageIds"]:
            if sid in claimed or sid not in stages:
                continue
            claimed.add(sid)
            row["stages"] += 1
            for key, (src, mul) in _STAGE_KEYS.items():
                row[key] += (stages[sid].get(src) or 0) * mul
        out.append(row)
    return out


def engine_totals(job_rows: list[dict], wall_s: float, cores: int) -> dict[str, float]:
    """Spark engine metrics of a set of jobs over ``wall_s`` seconds."""
    run_s = sum(j["executor_run_s"] for j in job_rows)
    return {
        "spark.jobs": float(len(job_rows)),
        "spark.stages": float(sum(j["stages"] for j in job_rows)),
        "spark.tasks": float(sum(j["tasks"] for j in job_rows)),
        "spark.executor_run_s": run_s,
        "spark.busy_share": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.gc_s": sum(j["gc_s"] for j in job_rows),
        "spark.shuffle_read_bytes": sum(j["shuffle_read_bytes"] for j in job_rows),
        "spark.spill_bytes": sum(j["spill_bytes"] for j in job_rows),
    }
