"""In-process run profile: what one call cost, read from Spark's own
status stores, so a run explains itself with the UI disabled.

``profile(spark, fn)`` runs ``fn()`` under a fresh job tag and returns
one record (a plain dict, JSON-serializable):

- ``run_s``: wall time of the call. When ``fn`` returns a DataFrame the
  call is split into ``build_s`` (constructing it, eager jobs
  included), ``plan_s`` (forcing its physical plan) and ``execute_s``
  (a noop write, which plans the write command again), and
  ``phases_ms`` holds the frame's Catalyst phases (analysis,
  optimization, planning) as Spark's ``QueryPlanningTracker`` keeps
  them: each from its first start to its last end, so a phase entered
  again later (analysis during optimization) overlaps the next.
- ``jobs``, ``stages`` (run), ``stages_skipped``, ``tasks`` and
  ``failed_tasks`` of the jobs that ran under the tag.
- ``executor_run_ms``, ``executor_cpu_ms``, ``shuffle_read_bytes`` and
  ``shuffle_write_bytes`` summed over the stages that ran;
  ``stage_table`` has them per stage, largest executor run time first.
- ``sql_nodes``: the time (ms) and row metrics of each plan node of the
  SQL executions that ran those jobs.
- ``janino``: code-generation compiles finished during the call
  (``compiles``, ``ms``). The counters are process-wide, so compiles
  of concurrent callers count too.

The job tag only adds to the calling thread's tags and is removed
before ``profile`` returns or re-raises; the caller's job group and
description are left as they were.
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame

_MS_PER_UNIT = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def profile(spark, fn) -> dict:
    """Run ``fn()`` under a fresh Spark job tag and return its profile
    record (see the module docstring). If ``fn`` raises, the tag is
    removed and the exception propagates."""
    sc = spark.sparkContext
    jvm = sc._jvm
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    # Every py4j call is a socket round trip (~0.1 ms), so each status
    # object is read as one JSON string from Spark's own Jackson mapper
    # rather than field by field.
    mapper = getattr(getattr(jvm.org.apache.spark.util, "JsonProtocol$"), "MODULE$").mapper()

    def read(jobj):
        return json.loads(mapper.writeValueAsString(jobj))

    tag = f"gsel-profile-{uuid.uuid4().hex}"
    record: dict = {}
    n0, ns0 = compiles.getCount(), codegen.compileTime()
    sc.addJobTag(tag)
    try:
        t0 = time.perf_counter()
        out = fn()
        if isinstance(out, DataFrame):
            t1 = time.perf_counter()
            qe = out._jdf.queryExecution()
            qe.executedPlan()
            t2 = time.perf_counter()
            out.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            record.update(
                build_s=round(t1 - t0, 4),
                plan_s=round(t2 - t1, 4),
                execute_s=round(t3 - t2, 4),
                phases_ms={
                    name: p["endTimeMs"] - p["startTimeMs"]
                    for name, p in sorted(
                        read(qe.tracker().phases()).items(),
                        key=lambda kv: kv[1]["startTimeMs"],
                    )
                },
            )
        record["run_s"] = round(time.perf_counter() - t0, 4)
    finally:
        sc.removeJobTag(tag)
    record["janino"] = {
        "compiles": compiles.getCount() - n0,
        "ms": round((codegen.compileTime() - ns0) / 1e6, 1),
    }
    jsc = sc._jsc.sc()
    # Status events reach the stores asynchronously: an execution's end
    # lands a few ms after the action returns.
    jsc.listenerBus().waitUntilEmpty()
    executions = _read_jobs(jsc, tag, read, record)
    record["sql_nodes"] = _sql_nodes(spark, executions, read)
    return record


def _read_jobs(jsc, tag: str, read, record: dict) -> list:
    """Fill the job, stage and cost fields of ``record``; return the ids
    of the SQL executions the tagged jobs belong to. Counts come from
    the job records: the status store evicts skipped stages first once
    it holds ``spark.ui.retainedStages``, so a skipped stage may already
    be gone (it cost nothing)."""
    store = jsc.statusStore()
    jobs = list(jsc.statusTracker().getJobIdsForTag(tag))
    stage_ids, executions = [], set()
    counts = dict.fromkeys(("stages", "stages_skipped", "tasks", "failed_tasks"), 0)
    for job in jobs:
        data, sql_id = read(store.jobWithAssociatedSql(job))
        stage_ids += data["stageIds"]
        counts["stages"] += data["numCompletedStages"] + data["numFailedStages"]
        counts["stages_skipped"] += data["numSkippedStages"]
        counts["tasks"] += data["numCompletedTasks"]
        counts["failed_tasks"] += data["numFailedTasks"]
        if sql_id is not None:
            executions.add(sql_id)
    table = []
    for sid in sorted(set(stage_ids)):
        attempts = read(store.stageData(sid, False, None, False, None))
        if not attempts or attempts[-1]["status"] == "SKIPPED":
            continue
        s = attempts[-1]
        table.append({
            "stage": sid,
            "name": s["name"][:80],
            "tasks": s["numCompleteTasks"],
            "run_ms": s["executorRunTime"],
            "cpu_ms": round(s["executorCpuTime"] / 1e6, 1),
            "shuffle_read_bytes": s["shuffleReadBytes"],
            "shuffle_write_bytes": s["shuffleWriteBytes"],
        })
    table.sort(key=lambda row: -row["run_ms"])
    record.update(
        jobs=len(jobs),
        **counts,
        executor_run_ms=sum(r["run_ms"] for r in table),
        executor_cpu_ms=round(sum(r["cpu_ms"] for r in table), 1),
        shuffle_read_bytes=sum(r["shuffle_read_bytes"] for r in table),
        shuffle_write_bytes=sum(r["shuffle_write_bytes"] for r in table),
        stage_table=table,
    )
    return sorted(executions)


def _sql_nodes(spark, executions: list, read) -> list:
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for eid in executions:
        values = read(store.executionMetrics(eid))
        # Node by node: a graph read whole carries every node's plan
        # text, and a py4j reply over 8 KB stalls ~40 ms on the socket.
        nodes = store.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            metrics = {}
            for m in read(node.metrics()):
                timed = m["metricType"] in ("timing", "nsTiming")
                rows = m["metricType"] == "sum" and "rows" in m["name"]
                value = values.get(str(m["accumulatorId"]))
                if value is not None and (timed or rows):
                    metrics[m["name"]] = _metric_value(value, timed)
            if metrics:
                out.append({
                    "execution": eid,
                    "node": node.id(),
                    "name": node.name(),
                    "metrics": metrics,
                })
    return out


def _metric_value(text: str, timed: bool):
    """A SQL metric's display string reduced to its total: ms for a
    timing (``378 ms``, ``1.2 s``), an int for a count (``10,000``)."""
    total = text.split("\n")[-1].split(" (")[0]
    if timed:
        number, unit = total.split()
        return round(float(number) * _MS_PER_UNIT[unit], 1)
    return int(total.replace(",", ""))
