"""Per-operation layer metrics read from Spark's public status stores.

Nothing here changes what Spark runs. Each operation runs under its own
job group; after it finishes, the reader drains the listener bus and
then sums, for that group's completed stages (``AppStatusStore.stageList``,
called with all five arguments through py4j), the task metrics of the
scan, shuffle, executor and write layers, and for the SQL executions
started since the previous read, the plan-node metrics of the Python
boundary and of broadcast exchanges (``SQLAppStatusStore``).
"""

from __future__ import annotations

import json

# Plan-node metric strings (SQLMetrics.stringValue): sizes and
# durations carry a unit; task-aggregated values are printed as
# "total (min, med, max ...)\n<total> (<min>, ...)".
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-6, "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6,
}

STAGE_METRICS = (
    "sql.stages", "sql.tasks",
    "io.input_bytes", "io.input_rows", "io.scan_tasks",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.records",
    "shuffle.fetch_wait_ms",
    "executor.run_ms", "executor.cpu_ms", "executor.gc_ms",
    "executor.result_bytes",
    "warehouse.output_bytes", "warehouse.write_ms",
    "mr.map_ms", "mr.reduce_ms", "mr.shuffle_records",
)
SQL_METRICS = (
    "sql.exec_s", "io.scan_time_ms",
    "udf.python_bytes_sent", "udf.python_bytes_received", "udf.python_rows",
    "broadcast.bytes", "broadcast.build_ms",
)


def parse_metric(text: str) -> float:
    """Numeric total of one formatted SQL metric value, in bytes for
    sizes and milliseconds for durations."""
    line = text.strip().split("\n")[-1]
    head = line.split(" (")[0].split()
    if not head:
        return 0.0
    value = float(head[0].replace(",", ""))
    if len(head) > 1:
        value *= _UNITS.get(head[1], 1)
    return value


def stage_totals(stages: list[dict], mr: bool) -> dict[str, float]:
    """Sum stage task metrics into the stage-level layer metrics.
    ``mr`` splits an MR job's run time into map stages (those that
    write shuffle output) and reduce stages (the rest)."""
    out = dict.fromkeys(STAGE_METRICS, 0.0)
    for s in stages:
        out["sql.stages"] += 1
        out["sql.tasks"] += s["numTasks"]
        out["io.input_bytes"] += s["inputBytes"]
        out["io.input_rows"] += s["inputRecords"]
        if s["inputBytes"] > 0:
            out["io.scan_tasks"] += s["numTasks"]
        out["shuffle.write_bytes"] += s["shuffleWriteBytes"]
        out["shuffle.read_bytes"] += s["shuffleReadBytes"]
        out["shuffle.records"] += s["shuffleWriteRecords"]
        out["shuffle.fetch_wait_ms"] += s["shuffleFetchWaitTime"]
        out["executor.run_ms"] += s["executorRunTime"]
        out["executor.cpu_ms"] += s["executorCpuTime"] / 1e6
        out["executor.gc_ms"] += s["jvmGcTime"]
        out["executor.result_bytes"] += s["resultSize"]
        if s["outputBytes"] > 0:
            out["warehouse.output_bytes"] += s["outputBytes"]
            out["warehouse.write_ms"] += s["executorRunTime"]
        if mr:
            if s["shuffleWriteBytes"] > 0:
                out["mr.map_ms"] += s["executorRunTime"]
            else:
                out["mr.reduce_ms"] += s["executorRunTime"]
            out["mr.shuffle_records"] += s["shuffleWriteRecords"]
    return out


def plan_totals(nodes: list[tuple[str, dict[str, str]]]) -> dict[str, float]:
    """Sum plan-node metrics ((node name, {metric: formatted value})
    pairs) into the SQL-level layer metrics (``sql.exec_s`` is added by
    the caller)."""
    out = dict.fromkeys(SQL_METRICS, 0.0)

    def add(key, m, metric):
        if metric in m:
            out[key] += parse_metric(m[metric])

    for name, m in nodes:
        if name.startswith("Scan"):
            add("io.scan_time_ms", m, "scan time")
        if "data sent to Python workers" in m:
            add("udf.python_bytes_sent", m, "data sent to Python workers")
            add("udf.python_bytes_received", m, "data returned from Python workers")
            add("udf.python_rows", m, "number of output rows")
        if name.startswith("BroadcastExchange"):
            add("broadcast.bytes", m, "data size")
            add("broadcast.build_ms", m, "time to build")
    return out


class StatusReader:
    """Reads the status stores of one SparkSession."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        jvm = sc._jvm
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        complete = jvm.java.util.ArrayList()
        complete.add(jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
        self._stage_args = (
            complete,                               # statuses
            False,                                  # details
            False,                                  # withSummaries
            sc._gateway.new_array(jvm.double, 0),   # unsortedQuantiles
            jvm.java.util.ArrayList(),              # taskStatus
        )
        self._execs_seen = self._sql.executionsCount()

    def _to_py(self, jobj):
        return json.loads(self._json.writeValueAsString(jobj))

    def drain(self) -> None:
        """Wait until every queued listener event has been applied."""
        self._bus.waitUntilEmpty()

    def group_metrics(self, group: str, mr: bool) -> dict[str, float]:
        """Stage-level metrics and the job count of one job group."""
        tracker = self._sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = [
            s for s in self._to_py(self._store.stageList(*self._stage_args))
            if s["stageId"] in stage_ids
        ]
        out = stage_totals(stages, mr)
        out["sql.jobs"] = float(len(job_ids))
        return out

    def new_sql_metrics(self) -> dict[str, float]:
        """Plan-node metrics of SQL executions started since the last
        call, and the summed time of those that are not nested in
        another execution."""
        n = self._sql.executionsCount()
        offset, self._execs_seen = self._execs_seen, n
        out = plan_totals([])
        if n <= offset:
            return out
        execs = self._sql.executionsList(offset, n - offset)
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            done = e.completionTime()
            # a nested execution (a write inside a command, a streaming
            # micro-batch's sink write) runs inside its root's time span
            if done.isDefined() and e.rootExecutionId() == eid:
                out["sql.exec_s"] += (done.get().getTime() - e.submissionTime()) / 1e3
            values = self._to_py(self._sql.executionMetrics(eid))
            nodes = []
            for node in self._to_py(self._sql.planGraph(eid).allNodes()):
                m = {
                    pm["name"]: values[str(pm["accumulatorId"])]
                    for pm in node["metrics"]
                    if str(pm["accumulatorId"]) in values
                }
                nodes.append((node["name"], m))
            for k, v in plan_totals(nodes).items():
                out[k] += v
        return out
