"""Traced execution of one query: reads Spark's own status stores and a
streaming listener from outside the program.

Job groups tag each query's build (the registry call) and its forced
write; streams run under their runId group. After the query, stage data
comes from the app status store and scan / Python-node SQL metrics from
the SQL status store.
"""

from __future__ import annotations

import json
import re
import time

from pyspark.sql.streaming import StreamingQueryListener

import metrics


class ProgressListener(StreamingQueryListener):
    """Records the runId of every stream started and every progress event."""

    def __init__(self):
        self.run_ids: list[str] = []
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")

STAGE_FIELDS = {
    "executorRunTime": "executor_run_ms",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleFetchWaitTime": "shuffle_fetch_wait_ms",
    "diskBytesSpilled": "spill_bytes",
    "outputBytes": "output_bytes",
}
SCAN_METRICS = {"size of files read": "scan_bytes", "number of output rows": "scan_rows",
                "scan time": "scan_ms"}
PYTHON_METRICS = {"time to run Python workers": "python_run_ms",
                  "time to start Python workers": "python_start_ms",
                  "data sent to Python workers": "python_sent_bytes",
                  "data returned from Python workers": "python_returned_bytes"}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.tracker = self.sc.statusTracker()
        self.stages = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        jvm = self.sc._jvm
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper.registerModule(getattr(scala_module, "MODULE$"))
        self.listener = ProgressListener()
        spark.streams.addListener(self.listener)
        self._drain()
        execs = self.sql.executionsList()
        n = execs.size()
        self.next_exec = execs.apply(n - 1).executionId() + 1 if n else 0

    def _drain(self):
        self.bus.waitUntilEmpty(60_000)

    def run(self, tag: str, build, write) -> dict:
        """Run build() then write(df) under job groups named after `tag`;
        return the query's ledger record."""
        n_runs, n_prog = len(self.listener.run_ids), len(self.listener.progress)
        self.sc.setJobGroup(f"{tag}/build", tag)
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        self.sc.setJobGroup(f"{tag}/write", tag)
        write(df)
        t2 = time.perf_counter()
        self.sc.setJobGroup("perfbench/idle", "")
        self._drain()
        run_ids = self.listener.run_ids[n_runs:]
        jobs = metrics.query_jobs(self.tracker.getJobIdsForGroup, [f"{tag}/build"], run_ids)
        write_jobs = list(self.tracker.getJobIdsForGroup(f"{tag}/write"))
        all_jobs = sorted(set(jobs["caller"]) | set(jobs["stream"]) | set(write_jobs))
        rec = {"query": tag.split("#")[0], "tag": tag, "build_s": t1 - t0,
               "execute_s": t2 - t1, "jobs": len(all_jobs),
               "eager_jobs": len(jobs["caller"]) + len(jobs["stream"]),
               "stream_jobs": len(jobs["stream"]),
               "progress": self.listener.progress[n_prog:]}
        rec.update(self._stage_totals(all_jobs))
        rec.update(self._sql_totals())
        return rec

    def _stage_ids(self, job: int) -> list[int]:
        info = self.tracker.getJobInfo(job)
        return list(info.stageIds) if info else []

    def _stage_totals(self, jobs: list[int]) -> dict:
        out = dict.fromkeys(["stages", "tasks", "executor_cpu_ms", *STAGE_FIELDS.values()], 0.0)
        for sid in metrics.stages_of_jobs(jobs, self._stage_ids):
            try:
                sd = json.loads(self.mapper.writeValueAsString(self.stages.lastStageAttempt(sid)))
            except Exception:  # noqa: BLE001 -- evicted from the store
                continue
            if sd.get("status") != "COMPLETE":
                continue  # skipped: its work was done by an earlier stage
            out["stages"] += 1
            out["tasks"] += sd["numCompleteTasks"]
            out["executor_cpu_ms"] += sd["executorCpuTime"] / 1e6
            for src, dst in STAGE_FIELDS.items():
                out[dst] += sd[src]
        return out

    def _sql_totals(self) -> dict:
        out = dict.fromkeys([*SCAN_METRICS.values(), *PYTHON_METRICS.values()], 0.0)
        while self.sql.execution(self.next_exec).isDefined():
            eid, self.next_exec = self.next_exec, self.next_exec + 1
            values = metrics.parse_metric_map(self.sql.executionMetrics(eid).toString())
            nodes = self.sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                if name.startswith("Scan "):
                    wanted = SCAN_METRICS
                elif _PYTHON_NODE.search(name):
                    wanted = PYTHON_METRICS
                else:
                    continue
                ms = node.metrics()
                found = {}
                for k in range(ms.size()):
                    m = ms.apply(k)
                    if m.name() in wanted and m.accumulatorId() in values:
                        found[wanted[m.name()]] = metrics.parse_sql_metric(values[m.accumulatorId()])
                if wanted is SCAN_METRICS and "scan_bytes" not in found:
                    continue  # an in-memory scan, not a file read
                for key, v in found.items():
                    out[key] += v
        return out
