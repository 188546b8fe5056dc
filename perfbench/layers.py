"""Per-layer counters for the traced run, read from outside the engine.

Every number comes from a public boundary of a layer:

* ``Run.metrics`` and ``Run.persisted`` (workflow, sources, build);
* Spark job ids taken before and after each phase of a query, split by
  the ``<workflow>:table.*`` job groups that ``Run._set_job_group`` sets
  (sources) against everything else launched while resolving (build,
  including streaming micro-batch jobs, which run under their own
  groups);
* the application status store for stage and task data;
* ``queryExecution().tracker().phases()`` for Catalyst phase times;
* the SQL status store's plan graphs for the Python-UDF nodes;
* a ``StreamingQueryListener`` for micro-batches.

Spans (pass -> query -> resource / plan / action) stay in memory and are
written out once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import re
import statistics

from pyspark.sql.streaming import StreamingQueryListener

#: per-layer metric -> unit, in the order ``BENCHMARK.json`` lists them
PER_LAYER = {
    "workflow.resolve_self_s": "s",
    "sources.read_s": "s",
    "sources.read_jobs": "count",
    "build.producer_s": "s",
    "build.jobs": "count",
    "build.stages": "count",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "action.s": "s",
    "action.jobs": "count",
    "action.stages": "count",
    "action.tasks": "count",
    "action.input_mb": "MB",
    "action.shuffle_write_mb": "MB",
    "action.spill_mb": "MB",
    "exec.busy_share": "share",
    "exec.failed_tasks": "count",
    "python.rows_out": "count",
    "python.mb_sent": "MB",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "writes.mb": "MB",
    "writes.files": "count",
    "workflow.persisted": "count",
    "warmup.first_pass_s": "s",
    "trace.overhead_share": "share",
    "failed_ops": "share",
    "leaked_tmp_entries": "count",
}

#: metrics summed over the queries of one traced pass
_PASS_TOTALS = [m for m in PER_LAYER if m not in (
    "exec.busy_share", "warmup.first_pass_s", "trace.overhead_share",
    "failed_ops", "leaked_tmp_entries",
)]

_MB = 1e6
#: physical plan nodes that ship rows to Python workers
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``'1,234'``, ``'147.9 KiB'`` or the
    multi-task form ``'total (min, med, max ...)\\n147.9 KiB (...)'``."""
    total = text.split("\n")[-1].split(" (")[0].strip()
    number, _, unit = total.partition(" ")
    return float(number.replace(",", "")) * _SIZE_UNITS.get(unit, 1)


def count_files(root: str) -> int:
    return sum(len(files) for _dir, _subdirs, files in os.walk(root))


class _BatchListener(StreamingQueryListener):
    def __init__(self):
        self.batches: dict[tuple[str, int], float] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches[(str(p.runId), p.batchId)] = p.durationMs.get("triggerExecution", 0) / 1000

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Collects one traced pass at a time; ``summary`` gives the per-pass medians."""

    def __init__(self, spark, workflow_name: str, files_root: str, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.workflow_name = workflow_name
        self.files_root = files_root
        self.cores = cores
        self.listener = _BatchListener()
        spark.streams.addListener(self.listener)
        self.passes: list[dict] = []
        self.spans: list[dict] = []

    # -- Spark-side probes --------------------------------------------

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def _next_job(self) -> int:
        return self._jsc.dagScheduler().numTotalJobs()

    def _java(self, scala_collection):
        """A Scala Seq or Map as a Java collection py4j can iterate."""
        return self.spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_collection)

    def _executions_after(self, after: int) -> list[int]:
        """Ids of the SQL executions newer than ``after`` (the store lists
        executions by id; read its tail, widening until ``after`` is in it)."""
        n, k = self._sql.executionsCount(), 32
        while True:
            ids = [e.executionId() for e in self._java(self._sql.executionsList(max(0, n - k), k))]
            if n <= k or not ids or ids[0] <= after:
                return [i for i in ids if i > after]
            k *= 2

    def _last_execution(self) -> int:
        n = self._sql.executionsCount()
        ids = [e.executionId() for e in self._java(self._sql.executionsList(max(0, n - 1), 1))]
        return ids[-1] if ids else -1

    def _stage_totals(self, job_ids, seen: set) -> dict:
        """Totals over the stages of ``job_ids`` that ran (not skipped, and
        not already counted in this pass)."""
        t = dict.fromkeys(("stages", "tasks", "input_mb", "shuffle_write_mb",
                           "spill_mb", "failed_tasks", "run_ms", "output_mb"), 0)
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                seen.add(sid)
                t["stages"] += 1
                t["tasks"] += sd.numCompleteTasks()
                t["input_mb"] += sd.inputBytes() / _MB
                t["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
                t["spill_mb"] += sd.diskBytesSpilled() / _MB
                t["failed_tasks"] += sd.numFailedTasks() + sd.numKilledTasks()
                t["run_ms"] += sd.executorRunTime()
                t["output_mb"] += sd.outputBytes() / _MB
        return t

    def _add_exec(self, t: dict) -> None:
        self._acc["exec.failed_tasks"] += t["failed_tasks"]
        self._acc["exec.run_ms"] += t["run_ms"]
        self._acc["writes.mb"] += t["output_mb"]

    def _python_udfs(self, executions, acc: dict) -> None:
        for eid in executions:
            ui = self._sql.execution(eid)
            if not ui.isDefined() or not _PYTHON_NODE.search(ui.get().physicalPlanDescription()):
                continue
            values = dict(self._java(self._sql.executionMetrics(eid)))
            for node in self._java(self._sql.planGraph(eid).allNodes()):
                metrics = {m.name(): m.accumulatorId() for m in self._java(node.metrics())}
                if "data sent to Python workers" not in metrics:
                    continue
                sent = values.get(metrics["data sent to Python workers"])
                rows = values.get(metrics.get("number of output rows"))
                if sent is not None:
                    acc["python.mb_sent"] += parse_sql_metric(sent) / _MB
                if rows is not None:
                    acc["python.rows_out"] += parse_sql_metric(rows)

    def _plan_phases(self, df) -> dict:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        return {
            f"plan.{name}_ms": phases.get(name).get().durationMs()
            for name in ("analysis", "optimization", "planning")
            if phases.contains(name)
        }

    # -- pass / query boundaries --------------------------------------

    def start_pass(self, index: int) -> None:
        self._drain()
        self._acc = dict.fromkeys(_PASS_TOTALS + ["exec.run_ms"], 0.0)
        self._seen: set = set()
        self._batches0 = set(self.listener.batches)
        self._exec0 = self._last_execution()
        self._files0 = count_files(self.files_root)
        self._pass_span = {"span": "pass", "index": index, "queries": []}

    def start_query(self, name: str) -> None:
        self._q = {"span": "query", "name": name, "job0": self._next_job()}

    def resolved(self, run, df, resolve_s: float) -> None:
        q, acc = self._q, self._acc
        q["job1"] = self._next_job()
        self._drain()
        table_groups = [f"{self.workflow_name}:{r}" for r in run.metrics if r.startswith("table.")]
        read_jobs = {
            j for g in table_groups for j in self.sc.statusTracker().getJobIdsForGroup(g)
            if q["job0"] <= j < q["job1"]
        }
        build_jobs = set(range(q["job0"], q["job1"])) - read_jobs
        read_s = sum(s for r, s in run.metrics.items() if r.startswith("table."))
        build_s = sum(run.metrics.values()) - read_s
        acc["workflow.resolve_self_s"] += resolve_s - read_s - build_s
        acc["sources.read_s"] += read_s
        acc["sources.read_jobs"] += len(read_jobs)
        acc["build.producer_s"] += build_s
        acc["build.jobs"] += len(build_jobs)
        acc["workflow.persisted"] += len(run.persisted)
        self._add_exec(self._stage_totals(sorted(read_jobs), self._seen))
        t = self._stage_totals(sorted(build_jobs), self._seen)
        acc["build.stages"] += t["stages"]
        self._add_exec(t)
        phases = self._plan_phases(df)
        for key, ms in phases.items():
            acc[key] += ms
        q["resources"] = dict(run.metrics)
        q["resolve_s"] = resolve_s
        q["plan_ms"] = phases

    def acted(self, action_s: float) -> None:
        q, acc = self._q, self._acc
        self._drain()
        q["job2"] = self._next_job()
        jobs = range(q["job1"], q["job2"])
        acc["action.s"] += action_s
        acc["action.jobs"] += len(jobs)
        t = self._stage_totals(jobs, self._seen)
        for key in ("stages", "tasks", "input_mb", "shuffle_write_mb", "spill_mb"):
            acc[f"action.{key}"] += t[key]
        self._add_exec(t)
        q["action_s"] = action_s
        self._pass_span["queries"].append(q)

    def end_pass(self, wall_s: float) -> None:
        self._drain()
        acc = self._acc
        new_batches = set(self.listener.batches) - self._batches0
        acc["streaming.batches"] = len(new_batches)
        acc["streaming.trigger_s"] = sum(self.listener.batches[b] for b in new_batches)
        acc["writes.files"] = count_files(self.files_root) - self._files0
        self._python_udfs(self._executions_after(self._exec0), acc)
        acc["exec.busy_share"] = acc.pop("exec.run_ms") / (wall_s * self.cores * 1000)
        self._pass_span["wall_s"] = wall_s
        self.spans.append(self._pass_span)
        self.passes.append(acc)

    def summary(self) -> dict[str, float]:
        keys = _PASS_TOTALS + ["exec.busy_share"]
        return {k: statistics.median(p[k] for p in self.passes) for k in keys}

    def write_spans(self, path: str, header: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**header, "passes": self.spans}, fh, indent=1)
