"""Spans and per-layer counters of a traced run.

A traced run (``--trace 1``) keeps spans in memory (name, start, end,
parent, op id) and writes them out when the run ends. Spans open only
here, around calls into the engine's public functions; the counters come
from public Spark surfaces:

* ``QueryExecutionListener``: the tracker phases (analysis, optimization,
  planning) of every executed query;
* the status store: jobs, stages and task summaries, attributed to an
  operation through the job group set before it;
* ``StreamingQueryListener``: ``durationMs`` of every micro-batch;
* the SQL status store: per-node SQL metrics of the executed plans;
* py4j: commands counted by wrapping the gateway client.

An untraced run uses :data:`OFF`, whose hooks do nothing, so the
end-to-end numbers carry no tracing cost.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from bench import HEADLINE

#: Per-layer metrics of a traced run: name → unit. A layer a workload
#: does not exercise reads 0 there (a count of zero, no time spent).
PER_LAYER: dict[str, str] = {
    "session.jvm_start_s": "s",
    "session.register_tables_s": "s",
    **{
        f"api.{cls}.{m}": u
        for cls in ("entity_read", "count_read", "count_write", "refresh")
        for m, u in (("self_ms", "ms"), ("spark_jobs", "count"))
    },
    "api.refused.ms": "ms",
    "sources.counter_log.files": "count",
    "sources.counter_log.files_per_write": "count",
    "sources.counter_log.bytes_per_write": "bytes",
    "sources.counter_log.files_read_per_count_read": "count",
    "operators.counter.ms": "ms",
    "operators.bitmask.ms": "ms",
    "plans.construct_ms": "ms",
    "plans.py4j_commands": "count",
    **{f"plans.{q}_s": "s" for q in HEADLINE},
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.slowest_task_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.kept_share": "share",
    "operators.vectors.pairs_scored": "count",
    "operators.vectors.pairs_per_result": "count",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
}


class Off:
    """The untraced run: every hook is a no-op."""

    enabled = False

    def begin(self, name: str, cls: str) -> None:
        pass

    def end(self, t0: int, t1: int) -> None:
        pass

    @contextmanager
    def collecting(self, region: str):
        yield

    @contextmanager
    def span(self, name: str):
        yield

    def py4j_count(self) -> int:
        return 0


OFF = Off()


def _iterate(seq):
    """Python iterator over a Scala ``Seq`` or a Java collection."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


class Tracer:
    """The traced run's spans and counters for one Spark session."""

    enabled = True

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []  # one per traced operation, in order
        self._stack: list[int] = []
        self._open: list[int] = []  # child spans that end with their operation
        self._region: str | None = None
        self.phases: dict[str, dict[str, float]] = {}
        self.stream: dict[str, dict[str, float]] = {}
        self._py4j = 0
        self._install()

    # -- hooks -------------------------------------------------------------
    def _install(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            tracer._py4j += 1
            return send(*args, **kwargs)

        client.send_command = counted

        class Phases:
            def onSuccess(self, func_name, qe, duration_ns):
                if tracer._region is None:
                    return
                phases = tracer.phases[tracer._region]
                for t in _iterate(qe.tracker().phases()):
                    if t._1() in phases:
                        phases[t._1()] += t._2().durationMs()

            def onFailure(self, func_name, qe, exception):
                pass

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if tracer._region is None:
                    return
                d, st = event.progress.durationMs, tracer.stream[tracer._region]
                st["batches"] += 1
                st["trigger_ms"] += d.get("triggerExecution", 0)
                st["add_batch_ms"] += d.get("addBatch", 0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        ensure_callback_server_started(self.sc._gateway)
        self._phases_listener = Phases()
        self.spark._jsparkSession.listenerManager().register(self._phases_listener)
        self.spark.streams.addListener(Progress())

    def py4j_count(self) -> int:
        return self._py4j

    def drain(self) -> None:
        """Wait until Spark delivered every listener event so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    @contextmanager
    def collecting(self, region: str):
        """A timed region: its operations and listener counters are
        tagged ``region``."""
        self.drain()
        self.phases[region] = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        self.stream[region] = {"batches": 0, "trigger_ms": 0.0, "add_batch_ms": 0.0}
        self._region = region
        try:
            yield
        finally:
            self.drain()
            self._region = None

    def begin(self, name: str, cls: str) -> None:
        """Open an operation: its span, and a job group naming it."""
        op_id = len(self.ops)
        self.ops.append({"op": op_id, "name": name, "cls": cls, "region": self._region})
        self.sc.setJobGroup(f"pb-{op_id}", f"pb-{op_id} {name}")
        self._stack.append(len(self.spans))
        self.spans.append(
            {"name": name, "start": None, "end": None, "parent": None, "op": op_id}
        )

    def end(self, t0: int, t1: int) -> None:
        """Close the operation and the child spans that end with it."""
        s = self.spans[self._stack.pop()]
        s["start"], s["end"] = t0, t1
        self.ops[s["op"]]["wall_ns"] = t1 - t0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        for i in self._open:
            self.spans[i]["end"] = t1
        self._open.clear()

    def open_child(self, name: str) -> None:
        """A child span of the open operation that lasts until it ends."""
        parent = self._stack[-1]
        self._open.append(len(self.spans))
        self.spans.append(
            {"name": name, "start": time.perf_counter_ns(), "end": None,
             "parent": parent, "op": self.spans[parent]["op"]}
        )

    @contextmanager
    def span(self, name: str):
        """A child span of the open operation."""
        parent = self._stack[-1] if self._stack else None
        op = self.spans[parent]["op"] if parent is not None else None
        i = len(self.spans)
        self.spans.append(
            {"name": name, "start": time.perf_counter_ns(), "end": None,
             "parent": parent, "op": op}
        )
        self._stack.append(i)
        try:
            yield self.spans[i]
        finally:
            self._stack.pop()
            self.spans[i]["end"] = time.perf_counter_ns()

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # -- status-store readers (after the timed region) ---------------------
    def job_stats(self) -> dict[int, dict]:
        """Per traced op id: its Spark jobs, job time and stage ids."""
        self.drain()
        store = self.sc._jsc.sc().statusStore()
        out: dict[int, dict] = {}
        for j in _iterate(store.jobsList(None)):
            group = _opt(j.jobGroup(), "")
            if not group.startswith("pb-"):
                continue
            st = out.setdefault(int(group[3:]), {"jobs": 0, "job_ms": 0.0, "stages": []})
            st["jobs"] += 1
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            if sub is not None and done is not None:
                st["job_ms"] += done.getTime() - sub.getTime()
            st["stages"].extend(int(s) for s in _iterate(j.stageIds()))
        return out

    def stage_totals(self, stage_ids: set[int]) -> dict[str, float]:
        """Execution counters summed over the given stages' attempts."""
        gw, jvm = self.sc._gateway, self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        tot = dict.fromkeys(
            ("tasks", "failed_tasks", "executor_run_ms", "executor_cpu_ms",
             "slowest_task_ms", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes"), 0.0,
        )
        one = gw.new_array(jvm.double, 1)
        one[0] = 1.0
        stages = store.stageList(None, False, False, gw.new_array(jvm.double, 0), None)
        for s in _iterate(stages):
            if s.stageId() not in stage_ids or s.status().toString() == "SKIPPED":
                continue
            tot["tasks"] += s.numTasks()
            tot["failed_tasks"] += s.numFailedTasks()
            tot["executor_run_ms"] += s.executorRunTime()
            tot["executor_cpu_ms"] += s.executorCpuTime() / 1e6
            tot["shuffle_read_bytes"] += s.shuffleReadBytes()
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["spill_bytes"] += s.diskBytesSpilled()
            summary = store.taskSummary(s.stageId(), s.attemptId(), one)
            if summary.isDefined():
                tot["slowest_task_ms"] = max(
                    tot["slowest_task_ms"], summary.get().executorRunTime().apply(0)
                )
        return tot

    def join_output_rows(self, op_ids: set[int]) -> int:
        """Rows out of every join node in the SQL executions of ``op_ids``
        (read from the executed plans' SQL metrics)."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        prefixes = tuple(f"pb-{i} " for i in op_ids)
        rows = 0
        for e in _iterate(store.executionsList()):
            if not (e.description() or "").startswith(prefixes):
                continue
            values = store.executionMetrics(e.executionId())
            for node in _iterate(store.planGraph(e.executionId()).allNodes()):
                if "Join" not in node.name():
                    continue
                for m in _iterate(node.metrics()):
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            rows += int(v.get().replace(",", ""))
        return rows

