"""Per-layer trace for ``--trace 1`` runs.

Spans are wall-clock intervals around each call the benchmark makes
into a layer (session start, plan build, action, cache build, stream
batch, sink write). Around every span the tracer also reads Spark's own
counters for the work the span caused:

- jobs, stages and task metrics from the status store
  (``AppStatusStore.job`` / ``lastStageAttempt``);
- SQL metrics of the span's SQL executions, for the Python-worker
  timings (``SQLAppStatusStore``);
- Catalyst phase times from ``QueryExecution.tracker``;
- Janino compile time and generated-class count
  (``CodeGenerator.compileTime``, ``CodegenMetrics``);
- ``StreamingQueryProgress`` for streaming batches (read by the
  ingest code and added with :meth:`Tracer.add`).

Everything stays in memory and is written as one JSON document at the
end. Untraced runs get a :class:`Tracer` with ``enabled=False``, whose
spans cost two ``perf_counter`` calls and read no counters.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# name -> (unit, end-to-end metric it should move, workload where the
# layer does most of its work -> workload where it does little).
LAYER_METRICS: dict[str, tuple[str, str, str]] = {
    "session.start_s": ("s", "setup_s", "all workloads"),
    "queries.build_cold_s": ("s", "cold_pass_s", "tick_query -> tick_ingest"),
    "queries.build_warm_s": ("s", "warm_pass_s", "~0 wherever the plan memo hits"),
    "cache_builds.total_s": ("s", "cold_pass_s", "corpus_prep, tick_query -> tick_ingest"),
    "catalyst.analysis_ms": ("ms", "query_p50_ms, warm_pass_s", "tick_query -> corpus_prep"),
    "catalyst.optimization_ms": ("ms", "query_p50_ms, warm_pass_s", "tick_query -> corpus_prep"),
    "catalyst.planning_ms": ("ms", "query_p50_ms, warm_pass_s", "tick_query -> corpus_prep"),
    "scheduler.jobs": ("count", "query_p50_ms, warm_pass_s", "tick_query -> corpus_prep"),
    "scheduler.tasks": ("count", "query_p50_ms, warm_pass_s", "tick_query -> corpus_prep"),
    "scheduler.gap_ms": ("ms", "query_p50_ms, warm_pass_s", "tick_query -> corpus_prep"),
    "codegen.compile_ms": ("ms", "cold_pass_s", "tick_query -> corpus_prep"),
    "codegen.classes": ("count", "cold_pass_s", "tick_query -> corpus_prep"),
    "functions.python_start_ms": ("ms", "cold_pass_s, warm_pass_s", "corpus_prep -> tick_query (no change)"),
    "functions.python_eval_ms": ("ms", "cold_pass_s, warm_pass_s", "corpus_prep -> tick_query (no change)"),
    "exec.task_cpu_s": ("s", "query_p95_ms", "corpus_prep"),
    "exec.gc_ms": ("ms", "query_p95_ms", "corpus_prep"),
    "exec.input_bytes": ("bytes", "query_p95_ms, warm_pass_s", "corpus_prep; tick_query (layout pruning)"),
    "exec.shuffle_write_bytes": ("bytes", "query_p95_ms", "corpus_prep"),
    "exec.shuffle_fetch_wait_ms": ("ms", "query_p95_ms", "corpus_prep"),
    "exec.spill_bytes": ("bytes", "query_p95_ms", "corpus_prep"),
    "streaming.batches": ("count", "ingest_latency_p50_ms", "tick_ingest -> tick_query (q_stream_* drains)"),
    "streaming.add_batch_ms": ("ms", "ingest_latency_p50_ms", "tick_ingest -> tick_query (q_stream_* drains)"),
    "streaming.query_planning_ms": ("ms", "ingest_latency_p50_ms", "tick_ingest -> tick_query (q_stream_* drains)"),
    "streaming.wal_commit_ms": ("ms", "ingest_latency_p50_ms", "tick_ingest -> tick_query (q_stream_* drains)"),
    "streaming.commit_offsets_ms": ("ms", "ingest_latency_p50_ms", "tick_ingest -> tick_query (q_stream_* drains)"),
    "streaming.latest_offset_ms": ("ms", "ingest_latency_p50_ms", "tick_ingest -> tick_query (q_stream_* drains)"),
    "streaming.input_lag_files": ("count", "ingest_latency_p50_ms", "tick_ingest"),
    "streaming.state_rows": ("count", "ingest_drain_rows_per_s", "tick_ingest"),
    "streaming.state_memory_bytes": ("bytes", "ingest_drain_rows_per_s", "tick_ingest"),
    "streaming.state_commit_ms": ("ms", "ingest_drain_rows_per_s", "tick_ingest"),
    "streaming.sink_write_ms": ("ms", "ingest_drain_rows_per_s", "tick_ingest"),
}


def builder_metric(builder: str) -> str:
    return f"cache_builds.{builder}_s"


def layer_specs() -> dict[str, tuple[str, str, str]]:
    """Every per-layer metric: the fixed ones plus one per cache builder."""
    from mixes import CORPUS_PREP_BUILDERS, TICK_QUERY_BUILDERS

    specs = dict(LAYER_METRICS)
    for builders, where in (
        (TICK_QUERY_BUILDERS, "tick_query -> tick_ingest"),
        (CORPUS_PREP_BUILDERS, "corpus_prep -> tick_ingest"),
    ):
        for b in builders:
            specs[builder_metric(b)] = ("s", "cold_pass_s", where)
    return specs


_PY_METRICS = {
    "time to start Python workers": "functions.python_start_ms",
    "time to initialize Python workers": "functions.python_start_ms",
    "time to run Python workers": "functions.python_eval_ms",
}
_DURATION = re.compile(r"([0-9][0-9,.]*)\s*(ms|s|m|h)\b")
_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}


def parse_duration_ms(text: str) -> float:
    """Total of a formatted SQL timing metric: the first duration on the
    last line ("total (min, med, max ...)\\n12 ms (...)" or "12 ms")."""
    match = _DURATION.search(text.strip().splitlines()[-1])
    if not match:
        return 0.0
    return float(match.group(1).replace(",", "")) * _UNIT_MS[match.group(2)]


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spark = None
        self.totals: dict[str, float] = {}
        self.spans: list[dict] = []
        self._seen_plans: set[str] = set()
        self._t0 = time.perf_counter()

    def attach(self, spark) -> None:
        """Bind to the run's session."""
        self.spark = spark
        if not self.enabled:
            return
        jvm = spark.sparkContext._jvm
        self._jsc = spark.sparkContext._jsc.sc()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._codegen_metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._convert = jvm.scala.jdk.javaapi.CollectionConverters

    def add(self, metric: str, value: float) -> None:
        self.totals[metric] = self.totals.get(metric, 0.0) + value

    def peak(self, metric: str, value: float) -> None:
        self.totals[metric] = max(self.totals.get(metric, 0.0), value)

    def add_progress(self, progress: list[dict]) -> None:
        """Streaming per-layer totals from StreamingQueryProgress records."""
        keys = {
            "addBatch": "streaming.add_batch_ms",
            "queryPlanning": "streaming.query_planning_ms",
            "walCommit": "streaming.wal_commit_ms",
            "commitOffsets": "streaming.commit_offsets_ms",
            "latestOffset": "streaming.latest_offset_ms",
        }
        for rec in progress:
            self.add("streaming.batches", 1)
            for key, metric in keys.items():
                self.add(metric, float((rec.get("durationMs") or {}).get(key, 0)))
            for op in rec.get("stateOperators") or []:
                self.peak("streaming.state_rows", float(op.get("numRowsTotal", 0)))
                self.peak("streaming.state_memory_bytes", float(op.get("memoryUsedBytes", 0)))
                self.add("streaming.state_commit_ms", float(op.get("commitTimeMs", 0)))

    @contextmanager
    def span(self, layer: str, name: str):
        """Time one call; when enabled, attribute Spark counters to it."""
        if not self.enabled:
            yield
            return
        before = self._counters()
        start = time.perf_counter()
        start_ms = time.time() * 1e3
        try:
            yield
        finally:
            wall = time.perf_counter() - start
            after = self._counters()
            span = {
                "layer": layer,
                "name": name,
                "start_s": round(start - self._t0, 6),
                "wall_s": round(wall, 6),
            }
            span.update(self._attribute(before, after, start_ms, wall))
            self.spans.append(span)

    def plan_phases(self, df) -> None:
        """Catalyst phase times of a DataFrame's QueryExecution, counted
        once per plan (a memoized plan is analyzed once).

        Plans are told apart by the py4j id of their Java Dataset, which
        the gateway never reuses; ``id(df)`` is reused once a DataFrame
        is freed."""
        if not self.enabled or df._jdf._target_id in self._seen_plans:
            return
        self._seen_plans.add(df._jdf._target_id)
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)
            if summary.isDefined():
                self.add(f"catalyst.{phase}_ms", float(summary.get().durationMs()))

    # -- Spark counters ---------------------------------------------------

    def _counters(self) -> dict:
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        last = sql_store.executionsList().lastOption()
        return {
            "job": int(str(self._jsc.dagScheduler().nextJobId())),
            "compile_ns": self._codegen.compileTime(),
            "classes": self._codegen_metrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE().getCount(),
            "execution": last.get().executionId() if last.isDefined() else -1,
        }

    def _attribute(self, before: dict, after: dict, start_ms: float, wall: float) -> dict:
        store = self._jsc.statusStore()
        jobs = tasks = 0
        intervals = []
        stage_ids: set[int] = set()
        for job_id in range(before["job"], after["job"]):
            try:
                job = store.job(job_id)
            except Py4JJavaError:  # evicted from the status store
                continue
            jobs += 1
            tasks += job.numTasks()
            for sid in self._convert.asJava(job.stageIds()):
                stage_ids.add(int(sid))
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
        cpu_ns = gc = inb = shw = fetch = spill = 0
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: no attempt ran
                continue
            cpu_ns += st.executorCpuTime()
            gc += st.jvmGcTime()
            inb += st.inputBytes()
            shw += st.shuffleWriteBytes()
            fetch += st.shuffleFetchWaitTime()
            spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
        covered = _union_ms(intervals, start_ms, start_ms + wall * 1e3)
        gap = max(0.0, wall * 1e3 - covered) if jobs else 0.0
        compile_ms = (after["compile_ns"] - before["compile_ns"]) / 1e6
        classes = after["classes"] - before["classes"]
        py = self._python_metrics(before["execution"], after["execution"])
        for metric, value in (
            ("scheduler.jobs", jobs),
            ("scheduler.tasks", tasks),
            ("scheduler.gap_ms", gap),
            ("codegen.compile_ms", compile_ms),
            ("codegen.classes", classes),
            ("exec.task_cpu_s", cpu_ns / 1e9),
            ("exec.gc_ms", gc),
            ("exec.input_bytes", inb),
            ("exec.shuffle_write_bytes", shw),
            ("exec.shuffle_fetch_wait_ms", fetch),
            ("exec.spill_bytes", spill),
        ):
            self.add(metric, value)
        for metric, value in py.items():
            self.add(metric, value)
        return {
            "jobs": jobs,
            "tasks": tasks,
            "gap_ms": round(gap, 3),
            "compile_ms": round(compile_ms, 3),
            "task_cpu_s": round(cpu_ns / 1e9, 6),
            **{k: round(v, 3) for k, v in py.items()},
        }

    def _python_metrics(self, first_exclusive: int, last: int) -> dict:
        out: dict[str, float] = {}
        store = self.spark._jsparkSession.sharedState().statusStore()
        for exec_id in range(first_exclusive + 1, last + 1):
            try:
                graph = store.planGraph(exec_id)
                values = store.executionMetrics(exec_id)
            except Py4JJavaError:  # evicted from the status store
                continue
            for node in self._convert.asJava(graph.allNodes()):
                if "Python" not in node.name() and "Pandas" not in node.name() \
                        and "Arrow" not in node.name():
                    continue
                for m in self._convert.asJava(node.metrics()):
                    metric = _PY_METRICS.get(m.name())
                    value = values.get(m.accumulatorId())
                    if metric and value.isDefined():
                        out[metric] = out.get(metric, 0.0) + parse_duration_ms(value.get())
        return out

    def report(self) -> dict[str, float]:
        """Every per-layer metric, zero where the layer did no work."""
        return {n: self.totals.get(n, 0.0) for n in layer_specs()}


def _union_ms(intervals: list[tuple[int, int]], lo: float, hi: float) -> float:
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
