"""The traced run: spans around the calls the benchmark makes into each
layer of the engine, one Spark job group per span, and per-stage telemetry
read from Spark's status store by job group.

Spans are ``(name, start, end, parent, op)`` and stay in memory until the
run ends.  The wrapped calls are the engine's public surface:
``Engine.register_table``, ``Engine.dataframe``, ``Engine.sql_directly``,
the ``DataTable`` constructors, ``DataTable.to_dataframe`` and, through the
workload's own ``span("plans.build")``, ``Query.spark_fn``.  The wrappers
are installed on the live objects for the traced window only; no engine
file changes.
"""

from __future__ import annotations

import statistics
import time
import weakref
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

from direct_spark_sql_spark.datatable import DataTable

#: (owner, attribute, span name) of every wrapped engine call; the owner
#: "engine" is the live Engine instance, the rest are classes.
WRAPPED = (
    ("engine", "register_table", "session.register_table"),
    ("engine", "dataframe", "session.dataframe"),
    ("engine", "sql_directly", "session.sql_directly"),
    (DataTable, "from_list_of_dicts", "datatable.from_list_of_dicts"),
    (DataTable, "from_dataframe", "datatable.from_dataframe"),
    (DataTable, "to_dataframe", "datatable.to_dataframe"),
)

_QUANTILES = (0.5, 1.0)


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    op: int
    group: str
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, engine, cores: int):
        self.engine = engine
        self.sc = engine.spark.sparkContext
        self.cores = cores
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op_id = -1
        self._op_first = 0  # index of the current op's span
        self.stage_rows: list[dict] = []  # one per stage, with its op
        self.job_rows: list[dict] = []
        self.pinned_peak = 0
        self._seen_stages: set[int] = set()
        self._seen_plans: weakref.WeakSet = weakref.WeakSet()  # DataFrames counted
        self._phases: dict[str, float] = defaultdict(float)
        self._store = self.sc._jsc.sc().statusStore()
        self._jvm = self.sc._jvm

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        sid = len(self.spans)
        s = Span(name, 0.0, parent, self.op_id, f"perfbench-{sid}")
        self.spans.append(s)
        self.stack.append(sid)
        self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            if self.stack:
                outer = self.spans[self.stack[-1]]
                self.sc.setJobGroup(outer.group, outer.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def op(self):
        """The span of one op; ``collect`` reads its Spark jobs afterwards."""
        self.op_id += 1
        self._op_first = len(self.spans)
        with self.span("op"):
            yield

    # -- wrapping -----------------------------------------------------------

    def _wrapper(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            if name == "session.sql_directly":
                before = tracer.engine.cache_stats()["result_hits"]
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
            if name == "session.sql_directly":
                s.attrs["hit"] = tracer.engine.cache_stats()["result_hits"] > before
                s.attrs["rows"] = len(out)
            elif name == "datatable.from_dataframe":
                s.attrs["rows"] = len(out)
                tracer._count_phases(args[-1])
            return out

        return traced

    @contextmanager
    def installed(self, workload):
        """Wrap the engine calls for the duration of a traced window."""
        saved = []
        for owner, attr, name in WRAPPED:
            if owner == "engine":
                target = self.engine
                original = getattr(target, attr)  # bound method
                setattr(target, attr, self._wrapper(name, original))
                saved.append((target, attr, None))
            else:
                target = owner
                raw = target.__dict__[attr]
                if isinstance(raw, classmethod):
                    fn = self._wrapper(name, raw.__func__)
                    setattr(target, attr, classmethod(fn))
                else:
                    setattr(target, attr, self._wrapper(name, raw))
                saved.append((target, attr, raw))
        untraced_span, workload.span = workload.span, self.span
        stats0 = self.engine.cache_stats()
        try:
            yield self
        finally:
            self.cache_delta = {
                k: v - stats0.get(k, 0) for k, v in self.engine.cache_stats().items()
            }
            self.result_bytes = self.engine.cache_stats()["result_bytes"]
            workload.span = untraced_span
            for target, attr, raw in saved:
                if raw is None:
                    delattr(target, attr)
                else:
                    setattr(target, attr, raw)

    # -- Spark telemetry ----------------------------------------------------

    def _count_phases(self, df) -> None:
        """Catalyst phase times of a plan, counted once per DataFrame: a
        plan-cache hit returns the same DataFrame, which re-executes without
        re-running these phases."""
        if df in self._seen_plans:
            return
        self._seen_plans.add(df)
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            self._phases[kv._1()] += kv._2().durationMs()

    def _pinned_bytes(self) -> int:
        return sum(
            r.memSize() + r.diskSize() for r in self.sc._jsc.sc().getRDDStorageInfo()
        )

    def collect(self) -> None:
        """Read the jobs and stages of the last op's job groups, and sample
        the block manager's pinned bytes (so the peak is taken over op ends)."""
        spans = self.spans[self._op_first :]
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.pinned_peak = max(self.pinned_peak, self._pinned_bytes())
        empty = self._jvm.java.util.ArrayList()
        no_q = self.sc._gateway.new_array(self._jvm.double, 0)
        quant = self.sc._gateway.new_array(self._jvm.double, len(_QUANTILES))
        for i, q in enumerate(_QUANTILES):
            quant[i] = q
        for s in spans:
            for job_id in self.sc.statusTracker().getJobIdsForGroup(s.group):
                job = self._store.job(job_id)
                self.job_rows.append(
                    {
                        "op": s.op,
                        "span": s.name,
                        "skipped_stages": job.numSkippedStages(),
                    }
                )
                it = job.stageIds().iterator()
                while it.hasNext():
                    sid = it.next()
                    if sid in self._seen_stages:
                        continue
                    try:
                        st = self._store.stageAttempt(sid, 0, False, empty, False, no_q)._1()
                    except Py4JJavaError:  # never submitted: a skipped stage
                        continue
                    if str(st.status()) != "COMPLETE":
                        continue
                    self._seen_stages.add(sid)
                    row = {
                        "op": s.op,
                        "span": s.name,
                        "tasks": st.numCompleteTasks(),
                        "run_ms": st.executorRunTime(),
                        "cpu_ms": st.executorCpuTime() / 1e6,
                        "gc_ms": st.jvmGcTime(),
                        "input_bytes": st.inputBytes(),
                        "input_rows": st.inputRecords(),
                        "shuffle_read": st.shuffleReadBytes(),
                        "shuffle_write": st.shuffleWriteBytes(),
                        "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                        "skew": 1.0,
                    }
                    if row["tasks"] >= 2:  # Spark's own task-time quantiles
                        dist = self._store.taskSummary(sid, 0, quant)
                        if dist.isDefined():
                            run = dist.get().executorRunTime()
                            row["skew"] = run.apply(1) / max(run.apply(0), 1.0)
                    self.stage_rows.append(row)

    def dump(self) -> dict:
        """Every span and stage row of the window, for writing out."""
        spans = [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "op": s.op,
                **s.attrs,
            }
            for s in self.spans
        ]
        return {"spans": spans, "stages": self.stage_rows}

    # -- per-layer metrics --------------------------------------------------

    def per_layer(self, plain, traced) -> dict:
        """The per-layer metrics of the traced window; process CPU comes
        from the untraced window ``plain`` of the same run."""
        ops = max(len(traced.latencies_ms), 1)
        by_name: dict[str, list[Span]] = defaultdict(list)
        for s in self.spans:
            by_name[s.name].append(s)

        def mean_ms(spans: list[Span]) -> float:
            return sum(s.ms for s in spans) / len(spans) if spans else 0.0

        sqld = by_name["session.sql_directly"]
        run_ms = sum(r["run_ms"] for r in self.stage_rows)
        cpu_ms = sum(r["cpu_ms"] for r in self.stage_rows)
        op_wall_ms = sum(traced.latencies_ms)
        delta = self.cache_delta
        plan_calls = delta["hits"] + delta["misses"]
        result_calls = delta["result_hits"] + delta["result_misses"]
        ops_plain = max(len(plain.latencies_ms), 1)
        materialize = [
            s
            for s in by_name["datatable.from_dataframe"]
            if s.parent is not None and self.spans[s.parent].name == "op"
        ]

        def per_op(key: str) -> float:
            return sum(r[key] for r in self.stage_rows) / ops

        values = {
            "session.register_table_ms": mean_ms(by_name["session.register_table"]),
            "session.dataframe_ms": mean_ms(by_name["session.dataframe"]),
            "session.sql_directly_miss_ms": mean_ms(
                [s for s in sqld if not s.attrs["hit"]]
            ),
            "session.sql_directly_hit_ms": mean_ms([s for s in sqld if s.attrs["hit"]]),
            "session.plan_cache_hit_rate": delta["hits"] / plan_calls
            if plan_calls
            else 0.0,
            "session.result_cache_hit_rate": delta["result_hits"] / result_calls
            if result_calls
            else 0.0,
            "session.result_cache_bytes": self.result_bytes,
            "datatable.from_list_of_dicts_ms": mean_ms(
                by_name["datatable.from_list_of_dicts"]
            ),
            "datatable.to_dataframe_ms": mean_ms(by_name["datatable.to_dataframe"]),
            "datatable.from_dataframe_ms": mean_ms(by_name["datatable.from_dataframe"]),
            "datatable.rows_out_per_op": (
                sum(s.attrs["rows"] for s in sqld)
                + sum(s.attrs["rows"] for s in materialize)
            )
            / ops,
            "plans.build_ms": mean_ms(by_name["plans.build"]),
            "plans.build_jobs": sum(
                1 for j in self.job_rows if j["span"] == "plans.build"
            )
            / ops,
            "plans.materialize_ms": mean_ms(materialize),
            "catalyst.analysis_ms": self._phases["analysis"] / ops,
            "catalyst.optimization_ms": self._phases["optimization"] / ops,
            "catalyst.planning_ms": self._phases["planning"] / ops,
            "spark.jobs_per_op": len(self.job_rows) / ops,
            "spark.stages_per_op": len(self.stage_rows) / ops,
            "spark.skipped_stages_per_op": sum(j["skipped_stages"] for j in self.job_rows)
            / ops,
            "spark.tasks_per_op": per_op("tasks"),
            "spark.task_run_ms_per_op": run_ms / ops,
            "spark.task_cpu_ms_per_op": cpu_ms / ops,
            "spark.task_cpu_frac": cpu_ms / run_ms if run_ms else 0.0,
            "spark.gc_ms_per_op": per_op("gc_ms"),
            "spark.core_busy_frac": run_ms / (op_wall_ms * self.cores)
            if op_wall_ms
            else 0.0,
            "spark.shuffle_write_bytes_per_op": per_op("shuffle_write"),
            "spark.shuffle_read_bytes_per_op": per_op("shuffle_read"),
            "spark.spill_bytes_per_op": per_op("spill"),
            "spark.task_skew_max": max((r["skew"] for r in self.stage_rows), default=1.0),
            "spark.pinned_bytes_peak": self.pinned_peak,
            "sources.input_bytes_per_op": per_op("input_bytes"),
            "sources.input_rows_per_op": per_op("input_rows"),
            "driver.py_cpu_ms_per_op": plain.cpu_s("driver") * 1000.0 / ops_plain,
            "jvm.cpu_ms_per_op": plain.cpu_s("jvm") * 1000.0 / ops_plain,
            "pyworker.cpu_ms_per_op": plain.cpu_s("pyworker") * 1000.0 / ops_plain,
            "trace.overhead_ms": statistics.median(traced.latencies_ms)
            - statistics.median(plain.latencies_ms),
        }
        for layer, ms in self.self_ms().items():
            values[f"{layer}.self_ms_per_op"] = ms / ops
        return {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}

    def self_ms(self) -> dict[str, float]:
        """Self time per layer over the window: each span's duration minus
        the part its child spans cover.  The ``op`` span's self time is the
        benchmark's own code between layer calls."""
        child_ms: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_ms[s.parent] += s.ms
        out = {layer: 0.0 for layer in SELF_LAYERS}
        for i, s in enumerate(self.spans):
            layer = "bench" if s.name == "op" else s.name.split(".", 1)[0]
            out[layer] += s.ms - child_ms[i]
        return out


SELF_LAYERS = ("bench", "session", "datatable", "plans")

#: unit of every per-layer metric; ``*_ms`` of a call is the mean per call,
#: ``catalyst.*_ms``, ``plans.build_jobs`` and ``*_per_op`` are totals per op.
UNITS = {
    "session.register_table_ms": "ms",
    "session.dataframe_ms": "ms",
    "session.sql_directly_miss_ms": "ms",
    "session.sql_directly_hit_ms": "ms",
    "session.plan_cache_hit_rate": "fraction",
    "session.result_cache_hit_rate": "fraction",
    "session.result_cache_bytes": "bytes",
    "datatable.from_list_of_dicts_ms": "ms",
    "datatable.to_dataframe_ms": "ms",
    "datatable.from_dataframe_ms": "ms",
    "datatable.rows_out_per_op": "count",
    "plans.build_ms": "ms",
    "plans.build_jobs": "count",
    "plans.materialize_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.skipped_stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_run_ms_per_op": "ms",
    "spark.task_cpu_ms_per_op": "ms",
    "spark.task_cpu_frac": "fraction",
    "spark.gc_ms_per_op": "ms",
    "spark.core_busy_frac": "fraction",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.shuffle_read_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "spark.task_skew_max": "ratio",
    "spark.pinned_bytes_peak": "bytes",
    "sources.input_bytes_per_op": "bytes",
    "sources.input_rows_per_op": "count",
    "driver.py_cpu_ms_per_op": "ms",
    "jvm.cpu_ms_per_op": "ms",
    "pyworker.cpu_ms_per_op": "ms",
    "trace.overhead_ms": "ms",
    **{f"{layer}.self_ms_per_op": "ms" for layer in SELF_LAYERS},
}
