"""Layer spans recorded from outside the engine.

`Tracer.install` wraps the engine's layer entry points (`load_table`,
`fan_out`, `materialize`, `run_concurrently`, `run_dir_job`) in their
defining module and in every module that bound them with
`from ... import`. The benchmark opens the `op`, `construct`, `plan` and
`execute` spans itself. Each span sets its own Spark job group, so a
job is attributed to the span whose group it carries. Jobs carrying no
group of ours are attributed by job-id range to the innermost span open
when they were submitted. Streaming micro-batch jobs are such jobs: their
thread does not inherit our group, and `StreamExecution` sets the
query's run id as the group instead. They are attributed the same way,
and are also counted apart as `stream.*` (so `stream.*` overlaps the
totals of the span they ran under, usually `construct`). Stage metrics are read from the status store, which is live
with the UI off.

Self time: at every instant, the wall time is shared equally by the open
spans that have no open child. For sequential spans that is the span's
duration minus its children's; under `run_concurrently` the overlapping
build threads split the time. The self times of an op's spans therefore
sum to the op's wall time exactly.
"""

from __future__ import annotations

import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

# (module, function) -> span name
LAYER_FUNCTIONS = {
    ("mapreduce_spark.sources.tables", "load_table"): "load_table",
    ("mapreduce_spark.sources.tables", "fan_out"): "fan_out",
    ("mapreduce_spark.operators.artifacts", "materialize"): "materialize",
    ("mapreduce_spark.operators.artifacts", "run_concurrently"): "run_concurrently",
    ("mapreduce_spark.operators.mr", "run_dir_job"): "run_dir_job",
}

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: str
    name: str
    parent: "Span | None"
    start: float
    job_lo: int
    end: float = 0.0
    job_hi: int = 0
    depth: int = 0
    extra: dict = field(default_factory=dict)


class NullTracer:
    """Tracing off: the same call path with no bookkeeping."""

    enabled = False

    def span(self, name: str):
        return nullcontext()


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._ids = itertools.count()
        self._local = threading.local()
        self._local.stack = self._main_stack = []
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # --- spans -----------------------------------------------------------
    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a thread the engine started (streaming callbacks) adopts the
        # innermost span of the benchmark's own thread
        outer = stack or self._main_stack
        parent = outer[-1] if outer else None
        rec = Span(
            sid=f"perfbench-{next(self._ids)}",
            name=name,
            parent=parent,
            start=time.perf_counter(),
            job_lo=self.next_job_id(),
            depth=parent.depth + 1 if parent else 0,
        )
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, rec.sid)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)
            rec.job_hi = self.next_job_id()
            rec.end = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def _under(self, parent: Span, fn):
        """Run ``fn`` in a pool thread with ``parent`` as its open span."""

        def run():
            self._local.stack = [parent]
            try:
                return fn()
            finally:
                self._local.stack = []

        return run

    # --- wrapping the engine's layer functions ---------------------------
    def install(self) -> None:
        import importlib
        import sys

        for (mod_name, fn_name), span_name in LAYER_FUNCTIONS.items():
            mod = importlib.import_module(mod_name)
            original = getattr(mod, fn_name)
            wrapper = self._wrap(original, span_name)
            for m in list(sys.modules.values()):
                if not getattr(m, "__name__", "").startswith("mapreduce_spark"):
                    continue
                for attr, val in list(vars(m).items()):
                    if val is original:
                        setattr(m, attr, wrapper)
                        self._patched.append((m, attr, original))

    def uninstall(self) -> None:
        for m, attr, original in reversed(self._patched):
            setattr(m, attr, original)
        self._patched.clear()

    def _wrap(self, original, span_name: str):
        tracer = self

        if span_name == "run_concurrently":

            def wrapper(*thunks):
                with tracer.span(span_name) as rec:
                    return original(*(tracer._under(rec, t) for t in thunks))

        elif span_name == "fan_out":

            def wrapper(df, *args, **kwargs):
                with tracer.span(span_name) as rec:
                    out = original(df, *args, **kwargs)
                    rec.extra["spread"] = out is not df
                    return out

        else:

            def wrapper(*args, **kwargs):
                with tracer.span(span_name):
                    return original(*args, **kwargs)

        wrapper.__wrapped__ = original
        wrapper.__name__ = original.__name__
        return wrapper

    # --- reading one op's spans and jobs ---------------------------------
    def take_op(self, op: Span) -> "OpTrace":
        """Remove and return the spans recorded during ``op``."""
        self._jsc.listenerBus().waitUntilEmpty()
        with self._lock:
            mine = [s for s in self.spans if s is op or _descends(s, op)]
            self.spans = [s for s in self.spans if not (s is op or _descends(s, op))]
        return OpTrace(self, op, mine)


def _descends(s: Span, root: Span) -> bool:
    p = s.parent
    while p is not None:
        if p is root:
            return True
        p = p.parent
    return False


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> self time (see module doc)."""
    bounds = sorted({s.start for s in spans} | {s.end for s in spans})
    out = {s.sid: 0.0 for s in spans}
    for lo, hi in zip(bounds, bounds[1:]):
        open_ = [s for s in spans if s.start <= lo and s.end >= hi]
        parents = {id(s.parent) for s in open_ if s.parent is not None}
        leaves = [s for s in open_ if id(s) not in parents]
        for s in leaves:
            out[s.sid] += (hi - lo) / len(leaves)
    return out


@dataclass
class StageStats:
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_b: int = 0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    output_b: int = 0
    max_task_s: float = 0.0
    wall_s: float = 0.0


class OpTrace:
    """The spans and Spark jobs of one traced operation."""

    def __init__(self, tracer: Tracer, op: Span, spans: list[Span]):
        self.op = op
        self.spans = spans
        self.self_s = self_times(spans)
        ss = tracer._jsc.statusStore()
        by_sid = {s.sid: s for s in spans}
        self.job_span: dict[int, Span] = {}
        self.stream_jobs: set[int] = set()
        self.stages: dict[int, StageStats] = {}
        self.job_stages: dict[int, list[int]] = {}
        seen_stages: set[int] = set()
        quantile = tracer.sc._gateway.new_array(tracer.sc._jvm.double, 1)
        quantile[0] = 1.0
        for job_id in range(op.job_lo, op.job_hi):
            jd = ss.job(job_id)
            group = jd.jobGroup().get() if jd.jobGroup().isDefined() else None
            span = by_sid.get(group)
            if span is None:
                if _is_stream_batch(jd, group):
                    self.stream_jobs.add(job_id)
                span = _innermost(spans, job_id)
            self.job_span[job_id] = span
            ids = [jd.stageIds().apply(i) for i in range(jd.stageIds().size())]
            self.job_stages[job_id] = []
            for sid in ids:
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                self.job_stages[job_id].append(sid)
                self.stages[sid] = _stage_stats(tracer, ss, sid, quantile)

    def jobs_of(self, names: set[str]) -> list[int]:
        return [j for j, s in self.job_span.items() if s.name in names]

    def stage_sum(self, jobs: list[int]) -> StageStats:
        total = StageStats()
        for j in jobs:
            for sid in self.job_stages[j]:
                st = self.stages[sid]
                for k in vars(total):
                    setattr(total, k, getattr(total, k) + getattr(st, k))
        return total

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_of(self, name: str) -> float:
        return sum(self.self_s[s.sid] for s in self.named(name))

    def total_of(self, name: str) -> float:
        return sum(s.end - s.start for s in self.named(name))


def _is_stream_batch(jd, group: str | None) -> bool:
    """A micro-batch job: `StreamExecution` sets the job group to the
    query's run id and names that run id in the job description."""
    if group is None or not jd.description().isDefined():
        return False
    return f"runId = {group}" in jd.description().get()


def _innermost(spans: list[Span], job_id: int) -> Span:
    inside = [s for s in spans if s.job_lo <= job_id < s.job_hi]
    return max(inside, key=lambda s: (s.depth, s.start))


def _stage_stats(tracer, ss, stage_id: int, quantile) -> StageStats:
    out = StageStats()
    attempts = ss.stageData(
        stage_id, False, tracer.sc._jvm.java.util.ArrayList(), False,
        tracer.sc._gateway.new_array(tracer.sc._jvm.double, 0),
    )
    for k in range(attempts.size()):
        sd = attempts.apply(k)
        if sd.status().toString() == "SKIPPED":
            continue
        out.tasks += sd.numCompleteTasks()
        out.task_s += sd.executorRunTime() / 1e3
        out.cpu_s += sd.executorCpuTime() / 1e9
        out.gc_s += sd.jvmGcTime() / 1e3
        out.input_b += sd.inputBytes()
        out.shuffle_read_b += sd.shuffleReadBytes()
        out.shuffle_write_b += sd.shuffleWriteBytes()
        out.spill_b += sd.diskBytesSpilled()
        out.output_b += sd.outputBytes()
        summary = ss.taskSummary(stage_id, sd.attemptId(), quantile)
        if summary.isDefined():
            out.max_task_s += summary.get().executorRunTime().apply(0) / 1e3
        if sd.submissionTime().isDefined() and sd.completionTime().isDefined():
            out.wall_s += (
                sd.completionTime().get().getTime()
                - sd.submissionTime().get().getTime()
            ) / 1e3
    return out


def layer_metrics(traces: list[OpTrace], cores: int) -> dict[str, float]:
    """Per-layer totals over one pass's traced operations."""
    m: dict[str, float] = defaultdict(float)
    for t in traces:
        lt = t.named("load_table")
        m["sources.load_table.calls"] += len(lt)
        m["sources.load_table_s"] += t.total_of("load_table")
        m["sources.load_table.jobs"] += len(t.jobs_of({"load_table"}))
        fo = t.named("fan_out")
        m["sources.fan_out.calls"] += len(fo)
        m["_fan_out.spread_calls"] += sum(1 for s in fo if s.extra.get("spread"))
        m["construct_s"] += t.total_of("construct")
        m["construct.self_s"] += t.self_of("construct")
        m["construct.jobs"] += len(t.jobs_of({"construct"}))
        for s in t.named("plan"):
            for phase, ms in s.extra.get("phases", {}).items():
                m[f"plan.{phase}_ms"] += ms
        m["build.materialize.calls"] += len(t.named("materialize"))
        m["build.materialize_s"] += t.self_of("materialize")
        m["build.concurrent.calls"] += len(t.named("run_concurrently"))
        m["build.concurrent_s"] += t.self_of("run_concurrently")
        build_jobs = t.jobs_of({"materialize", "run_concurrently"})
        b = t.stage_sum(build_jobs)
        m["build.jobs"] += len(build_jobs)
        m["build.task_s"] += b.task_s
        m["build.shuffle_write_mb"] += b.shuffle_write_b / 1e6
        ex_jobs = t.jobs_of({"execute", "run_dir_job"})
        e = t.stage_sum(ex_jobs)
        m["execute_s"] += t.self_of("execute") + t.self_of("run_dir_job")
        m["execute.jobs"] += len(ex_jobs)
        m["execute.stages"] += sum(
            1 for j in ex_jobs for sid in t.job_stages[j] if t.stages[sid].tasks
        )
        m["execute.tasks"] += e.tasks
        m["execute.task_s"] += e.task_s
        m["execute.jvm_cpu_s"] += e.cpu_s
        m["execute.gc_s"] += e.gc_s
        m["execute.input_mb"] += e.input_b / 1e6
        m["execute.shuffle_read_mb"] += e.shuffle_read_b / 1e6
        m["execute.shuffle_write_mb"] += e.shuffle_write_b / 1e6
        m["execute.spill_mb"] += e.spill_b / 1e6
        m["execute.output_mb"] += e.output_b / 1e6
        m["execute.stage_max_task_s"] += e.max_task_s
        for j in t.jobs_of({"run_dir_job"}):
            for sid in t.job_stages[j]:
                st = t.stages[sid]
                if st.shuffle_write_b:
                    m["mr.map_stage_s"] += st.wall_s
                elif st.shuffle_read_b:
                    m["mr.reduce_stage_s"] += st.wall_s
        sj = sorted(t.stream_jobs)
        m["stream.batch_jobs"] += len(sj)
        m["stream.task_s"] += t.stage_sum(sj).task_s
        m["trace.jobs"] += len(t.job_span)
        m["trace.spans"] += len(t.spans)
    m["execute.off_cpu_s"] = m["execute.task_s"] - m["execute.jvm_cpu_s"]
    m["execute.core_util"] = (
        m["execute.task_s"] / (m["execute_s"] * cores) if m["execute_s"] else 0.0
    )
    calls = m["sources.fan_out.calls"]
    m["sources.fan_out.spread"] = m.pop("_fan_out.spread_calls") / calls if calls else 0.0
    return dict(m)
