"""Spans around the engine's public functions, recorded from the
benchmark's own files.

``Tracer.install`` replaces each listed public function (and method)
with a wrapper that records a span: name, start, end and parent. The
wrapper is bound everywhere the original was — in its defining module
and in every engine module that imported it by name — so
calls made inside the engine are seen too. Spans stay in memory, are
summarised after each op, and are written out when the run ends.

Counters taken at span boundaries:

- py4j commands sent to the JVM, excluding ``m`` (memory) commands,
  whose number follows the Python garbage collector;
- Spark job ids, by watermark: the next job id is read when a span
  that can launch jobs opens and closes, and a job belongs to the
  innermost such span open when it was submitted. Job groups are not
  used because streaming and adaptive execution overwrite them.

Stage metrics for those jobs come from the in-process status store,
read after each op (so the store's job retention never overflows).
"""

from __future__ import annotations

import functools
import sys
import time
from collections import defaultdict

# (module, attribute, span name). Attributes with a dot are methods.
TARGETS = [
    ("idr_data_pipelines_spark.sources.catalog", "Catalog.table", "sources.read"),
    ("idr_data_pipelines_spark.sources.parquet", "read_parquet_dir", "sources.read"),
    ("idr_data_pipelines_spark.sources.parquet", "read_parquet_all_string", "sources.read"),
    ("idr_data_pipelines_spark.fsio", "exists", "fsio.exists"),
    ("idr_data_pipelines_spark.plans.pipeline", "Pipeline.build", "plans.build"),
    ("idr_data_pipelines_spark.plans.pipeline", "PipelineRunner.run", "plans.runner"),
    ("idr_data_pipelines_spark.streaming.events", "drain_available_now", "streaming.drain"),
    ("idr_data_pipelines_spark.streaming.events", "handle_event", "streaming.handle_event"),
    ("idr_data_pipelines_spark.sources.sinks", "sink_parquet_overwrite", "sources.sinks"),
]

# expression and relational builders: every public name of the package
BUILDER_PACKAGES = [
    ("idr_data_pipelines_spark.functions", "functions"),
    ("idr_data_pipelines_spark.operators", "operators"),
]

# top-level modules whose imported names are rebound to the wrappers
REBIND_IN = ("idr_data_pipelines_spark",)

# spans that cannot launch a Spark job take no job watermark
NO_JOBS = {"functions", "operators", "fsio.exists"}

# layers that own the jobs launched inside them (innermost wins)
EXEC_LAYERS = ["plans.build", "sources.sinks", "streaming.drain", "streaming.handle_event"]

TOP_LEVEL = None  # parent index of a span opened directly by the op

_EXEC_METRICS = [
    ("stages", "count"), ("tasks", "count"), ("task_run_s", "s"),
    ("task_cpu_s", "s"), ("task_wait_s", "s"), ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"), ("gc_s", "s"),
]

# Every per-layer metric a traced run prints, with its unit. Times are
# self times (span minus its traced children); counts are per op; each
# is the median over the traced ops of a run. A layer a workload never
# enters reads 0.
PER_LAYER = [
    ("session.start_s", "s"),
    ("sources.read_s", "s"), ("sources.read_calls", "count"),
    ("fsio.exists_calls", "count"),
    ("plans.build_s", "s"), ("plans.build_py4j", "count"),
    ("plans.build_jobs", "count"), ("plans.plan_s", "s"),
    ("plans.runner_s", "s"),
    ("functions.build_s", "s"), ("functions.py4j", "count"),
    ("operators.build_s", "s"), ("operators.py4j", "count"),
    ("streaming.handle_event_s", "s"), ("streaming.drain_s", "s"),
    ("streaming.drain_batches", "count"), ("streaming.drain_rows", "count"),
    ("streaming.checkpoint_files", "count"),
    ("sources.sinks.write_s", "s"), ("sources.sinks.files", "count"),
    ("sources.sinks.bytes", "bytes"),
] + [
    (f"{layer}.{k}", u)
    for layer in EXEC_LAYERS
    for k, u in ([] if layer == "plans.build" else [("jobs", "count")]) + _EXEC_METRICS
] + [
    ("session.peak_rss_mb", "MB"), ("host.steal_s", "s"),
    ("trace.overhead_frac", "frac"),
]


class Span:
    __slots__ = ("name", "start", "end", "parent", "py4j0", "py4j1", "job0", "job1", "arg")

    def __init__(self, name, parent, py4j0, job0, arg):
        self.name, self.parent, self.py4j0, self.job0, self.arg = name, parent, py4j0, job0, arg
        self.start = time.perf_counter()
        self.end = self.py4j1 = self.job1 = None


class Tracer:
    def __init__(self):
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._py4j = 0
        self._dag = None
        self._installed = []

    # ---------------------------------------------------------- install

    def install(self):
        """Wrap every target, rebinding each name in every loaded
        module that holds the original object."""
        import importlib

        targets = []
        for mod_name, attr, span in TARGETS:
            targets.append((importlib.import_module(mod_name), attr, span))
        for pkg_name, span in BUILDER_PACKAGES:
            pkg = importlib.import_module(pkg_name)
            for attr in pkg.__all__:
                targets.append((pkg, attr, span))
        loaded = [m for n, m in list(sys.modules.items())
                  if m is not None and n.split(".")[0] in REBIND_IN]
        for owner, attr, span in targets:
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(owner, cls_name)
                orig = cls.__dict__[meth]
                setattr(cls, meth, self._wrap(orig, span))
                self._installed.append((cls, meth, orig))
                continue
            orig = getattr(owner, attr)
            wrapped = self._wrap(orig, span)
            for m in loaded:
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, wrapped)
                        self._installed.append((m, k, orig))

    def uninstall(self):
        for owner, attr, orig in reversed(self._installed):
            setattr(owner, attr, orig)
        self._installed.clear()

    def attach(self, spark):
        """Count py4j commands on the session's gateway client and
        find the JVM's job-id counter."""
        sc = spark.sparkContext
        client = sc._gateway._gateway_client
        send = client.send_command
        tracer = self

        def counting_send(command, *a, **k):
            if tracer.active and not command.startswith("m\n"):
                tracer._py4j += 1
            return send(command, *a, **k)

        client.send_command = counting_send
        self._dag = sc._jsc.sc().dagScheduler()
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._seen_stages = set()

    def _job_mark(self):
        """Next Spark job id, read without counting the read itself."""
        was, self.active = self.active, False
        try:
            return self._dag.nextJobId()  # py4j converts the AtomicInteger
        finally:
            self.active = was

    # ------------------------------------------------------------ spans

    def _wrap(self, orig, name):
        tracer = self
        jobs = name not in NO_JOBS

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            arg = None
            if name == "sources.sinks":
                arg = args[1] if len(args) > 1 else kwargs.get("path")
            idx = tracer._open(name, jobs, arg)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer._close(idx, jobs)
            if name == "plans.build":
                # forced physical planning of the built frame, timed
                # on its own (the action plans its query again)
                pidx = tracer._open("plans.plan", False, None)
                try:
                    out._jdf.queryExecution().executedPlan()
                finally:
                    tracer._close(pidx, False)
            return out

        return wrapper

    def _open(self, name, jobs, arg):
        parent = self._stack[-1] if self._stack else TOP_LEVEL
        job0 = self._job_mark() if jobs else None
        span = Span(name, parent, self._py4j, job0, arg)
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def _close(self, idx, jobs):
        span = self.spans[idx]
        span.end = time.perf_counter()
        span.py4j1 = self._py4j
        if jobs:
            span.job1 = self._job_mark()
        self._stack.pop()

    def begin_op(self):
        self.spans = []
        self._stack = []
        self.active = True
        return self._job_mark()

    def end_op(self):
        self.active = False
        return self._job_mark()

    # ---------------------------------------------------------- summary

    def summarize(self, op_wall, job_lo, job_hi):
        """Per-layer numbers for the op just traced."""
        spans = self.spans
        child_time = defaultdict(float)
        child_py4j = defaultdict(int)
        for s in spans:
            if s.parent is not TOP_LEVEL:
                child_time[s.parent] += s.end - s.start
                child_py4j[s.parent] += s.py4j1 - s.py4j0
        m = defaultdict(float)
        top = 0.0
        for i, s in enumerate(spans):
            dur = s.end - s.start
            self_s = dur - child_time[i]
            self_py4j = (s.py4j1 - s.py4j0) - child_py4j[i]
            if s.parent is TOP_LEVEL:
                top += dur
            n = s.name
            if n == "sources.read":
                m["sources.read_s"] += self_s
                if s.parent is TOP_LEVEL or spans[s.parent].name != n:
                    m["sources.read_calls"] += 1
            elif n == "fsio.exists":
                m["fsio.exists_calls"] += 1
            elif n in ("functions", "operators"):
                m[f"{n}.build_s"] += self_s
                m[f"{n}.py4j"] += self_py4j
            elif n == "plans.build":
                m["plans.build_s"] += self_s
                m["plans.build_py4j"] += self_py4j
            elif n == "plans.plan":
                m["plans.plan_s"] += self_s
            elif n == "plans.runner":
                m["plans.runner_s"] += self_s
            elif n == "streaming.drain":
                m["streaming.drain_s"] += self_s
            elif n == "streaming.handle_event":
                m["streaming.handle_event_s"] += self_s
            elif n == "sources.sinks":
                m["sources.sinks.write_s"] += self_s
        m["trace.top_cover_frac"] = top / op_wall if op_wall > 0 else 0.0
        self._jobs(m, job_lo, job_hi)
        return dict(m)

    def _owner(self, job_id, names):
        """Innermost span named in ``names`` open when ``job_id`` was
        submitted."""
        best = None
        for s in self.spans:
            if s.name in names and s.job0 is not None and s.job0 <= job_id < s.job1:
                if best is None or s.start >= best.start:
                    best = s
        return best.name if best else None

    def _jobs(self, m, job_lo, job_hi):
        was, self.active = self.active, False
        try:
            # the status store is fed asynchronously by the listener bus
            self._bus.waitUntilEmpty(30_000)
            for jid in range(job_lo, job_hi):
                layer = self._owner(jid, EXEC_LAYERS)
                if layer is None:
                    continue
                if layer == "plans.build":
                    m["plans.build_jobs"] += 1
                else:
                    m[f"{layer}.jobs"] += 1
                self._stage_metrics(m, layer, jid)
        finally:
            self.active = was

    def _stage_metrics(self, m, layer, jid):
        try:
            job = self._store.job(jid)
        except Exception:  # noqa: BLE001 — job evicted or never registered
            return
        ids = job.stageIds()
        for k in range(ids.size()):
            sid = ids.apply(k)
            if sid in self._seen_stages:
                continue
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage never ran
                continue
            if st.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            self._seen_stages.add(sid)
            run = st.executorRunTime() / 1e3
            cpu = st.executorCpuTime() / 1e9
            m[f"{layer}.stages"] += 1
            m[f"{layer}.tasks"] += st.numTasks()
            m[f"{layer}.task_run_s"] += run
            m[f"{layer}.task_cpu_s"] += cpu
            m[f"{layer}.task_wait_s"] += run - cpu
            m[f"{layer}.shuffle_read_bytes"] += st.shuffleReadBytes()
            m[f"{layer}.shuffle_write_bytes"] += st.shuffleWriteBytes()
            m[f"{layer}.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            m[f"{layer}.gc_s"] += st.jvmGcTime() / 1e3

    def records(self, op):
        """The current op's spans as plain dicts (times relative to the
        first span), for writing out when the run ends."""
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {"op": op, "id": i, "name": s.name, "parent": s.parent,
             "start": s.start - t0, "end": s.end - t0,
             "py4j": s.py4j1 - s.py4j0,
             "jobs": None if s.job0 is None else [s.job0, s.job1]}
            for i, s in enumerate(self.spans)
        ]

    def sink_paths(self):
        return sorted({s.arg for s in self.spans if s.name == "sources.sinks" and s.arg})
