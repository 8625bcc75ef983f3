"""Layer tracing for the submission-flow benchmark.

The traced run wraps the package's public functions where ``study.py``
binds them, from outside the package. Each wrapper records a span and
sets the Spark job group ``bench:<module>:<dataset>``; spans stay in
memory. After the flow, :func:`parse_event_log` reads the local
``file:`` event log and :func:`layer_metrics` joins job groups to
jobs, stages and task-end events.

Job attribution rule: a wrapper leaves its job group set when it
returns, so an action that runs outside every wrapper is charged to
the module whose wrapper ran last. In ``export_study`` that is the
validation gate's ``count()`` right after ``validate_study``.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

MODULES = (
    "sources", "mapping", "normalize", "validation", "reshape", "profiling",
    "xpt", "dataset_xml", "define_xml", "session", "standards",
)
BASE_METRICS = (
    "jobs", "tasks", "python_tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_bytes", "driver_s",
)
#: py4j's "release this object" command prefix (protocol: m, then d)
MEMORY_DEL = "m\nd\n"
#: physical-plan scope names whose tasks run a Python worker
PYTHON_SCOPES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython")


@dataclass
class Span:
    module: str
    dataset: str
    start: float
    end: float = 0.0
    parent: int | None = None
    py4j: int = 0
    name: str = ""


@dataclass
class Tracer:
    """Spans, counters and the py4j call counter of one traced flow."""

    sc: object = None
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    bookkeeping_s: float = 0.0
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, module: str, dataset: str, name: str = ""):
        """A span around the block; ``name`` is the wrapped function's,
        blank for the benchmark's own actions."""
        t0 = time.time()
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(module, str(dataset), t0, parent=parent, name=name))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        if self.sc is not None:
            self.sc.setJobGroup(f"bench:{module}:{dataset}", "flowbench", False)
        self.bookkeeping_s += time.time() - t0
        try:
            yield self.spans[idx]
        finally:
            t1 = time.time()
            self.spans[idx].end = t1
            self._stack.pop()
            if self._stack and self.sc is not None:
                p = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"bench:{p.module}:{p.dataset}", "flowbench", False)
            self.bookkeeping_s += time.time() - t1

    def count_py4j(self, client) -> contextlib.AbstractContextManager:
        """Count gateway ``send_command`` calls into the innermost span.
        Memory-release commands are not counted: py4j sends them when
        Python happens to collect a proxy, so their number varies."""
        original = client.send_command

        def send_command(command, *args, **kwargs):
            if self._stack and not command.startswith(MEMORY_DEL):
                self.spans[self._stack[-1]].py4j += 1
            return original(command, *args, **kwargs)

        @contextlib.contextmanager
        def installed():
            client.send_command = send_command
            try:
                yield
            finally:
                del client.send_command

        return installed()

    def wrap(self, module: str, fn, dataset_of, after=None):
        """``fn`` wrapped in a span; ``dataset_of(args, kwargs)`` names
        the dataset, ``after(args, kwargs)`` records counters."""

        def wrapped(*args, **kwargs):
            with self.span(module, dataset_of(args, kwargs), fn.__name__):
                out = fn(*args, **kwargs)
            if after is not None:
                after(args, kwargs)
            return out

        return wrapped


@contextlib.contextmanager
def patched(targets: list[tuple[object, str, object]]):
    """Set ``obj.name = value`` for each target; restore on exit."""
    saved = [(obj, name, obj.__dict__[name]) for obj, name, _ in targets]
    try:
        for obj, name, value in targets:
            setattr(obj, name, value)
        yield
    finally:
        for obj, name, value in saved:
            setattr(obj, name, value)


def instrument(tracer: Tracer):
    """Context manager wrapping the layer entry points the study flow
    calls, as ``study.py`` binds them."""
    from trial_submission_studio_spark import study as study_api
    from trial_submission_studio_spark.mapping import MappingState
    from trial_submission_studio_spark.standards import ct_catalog

    c = tracer.counters

    def path_name(i):
        def name(args, kwargs):
            p = args[i] if len(args) > i else kwargs.get("path") or kwargs.get("paths")
            p = p[0] if isinstance(p, (list, tuple)) else p
            return os.path.splitext(os.path.basename(p))[0]
        return name

    def bytes_in(args, kwargs):
        p = args[1] if len(args) > 1 else kwargs.get("path") or kwargs.get("paths")
        for f in p if isinstance(p, (list, tuple)) else [p]:
            c["sources.bytes_in"] += os.path.getsize(f)

    def pairs(args, kwargs):  # args[0] is the class
        variables = args[2] if len(args) > 2 else kwargs["variables"]
        columns = args[3] if len(args) > 3 else kwargs["columns"]
        c["mapping.pairs_scored"] += len(variables) * len(columns)

    def bytes_out(key, i):
        def after(args, kwargs):
            c[key] += os.path.getsize(args[i] if len(args) > i else kwargs["path"])
        return after

    def validation_call(args, kwargs):
        c["validation.calls"] += 1

    profiled = itertools.count()
    new = MappingState.__dict__["new"].__func__
    targets = [
        (study_api, "read_source_csv", tracer.wrap("sources", study_api.read_source_csv, path_name(1), bytes_in)),
        (study_api, "read_source_csvs", tracer.wrap("sources", study_api.read_source_csvs, path_name(1), bytes_in)),
        (MappingState, "new", classmethod(tracer.wrap("mapping", new, lambda a, k: a[1], pairs))),
        (study_api, "infer_rules", tracer.wrap("normalize", study_api.infer_rules, lambda a, k: a[2].domain_code)),
        (study_api, "compile_pipeline", tracer.wrap("normalize", study_api.compile_pipeline, lambda a, k: a[2].domain_code)),
        (study_api, "validate_study", tracer.wrap("validation", study_api.validate_study, lambda a, k: "study", validation_call)),
        (study_api, "supp_unpivot", tracer.wrap("reshape", study_api.supp_unpivot, lambda a, k: a[3])),
        (study_api, "max_observed_length", tracer.wrap("profiling", study_api.max_observed_length, lambda a, k: f"#{next(profiled)}")),
        (study_api, "write_xpt", tracer.wrap("xpt", study_api.write_xpt, lambda a, k: a[3], bytes_out("xpt.bytes_out", 1))),
        (study_api, "write_dataset_xml", tracer.wrap("dataset_xml", study_api.write_dataset_xml, lambda a, k: a[2], bytes_out("dataset_xml.bytes_out", 1))),
        (study_api, "write_define_xml", tracer.wrap("define_xml", study_api.write_define_xml, lambda a, k: "define")),
        (ct_catalog, "builtin_lookup_df", tracer.wrap("standards", ct_catalog.builtin_lookup_df, lambda a, k: "ct")),
    ]
    return patched(targets)


# --- event log --------------------------------------------------------


def module_of(group: str | None) -> str | None:
    """``bench:<module>:<dataset>`` -> module; None for other groups."""
    if group and group.startswith("bench:"):
        return group.split(":")[1]
    return None


@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


def parse_event_log(path: str) -> tuple[dict[int, Job], dict[int, dict]]:
    """Jobs (with their group and interval, in seconds) and per-stage
    task totals from one uncompressed JSON-lines Spark event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, dict] = defaultdict(
        lambda: {"tasks": 0, "python": False, "run_s": 0.0, "cpu_s": 0.0, "shuffle_bytes": 0}
    )
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"] / 1000)
                job.stages = list(ev.get("Stage IDs", []))
                jobs[job.job_id] = job
                for info in ev.get("Stage Infos", []):
                    st = stages[info["Stage ID"]]
                    for rdd in info.get("RDD Info", []):
                        scope = json.loads(rdd.get("Scope") or "{}").get("name", "")
                        if rdd.get("Name") == "PythonRDD" or any(s in scope for s in PYTHON_SCOPES):
                            st["python"] = True
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                st = stages[ev["Stage ID"]]
                m = ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["run_s"] += m.get("Executor Run Time", 0) / 1000
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                st["shuffle_bytes"] += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    + wr.get("Shuffle Bytes Written", 0)
                )
    return jobs, dict(stages)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def layer_metrics(spans: list[Span], jobs: dict[int, Job], stages: dict[int, dict]) -> dict[str, float]:
    """Per-module jobs, tasks, python_tasks, executor run/CPU seconds,
    shuffle bytes and driver self time (span self time minus the part
    covered by that span's own jobs)."""
    out = {f"{m}.{k}": 0.0 for m in MODULES for k in BASE_METRICS}
    owner: dict[int, int] = {}
    for job in sorted(jobs.values(), key=lambda j: j.job_id):
        for s in job.stages:
            owner.setdefault(s, job.job_id)  # a reused stage's tasks ran in its first job
    by_group: dict[str, list[Job]] = defaultdict(list)
    for job in jobs.values():
        module = module_of(job.group)
        if module in MODULES:
            by_group[job.group].append(job)
            out[f"{module}.jobs"] += 1
            for s in job.stages:
                if owner.get(s) != job.job_id or s not in stages:
                    continue
                st = stages[s]
                out[f"{module}.tasks"] += st["tasks"]
                out[f"{module}.python_tasks"] += st["tasks"] if st["python"] else 0
                out[f"{module}.executor_run_s"] += st["run_s"]
                out[f"{module}.executor_cpu_s"] += st["cpu_s"]
                out[f"{module}.shuffle_bytes"] += st["shuffle_bytes"]
    children: dict[int, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append(sp)
    for i, sp in enumerate(spans):
        kids = [(k.start, k.end) for k in children[i]]
        self_s = (sp.end - sp.start) - _covered(kids, sp.start, sp.end)
        mine = [
            (max(j.submit, sp.start), min(j.end or sp.end, sp.end))
            for j in by_group.get(f"bench:{sp.module}:{sp.dataset}", [])
            if sp.start <= j.submit <= sp.end
        ]
        # job time inside child spans is already outside self time
        busy = _covered(mine, sp.start, sp.end) - sum(
            _covered(mine, a, b) for a, b in kids
        )
        out[f"{sp.module}.driver_s"] += self_s - busy
    return out


# --- host controls ----------------------------------------------------


def host_controls(spark, repeats: int = 3) -> dict[str, float]:
    """Fixed JVM-only work and a fixed one-task Python job, each the
    median of ``repeats`` after one discarded warm-up. They move with
    the host, not with the program."""
    import statistics

    from pyspark.sql import functions as F

    def jvm() -> float:
        t0 = time.perf_counter()
        spark.range(0, 200_000_000, 1, 4).select(
            F.expr("bit_xor(xxhash64(id))").alias("h")
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def python_task() -> float:
        t0 = time.perf_counter()
        spark.sparkContext.parallelize([0], 1).map(lambda x: x + 1).collect()
        return time.perf_counter() - t0

    spark.sparkContext.setJobGroup("bench:host:-", "flowbench", False)
    out = {}
    for name, fn in (("host.jvm_control_s", jvm), ("host.python_task_s", python_task)):
        fn()
        out[name] = statistics.median(fn() for _ in range(repeats))
    return out
