"""Per-layer tracing for the benchmark: spans around layer calls, a fold of
the Spark event log into job / stage / task counts, and the attribution of
each job to the span that issued it.

Spans are recorded by the benchmark, from outside the program: the public
functions of a layer's module are swapped for wrappers while a traced
iteration runs, and restored afterwards. Every span sets the Spark local
property ``perfbench.span`` to its id, so a job submitted from the span's
thread carries the id into the event log. Jobs from threads that never
opened a span (``plans/bundle.py`` runs its artifact chains on a thread
pool, and local properties do not cross threads) arrive untagged; they are
attributed to the innermost span open at their submission time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import threading
import time
import types
from dataclasses import dataclass

from checks import tree_bytes

SPAN_PROPERTY = "perfbench.span"
PACKAGE = "iatlas_cbioportal_export_spark"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: int | None
    thread: int
    end: float | None = None


class Tracer:
    """In-memory span recorder. Spans nest per thread; the first span a
    thread opens takes the latest-opened span still open anywhere as its
    parent, so work a pool thread does stays under the call that started
    it. ``set_property`` pushes the open span's id to Spark so the event log
    can name it."""

    def __init__(self, set_property=None):
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._set_property = set_property
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str, layer: str | None = None) -> Span:
        stack = self._stack()
        with self._lock:
            parent = stack[-1] if stack else (self._open[-1] if self._open else None)
            span = Span(
                id=len(self.spans),
                name=name,
                layer=layer or name,
                start=time.time(),
                parent=parent.id if parent else None,
                thread=threading.get_ident(),
            )
            self.spans.append(span)
            self._open.append(span)
        stack.append(span)
        if self._set_property:
            self._set_property(str(span.id))
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        with self._lock:
            self._open.remove(span)
        stack = self._stack()
        stack.remove(span)
        if self._set_property:
            self._set_property(str(stack[-1].id) if stack else None)

    def span(self, name: str, layer: str | None = None):
        return _SpanContext(self, name, layer)

    def inside(self, layer: str) -> bool:
        """True when the calling thread already has a span of ``layer`` open."""
        return any(s.layer == layer for s in self._stack())


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, layer: str | None):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self) -> Span:
        self.span = self.tracer.open(self.name, self.layer)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer.close(self.span)


# --------------------------------------------------------------------------
# Wrapping a layer's public functions
# --------------------------------------------------------------------------


def _program_modules():
    for name, mod in list(sys.modules.items()):
        if mod is not None and (name == "__spark_entry__" or name.startswith(PACKAGE)):
            yield mod


class Patches:
    """Replace a function object in every program module that holds it (a
    ``from x import f`` copies the reference), and put it back on ``restore``."""

    def __init__(self):
        self._undo: list[tuple[object, str, object]] = []

    def replace(self, original, wrapper) -> None:
        for mod in _program_modules():
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._undo.append((mod, attr, value))
                    setattr(mod, attr, wrapper)

    def replace_attr(self, owner, attr: str, wrapper) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, value in reversed(self._undo):
            setattr(owner, attr, value)
        self._undo.clear()


def public_functions(module) -> list:
    """Functions defined in ``module`` itself whose names do not start with ``_``."""
    return [
        fn
        for name, fn in vars(module).items()
        if isinstance(fn, types.FunctionType)
        and not name.startswith("_")
        and fn.__module__ == module.__name__
    ]


def wrap_layer(
    tracer: Tracer, patches: Patches, module, layer: str, names=None, after=None
) -> None:
    """Open a ``layer`` span around the public functions of ``module`` (or
    only those in ``names``). ``after(fn, args, kwargs)`` runs once the
    outermost span of the layer has closed, outside its timing (used to
    count what a sink left on disk)."""
    for fn in public_functions(module):
        if names is not None and fn.__name__ not in names:
            continue

        def make(fn=fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                outermost = not tracer.inside(layer)
                with tracer.span(f"{layer}.{fn.__name__}", layer):
                    result = fn(*args, **kwargs)
                if outermost and after is not None:
                    after(fn, args, kwargs)
                return result

            return wrapper

        patches.replace(fn, make())


# --------------------------------------------------------------------------
# Event-log fold
# --------------------------------------------------------------------------

_WANTED = (
    b'"Event":"SparkListenerJobStart"',
    b'"Event":"SparkListenerJobEnd"',
    b'"Event":"SparkListenerStageCompleted"',
    b'"Event":"SparkListenerTaskEnd"',
)


@dataclass
class Job:
    id: int
    submit: float  # seconds since the epoch
    end: float | None = None
    span: int | None = None  # tagged span id, if the job carried one
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    output_b: int = 0
    succeeded: bool = True


def fold_event_log(path: str) -> dict[int, Job]:
    """Fold one uncompressed, non-rolling Spark event log into per-job totals.

    A stage is charged to the lowest job id that lists it (later jobs that
    reuse a shuffle list the stage but skip it); tasks are charged through
    their stage."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path, "rb") as fh:
        for line in fh:
            if not any(tag in line for tag in _WANTED):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tag = props.get(SPAN_PROPERTY)
                job = Job(
                    id=ev["Job ID"],
                    submit=ev["Submission Time"] / 1000.0,
                    span=int(tag) if tag not in (None, "") else None,
                )
                jobs[job.id] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job.id)
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
                    job.succeeded = ev["Job Result"]["Result"] == "JobSucceeded"
            elif kind == "SparkListenerStageCompleted":
                job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"], -1))
                if job is not None:
                    job.stages += 1
            else:  # TaskEnd
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                if job is None:
                    continue
                job.tasks += 1
                info = ev.get("Task Info") or {}
                if info.get("Failed") or info.get("Killed"):
                    job.failed_tasks += 1
                tm = ev.get("Task Metrics") or {}
                job.task_s += tm.get("Executor Run Time", 0) / 1000.0
                job.gc_s += tm.get("JVM GC Time", 0) / 1000.0
                sr = tm.get("Shuffle Read Metrics") or {}
                job.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                job.shuffle_write_b += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                job.spill_b += tm.get("Disk Bytes Spilled", 0)
                job.output_b += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
    return jobs


def find_event_log(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return path


# --------------------------------------------------------------------------
# Attribution and interval arithmetic
# --------------------------------------------------------------------------


def attribute(jobs: dict[int, Job], spans: list[Span]) -> dict[int, int | None]:
    """Job id → span id: the tagged span when the job carried one, else the
    innermost span (latest start) open at the job's submission time."""
    closed = sorted((s for s in spans if s.end is not None), key=lambda s: s.start)
    out: dict[int, int | None] = {}
    for job in jobs.values():
        if job.span is not None and job.span < len(spans):
            out[job.id] = job.span
            continue
        best = None
        for s in closed:
            if s.start > job.submit:
                break
            if s.end >= job.submit:
                best = s
        out[job.id] = best.id if best is not None else None
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def job_intervals(jobs, lo: float, hi: float) -> list[tuple[float, float]]:
    """Job-active intervals clipped to [lo, hi] for jobs submitted inside it."""
    return [
        (max(j.submit, lo), min(j.end, hi))
        for j in jobs
        if j.end is not None and lo <= j.submit <= hi
    ]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        if s.end is None:
            continue
        covered = union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])]
        )
        out[s.id] = (s.end - s.start) - covered
    return out


# --------------------------------------------------------------------------
# A traced benchmark run
# --------------------------------------------------------------------------


class TracedRun:
    """Installs the layer wrappers around traced iterations and turns spans,
    counters and the event log into the per-layer metrics.

    Layers are named after the program's modules. Every ``*.s`` and count
    is per traced iteration."""

    def __init__(self, spark, cpus: int, log_dir: str):
        self.spark, self.cpus, self.log_dir = spark, cpus, log_dir
        sc = spark.sparkContext
        self.app_id = sc.applicationId
        self.tracer = Tracer(lambda v: sc.setLocalProperty(SPAN_PROPERTY, v))
        self.annotated_rows = sc.accumulator(0)
        self.annotate_s = sc.accumulator(0.0)
        self.sink_bytes = self.sink_files = self.bytes_copied = 0
        self.persisted_left = 0
        self.span = self.tracer.span

    def note_persisted(self) -> None:
        n = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        self.persisted_left = max(self.persisted_left, n)

    @contextlib.contextmanager
    def iteration(self):
        patches = self._install()
        try:
            with self.tracer.span("iteration", "iteration"):
                yield self
        finally:
            patches.restore()

    def _install(self) -> Patches:
        import shutil

        from iatlas_cbioportal_export_spark.operators import maf, projections, validation
        from iatlas_cbioportal_export_spark.plans import bundle, clinical_pipeline
        from iatlas_cbioportal_export_spark.sources import readers, sinks

        patches = Patches()
        t = self.tracer
        wrap_layer(t, patches, readers, "readers")
        wrap_layer(t, patches, clinical_pipeline, "clinical_pipeline")
        wrap_layer(t, patches, projections, "projections")
        wrap_layer(t, patches, bundle, "bundle")
        wrap_layer(t, patches, sinks, "sinks", after=self._count_sink)
        wrap_layer(t, patches, validation, "validation")
        wrap_layer(t, patches, maf, "maf", names={"annotate", "split_annotation_errors", "drop_chrm"})

        original = maf.fake_annotator
        rows, secs = self.annotated_rows, self.annotate_s

        def counting_annotator(batch):  # runs in the Python workers
            t0 = time.perf_counter()
            out = original(batch)
            rows.add(len(batch))
            secs.add(time.perf_counter() - t0)
            return out

        patches.replace(original, counting_annotator)

        copytree = shutil.copytree

        def traced_copytree(src, dst, *args, **kwargs):
            with t.span("cli.load.copy", "cli.load.copy"):
                out = copytree(src, dst, *args, **kwargs)
            self.bytes_copied += tree_bytes(dst)[0]
            return out

        patches.replace_attr(shutil, "copytree", traced_copytree)
        return patches

    def _count_sink(self, fn, args, kwargs) -> None:
        if not fn.__name__.startswith("write_"):
            return
        path = args[1] if len(args) > 1 else kwargs.get("path")
        if not isinstance(path, str):
            return
        for p in (path, path + ".parts"):
            if os.path.exists(p):
                b, f = tree_bytes(p)
                self.sink_bytes += b
                self.sink_files += f

    def fold(self, units: dict[str, str], extra: dict[str, float], maf_rows: int) -> dict:
        """Per-layer metrics, every name in ``units`` (zero for a layer the
        workload never entered). Call after the SparkContext has stopped, so
        the event log is complete."""
        jobs = fold_event_log(find_event_log(self.log_dir, self.app_id))
        spans = [s for s in self.tracer.spans if s.end is not None]
        roots = [s for s in spans if s.layer == "iteration"]
        n = max(1, len(roots))
        traced = [j for j in jobs.values() if any(r.start <= j.submit <= r.end for r in roots)]
        owner = attribute({j.id: j for j in traced}, self.tracer.spans)

        def owner_layer(job):
            sid = owner.get(job.id)
            return self.tracer.spans[sid].layer if sid is not None else None

        def outermost(layer):
            out = []
            for s in spans:
                if s.layer != layer:
                    continue
                p = s.parent
                while p is not None and self.tracer.spans[p].layer != layer:
                    p = self.tracer.spans[p].parent
                if p is None:
                    out.append(s)
            return out

        def layer_s(layer):
            return sum(s.end - s.start for s in outermost(layer)) / n

        def layer_jobs(layer):
            return sum(1 for j in traced if owner_layer(j) == layer) / n

        def named(name):
            return [s for s in spans if s.name == name]

        def window_jobs(ss):
            return [j for j in traced if any(s.start <= j.submit <= s.end for s in ss)]

        def busy(ss):
            return sum(union_length(job_intervals(traced, s.start, s.end)) for s in ss)

        m: dict[str, float] = {name: 0.0 for name in units}
        m.update(extra)
        m["readers.calls"] = len(outermost("readers")) / n
        for layer in ("readers", "projections", "sinks", "validation", "bundle", "maf"):
            m[f"{layer}.jobs"] = layer_jobs(layer)
        for layer in ("readers", "projections", "sinks", "validation"):
            m[f"{layer}.s"] = layer_s(layer)
        m["clinical_pipeline.build_s"] = layer_s("clinical_pipeline")
        m["bundle.write_s"] = sum(s.end - s.start for s in named("bundle.write_study_bundle")) / n
        m["bundle.load_case_lists_s"] = (
            sum(s.end - s.start for s in named("bundle.write_load_stage_case_lists")) / n
        )
        maf_cmds = len(named("cli.maf"))
        if maf_cmds and maf_rows:
            m["maf.annotate_rows_ratio"] = self.annotated_rows.value / (maf_rows * maf_cmds)
        m["maf.annotate_task_s"] = self.annotate_s.value / n
        m["sinks.bytes_written"] = self.sink_bytes / n
        m["sinks.files_written"] = self.sink_files / n
        m["cli.load.copy_s"] = layer_s("cli.load.copy")
        m["cli.load.bytes_copied"] = self.bytes_copied / n
        for s in spans:
            if s.layer == "cli":
                cmd = s.name
                m[f"{cmd}.s"] += (s.end - s.start) / n
                m[f"{cmd}.jobs"] += len(window_jobs([s])) / n
                m[f"{cmd}.driver_s"] += ((s.end - s.start) - busy([s])) / n
        m["registry.build_s"] = layer_s("registry.build")
        # A query's write plans it, then runs its jobs: planning is the
        # write's wall up to its first job, execution the rest.
        for s in outermost("registry.write"):
            first = min((j.submit for j in window_jobs([s])), default=s.end)
            m["registry.plan_s"] += (first - s.start) / n
            m["registry.exec_s"] += (s.end - first) / n
        m["registry.build_jobs_s"] = busy(outermost("registry.build")) / n
        m["exec.jobs"] = len(traced) / n
        m["exec.stages"] = sum(j.stages for j in traced) / n
        m["exec.tasks"] = sum(j.tasks for j in traced) / n
        m["exec.failed_tasks"] = sum(j.failed_tasks for j in traced) / n
        task_s = sum(j.task_s for j in traced)
        m["exec.task_s"] = task_s / n
        m["exec.gc_s"] = sum(j.gc_s for j in traced) / n
        mb = 1024.0 * 1024.0
        m["exec.shuffle_read_mb"] = sum(j.shuffle_read_b for j in traced) / mb / n
        m["exec.shuffle_write_mb"] = sum(j.shuffle_write_b for j in traced) / mb / n
        m["exec.spill_mb"] = sum(j.spill_b for j in traced) / mb / n
        active = busy(roots)
        m["exec.slot_busy_frac"] = task_s / (active * self.cpus) if active else 0.0
        m["operators.persisted_left"] = self.persisted_left
        # Share of the traced wall no span below a command or query explains.
        selfs = self_times(self.tracer.spans)
        unexplained = sum(selfs[s.id] for s in spans if s.layer in ("iteration", "cli", "q"))
        wall = sum(r.end - r.start for r in roots)
        m["trace.residual_frac"] = unexplained / wall if wall else 0.0
        return {name: {"value": m[name], "unit": unit} for name, unit in units.items()}
