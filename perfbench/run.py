"""Benchmark of the iAtlas → cBioPortal export engine on the local host.

    python3 perfbench/run.py --workload study_export --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client: each iteration ends before the next
starts):

- ``study_export``: the paper's four-command chain, ``clinical → maf →
  validate → load``, run in-process through ``cli.main`` over a seeded
  synthetic study. The timed chain is the first in a fresh process, as in a
  batch export run; every chain writes a fresh bundle and store and is
  checked.
- ``query_floor``: passes over registry queries whose data work is near
  zero, through a ``noop`` sink, over the reference sf0.01 tables in
  ``perfbench/data/sf0.01`` (the repository's correctness-scale test data,
  copied unchanged). Their time is driver build, Catalyst and fixed
  per-job latency. The untimed first pass checks each query's rows against
  its DuckDB oracle.

Spark runs on ``local[<cores of this host>]``. The study comes from
``--seed`` (modulo the number of pinned seeds) and is written under
``.perfbench_work/`` in the checkout, which the run removes again; the
query tables are the same for every seed.

``mem_mb`` is the memory the program holds over the timed iterations: this
process's peak RSS, plus the driver JVM's heap after the full GCs that close
them, plus its non-heap use. With ``--trace 0`` the last stdout line carries
the end-to-end metrics; the line before it records the run context (master,
parallelism, confs, per-command medians, store size ratio, failure ratio).
With ``--trace 1`` the Spark event log is on, the timed iterations run with
layer spans, and the last line carries the per-layer metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE_DIR = os.path.join(ROOT, "iatlas_cbioportal_export_spark")
ENTRY = os.path.join(ROOT, "__spark_entry__.py")

STUDY_SAMPLES, STUDY_VARIANTS, STUDY_MAF_FILES = 1000, 10_000, 8
# study_export's study seed is --seed modulo this: the seeds 0..PINNED_SEEDS-1
# whose artifact digests pinned_digests.json holds.
PINNED_SEEDS = 21
FLOOR_DIR = os.path.join(HERE, "data", "sf0.01")
# The roadmap's build-heavy job-floor query (LSH near-dup components) plus
# cheap CORE queries (clinical-shaped, TPC-H aggregate, semi-join, window).
FLOOR_QUERIES = [
    "dedup_cluster_report",
    "flagship_case_lists",
    "tpch_q1_pricing_summary",
    "j5_semi_join",
    "events_sessionize",
]
COMMANDS = ("clinical", "maf", "validate", "load")

END_TO_END_UNITS = {"iter_s": "s", "setup_s": "s", "mem_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "session.cpus": "count",
        "session.shuffle_partitions": "count",
        "jvm.heap_after_gc_peak_mb": "MB",
        "readers.calls": "count",
        "readers.jobs": "count",
        "readers.s": "s",
        "clinical_pipeline.build_s": "s",
        "projections.jobs": "count",
        "projections.s": "s",
        "bundle.write_s": "s",
        "bundle.jobs": "count",
        "bundle.load_case_lists_s": "s",
        "maf.annotate_rows_ratio": "ratio",
        "maf.annotate_task_s": "s",
        "maf.jobs": "count",
        "sinks.jobs": "count",
        "sinks.s": "s",
        "sinks.bytes_written": "bytes",
        "sinks.files_written": "count",
        "validation.jobs": "count",
        "validation.s": "s",
        "cli.load.copy_s": "s",
        "cli.load.bytes_copied": "bytes",
    }
    for cmd in COMMANDS:
        units[f"cli.{cmd}.s"] = "s"
        units[f"cli.{cmd}.driver_s"] = "s"
        units[f"cli.{cmd}.jobs"] = "count"
    units.update(
        {
            "registry.build_s": "s",
            "registry.build_jobs_s": "s",
            "registry.plan_s": "s",
            "registry.exec_s": "s",
            "exec.jobs": "count",
            "exec.stages": "count",
            "exec.tasks": "count",
            "exec.slot_busy_frac": "ratio",
            "exec.task_s": "s",
            "exec.gc_s": "s",
            "exec.shuffle_read_mb": "MB",
            "exec.shuffle_write_mb": "MB",
            "exec.spill_mb": "MB",
            "exec.failed_tasks": "count",
            "operators.persisted_left": "count",
            "store_bytes_ratio": "ratio",
            "failed_ratio": "ratio",
            "trace.iter_s": "s",
            "trace.residual_frac": "ratio",
        }
    )
    for q in FLOOR_QUERIES:
        units[f"q.{q}_s"] = "s"
    return units


# --------------------------------------------------------------------------
# Host context
# --------------------------------------------------------------------------


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_gib() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 * 1024)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem(mem_gib: float) -> str:
    """A sixth of the host's memory, 1-4 GiB: the inputs are small and the
    host is shared."""
    return f"{max(1, min(4, int(mem_gib // 6)))}g"


def configure_env(work: str, cpus: int, mem: str) -> None:
    """Everything the program and its Python workers read from the
    environment; must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # the small JVM spark-submit runs to build the driver command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # mapInPandas workers import the package by name, from any cwd
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def session_conf(work: str, mem: str, trace: bool) -> dict[str, str]:
    # -Xms = -Xmx: a heap that never resizes keeps the GC schedule
    # repeatable from run to run. The GC log gives the heap each pause
    # leaves behind (see ``heap_after_gc_mb``).
    java_opts = (
        f"-Xms{mem} -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        f" -Xlog:gc:file={gc_log_path(work)}"
    )
    conf = {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


MB = 1024.0 * 1024.0


def gc_log_path(work: str) -> str:
    return os.path.join(work, "gc.log")


def reset_peak_rss(pid: int | str) -> None:
    """Restart the kernel's peak-RSS count (VmHWM) of ``pid`` at its RSS now."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:")) / 1024.0


# A G1 pause line of -Xlog:gc: "[12.345s][info][gc] GC(7) Pause Young
# (Normal) (G1 Evacuation Pause) 310M->45M(2048M) 5.123ms".
_GC_PAUSE = re.compile(rb"^\[(\d+\.\d+)s\].*\bPause\b.*?\d+[KMG]->(\d+)([KMG])\(")
_TO_MB = {b"K": 1 / 1024.0, b"M": 1.0, b"G": 1024.0}


def heap_after_gc_mb(gc_log: str, lo_s: float, hi_s: float) -> tuple[float, float]:
    """(largest, last) heap a GC pause left behind between JVM uptimes
    ``lo_s`` and ``hi_s``.

    The last pause is the full GC that closes the timed window, so it leaves
    only what the program still holds. The largest also counts objects that
    young pauses promoted and that died later; when a concurrent cycle next
    frees them varies from run to run."""
    after = []
    with open(gc_log, "rb") as fh:
        for line in fh:
            m = _GC_PAUSE.match(line)
            if m and lo_s <= float(m.group(1)) <= hi_s:
                after.append(int(m.group(2)) * _TO_MB[m.group(3)])
    if not after:
        raise RuntimeError(f"no GC pause between {lo_s} s and {hi_s} s in {gc_log}")
    return max(after), after[-1]


def in_child(script: str, *args) -> None:
    """Run a generator script of the benchmark in its own process, so input
    generation stays out of this process's peak RSS."""
    subprocess.run([sys.executable, os.path.join(HERE, script), *map(str, args)], check=True)


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.add(child)
            todo.append(child)
    return out


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM and the
    Python worker processes it started have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else set()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()  # the gateway server exits on stdin EOF
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = {pid for pid in workers if _running(pid)}
        time.sleep(0.05)
    for pid in workers:  # still running after 30 s
        os.kill(pid, signal.SIGKILL)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state not in ("Z", "X")


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten samples
    beyond it, nearest rank; the maximum when there are ten or fewer."""
    ordered = sorted(values)
    n = len(ordered)
    if n <= 10:
        return 100.0, ordered[-1]
    pct = 100.0 * (n - 10) / n
    return pct, ordered[n - 11]


# --------------------------------------------------------------------------
# Workloads
# --------------------------------------------------------------------------


class Workload:
    """One closed-loop workload: ``prepare`` writes inputs, ``warm_up`` runs
    the untimed first iteration and checks its output, ``iteration`` runs
    one timed iteration and returns its wall."""

    app_name = "perfbench"
    # Timed iterations run until --seconds have passed and at least this
    # many have completed, so a slow host cannot change their number.
    min_iterations = 1

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.check_s = 0.0  # benchmark-side check time inside ``warm_up``

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)


class StudyExport(Workload):
    app_name = "iatlas-cli"
    # pin_digests.py records the digests instead of checking them
    pinning = False

    def prepare(self) -> None:
        import gen_study

        self.study_seed = self.seed % PINNED_SEEDS
        root = os.path.join(self.work, "study")
        in_child(
            "gen_study.py", root, self.study_seed, STUDY_SAMPLES, STUDY_VARIANTS, STUDY_MAF_FILES
        )
        self.study = gen_study.load(root)
        self.digests: dict[str, str] | None = None
        with open(os.path.join(HERE, "pinned_digests.json")) as fh:
            self.pinned = json.load(fh).get(str(self.study_seed))
        self.cmd_walls: dict[str, list[float]] = {c: [] for c in COMMANDS}
        self.store_ratio: list[float] = []

    def setup(self, spark) -> None:
        from iatlas_cbioportal_export_spark import cli

        self.cli = cli  # its commands reuse the running session

    def warm_up(self) -> None:
        """None: the timed chain is the first in the process, as in a batch
        export, where every run starts a fresh interpreter and JVM."""

    def iteration(self, i: int, tracer) -> float:
        bundle = os.path.join(self.work, "run", f"bundle{i}")
        store = os.path.join(self.work, "run", f"store{i}")
        ok = True
        t_iter = time.perf_counter()
        for cmd, argv in self.study.cli_args(bundle, store).items():
            self.attempted += 1
            t0 = time.perf_counter()
            rc = None
            try:
                with contextlib.redirect_stdout(sys.stderr):
                    if tracer is None:
                        rc = self.cli.main(argv)
                    else:
                        with tracer.span(f"cli.{cmd}", "cli"):
                            rc = self.cli.main(argv)
            except Exception:
                traceback.print_exc()
            self.cmd_walls[cmd].append(time.perf_counter() - t0)
            if tracer is not None:
                tracer.note_persisted()
            if rc != 0:
                ok = False
                self.fail(f"{cmd} exited {rc} (iteration {i})")
        wall = time.perf_counter() - t_iter
        if ok:
            self.check_outputs(i, store)
        shutil.rmtree(os.path.join(self.work, "run"), ignore_errors=True)
        return wall

    def check_outputs(self, i: int, store: str) -> None:
        """Case lists and row counts against the generator's, the set of
        artifacts and their digests against the ones pinned for the study
        seed; a mismatch fails the load."""
        import checks

        problems = []
        lists = os.path.join(store, "case_lists")
        for name, want in (
            ("cases_all.txt", self.study.cases_all),
            ("cases_sequenced.txt", self.study.cases_sequenced),
        ):
            got = checks.case_list_ids(os.path.join(lists, name))
            if got != want:
                problems.append(f"{name}: {len(got)} ids, expected {len(want)}")
        self.digests = digests = checks.store_digests(store)
        if not self.pinning:
            if self.pinned is None:
                problems.append(f"no pinned digests for study seed {self.study_seed}")
            elif digests != self.pinned:
                diff = sorted(
                    k for k in digests.keys() | self.pinned.keys()
                    if digests.get(k) != self.pinned.get(k)
                )
                problems.append(f"artifacts missing, extra or differing from pinned: {diff}")
        n_samples = checks.data_rows(os.path.join(store, "data_clinical_sample.txt"), 5)
        if n_samples != len(self.study.cases_all):
            problems.append(f"data_clinical_sample.txt: {n_samples} rows")
        n_mut = checks.data_rows(os.path.join(store, "data_mutations_extended"), 1)
        if n_mut != self.study.n_maf_rows_kept:
            problems.append(f"data_mutations_extended: {n_mut} rows, expected {self.study.n_maf_rows_kept}")
        store_bytes, _ = checks.tree_bytes(store)
        self.store_ratio.append(store_bytes / self.study.input_bytes)
        if problems:
            self.fail(f"load output (iteration {i}): " + "; ".join(problems))

    def layer_extras(self) -> dict[str, float]:
        return {"store_bytes_ratio": statistics.median(self.store_ratio)}

    def maf_rows(self) -> int:
        return self.study.n_maf_rows

    def context(self) -> dict:
        out = {
            f"{cmd}_s": {"value": statistics.median(w), "unit": "s"}
            for cmd, w in self.cmd_walls.items() if w
        }
        out["store_bytes_ratio"] = {"value": statistics.median(self.store_ratio), "unit": "ratio"}
        out["study"] = {
            "seed": self.study_seed, "samples": STUDY_SAMPLES, "variants": STUDY_VARIANTS,
            "maf_files": STUDY_MAF_FILES, "input_bytes": self.study.input_bytes,
        }
        return out


class QueryFloor(Workload):
    app_name = "perfbench-query-floor"
    # The first timed pass is still warming up; the median of three is not.
    min_iterations = 3

    def prepare(self) -> None:
        self.sf_dir = FLOOR_DIR
        self.query_walls: dict[str, list[float]] = {q: [] for q in FLOOR_QUERIES}

    def setup(self, spark) -> None:
        import __spark_entry__ as entry

        self.entry = entry
        self.spark = spark
        self.registry = entry.queries()

    def warm_up(self) -> None:
        """Untimed pass that also checks every query's rows against its
        DuckDB oracle twin (rows only, when a query has none). The oracle
        side runs in a child process, so DuckDB stays out of this process's
        set-up time and memory."""
        out = os.path.join(self.work, "warm_up")
        os.makedirs(out, exist_ok=True)
        ran = []
        self.entry.reset_bench_caches(self.spark)
        for name in FLOOR_QUERIES:
            self.attempted += 1
            try:
                pdf = self.registry[name](self.spark, self.sf_dir).toPandas()
            except Exception:
                traceback.print_exc()
                self.fail(f"{name} raised in warm-up")
                continue
            t_check = time.perf_counter()
            pdf.to_pickle(os.path.join(out, f"{name}.pkl"))
            ran.append(name)
            self.check_s += time.perf_counter() - t_check
        t_check = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "checks.py"), self.sf_dir, out, *ran],
            check=True, stdout=subprocess.PIPE, text=True,
        )
        for name, problems in json.loads(proc.stdout.splitlines()[-1]).items():
            if problems:
                self.fail(f"{name} oracle mismatch: {problems[:3]}")
        self.check_s += time.perf_counter() - t_check

    def iteration(self, i: int, tracer) -> float:
        self.entry.reset_bench_caches(self.spark)
        total = 0.0
        for name in FLOOR_QUERIES:
            self.attempted += 1
            fn = self.registry[name]
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    fn(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
                else:
                    # the write plans and runs the query; the fold splits
                    # its span at the first job it submits
                    with tracer.span(f"q.{name}", "q"):
                        with tracer.span("registry.build", "registry.build"):
                            df = fn(self.spark, self.sf_dir)
                        with tracer.span("registry.write", "registry.write"):
                            df.write.format("noop").mode("overwrite").save()
                    tracer.note_persisted()
            except Exception:
                traceback.print_exc()
                self.fail(f"{name} raised (iteration {i})")
            wall = time.perf_counter() - t0
            total += wall
            if tracer is not None:
                self.query_walls[name].append(wall)
        return total

    def layer_extras(self) -> dict[str, float]:
        return {f"q.{q}_s": statistics.median(w) for q, w in self.query_walls.items() if w}

    def maf_rows(self) -> int:
        return 0

    def context(self) -> dict:
        return {"tables": os.path.relpath(self.sf_dir, ROOT), "queries": FLOOR_QUERIES}


WORKLOADS = {"study_export": StudyExport, "query_floor": QueryFloor}


# --------------------------------------------------------------------------
# Run
# --------------------------------------------------------------------------


def run(args, work: str) -> tuple[dict, dict]:
    cpus = host_cpus()
    mem = driver_mem(host_mem_gib())
    configure_env(work, cpus, mem)
    workload = WORKLOADS[args.workload](work, args.seed)

    t0 = time.perf_counter()
    import pyspark  # noqa: F401
    import __spark_entry__  # noqa: F401
    from iatlas_cbioportal_export_spark import get_spark

    imports_s = time.perf_counter() - t0
    workload.prepare()  # input generation: not part of set-up

    t1 = time.perf_counter()
    spark = get_spark(workload.app_name, extra_conf=session_conf(work, mem, bool(args.trace)))
    try:
        spark.range(1).count()
        session_s = time.perf_counter() - t1
        traced_run = None
        if args.trace:
            import tracing

            traced_run = tracing.TracedRun(spark, cpus, os.path.join(work, "eventlog"))
        workload.setup(spark)
        t2 = time.perf_counter()
        workload.warm_up()
        warm_s = time.perf_counter() - t2 - workload.check_s

        # Memory is counted over the timed iterations only: set-up, warm-up
        # and its output checks stay out.
        jvm = spark.sparkContext._jvm
        mgmt = jvm.java.lang.management.ManagementFactory
        runtime = mgmt.getRuntimeMXBean()
        jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        reset_peak_rss(jvm_pid)
        reset_peak_rss("self")
        window_lo = runtime.getUptime() / 1000.0

        walls: list[float] = []
        steal0 = steal_jiffies()
        deadline = time.perf_counter() + args.seconds
        while len(walls) < workload.min_iterations or time.perf_counter() < deadline:
            if traced_run is None:
                walls.append(workload.iteration(len(walls), None))
            else:
                with traced_run.iteration() as tracer:
                    walls.append(workload.iteration(len(walls), tracer))
        steal1 = steal_jiffies()
        python_mb, jvm_rss_mb = peak_rss_mb("self"), peak_rss_mb(jvm_pid)
        non_heap_mb = mgmt.getMemoryMXBean().getNonHeapMemoryUsage().getUsed() / MB
        # The full GCs that close the window. Python's cycle collector runs
        # first, since its garbage can still pin JVM objects through their
        # py4j handles. The first full GC lets Spark's ContextCleaner drop the
        # broadcast and RDD blocks of the collected plans, on its own thread;
        # the second frees them.
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(1.0)
        jvm.java.lang.System.gc()
        window_hi = runtime.getUptime() / 1000.0
        sc = spark.sparkContext
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "cpus": cpus,
            "tracing": bool(args.trace),
            "failed_ratio": workload.failed / max(1, workload.attempted),
        }
    finally:
        stop_spark(spark)
    heap_peak_mb, heap_held_mb = heap_after_gc_mb(gc_log_path(work), window_lo, window_hi)

    # One to three iterations per run support no tail percentile with ten
    # samples beyond it: the tail is recorded here, not compared.
    pct, tail_value = tail(walls)
    context.update(
        {
            "iterations": len(walls),
            "iter_walls_s": walls,
            "iter_tail_s": {"value": tail_value, "unit": "s", "percentile": pct},
            "setup_parts_s": {"imports": imports_s, "session": session_s, "warm_up": warm_s},
            "mem_parts_mb": {
                "jvm_heap_held": heap_held_mb, "jvm_non_heap": non_heap_mb, "python_peak_rss": python_mb,
            },
            # not counted: the driver JVM's peak RSS follows its heap
            # setting, since a fixed heap is touched whole within seconds
            "jvm_peak_rss_mb": jvm_rss_mb,
            "jvm_heap_after_gc_peak_mb": heap_peak_mb,
            "failures": workload.failures[:10],
            # host CPU time stolen by other guests while the timed iterations ran
            "host_steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        }
    )
    context.update(workload.context())
    values = {
        "iter_s": statistics.median(walls),
        "setup_s": imports_s + session_s + warm_s,
        "mem_mb": heap_held_mb + non_heap_mb + python_mb,
    }
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END_UNITS.items()}
    if traced_run is not None:
        context["end_to_end"] = metrics
        metrics = traced_run.fold(
            per_layer_units(),
            workload.layer_extras()
            | {
                "session.start_s": session_s,
                "session.cpus": cpus,
                "session.shuffle_partitions": context["shuffle_partitions"],
                "jvm.heap_after_gc_peak_mb": heap_peak_mb,
                "failed_ratio": context["failed_ratio"],
                "trace.iter_s": values["iter_s"],
            },
            workload.maf_rows(),
        )
    result = {
        "correct": workload.failed == 0,
        "attempted": workload.attempted,
        "failed": workload.failed,
        "metrics": metrics,
    }
    return context, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in (PACKAGE_DIR, ENTRY) if not os.path.exists(p)]
    if missing:
        print(f"perfbench: program not found next to the benchmark: {missing}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        context, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
