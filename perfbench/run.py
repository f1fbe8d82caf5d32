"""Layered benchmark for blazingsql_spark.

Runs one workload closed-loop (one client thread, ops back to back, each
forced with the ``noop`` sink) on ``local[nproc]`` and prints, as the last
stdout line, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
records spans, Spark job groups and the event log, and reports the
per-layer metrics instead. Lines above the JSON give the run record, every
end-to-end figure with its unit, and any failures. See perfbench/README.md.

Usage:
    python3 perfbench/run.py --workload tpch_sql --seed 1 --seconds 25 --trace 0
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import math
import os
import random
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
FIXTURES = os.path.join(HERE, "fixtures")  # the project's seed-42 test tables, one dir per scale

SETUP_REPEATS = 3  # setup_s = session start + median of this many registrations
MIN_WARM = 1  # warm passes always run, even past --seconds (see --min-warm)
MAX_PASSES = 12
TAIL_BEYOND = 10  # op_tail_ratio: highest percentile with this many samples above it
DRIVER_MEMORY = "2g"  # pinned through get_spark's own SPARK_GRAFT_DRIVER_MEM setting

E2E_UNITS = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "op_geomean_cpu_s": "s",
    "jvm_peak_rss_mb": "MB",
}
# wall-time figures: printed as report lines, not in the JSON result (see README)
WALL_UNITS = {
    "first_pass_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "context.create_table_s": "s",
    "context.create_table_jobs": "count",
    "context.sql_s": "s",
    "context.plan_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.input_records": "count",
    "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.gc_s": "s",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.scheduler_delay_s": "s",
    "exec.task_skew": "ratio",
    "exec.result_bytes": "bytes",
    "udf.python_run_s": "s",
    "udf.python_boot_s": "s",
    "udf.python_bytes_sent": "bytes",
    "udf.python_rows_received": "count",
    "similarity.build_s.hnsw_ivf": "s",
    "similarity.build_jobs.hnsw_ivf": "count",
    "similarity.probe_s.hnsw_ivf": "s",
    "similarity.probe_jobs.hnsw_ivf": "count",
    "similarity.recall_at_5.hnsw_ivf": "fraction",
    "streaming.epochs": "count",
    "streaming.batch_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "sources.stored_bytes": "bytes",
    "sources.stored_files": "count",
    "proc.driver_cpu_s": "s",
}
# event-log task counters summed over every job an op launched
_TASK_COUNTERS = (
    "input_records", "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "gc_s", "executor_run_s", "executor_cpu_s", "scheduler_delay_s",
    "result_bytes",
)


def _prepare_environment() -> None:
    """Keep every file the run writes inside the checkout, and make the
    package importable by Spark's Python workers."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # a fixed heap, so peak memory does not follow the JVM's sizing of the host
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # the short-lived JVM spark-submit runs first to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


def _proc_stats() -> dict[int, tuple[int, str, float]]:
    """pid -> (parent pid, command name, CPU seconds of the process and its
    reaped children) for every process in /proc."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2 :].split()
        # utime, stime, cutime, cstime
        out[int(d)] = (int(fields[1]), comm, sum(int(x) for x in fields[11:15]) / tick)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it
    (the driver JVM, Spark's Python daemon and its workers). A child that
    exits is counted in its parent's reaped-children time, so the sum only
    grows."""
    me, procs = os.getpid(), _proc_stats()
    total = 0.0
    for pid, (_, _, cpu) in procs.items():
        q = pid
        while q > 1 and q != me:
            q = procs.get(q, (0,))[0]
        if q == me:
            total += cpu
    return total


def host_jiffies() -> list[int]:
    """The host-wide CPU time counters of /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _java_children() -> list[int]:
    """PIDs of JVMs this process started (the Spark driver)."""
    me = os.getpid()
    return [pid for pid, (ppid, comm, _) in _proc_stats().items() if ppid == me and comm == "java"]


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _reap(pid: int, timeout: float = 30.0) -> None:
    """Terminate one child process and wait until it has exited."""
    try:
        os.kill(pid, signal.SIGTERM)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            done, _ = os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            return
        if done:
            return
        time.sleep(0.1)
    os.kill(pid, signal.SIGKILL)
    try:
        os.waitpid(pid, 0)
    except ChildProcessError:
        pass


def cpu_calibration_s(repeats: int = 3, iters: int = 300_000) -> float:
    """Median time of a fixed single-threaded loop: a host-speed probe for
    the run record (slow values mean the host, not the code, was slow)."""
    samples = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        x = 0
        for i in range(iters):
            x = (x * 1103515245 + 12345 + i) & 0xFFFFFFFF
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def _tree_rev() -> dict:
    """Identify the measured tree: the git commit when there is one, and a
    digest of the package sources either way."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "blazingsql_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    rev = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            rev = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            rev = None
    return {"git_rev": rev, "source_sha256": h.hexdigest()[:16]}


def tail_ratio(latencies: dict[int, dict[str, float]], warm: list[int]) -> tuple[float, float, int]:
    """(ratio, percentile, samples): every warm execution's latency over its
    op's median warm latency; the highest percentile of those ratios with
    TAIL_BEYOND samples above it (the maximum when there are fewer)."""
    ops = {op for p in warm for op in latencies[p]}
    ratios = []
    for op in ops:
        xs = [latencies[p][op] for p in warm if op in latencies[p]]
        med = statistics.median(xs)
        ratios += [x / med for x in xs if med > 0]
    ratios.sort()
    n = len(ratios)
    idx = max(0, n - 1 - TAIL_BEYOND)
    return ratios[idx], 100.0 * (idx + 1) / n, n


class Bench:
    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        self.workload = WORKLOADS[args.workload]
        self.state: dict = {}  # the workload's per-run state
        self.pass_no = 0
        self.last_pass: int | None = None
        self.latencies: dict[int, dict[str, float]] = {}
        self.op_cpu: dict[int, dict[str, float]] = {}
        self.pass_wall: dict[int, float] = {}
        self.pass_cpu: dict[int, float] = {}
        self.layers: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.failures: list[str] = []
        self.attempted = 0
        self.stream_groups: dict[str, tuple[str, str]] = {}
        self.tables: dict = {}
        self.run_dir = os.path.join(WORK, f"run-{args.workload}")

    # ---- helpers used by workloads
    def scratch(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def isolate(self) -> None:
        """Drop cached frames and the driver's dead references between
        units (public APIs only)."""
        with self.tracer.span("bench.isolate"):
            self.spark.catalog.clearCache()
            gc.collect()

    def layer_sample(self, name: str, value: float) -> None:
        self.layers[self.pass_no][name] += value

    def record_stream(self, q) -> None:
        """Fold a finished streaming query's progress reports into the
        current pass's streaming.* counters."""
        if self.tracer.on:
            self.stream_groups[str(q.runId)] = (self.tracer.trace_id, "stream")
        for prog in q.recentProgress:
            if not prog.get("numInputRows"):
                continue
            d = prog.get("durationMs", {})
            self.layer_sample("streaming.epochs", 1)
            self.layer_sample("streaming.batch_s", d.get("triggerExecution", 0) / 1e3)
            self.layer_sample("streaming.add_batch_s", d.get("addBatch", 0) / 1e3)
            self.layer_sample("streaming.wal_commit_s", d.get("walCommit", 0) / 1e3)

    def warm_passes(self) -> list[int]:
        return sorted(p for p in self.latencies if p > 0)

    def fail(self, what: str, exc: BaseException) -> None:
        first_line = (str(exc).strip().splitlines() or [""])[0][:300]
        msg = f"{what}: {type(exc).__name__}: {first_line}"
        self.failures.append(msg)
        print(f"# FAILED {msg}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    # ---- phases
    def start_session(self) -> None:
        from blazingsql_spark.session import get_spark
        from spans import Tracer

        self.tracer = Tracer(on=bool(self.args.trace))
        nproc = os.cpu_count() or 1
        self.master = f"local[{nproc}]"
        tmp = os.path.join(WORK, "tmp")
        conf = {
            # Spark puts these before get_spark's own extraJavaOptions: the
            # benchmark adds flags and replaces none of the package's
            "spark.driver.defaultJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
            "spark.local.dir": os.path.join(tmp, "spark"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            self.event_dir = os.path.join(WORK, "eventlog", f"{self.args.workload}-{self.seed}")
            shutil.rmtree(self.event_dir, ignore_errors=True)
            os.makedirs(self.event_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(app_name="perfbench", master=self.master, extra_conf=conf)
        self.session_s = time.perf_counter() - t0
        self.tracer.spark = self.spark
        jvms = _java_children()
        if len(jvms) != 1:
            raise RuntimeError(f"expected one driver JVM child, found {jvms}")
        self.jvm_pid = jvms[0]

    def setup(self) -> None:
        import duckdb

        from blazingsql_spark.context import Context
        from blazingsql_spark.queries.registry import TABLES, all_queries
        from tests.conftest import compare_frames

        self.compare_frames = compare_frames
        self.queries = all_queries()
        self.ctx = Context(spark=self.spark)
        self.duck = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        times = []
        for r in range(SETUP_REPEATS):
            self.tracer.trace_id = f"setup{r}"
            t0 = time.perf_counter()
            for t in self.workload.tables:
                with self.tracer.span("context.create_table", "create_table"):
                    self.tables[t] = self.ctx.create_table(
                        t, os.path.join(self.data_dir, f"{t}.parquet")
                    )
            if self.workload.prepare:
                self.workload.prepare(self)
            times.append(time.perf_counter() - t0)
        self.setup_s = self.session_s + statistics.median(times)

    def run_pass(self, p: int) -> None:
        self.pass_no = self.tracer.pass_no = p
        units = self.workload.units(self)
        random.Random(f"{self.seed}:{p}").shuffle(units)
        lat: dict[str, float] = {}
        cpu: dict[str, float] = {}
        self.latencies[p], self.op_cpu[p] = lat, cpu
        untimed = untimed_cpu = 0.0
        cpu0, t_pass, tree0 = _cpu_s(), time.perf_counter(), tree_cpu_s()
        for u in units:
            for name, fn in u.ops:
                self.tracer.trace_id = f"p{p}:{name}"
                self.attempted += 1
                c0, t0 = tree_cpu_s(), time.perf_counter()
                try:
                    with self.tracer.span("op"):
                        fn(self.tracer)
                except Exception as e:  # counted in failed, the pass goes on
                    self.fail(f"p{p}:{name}", e)
                lat[name] = time.perf_counter() - t0
                cpu[name] = tree_cpu_s() - c0
            self.tracer.trace_id = None
            if u.after:
                c0, t0 = tree_cpu_s(), time.perf_counter()
                try:
                    u.after(p)
                except Exception as e:
                    self.fail(f"p{p}:{u.name}:record", e)
                untimed += time.perf_counter() - t0
                untimed_cpu += tree_cpu_s() - c0
            if u.cleanup:
                u.cleanup()
        self.pass_wall[p] = time.perf_counter() - t_pass - untimed
        self.pass_cpu[p] = tree_cpu_s() - tree0 - untimed_cpu
        self.layers[p]["proc.driver_cpu_s"] += _cpu_s() - cpu0

    def cold_pass(self) -> None:
        self.jiffies0 = host_jiffies()
        self.run_pass(0)

    def warm_window(self) -> None:
        """Warm passes until the passes run so far (cold pass included)
        have measured --seconds, never fewer than --min-warm."""
        p = 1
        while True:
            measured = sum(self.pass_wall.values())
            prev = self.pass_wall[p - 1]
            if p == MAX_PASSES - 1 or (p >= self.args.min_warm and measured + prev >= self.args.seconds):
                self.last_pass = p
            self.run_pass(p)
            if p == self.last_pass:
                break
            p += 1
        self.jvm_peak_rss_mb = _vm_hwm_mb(self.jvm_pid)
        d = [b - a for a, b in zip(self.jiffies0, host_jiffies())]
        self.steal_share = d[7] / max(1, sum(d))

    def check(self, of_passes: bool) -> None:
        """Run the correctness checks one after another, outside every
        timed region: those that read nothing the passes record (the
        oracle comparisons) between the cold pass and the warm ones, where
        they also warm the JIT further; the rest after the last pass."""
        checks = [c for c in self.workload.checks(self) if c.of_passes == of_passes]
        self.attempted += len(checks)
        for c in checks:
            try:
                c.fn()
            except Exception as e:
                self.fail(c.name, e)

    def record(self) -> dict:
        import pyspark

        sc = self.spark.sparkContext
        java = self.spark.sql(
            "SELECT java_method('java.lang.System', 'getProperty', 'java.version') AS v"
        ).collect()[0]["v"]
        return {
            "workload": self.args.workload,
            "seed": self.seed,
            "sf": self.args.sf,
            "seconds": self.args.seconds,
            "min_warm": self.args.min_warm,
            "trace": self.args.trace,
            "nproc": os.cpu_count(),
            "master": self.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "driver_java_options": " ".join(
                sc.getConf().get(k, "")
                for k in ("spark.driver.defaultJavaOptions", "spark.driver.extraJavaOptions")
            ),
            "pyspark": pyspark.__version__,
            "java": java,
            **_tree_rev(),
            "passes": len(self.latencies),
            "loadavg_before": self.load_before,
            "cpu_calibration_before_s": self.cal_before,
            "window_steal_share": self.steal_share,
        }

    def stop(self) -> None:
        spark, self.spark = getattr(self, "spark", None), None
        if spark is not None:
            spark.stop()
        for pid in _java_children():
            _reap(pid)

    # ---- results
    def end_to_end(self) -> dict[str, float]:
        warm = self.warm_passes()

        def geomean_of_op_medians(per_pass, floor=0.0):
            meds = [statistics.median(per_pass[p][op] for p in warm) for op in per_pass[warm[0]]]
            return math.exp(statistics.fmean(math.log(max(v, floor)) for v in meds))

        self.tail = tail_ratio(self.latencies, warm)
        return {
            "setup_s": self.setup_s,
            "pass_cpu_s": statistics.median(self.pass_cpu[p] for p in warm),
            # an op below one clock tick of CPU counts as one tick
            "op_geomean_cpu_s": geomean_of_op_medians(self.op_cpu, 1 / os.sysconf("SC_CLK_TCK")),
            "jvm_peak_rss_mb": self.jvm_peak_rss_mb,
            "first_pass_s": self.pass_wall[0],
            "pass_s": statistics.median(self.pass_wall[p] for p in warm),
            "op_geomean_s": geomean_of_op_medians(self.latencies),
        }

    def per_layer(self) -> dict[str, float]:
        from spans import job_counters, read_event_log

        tr = self.tracer
        spans_by_group = [s for s in tr.spans if s.group]

        def attribute(group, submit_ms):
            if group and "|" in group:
                return tuple(group.rsplit("|", 1))
            if group in self.stream_groups:
                return self.stream_groups[group]
            inside = [
                s for s in spans_by_group
                if tr.wall_ms(s.start) <= submit_ms <= tr.wall_ms(s.end)
            ]
            if inside:
                s = max(inside, key=lambda s: s.start)
                return tuple(s.group.rsplit("|", 1))
            return None

        counters = job_counters(read_event_log(self.event_dir), attribute)
        warm = self.warm_passes()
        per_pass: dict[int, dict[str, float]] = {}
        for p in warm:
            m = defaultdict(float, self.layers[p])
            prefix = f"p{p}:"
            for s in tr.spans:
                if s.pass_no != p:
                    continue
                if s.name in ("context.sql", "context.plan", "queries.construct"):
                    m[f"{s.name}_s"] += s.duration
                elif s.name == "exec":
                    m["exec.s"] += s.duration
                elif s.name.startswith("similarity.build."):
                    m[f"similarity.build_s.{s.name.rsplit('.', 1)[1]}"] += s.duration
                elif s.name.startswith("similarity.probe."):
                    m[f"similarity.probe_s.{s.name.rsplit('.', 1)[1]}"] += s.duration
            skew = 0.0
            for (tid, phase), c in counters.items():
                if not tid.startswith(prefix):
                    continue
                op = tid[len(prefix):]
                jobs = c.get("jobs", 0)
                if phase == "exec":
                    m["exec.jobs"] += jobs
                    m["exec.stages"] += c.get("stages", 0)
                    m["exec.tasks"] += c.get("tasks", 0)
                elif phase == "construct":
                    m["queries.construct_jobs"] += jobs
                elif phase == "build":
                    m[f"similarity.build_jobs.{op.split(':')[1]}"] += jobs
                if op.startswith("probe:"):
                    m[f"similarity.probe_jobs.{op.split(':')[1]}"] += jobs
                for k in _TASK_COUNTERS:
                    m[f"exec.{k}"] += c.get(k, 0.0)
                for k in ("python_run_s", "python_boot_s", "python_bytes_sent", "python_rows_received"):
                    m[f"udf.{k}"] += c.get(k, 0.0)
                skew = max(skew, c.get("task_skew", 0.0))
            m["exec.task_skew"] = skew
            per_pass[p] = {k: m.get(k, 0.0) for k in LAYER_UNITS}
        out = {k: statistics.median(per_pass[p][k] for p in warm) for k in LAYER_UNITS}
        out["session.start_s"] = self.session_s
        setup_spans = defaultdict(float)
        for s in tr.spans:
            if s.name == "context.create_table":
                setup_spans[s.trace_id] += s.duration
        out["context.create_table_s"] = statistics.median(setup_spans.values())
        out["context.create_table_jobs"] = statistics.median(
            counters.get((f"setup{r}", "create_table"), {}).get("jobs", 0)
            for r in range(SETUP_REPEATS)
        )
        out["similarity.recall_at_5.hnsw_ivf"] = self.state.get("recall", 0.0)
        self.per_pass_layers = per_pass
        return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="blazingsql_spark layered benchmark")
    ap.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--min-warm", type=int, default=MIN_WARM, help="warm passes run at least")
    ap.add_argument(
        "--sf", default="0.01", choices=("0.01", "0.001"),
        help="fixture scale factor (0.001 is for the self-tests)",
    )
    args = ap.parse_args(argv)

    if not (
        os.path.isfile(os.path.join(ROOT, "blazingsql_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "tests", "conftest.py"))
    ):
        print(
            "perfbench: the blazingsql_spark sources are not next to perfbench/; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    _prepare_environment()

    b = Bench(args)
    b.data_dir = os.path.join(FIXTURES, f"sf{args.sf}")
    shutil.rmtree(b.run_dir, ignore_errors=True)
    os.makedirs(b.run_dir)
    b.load_before = list(os.getloadavg())
    b.cal_before = cpu_calibration_s()
    phases = {}
    try:
        for name, step in (
            ("session", b.start_session), ("setup", b.setup), ("cold", b.cold_pass),
            ("oracle_checks", lambda: b.check(False)), ("warm", b.warm_window),
            ("pass_checks", lambda: b.check(True)),
        ):
            t0 = time.perf_counter()
            step()
            phases[name] = time.perf_counter() - t0
        record = b.record()
        t0 = time.perf_counter()
        b.stop()
        phases["stop"] = time.perf_counter() - t0
        record["loadavg_after"] = list(os.getloadavg())
        record["cpu_calibration_after_s"] = cpu_calibration_s()
        record["phase_wall_s"] = phases
        metrics = b.end_to_end()
        layer = b.per_layer() if args.trace else None
    finally:
        b.stop()
        shutil.rmtree(b.run_dir, ignore_errors=True)

    failed = len(b.failures)
    extra = {"failed_ops": (failed / b.attempted, "fraction")}
    if b.workload.report:
        extra.update(b.workload.report(b))
    print(f"# record {json.dumps(record, sort_keys=True)}")
    for k, v in metrics.items():
        print(f"# e2e {k} = {v:.6g} {E2E_UNITS.get(k) or WALL_UNITS[k]}")
    for k, (v, unit) in extra.items():
        print(f"# e2e {k} = {v:.6g} {unit}")
    ratio, pct, n = b.tail
    if len(b.warm_passes()) < 3:
        # with one or two samples per op every ratio is 1 or mirrors another
        print("# e2e op_tail_ratio = n/a ratio (needs three warm passes: --min-warm 3)")
    elif pct > 50:
        print(f"# e2e op_tail_ratio = {ratio:.6g} ratio (p{pct:.1f} over {n} warm executions)")
    else:
        print(
            f"# e2e op_tail_ratio = n/a ratio ({n} warm executions leave no percentile above "
            f"the median with {TAIL_BEYOND} samples beyond it; run longer)"
        )
    for f in b.failures:
        print(f"# failed {f}")

    summary = {
        "record": record,
        "end_to_end": metrics,
        "workload_figures": {k: v for k, (v, _) in extra.items()},
        "latencies": b.latencies,
        "op_cpu": b.op_cpu,
        "pass_wall": b.pass_wall,
        "pass_cpu": b.pass_cpu,
        "failures": b.failures,
    }
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}"
    if args.trace:
        untraced = os.path.join(runs, f"{stem}-trace0.json")
        overhead = None
        if os.path.isfile(untraced):
            with open(untraced) as f:
                overhead = metrics["pass_s"] - json.load(f)["end_to_end"]["pass_s"]
        print(
            "# tracing overhead (traced pass_s - untraced pass_s) = "
            + (f"{overhead:.4f} s" if overhead is not None else "n/a: run --trace 0 with this seed first")
        )
        self_times = b.tracer.self_times()
        for name, v in sorted(self_times.items(), key=lambda kv: -kv[1]):
            print(f"# self_time {name} = {v:.4f} s")
        trace_path = os.path.join(WORK, "trace", f"{stem}.json")
        b.tracer.dump(
            trace_path,
            {
                "wall_s": b.tracer.now(),
                "per_pass_layers": b.per_pass_layers,
                "tracing_overhead_s": overhead,
                "record": record,
            },
        )
        print(f"# spans written to {os.path.relpath(trace_path, ROOT)}")
        summary["per_layer"] = layer
        out = {k: {"value": layer[k], "unit": LAYER_UNITS[k]} for k in LAYER_UNITS}
    else:
        out = {k: {"value": metrics[k], "unit": E2E_UNITS[k]} for k in E2E_UNITS}
    with open(os.path.join(runs, f"{stem}-trace{args.trace}.json"), "w") as f:
        json.dump(summary, f, indent=1, default=str)
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": b.attempted, "failed": failed, "metrics": out}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
