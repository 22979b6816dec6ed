"""Run one workload in this process: hermetic Spark session, set-up, one
untimed warm-up cycle, a closed-loop timed window, output checks, and (in a
traced run) event-log, span and kernel metrics.

Everything the run writes goes under ``<checkout>/.perfbench_run/``.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

from procmon import ProcTree, host_steal_seconds, wait_for_exit

MIN_OPS = 11  # trace.op_tail_s needs at least 10 samples beyond it
CPUS = 2  # CPUs a run is confined to; see pin_cpus
HEAP = "2g"  # driver heap: local mode runs every task in the driver JVM
END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "op_p50_s": "s",
    "cpu_s_per_mrow": "s",
    "peak_rss_mb": "MB",
}
SPAN_LAYERS = ("bench", "compiler", "variant", "generic", "manifest", "audio", "entry",
               "spark.plan", "spark.exec")


def pin_cpus(n: int) -> int:
    """Confine this process, and so the JVM and the Python workers it starts
    later, to the last ``n`` CPUs it may run on; return how many it got.

    On a shared virtual machine a thread woken on an idle virtual CPU waits
    until the host runs that CPU again, and an operation's driver side is a
    long chain of such wake-ups (Py4J calls, scheduler and task threads).
    Spread over every CPU of a four-CPU guest, run-to-run latency followed
    the host's load far more than the CPU time it took (its steal); on two
    CPUs it followed it less, at about a fifth less throughput. README.md
    (Steadiness) has the figures."""
    cpus = sorted(os.sched_getaffinity(0))[-n:]
    os.sched_setaffinity(0, cpus)
    return len(cpus)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


@dataclass
class OpResult:
    name: str
    gid: str
    seconds: float
    rows: int
    ok: bool


@dataclass
class Span:
    layer: str
    name: str
    parent: int
    t0: float
    t1: float = 0.0
    op: str = ""


@dataclass
class Bench:
    workload: str
    seed: int
    seconds: int
    trace: bool
    checkout: str
    run_dir: str = ""
    spark: object = None
    tree: ProcTree = None
    spans: list = field(default_factory=list)
    _stack: list = field(default_factory=list)
    op_gid: str = ""
    warming: bool = False
    attempted: int = 0
    failed: int = 0
    op_extra: dict = field(default_factory=dict)
    _count_lock: threading.Lock = field(default_factory=threading.Lock)

    # -- session -------------------------------------------------------------
    def start_session(self, cores: int):
        """Build the session through ``build_session`` with every scratch
        directory inside the run directory; event log only when tracing."""
        for sub in ("tmp", "local", "warehouse", "eventlog", "in"):
            os.makedirs(os.path.join(self.run_dir, sub), exist_ok=True)
        tmp = os.path.join(self.run_dir, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        tempfile.tempdir = None
        from jsschema_spark.session import build_session

        # a fixed, pre-touched heap keeps the resident set from depending on
        # when the collector decides to grow the heap
        java_opts = (f"-XX:+UseParallelGC -XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch "
                     f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        conf = {
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.executor.extraJavaOptions": java_opts,
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.maxMetadataStringLength": "1000",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = build_session(
            app_name=f"perfbench-{self.workload}", master=f"local[{cores}]",
            shuffle_partitions=2 * cores, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        """Stop Spark, shut the JVM down and wait for every child process."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        killed = wait_for_exit(self.tree)
        if killed:
            log(f"killed leftover processes: {killed}")

    # -- tagging and spans ----------------------------------------------------
    def set_group(self, gid: str) -> None:
        self.spark.sparkContext.setJobGroup(gid, gid)

    @contextmanager
    def span(self, layer: str, name: str = ""):
        if not self.trace or self.warming:
            yield
            return
        s = Span(layer, name or layer, self._stack[-1] if self._stack else -1,
                 time.perf_counter(), op=self.op_gid)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()

    def run_df(self, df) -> list:
        """Plan ``df`` (timed from outside as ``spark.plan``), then collect
        it on the same QueryExecution, so execution does not plan again."""
        with self.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        with self.span("spark.exec"):
            return df.collect()

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """Record one untimed output check as an attempted operation."""
        with self._count_lock:
            self.attempted += 1
            self.failed += not ok
        if not ok:
            log(f"CHECK FAILED {name}: {detail}")
        return ok

    # -- the closed loop ------------------------------------------------------
    def run_op(self, gid: str, name: str, fn) -> OpResult:
        self.op_gid = gid
        self.set_group(gid)
        t0 = time.perf_counter()
        with self.span("bench", name):
            try:
                rows, ok = fn(gid)
            except Exception:  # an op that raises counts as failed; keep going
                log(f"op {gid} raised:\n{traceback.format_exc()}")
                rows, ok = 0, False
        dt = time.perf_counter() - t0
        self.check(gid, ok, "output check failed")
        return OpResult(name, gid, dt, rows, ok)

    def warm_up(self, cycle, threads: int) -> None:
        """Run one cycle untimed, ``threads`` ops at a time: it only has to
        compile and cache what the timed ops reuse. Spans are off meanwhile."""
        self.warming = True
        try:
            with ThreadPoolExecutor(max_workers=threads) as pool:
                futures = [pool.submit(self.run_op, f"w{i}:{name}", name, fn)
                           for i, (name, fn) in enumerate(cycle)]
                for f in futures:
                    f.result()
        finally:
            self.warming = False

    def closed_loop(self, cycle, prefix: str, seconds: float, min_ops: int) -> list[OpResult]:
        """One client: each op starts when the previous one completes. Runs
        whole cycles until ``seconds`` have passed and ``min_ops`` are done."""
        out: list[OpResult] = []
        t_start = time.perf_counter()
        while True:
            i = len(out)
            name, fn = cycle[i % len(cycle)]
            out.append(self.run_op(f"{prefix}{i}:{name}", name, fn))
            if (len(out) % len(cycle) == 0 and len(out) >= min_ops
                    and time.perf_counter() - t_start >= seconds):
                return out


def tail(values: list[float]) -> float:
    """The highest order statistic with at least 10 samples beyond it."""
    s = sorted(values)
    return s[len(s) - 11]


def typical_latency(ops: list[OpResult]) -> float:
    """Geometric mean over operation kinds of each kind's median latency.

    A cycle mixes kinds whose latencies differ several-fold with two to
    five samples of each, so the median of the pooled latencies falls on
    whichever kind happens to sit in the middle and jumps between kinds
    from run to run; each kind's own median does not."""
    kinds: dict[str, list[float]] = {}
    for o in ops:
        kinds.setdefault(o.name, []).append(o.seconds)
    return math.exp(statistics.fmean(math.log(statistics.median(v)) for v in kinds.values()))


def self_times(spans: list[Span], ops: set[str]) -> dict[str, float]:
    """Total self time per layer over the spans of ``ops``."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent >= 0:
            child[s.parent] += s.t1 - s.t0
    out = {layer: 0.0 for layer in SPAN_LAYERS}
    for k, s in enumerate(spans):
        if s.op in ops:
            out[s.layer] = out.get(s.layer, 0.0) + (s.t1 - s.t0) - child[k]
    return out


def run_workload(wl, b: Bench) -> dict:
    """Set up, warm up, measure and check one workload; return the result
    object printed as the benchmark's last line."""
    cores = pin_cpus(CPUS)
    b.tree = ProcTree().start()
    try:
        t0 = time.perf_counter()
        b.start_session(cores)
        session_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        gen_times = wl.setup(b)
        # input generation runs several times; its median stands for one
        prep_s = time.perf_counter() - t1 - sum(gen_times) + statistics.median(gen_times)
        t1 = time.perf_counter()
        b.warm_up(wl.cycle(b), threads=cores)
        warm_s = time.perf_counter() - t1
        setup_s = session_s + prep_s + warm_s
        log(f"setup: session {session_s:.2f}s, generation {[round(g, 2) for g in gen_times]}s, warm-up {warm_s:.2f}s")

        cpu0, steal0 = b.tree.cpu_seconds(), host_steal_seconds()
        b.tree.reset_peak()
        t2 = time.perf_counter()
        ops = b.closed_loop(wl.cycle(b), "t", b.seconds, max(MIN_OPS, wl.min_ops))
        t3 = time.perf_counter()
        cpu1, steal = b.tree.cpu_seconds(), host_steal_seconds() - steal0
        peak = b.tree.peak_rss["total"]
        wl.final_checks(b)
        log(f"timed window {t3 - t2:.2f}s, final checks {time.perf_counter() - t3:.2f}s")

        durs = [o.seconds for o in ops]
        rows = sum(o.rows for o in ops)
        cpu = {c: cpu1[c] - cpu0[c] for c in cpu0}
        e2e = {
            "setup_s": setup_s,
            "rows_per_s": rows / sum(durs),
            "op_p50_s": typical_latency(ops),
            "cpu_s_per_mrow": sum(cpu.values()) / (rows / 1e6),
            "peak_rss_mb": peak / 2**20,
        }
        pct = 100.0 * (len(durs) - 10) / len(durs)
        by_name: dict = {}
        for o in ops:
            by_name.setdefault(o.name, []).append(o.seconds)
        log("median op seconds: " + ", ".join(f"{k} {statistics.median(v):.2f}" for k, v in by_name.items()))
        log(f"{wl.name}: {len(durs)} timed ops, {rows} rows, trace.op_tail_s is p{pct:.0f}; "
            f"cpu_s jvm={cpu['jvm']:.2f} pyworker={cpu['pyworker']:.2f} driver={cpu['driver']:.2f}; "
            f"host steal {steal:.2f} s")

        layers = None
        if b.trace:
            layers = trace_metrics(b, ops, cpu, steal, e2e)
            kernel = wl.kernel_metrics(b)
        b.stop_session()
        if b.trace:
            layers.update(wl.layer_metrics(b, ops, parse_groups(b)))
            layers.update(kernel)
            unknown = set(layers) - set(PER_LAYER_UNITS)
            if unknown:
                raise RuntimeError(f"unregistered per-layer metrics: {sorted(unknown)}")
            # a layer the workload leaves idle reports 0
            layers = {k: layers.get(k, 0.0) for k in PER_LAYER_UNITS}
            write_spans(b)
    finally:
        if b.spark is not None:  # an error left the session running
            b.stop_session()
        b.tree.stop()
    metrics = layers if b.trace else e2e
    return {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(v), "unit": unit_of(k)} for k, v in metrics.items()},
        "error_rate": b.failed / max(b.attempted, 1),
    }


# -- traced run ----------------------------------------------------------------

PER_LAYER_UNITS = {
    "schema.parse_s": "s",
    "compiler.compile_s": "s",
    "compiler.predicates": "count",
    "spark.plan_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.input_bytes": "B",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.task_skew": "ratio",
    "spark.gc_s": "s",
    "manifest.scan_passes": "count",
    "manifest.write_bytes_per_input_byte": "ratio",
    "manifest.resume_s": "s",
    "manifest.buckets_revalidated": "count",
    "variant.exec_cpu_s": "s",
    "generic.arrow_bytes_sent": "B",
    "generic.arrow_rows_returned": "count",
    "pyvalidate.us_per_doc": "us",
    "audio.decode_ms_per_clip": "ms",
    "audio.synth_ms_per_clip": "ms",
    "audio.snr_ms_per_clip": "ms",
    "audio.profile_ms_per_clip": "ms",
    "audio.fingerprint_ms_per_clip": "ms",
    "flac.encode_ms_per_clip": "ms",
    "flac.decode_ms_per_clip": "ms",
    "entry.plan_s": "s",
    "entry.jobs_per_query": "count",
    "proc.jvm_cpu_s": "s",
    "proc.pyworker_cpu_s": "s",
    "proc.driver_cpu_s": "s",
    "host.steal_s": "s",
    **{f"self.{layer}_s": "s" for layer in SPAN_LAYERS},
    "trace.rows_per_s": "1/s",
    "trace.op_tail_s": "s",
}


def unit_of(name: str) -> str:
    return END_TO_END.get(name) or PER_LAYER_UNITS[name]


def parse_groups(b: Bench):
    import eventlog

    return eventlog.parse(eventlog.find_log(os.path.join(b.run_dir, "eventlog")))


def trace_metrics(b: Bench, ops: list[OpResult], cpu: dict, steal: float, e2e: dict) -> dict:
    """Metrics known before the event log is read: spans and /proc."""
    n = len(ops)
    gids = {o.gid for o in ops}
    plan = sum(s.t1 - s.t0 for s in b.spans if s.layer == "spark.plan" and s.op in gids)
    out = {
        "trace.rows_per_s": e2e["rows_per_s"],
        "trace.op_tail_s": tail([o.seconds for o in ops]),
        "spark.plan_s": plan / n,
        "proc.jvm_cpu_s": cpu["jvm"] / n,
        "proc.pyworker_cpu_s": cpu["pyworker"] / n,
        "proc.driver_cpu_s": cpu["driver"] / n,
        "host.steal_s": steal / n,
    }
    for layer, v in self_times(b.spans, gids).items():
        out[f"self.{layer}_s"] = v / n
    return out


def spark_group_metrics(groups: dict, gids: list[str]) -> dict:
    """spark.* metrics per op over the job groups of ``gids`` (a group
    belongs to an op when its id is the op's id or starts with ``<id>/``)."""
    from eventlog import GroupStats

    picked = [g for k, g in groups.items() if k.split("/")[0] in set(gids)]
    total = GroupStats()
    skews = []
    for g in picked:
        for f in ("jobs", "tasks", "exec_cpu_s", "gc_s", "input_bytes", "shuffle_write_bytes",
                  "spill_bytes", "arrow_bytes_sent", "arrow_rows_returned"):
            setattr(total, f, getattr(total, f) + getattr(g, f))
        skews.extend(g.task_skews())
    n = max(len(gids), 1)
    return {
        "spark.jobs": total.jobs / n,
        "spark.tasks": total.tasks / n,
        "spark.exec_cpu_s": total.exec_cpu_s / n,
        "spark.gc_s": total.gc_s / n,
        "spark.input_bytes": total.input_bytes / n,
        "spark.shuffle_bytes": total.shuffle_write_bytes / n,
        "spark.spill_bytes": total.spill_bytes / n,
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
        "generic.arrow_bytes_sent": total.arrow_bytes_sent / n,
        "generic.arrow_rows_returned": total.arrow_rows_returned / n,
    }


def write_spans(b: Bench) -> None:
    out_dir = os.path.join(b.checkout, ".perfbench_run", "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{b.workload}-seed{b.seed}.jsonl")
    with open(path, "w", encoding="utf-8") as f:
        for k, s in enumerate(b.spans):
            f.write(json.dumps({"id": k, "parent": s.parent, "op": s.op, "layer": s.layer,
                                "name": s.name, "start": s.t0, "end": s.t1}) + "\n")
    log(f"spans written to {path}")


def clean_run_dir(b: Bench) -> None:
    shutil.rmtree(b.run_dir, ignore_errors=True)
