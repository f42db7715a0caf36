"""Run one workload: seeded inputs, Spark session, warm-up, a timed
closed-loop window, correctness accounting, and the result line.

With ``trace`` on, the run times an untraced window first and then a traced
window of the same length in the same process; the per-layer metrics come
from the traced window and ``trace_overhead.*`` is traced minus untraced.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

from . import catalog, procs
from .spans import SparkLog, Tracer, self_time_by_layer


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


#: A cycle during which the host stole more than this share of the
#: machine's CPU time ran on a contended host (see ``Window.steady``).
STEAL_LIMIT = 0.02


@dataclass
class CycleResult:
    """One closed-loop cycle: per-operation latencies (ms), rows the cycle
    produced, and the seconds those rows took (the ``rows_per_s`` base).
    The window fills in the cycle's wall time and host steal share."""

    ops_ms: list[float] = field(default_factory=list)
    rows: int = 0
    busy_s: float = 0.0
    wall_s: float = 0.0
    steal_share: float = 0.0


@dataclass
class Window:
    start: float
    end: float = 0.0
    cycles: list[CycleResult] = field(default_factory=list)
    cpu_s: float = 0.0  # process-tree CPU time over the window
    steal_share: float = 0.0  # share of machine CPU time the host stole

    def steady(self) -> list[CycleResult]:
        """The cycles the end-to-end metrics use.  On a shared host, other
        tenants' load slows every operation for tens of seconds at a time
        (host CPU steal of 4-13% made micro-batches 20-70% slower), so
        cycles that ran while the host stole more than ``STEAL_LIMIT`` are
        left out; when that leaves fewer than half, the least-stolen half
        is used.  The selection looks only at the host's steal counter,
        never at the measured times."""
        calm = [c for c in self.cycles if c.steal_share <= STEAL_LIMIT]
        half = -(-len(self.cycles) // 2)
        if len(calm) >= half:
            return calm
        return sorted(self.cycles, key=lambda c: c.steal_share)[:half]

    def end_to_end(self) -> dict[str, float]:
        used = self.steady()
        ops = [ms for c in used for ms in c.ops_ms]
        busy = sum(c.busy_s for c in used)
        return {
            "op_latency_p50_ms": percentile(ops, 50),
            "op_latency_p90_ms": percentile(ops, 90),
            "rows_per_s": sum(c.rows for c in used) / busy if busy else 0.0,
            "cycle_s": statistics.median(c.wall_s for c in used),
        }


class Run:
    """State of one benchmark process.  Every path it writes is under the
    checkout root, in ``.perfbench_work`` (deleted at the end) and
    ``.perfbench_out`` (run records and trace files)."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int,
                 trace: bool, scale: str = "full", corrupt: str | None = None):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.scale = scale
        self.corrupt = corrupt
        # two task slots: the process tree (driver, JVM, two Python
        # workers) then keeps ~2.5 vCPUs of a 4-vCPU box busy, tasks still
        # run in parallel, and set-up starts fewer Python workers
        self.cpus = min(2, os.cpu_count() or 1)
        tag = f"{workload}-s{seed}-p{os.getpid()}"
        self.work = os.path.join(root, ".perfbench_work", tag)
        self.out_dir = os.path.join(root, ".perfbench_out")
        self.side_dir = os.path.join(self.work, "spans")
        self.event_dir = os.path.join(self.work, "eventlog")
        self.tracer = Tracer()
        self.traced = False  # True only inside the traced window
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.session_start_s = 0.0

    # -- correctness accounting ------------------------------------------
    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def check(self, cond: bool, what: str) -> None:
        if cond:
            self.ok()
        else:
            self.fail(what)

    # -- environment ------------------------------------------------------
    def prepare_dirs(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        for d in (self.work, self.side_dir, self.event_dir, self.out_dir,
                  os.path.join(self.work, "tmp")):
            os.makedirs(d, exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        # Python temp files (the package zip shipped to executors, the
        # gateway's connection file), worker processes and Spark's block
        # manager stay in the checkout
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        tempfile.tempdir = tmp
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    def start_session(self) -> None:
        from flink_big_query_connector_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.time()
        self.spark = get_spark(
            f"perfbench-{self.workload}", cpus=self.cpus, extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.time() - t0
        self.tracer.add("session.start", t0, t0 + self.session_start_s)

    def stop_session(self) -> None:
        """Stop Spark, then the gateway JVM and every process under it, and
        wait for all of them to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        tree = procs.descendants(os.getpid())
        try:
            self.spark.stop()
        finally:
            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits when stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
            left = procs.wait_gone(tree, 15.0)
            procs.kill_and_wait(left)
            self.spark = None

    # -- timing -----------------------------------------------------------
    def window(self, wl, traced: bool) -> Window:
        """Closed loop: run cycles until the next one would end past
        ``seconds`` (at least one cycle)."""
        self.traced = traced
        win = Window(start=time.time())
        steal0, ticks0 = procs.host_steal()
        cpu0 = procs.tree_cpu_seconds(os.getpid())
        t0 = time.perf_counter()
        while True:
            c0 = time.perf_counter()
            s0, k0 = procs.host_steal()
            with self.tracer.span("bench.cycle") as sid:
                res = wl.cycle(parent=sid if traced else None)
            s1, k1 = procs.host_steal()
            res.wall_s = time.perf_counter() - c0
            res.steal_share = (s1 - s0) / max(1, k1 - k0)
            win.cycles.append(res)
            elapsed = time.perf_counter() - t0
            if elapsed + statistics.median(c.wall_s for c in win.cycles) > self.seconds:
                break
        win.end = time.time()
        win.cpu_s = procs.tree_cpu_seconds(os.getpid()) - cpu0
        steal1, ticks1 = procs.host_steal()
        win.steal_share = (steal1 - steal0) / max(1, ticks1 - ticks0)
        self.traced = False
        return win


def _commit_hash(root: str) -> str:
    """HEAD of the checkout when it is a git work tree, else ``unknown``."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_path = os.path.join(git, ref)
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def run(root: str, workload: str, seed: int, seconds: int, trace: bool,
        scale: str = "full", corrupt: str | None = None) -> dict:
    from .workloads import WORKLOADS

    t_start = time.perf_counter()
    r = Run(root, workload, seed, seconds, trace, scale, corrupt)
    record = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": trace, "scale": scale, "nproc": os.cpu_count(),
        "task_slots": r.cpus, "commit": _commit_hash(root),
        "loadavg_before": os.getloadavg(),
    }
    r.prepare_dirs()
    try:
        return _measure(r, WORKLOADS[workload](r), record, t_start)
    finally:
        shutil.rmtree(r.work, ignore_errors=True)


def _measure(r: Run, wl, record: dict, t_start: float) -> dict:
    rss = procs.PeakRss(os.getpid()).start()
    windows: list[Window] = []
    try:
        wl.make_inputs()
        record["inputs_s"] = time.perf_counter() - t_start
        r.start_session()
        record["session_s"] = r.session_start_s
        t_prepare = time.perf_counter()
        wl.prepare()
        record["prepare_s"] = time.perf_counter() - t_prepare
        setup_s = time.perf_counter() - t_start
        windows.append(r.window(wl, traced=False))
        if r.trace:
            wl.begin_traced()
            windows.append(r.window(wl, traced=True))
        storage = wl.storage_stats()
    finally:
        try:
            r.stop_session()
        finally:
            rss.stop()
    e2e = {"setup_s": setup_s, "peak_rss_mb": rss.peak / 2**20,
           **windows[0].end_to_end()}
    if r.trace:
        r.tracer.merge_side_files(r.side_dir)
        metrics = per_layer(r, wl, windows, SparkLog.read(r.event_dir),
                            storage)
        r.tracer.write(os.path.join(
            r.out_dir, f"trace-{r.workload}-s{r.seed}-p{os.getpid()}.jsonl"
        ))
        units = {k: v[0] for k, v in catalog.PER_LAYER.items()}
    else:
        metrics = e2e
        units = {k: v[0] for k, v in catalog.END_TO_END.items()}
    record.update(
        loadavg_after=os.getloadavg(), end_to_end=e2e,
        attempted=r.attempted, failed=r.failed, failures=r.failures,
        cycles=len(windows[0].cycles),
        cycles_used=len(windows[0].steady()),
        cycle_steal=[round(c.steal_share, 4) for c in windows[0].cycles],
        window_s=windows[0].end - windows[0].start,
        window_cpu_s=windows[0].cpu_s,
        window_steal_share=windows[0].steal_share,
    )
    with open(os.path.join(r.out_dir, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print("perfbench: " + json.dumps(record), file=sys.stderr)
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {
            k: {"value": metrics[k], "unit": units[k]} for k in units
        },
    }


def per_layer(r: Run, wl, windows: list[Window], log: SparkLog,
              storage: dict) -> dict[str, float]:
    """Every per-layer metric from the traced window; layers the workload
    does not drive report 0."""
    win = windows[-1]
    spans = [s for s in r.tracer.spans if win.start <= s.start <= win.end]
    m = {name: 0.0 for name in catalog.PER_LAYER}
    m["failed_op_ratio"] = r.failed / max(1, r.attempted)
    m["session.start_s"] = r.session_start_s
    m.update(storage)
    totals = log.window([(win.start, win.end)])
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "task_wait_s", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes"):
        m[f"spark.{k}"] = totals[k]
    m.update(wl.layer_metrics(spans, log))
    n_cycles = max(1, len(win.cycles))
    for layer, secs in self_time_by_layer(spans).items():
        key = f"self.{layer}_s"
        if key in m:
            m[key] = secs / n_cycles
    untraced = windows[0].end_to_end()
    for k, v in win.end_to_end().items():
        m[f"trace_overhead.{k}"] = v - untraced[k]
    return m
