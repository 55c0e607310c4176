"""Shared machinery of the benchmark: the Spark session, the output
digest, process-tree memory, the environment record, spans with their
Spark event-log metrics, warm-up, and the closed loop.

Nothing here changes engine behaviour: layers are timed from outside,
around calls into the public functions of `sparkspatial/`.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# Pre-sized driver heap (-Xms == -Xmx), set through session.get_spark's
# SPARK_DRIVER_MEM / SPARK_GRAFT_XMS hooks. The engine's default
# spark.driver.memory=16g is larger than a 15 GB box without swap.
HEAP = "2g"

# Warm-up: a query shape is warm once two consecutive reps agree
# within this share of the faster one (at most WARM_MAX_REPS reps).
WARM_TOL = 0.3
WARM_MAX_REPS = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of the host's aggregate cpu line."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def membw_reading() -> float | None:
    """One tools/membw_probe.py reading (GB/s), taken in a child
    process so its 100 MB buffers never count in peak_rss_mb."""
    code = ("from tools.membw_probe import membw_gbps;"
            "print(round(membw_gbps(), 2))")
    try:
        out = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                             capture_output=True, text=True, timeout=60)
        return float(out.stdout.strip())
    except (subprocess.SubprocessError, ValueError):
        return None


# ------------------------------------------------------------ memory

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(d) as f:
                s = f.read()
        except OSError:
            continue
        # comm may hold spaces; fields after the closing paren are fixed
        rest = s[s.rfind(")") + 2:].split()
        kids.setdefault(int(rest[1]), []).append(int(d.split("/")[2]))
    return kids


def process_tree(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _vm_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeRss:
    """High-water RSS of the whole process tree: the driver, the Spark
    JVM and its Python workers. Every 0.2 s it sums VmRSS over the live
    processes of the tree and keeps the largest sum. Summing each
    process's own VmHWM instead would add up peaks of short-lived
    Python workers that never ran at the same time."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        kb = sum(_vm_rss_kb(p) for p in process_tree(os.getpid()))
        self.peak_kb = max(self.peak_kb, kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def start(self) -> "TreeRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Final sample, then the tree's peak in MB."""
        self._sample()
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


# ------------------------------------------------------------ digest

BUCKETS = 16


def digest(df, key: list[str] | None = None) -> tuple:
    """Row count plus sum(xxhash64(<all output columns>)): the output
    check of one operation, and the action that forces its lazy plan.

    With `key`, one (bucket, rows, hash) triple per hash bucket of the
    key columns, so a reference computed for one bucket's inputs can be
    compared with that bucket of the operation's own output."""
    from pyspark.sql import functions as F

    h = F.sum(F.xxhash64(*[F.col(c) for c in df.columns])
              .cast("decimal(38,0)"))
    if key is None:
        row = df.agg(F.count(F.lit(1)), h).first()
        return int(row[0]), int(row[1] or 0)
    b = F.pmod(F.xxhash64(*[F.col(c) for c in key]), F.lit(BUCKETS))
    rows = df.groupBy(b.alias("b")).agg(F.count(F.lit(1)), h).collect()
    return tuple(sorted((int(r[0]), int(r[1]), int(r[2] or 0))
                        for r in rows))


def bucket(digests: tuple, b: int = 0) -> tuple[int, int]:
    """(rows, hash) of one bucket of a keyed digest."""
    for bb, n, h in digests:
        if bb == b:
            return n, h
    return 0, 0


def in_bucket(df, key: list[str], b: int = 0):
    """Rows of df whose key falls in hash bucket b (same hash as digest)."""
    from pyspark.sql import functions as F

    return df.where(F.pmod(F.xxhash64(*[F.col(c) for c in key]),
                           F.lit(BUCKETS)) == b)


# ------------------------------------------------------------ tracing

@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: int
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory (name, start, end, parent, run id) and
    written out when the run ends. Each span sets a Spark job group, so
    the event log charges every task to the innermost open span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run_id = 0

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def _set_group(self) -> None:
        if self._stack:
            sid = self._stack[-1]
            self.sc.setJobGroup(f"pb{sid}", self.spans[sid].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str):
        """Yields the span's counts dict (empty and unused when tracing
        is off)."""
        if not self.enabled:
            yield {}
            return
        s = Span(len(self.spans), name,
                 self._stack[-1] if self._stack else None, self.run_id,
                 time.monotonic())
        self.spans.append(s)
        self._stack.append(s.id)
        self._set_group()
        try:
            yield s.counts
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            self._set_group()

    def self_time(self, s: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans
                      if c.parent == s.id)
        covered, lo, hi = 0.0, None, None
        for a, b in kids:
            if hi is None or a > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = a, b
            else:
                hi = max(hi, b)
        if hi is not None:
            covered += hi - lo
        return s.dur - covered

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def dump(self, path: Path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


@dataclass
class StageStats:
    task_s: list = field(default_factory=list)
    shuffle_read: int = 0


@dataclass
class GroupStats:
    """Spark's own task metrics charged to one span (job group)."""
    jobs: int = 0
    gc_s: float = 0.0
    spill_b: int = 0
    shuffle_write_b: int = 0
    failed_tasks: int = 0
    python_s: float = 0.0
    stages: dict = field(default_factory=dict)


def parse_event_log(log_dir: Path) -> dict[str, GroupStats]:
    """Job group -> GroupStats from an uncompressed Spark event log."""
    out: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files
    files = [p for p in log_dir.rglob("events_*") if p.is_file()]
    for path in sorted(files, key=lambda p: int(p.name.split("_")[1])):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    out.setdefault(g, GroupStats()).jobs += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    st = out[g]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    if info.get("Failed"):
                        st.failed_tasks += 1
                    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    st.spill_b += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    ss = st.stages.setdefault(ev["Stage ID"], StageStats())
                    ss.task_s.append(m.get("Executor Run Time", 0) / 1000.0)
                    ss.shuffle_read += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
                    for acc in info.get("Accumulables", ()):
                        if acc.get("Name") == "time to run Python workers":
                            # SQL timing metric, in milliseconds
                            st.python_s += float(acc.get("Update", 0)) / 1e3
    return out


# ------------------------------------------------------------ the run

def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return statistics.geometric_mean(xs) if xs else 0.0


@dataclass
class OpRecord:
    shape: str
    seconds: float
    items: int
    traced: bool
    out: object = None
    error: str | None = None


class Run:
    """One benchmark run: session, work dir, tracer, records, checks."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, sf_dir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sf_dir = sf_dir
        self.width = nproc()
        self.work = ROOT / ".perfbench_work" / f"{workload}-{os.getpid()}"
        self.records: list[OpRecord] = []
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}
        self.tracer = Tracer()
        self.spark = None

    @property
    def pages_dir(self) -> str:
        from .inputs import pages_dir
        return pages_dir(self.sf_dir)

    # -- session ----------------------------------------------------
    def start_spark(self):
        from sparkspatial.session import get_spark

        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(self.width),
            "SPARK_DRIVER_MEM": HEAP,
            "SPARK_GRAFT_XMS": HEAP,
            "PYTHONPATH": os.pathsep.join(
                [str(ROOT), os.environ.get("PYTHONPATH", "")]).rstrip(":"),
            "TMPDIR": str(tmp),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        })
        conf = {
            # one scan task per corpus file (bench.py's settings)
            "spark.sql.files.maxPartitionBytes": str(4 << 20),
            "spark.sql.files.openCostInBytes": str(64 << 10),
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            (self.work / "eventlog").mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.work / "eventlog"),
                # the default zstd codec needs a Python module that is
                # not installed
                "spark.eventLog.compress": "false",
            })
        t0 = time.monotonic()
        self.spark = get_spark(app=f"perfbench-{self.workload}",
                               master=f"local[{self.width}]",
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        self.layer["session.start_s"] = time.monotonic() - t0
        if self.trace:
            self.tracer = Tracer(self.spark.sparkContext)
        return self.spark

    def heap_mb(self) -> float:
        rt = self.spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        return rt.maxMemory() / 2 ** 20

    # -- timing -----------------------------------------------------
    def span(self, name: str, traced: bool = True):
        """A tracer span for traced operations; a no-op otherwise."""
        return self.tracer.span(name) if traced else nullcontext({})

    def timed(self, name: str, fn):
        """Run fn under a span; returns (seconds, result)."""
        with self.tracer.span(name):
            t0 = time.monotonic()
            r = fn()
            return time.monotonic() - t0, r

    def warm(self, shapes: dict) -> dict[str, list[float]]:
        """Rep each query shape until two consecutive reps agree (counted
        in setup_s, never in a timed metric). Returns each shape's rep
        times."""
        reps = {}
        for name, fn in shapes.items():
            times = reps[name] = []
            while len(times) < WARM_MAX_REPS:
                t0 = time.monotonic()
                fn()
                times.append(round(time.monotonic() - t0, 3))
                a, b = times[-2:] if len(times) > 1 else (0, 1)
                if abs(a - b) <= WARM_TOL * min(a, b):
                    break
        return reps

    def closed_loop(self, groups) -> float:
        """One driver thread issues the next group of operations only
        after the previous one finished, until --seconds have passed;
        a run measures whole groups.
        Each group is a list of (shape, items, fn(traced) -> output).
        With tracing on, every group runs twice back to back, traced and
        untraced, first one then the other in turn, so the traced run
        also yields the tracing overhead on identical work. Returns the
        loop's wall time."""
        t0 = time.monotonic()
        for i, group in enumerate(groups):
            if time.monotonic() - t0 >= self.seconds:
                break
            twins = ((False, True), (True, False))[i % 2]
            for traced in (twins if self.trace else (False,)):
                self.tracer.run_id += 1
                for shape, items, fn in group:
                    t = time.monotonic()
                    try:
                        out, err = fn(traced), None
                    except Exception as e:  # counted, reported, loop goes on
                        out, err = None, f"{type(e).__name__}: {e}"
                    self.records.append(OpRecord(
                        shape, time.monotonic() - t, items, traced, out, err))
        return time.monotonic() - t0

    # -- checks -----------------------------------------------------
    def ops(self, shape: str | None = None, traced: bool | None = False):
        return [r for r in self.records
                if (shape is None or r.shape == shape)
                and (traced is None or r.traced == traced)]

    def fail_op(self, rec: OpRecord, why: str) -> None:
        if rec.error is None:
            rec.error = why

    def verify_shapes(self, checks: dict) -> None:
        """checks: shape -> fn(output of its first rep) -> (got, want).
        Every rep of a shape runs on the same inputs, so every rep must
        return the same digest; then got must equal want, else every rep
        of the shape counts as failed."""
        for shape, fn in checks.items():
            recs = [r for r in self.ops(shape, traced=None) if r.error is None]
            if not recs:
                continue
            for r in recs[1:]:
                if r.out != recs[0].out:
                    self.fail_op(r, f"{shape}: {r.out} != first rep {recs[0].out}")
            got, want = fn(recs[0].out)
            if got != want:
                for r in recs:
                    self.fail_op(r, f"{shape}: {got} != reference {want}")

    # -- results ----------------------------------------------------
    def stop(self) -> None:
        """Stop Spark and its JVM, and wait until the JVM (and with it
        the Python workers it forked) has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def finish_trace(self, layers) -> None:
        """Stop Spark (which completes the event log), parse it, and
        fold spans and task metrics into per-layer metrics;
        layers(tracer, stats) adds the workload's own."""
        self.stop()
        stats = parse_event_log(self.work / "eventlog")
        # kept after the run's work dir is removed
        self.tracer.dump(self.work.parent
                         / f"spans-{self.workload}-seed{self.seed}.jsonl")
        n_ops = max(1, len(self.ops(traced=True)))
        allg = list(stats.values())
        self.layer["spark.gc_s"] = sum(g.gc_s for g in allg) / n_ops
        self.layer["spark.spill_mb"] = (sum(g.spill_b for g in allg)
                                        / 2 ** 20 / n_ops)
        self.layer["spark.failed_tasks"] = sum(g.failed_tasks for g in allg)
        layers(self.tracer, stats)

    def stats_of(self, stats: dict, name: str) -> list[GroupStats]:
        """Event-log stats of every span with this name."""
        return [stats[f"pb{s.id}"] for s in self.tracer.named(name)
                if f"pb{s.id}" in stats]

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            self.work.parent.rmdir()
        except OSError:
            pass
