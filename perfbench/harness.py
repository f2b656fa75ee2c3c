"""Shared pieces of the benchmark: the closed-loop timer with its
yardstick pairing, process-tree CPU time, percentile helpers, the
process-tree RSS sampler, the Spark session fitted to the host, and the
Spark event-log reader used by traced runs.

Nothing here imports the package under test; workload modules do.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import sys
import threading
import time
import traceback


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds, user + system, of this process and every process below
    it (Spark's JVM and its Python workers), reaped children included.
    With paravirtual time accounting, time the hypervisor steals is not
    CPU time, so unlike wall time this does not grow when the host is
    busy."""
    t = os.times()
    ticks = 0
    for p in _tree_pids(os.getpid())[1:]:
        try:
            with open(f"/proc/{p}/stat") as f:
                s = f.read()
        except OSError:
            continue
        ticks += sum(map(int, s[s.rindex(")") + 2:].split()[11:15]))
    return (time.process_time() + t.children_user + t.children_system
            + ticks / _TICK)


def host_steal_s() -> float:
    """Seconds the hypervisor has stolen from the CPUs this runs on, summed
    over CPUs, since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class Tally:
    """Attempted / failed op counts. A failure is an exception or a result
    that differs from the oracle; both are logged, never swallowed."""

    def __init__(self, cpu_clock):
        self.cpu_clock = cpu_clock
        self.attempted = 0
        self.failed = 0

    def _timed(self, fn):
        c0, t0 = self.cpu_clock(), time.perf_counter()
        res = fn()
        return res, time.perf_counter() - t0, self.cpu_clock() - c0

    def run(self, name: str, fn, check, yard=None, yard_first=False):
        """Run fn() (timed), then check(result) (untimed). With a
        yardstick, yard() is timed just before or just after fn().
        Returns {"ok", "wall", "cpu"[, "yard_cpu"]} in seconds."""
        self.attempted += 1
        out = {"ok": False}
        if yard is not None and yard_first:
            out["yard_cpu"] = self._timed(yard)[2]
        try:
            res, out["wall"], out["cpu"] = self._timed(fn)
        except Exception:
            self.failed += 1
            log(f"FAIL {name}: exception\n{traceback.format_exc()}")
            return out
        if yard is not None and not yard_first:
            out["yard_cpu"] = self._timed(yard)[2]
        try:
            why = check(res)
        except Exception:
            why = "check raised\n" + traceback.format_exc()
        if why:
            self.failed += 1
            log(f"FAIL {name}: {why}")
            return out
        out["ok"] = True
        return out


def closed_loop(seconds: float, ops, tally: Tally, round_len: int,
                min_rounds: int, cutoff: float, paired: bool = True) -> dict:
    """One client, closed loop: issue the next op only after the previous
    one returned, until `seconds` have elapsed, at least `min_rounds`
    rounds of the workload's op mix are done (fewer, but one at least, if
    time.perf_counter() passes `cutoff`) and the round in flight is
    complete. `ops` yields (kind, name, fn, check, yard) and is left at a
    round boundary. When `paired`, each op is timed next to its
    yardstick, which goes first on every other op. Returns {kind:
    {"wall": [...], "cpu": [...], "yard_cpu": [...]}} over the successful
    ops."""
    out: dict[str, dict[str, list[float]]] = {}
    deadline = time.perf_counter() + seconds
    i = 0
    while (i % round_len or i == 0 or time.perf_counter() < deadline
           or (i < min_rounds * round_len
               and time.perf_counter() < cutoff)):
        kind, name, fn, check, yard = next(ops)
        r = tally.run(name, fn, check, yard if paired else None, i % 2 == 1)
        if r["ok"]:
            k = out.setdefault(kind, {"wall": [], "cpu": [], "yard_cpu": []})
            for key in k:
                if key in r:
                    k[key].append(r[key])
        i += 1
    return out


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                s = f.read()
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        ppid = int(s[s.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Summed RSS, sampled from /proc, of this process's tree split in
    two: Python (this process and Spark's Python workers), every sample
    kept, and the JVM, its peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.py_kb: list[int] = []
        self.peak_jvm_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        py = jvm = 0
        for p in _tree_pids(os.getpid()):
            try:
                with open(f"/proc/{p}/comm") as f:
                    is_jvm = f.read().strip() == "java"
            except OSError:
                continue
            kb = _rss_kb(p)
            if is_jvm:
                jvm += kb
            else:
                py += kb
        self.py_kb.append(py)
        self.peak_jvm_kb = max(self.peak_jvm_kb, jvm)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


# -- Spark ----------------------------------------------------------------

def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """A quarter of host RAM, clamped to [1 GiB, 8 GiB]."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    return max(1024, min(8192, total_kb // 4096))


def spark_config(work: str) -> dict:
    """Session settings fitted to the host. Engine-tuning settings (Arrow
    batch size, shuffle partitions, AQE) are deliberately left at the
    program's and Spark's defaults, and so is the session time zone."""
    return {
        "spark.master": f"local[{min(host_cores(), 4)}]",
        "spark.app.name": "colcodec-perfbench",
        "spark.driver.memory": f"{driver_heap_mb()}m",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.log.level": "ERROR",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
    }


def start_spark(conf: dict):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return False
    return s[s.rindex(")") + 2] != "Z"


def stop_jvm(timeout: float = 30.0) -> None:
    """Shut down the gateway JVM that pyspark launched and wait until it
    and every process it started (Python workers) have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    pids = _tree_pids(os.getpid())[1:]
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            os.kill(p, 9)


class EventLogger:
    """Spark's own event-log writer (an internal class, reached through
    py4j), attached to a running context for the traced part of a run
    only, so the untraced part runs without it and no restart is needed."""

    def __init__(self, spark, event_dir: str):
        os.makedirs(event_dir, exist_ok=True)
        self.sc = spark.sparkContext._jsc.sc()
        jvm = spark.sparkContext._jvm
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.sc.applicationId(), jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + event_dir), self.sc.conf(),
            self.sc.hadoopConfiguration())
        self.listener.start()
        self.sc.addSparkListener(self.listener)

    def close(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()
        self.sc.removeSparkListener(self.listener)
        self.listener.stop()


class EventLog:
    """Per-call Spark metrics from an event log. Each timed call runs in
    its own job group; a call's stages are the stages of its jobs that
    completed (skipped stages never run)."""

    def __init__(self, event_dir: str):
        import pyarrow as pa

        # Spark 4 writes a rolling log, eventlog_v2_<app>/events_<n>_<app>,
        # in one or more parts, compressed with zstd by default
        parts = glob.glob(os.path.join(event_dir, "*", "events_*"))
        if not parts:
            raise RuntimeError(f"no event log under {event_dir}")
        parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
        self.job_group: dict[int, str] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.stage_span: dict[int, tuple[float, float]] = {}
        self.stage_tasks: dict[int, list[dict]] = {}
        for path in parts:
            comp = "zstd" if path.endswith(".zstd") else None
            with pa.input_stream(path, compression=comp) as f:
                for line in f.read().decode().splitlines():
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.job_group[e["Job ID"]] = props.get("spark.jobGroup.id")
            self.job_stages[e["Job ID"]] = list(e.get("Stage IDs", []))
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if "Submission Time" in si and "Completion Time" in si:
                self.stage_span[si["Stage ID"]] = (
                    si["Submission Time"] / 1e3, si["Completion Time"] / 1e3)
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.stage_tasks.setdefault(e["Stage ID"], []).append({
                "run_s": m.get("Executor Run Time", 0) / 1e3,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "shuffle_s": sw.get("Shuffle Write Time", 0) / 1e9
                + sr.get("Fetch Wait Time", 0) / 1e3,
                "shuffle_B": sw.get("Shuffle Bytes Written", 0),
                "out_B": (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0),
            })

    def call(self, group: str) -> dict:
        """Jobs, ran stages and their tasks for one job group."""
        jobs = [j for j, g in self.job_group.items() if g == group]
        stages = sorted({s for j in jobs for s in self.job_stages[j]
                         if s in self.stage_span})
        return {
            "jobs": jobs,
            "stages": stages,
            "spans": [self.stage_span[s] for s in stages],
            "tasks": {s: self.stage_tasks.get(s, []) for s in stages},
        }


def union_seconds(spans, lo: float, hi: float) -> float:
    """Length of the union of [a, b) intervals, clipped to [lo, hi)."""
    total, end = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
