"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. Workloads (why each, and input sizes, are
in BENCHMARK.json):

  lineitem_probe     interop.pqreader probes over 8 pyarrow-written files
  repos_encode_read  Spark at local[min(nproc, 4)]: encode_table, plus
                     scan / bloom lookup / data-source lookup / min-max
                     range reads of a range-layout zstd store

A run makes its inputs from --seed (set-up, repeated where cheap), warms
up with one untimed round of the op mix, then one client issues seeded
rounds of ops in a closed loop until --seconds have passed, at least
three rounds are done (a Spark round takes ~15 s, so the Spark workload
measures for longer than a short --seconds; fewer rounds once
LOOP_CUTOFF_S have passed) and the round in flight is complete. Every
result is checked against an oracle outside the timed span.

Each op is timed next to a yardstick that does the same read or write
without the package: pyarrow for lineitem_probe; for the Spark workload,
the same session reading the source parquet, filtered alike, through an
identity mapInArrow. The yardstick runs just before the op or just after
it, alternately. The host is shared and its speed drifts: with other
load on it, Spark ops took 1.8x the wall time and 1.2x the CPU time
while the op's CPU time over its yardstick's moved by 1%. That ratio is
the speed metric; wall and CPU times are in the detail line.

End-to-end metrics (--trace 0):
  setup_s      CPU seconds, all processes of the run, of input generation,
               kernel compile and, for the Spark workload, the store
               write; median over the set-up repetitions
  cost_x       geometric mean over op kinds of the median, per kind, of
               op CPU time / yardstick CPU time
  rss_p95_MB   95th percentile, over the timed loop's 4 Hz samples, of
               the summed RSS of the Python processes (this one and
               Spark's Python workers). Not the peak: in 3 of ~80 Spark
               runs it briefly read 3.1-4.3 GB, not ~1.6 GB (more live
               Python workers). The peak is in the detail line; the
               JVM's peak is rss.jvm_MB

--trace 1 runs the plain loop for half of --seconds, then the same loop
traced for the other half (for Spark: the event log attached, one job
group per call), one round at least each, and prints the per-layer
metrics; a layer the workload never reaches reads 0.

The line before the result is a detail record: per kind the sample
count, wall and CPU p50 and p90, cost_x and every op's and yardstick's
CPU seconds; input sizes, check results, phase times, host steal time and
the Spark settings. The last line is the result. All files live under
perfbench/.work/run-<pid> and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# A run has to end within 180 s, and the runs of both workloads together
# within a fixed budget. Past this many seconds from the start of a run,
# its loop stops at the next round boundary even short of min_rounds (one
# round at least): a Spark run on a slow host then measures two rounds,
# not three, and ends in ~110 s.
LOOP_CUTOFF_S = 90.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run and its workers write inside `work`, and
    export the package to Spark's Python workers."""
    for d in ("tmp", "cache", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["XDG_CACHE_HOME"] = os.path.join(work, "cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no JVM (Spark's launcher included) writes /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def compile_native(work: str) -> None:
    """The one-time kernel compile, into an empty cache (part of set-up).
    Whether it worked is checked after set-up."""
    from parquet_go_spark.codecs import _native

    cache = os.path.join(work, "cache")
    for d in os.listdir(cache):
        shutil.rmtree(os.path.join(cache, d))
    _native.load()


def make_workload(name: str, work: str, seed: int):
    if name == "lineitem_probe":
        import lineitem

        return lineitem.Workload(work, seed)
    if name == "repos_encode_read":
        import repos

        return repos.EncodeRead(work, seed)
    raise SystemExit(f"unknown workload {name!r}")


def warm_up(wl, ops, tally) -> None:
    """One untimed round of the mix, yardsticks included, running the ops
    of wl.warm_kinds: JIT, Python workers and caches fill before the timed
    loop."""
    t0 = time.perf_counter()
    for _ in range(len(wl.kinds)):
        kind, name, fn, check, yard = next(ops)
        if kind in wl.warm_kinds:
            tally.run(name, fn, check, yard)
    harness.log(f"warm-up {time.perf_counter() - t0:.1f} s")


def medians(wl, loop: dict, key: str) -> dict:
    """Median of one sample series per op kind; a kind with no successful
    op ends the run without a result."""
    missing = [k for k in wl.kinds if not loop.get(k)]
    if missing:
        raise RuntimeError(f"no successful op of kind {missing}")
    return {k: harness.median(loop[k][key]) for k in wl.kinds}


def run(args, work: str, detail: dict, started: float) -> dict:
    wl = make_workload(args.workload, work, args.seed)
    tally = harness.Tally(wl.cpu_clock)
    phases = detail.setdefault("phases_s", {})
    clock = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - clock[0]
        clock[0] = now
        harness.log(f"{name} {phases[name]:.1f} s")

    try:
        if wl.uses_spark:
            wl.start_spark()
            detail["spark_conf"] = wl.spark_conf
            phase("spark_start")
        setup_cpu, setup_wall = [], []
        for i in range(wl.setup_reps):
            c0, t0 = harness.tree_cpu_s(), time.perf_counter()
            compile_native(work)
            wl.setup_once(i)
            setup_wall.append(time.perf_counter() - t0)
            setup_cpu.append(harness.tree_cpu_s() - c0)
        phase("setup")
        wl.prepare()
        from parquet_go_spark.codecs import _native, bloom, fsst, rle

        native = all(x is not None for x in (
            _native.load(), bloom._NATIVE, fsst._NATIVE, rle._NATIVE))
        detail.update(setup_cpu_s=setup_cpu, setup_wall_s=setup_wall,
                      native_loaded=native, sizes=wl.sizes())
        phase("oracle")

        # a traced run reports no end-to-end metric: it splits its time
        # between a plain and a traced loop, one round at least each, and
        # pairs neither with yardsticks, so that the two compare
        paired = not args.trace
        seconds = args.seconds if paired else args.seconds / 2
        rounds = wl.min_rounds if paired else 1
        cutoff = started + LOOP_CUTOFF_S
        ops = wl.ops()
        warm_up(wl, ops, tally)
        steal0 = harness.host_steal_s()
        with harness.RssSampler() as rss:
            loop = harness.closed_loop(seconds, ops, tally, len(wl.kinds),
                                       rounds, cutoff, paired)
        detail["host_steal_s"] = harness.host_steal_s() - steal0
        phase("loop")
        detail["checks"] = wl.finish(tally)
        phase("checks")

        cpu = medians(wl, loop, "cpu")
        wall = medians(wl, loop, "wall")
        detail["ops"] = {
            k: {"n": len(loop[k]["wall"]),
                "wall_p50_ms": wall[k] * 1e3,
                "wall_p90_ms": harness.quantile(loop[k]["wall"], 0.9) * 1e3,
                "cpu_p50_ms": cpu[k] * 1e3,
                "cpu_p90_ms": harness.quantile(loop[k]["cpu"], 0.9) * 1e3,
                "cpu_s": loop[k]["cpu"], "yard_cpu_s": loop[k]["yard_cpu"]}
            for k in wl.kinds}
        mb = wl.throughput_mb()
        detail["full_pass_wall_MBps"] = mb / wall[wl.full_pass_kind]
        detail["full_pass_cpu_MBps"] = mb / cpu[wl.full_pass_kind]
        detail["peak_jvm_rss_MB"] = rss.peak_jvm_kb / 1024
        detail["peak_py_rss_MB"] = max(rss.py_kb) / 1024
        e2e = {
            "setup_s": harness.median(setup_cpu),
            "rss_p95_MB": harness.quantile(rss.py_kb, 0.95) / 1024,
        }
        layers = {"rss.jvm_MB": rss.peak_jvm_kb / 1024}
        if paired:
            for k in wl.kinds:
                detail["ops"][k]["cost_x"] = harness.median(
                    [c / y for c, y in zip(loop[k]["cpu"],
                                           loop[k]["yard_cpu"])])
            e2e["cost_x"] = harness.geomean(
                [detail["ops"][k]["cost_x"] for k in wl.kinds])
        else:
            calls: list = []
            wl.begin_trace(work)
            traced = harness.closed_loop(
                seconds, wl.traced(ops, calls), tally, len(wl.kinds),
                rounds, cutoff, paired)
            phase("traced_loop")
            layers.update(wl.end_trace(calls))
            phase("trace_analysis")
            layers["trace.overhead_frac"] = harness.geomean(
                [medians(wl, traced, "cpu")[k] / cpu[k]
                 for k in wl.kinds]) - 1
        if not native:
            # the numpy fallback is 10x+ slower: nothing here measured
            # the kernels the package ships, so every op counts as failed
            harness.log("FAIL native kernels not loaded")
            tally.failed = tally.attempted
        return {
            "correct": tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "e2e": e2e,
            "layers": layers,
        }
    finally:
        wl.close()
        phase("close")


def emit(res: dict, trace: int, detail: dict) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    got = res["layers"] if trace else res["e2e"]
    unknown = set(got) - {m["name"] for m in wanted}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": res["correct"],
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def main(argv=None) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "parquet_go_spark")):
        print(f"perfbench: no parquet_go_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(work)
    # SIGTERM unwinds through the finally blocks like Ctrl-C does
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    try:
        isolate(work)
        detail = {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace}
        res = run(args, work, detail, started)
        emit(res, args.trace, detail)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
