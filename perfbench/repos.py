"""repos_encode_read: the Spark workload over the synthetic repos table.

Set-up materializes a seeded repos table to parquet and writes a store
from it with layout="range" on (path, commit) and zstd. After a warm-up
round, one client loops over rounds of the five ops in seeded order:

  encode    encode_table of the source with jobs/encode_job.py defaults
            (hash layout, salt/sort on path,commit, no outer codec) into a
            fresh directory
  scan      decode_table(store).count()
  lookup    bloom_point_decode(store, "commit", k); one in four keys absent
  dslookup  spark.read.format("colcodec").load(store).where(commit = k)
  range     pruned_decode(store, "path", lo, hi) over ~1% of rows

Results are checked against row sets computed with pyarrow from the
source parquet; one encoded store per run passes verify_roundtrip. Each
op's yardstick is the same session passing the source parquet, filtered
as the op filters, through an identity mapInArrow; for encode, written
back out as plain parquet.

The source table comes from sources.repogen.generate_batch, the function
repos_table maps over spark.range, so it is the same table for the same
seed; it is written with pyarrow so that no Spark job makes the input.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import harness

COLUMNS = ["repo", "path", "commit", "lang", "content"]
SRC_FILES = 8


def write_source(seed: int, n_rows: int, d: str) -> None:
    from parquet_go_spark.sources.repogen import generate_batch

    os.makedirs(d, exist_ok=True)
    n_repos = max(50, n_rows // 2000)
    for i in range(SRC_FILES):
        lo, hi = i * n_rows // SRC_FILES, (i + 1) * n_rows // SRC_FILES
        rb = generate_batch(np.arange(lo, hi), seed=seed, n_repos=n_repos)
        pq.write_table(pa.Table.from_batches([rb]),
                       os.path.join(d, f"part-{i:02d}.parquet"))


def raw_bytes(tbl: pa.Table) -> int:
    """Value bytes of the string columns: what encode_table reports as
    raw_bytes."""
    return sum(int(pc.sum(pc.binary_length(tbl[c])).as_py()) for c in COLUMNS)


def _rows(tbl: pa.Table) -> list[tuple]:
    return sorted(zip(*(tbl[c].to_pylist() for c in COLUMNS)))


def _same_rows(got, exp: list[tuple]) -> str | None:
    rows = sorted(tuple(r[c] for c in COLUMNS) for r in got)
    if rows != exp:
        return f"{len(rows)} rows, expected {len(exp)}"
    return None


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(f)
               for f in glob.glob(os.path.join(d, "*.parquet")))


class EncodeRead:
    N_ROWS = 20_000
    POOL = 32
    uses_spark = True
    # one store write per run: a second would add ~20 s to every run
    setup_reps = 1
    kinds = ["encode", "scan", "lookup", "dslookup", "range"]
    full_pass_kind = "encode"
    # the set-up's store write has run encode_table once already
    warm_kinds = ["scan", "lookup", "dslookup", "range"]
    # an op takes seconds: the medians need three samples of each kind
    min_rounds = 3
    cpu_clock = staticmethod(harness.tree_cpu_s)

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.rng = random.Random(seed)
        self.spark_conf = harness.spark_config(work)
        self.spark = None

    def start_spark(self) -> None:
        from parquet_go_spark.sources import datasource

        self.spark = harness.start_spark(self.spark_conf)
        datasource.register(self.spark)

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        harness.stop_jvm()

    def setup_once(self, i: int) -> None:
        from parquet_go_spark.plans import pipeline

        self.src = os.path.join(self.work, f"src{i}")
        self.path = os.path.join(self.work, f"store{i}")
        for d in (self.src, self.path):
            shutil.rmtree(d, ignore_errors=True)
        write_source(self.seed, self.N_ROWS, self.src)
        self.df = self.spark.read.parquet(self.src)
        self.stats = pipeline.encode_table(
            self.spark, self.df, self.path,
            salt_cols=["path", "commit"], sort_cols=["path", "commit"],
            layout="range", compression="zstd")

    def prepare(self) -> None:
        """Oracle row sets from pyarrow over the source parquet."""
        src = pq.read_table(self.src)
        self.n_rows = src.num_rows
        self.raw = raw_bytes(src)
        self.store_mb = _dir_bytes(self.path) / 1e6
        commits = src["commit"].to_pylist()
        have = set(commits)
        self.present = self.rng.sample(commits, self.POOL)
        self.absent = []
        while len(self.absent) < self.POOL:
            k = "%040x" % self.rng.getrandbits(160)
            if k not in have:
                self.absent.append(k)
        self.keys = {k: _rows(src.filter(pc.equal(src["commit"], k)))
                     for k in self.present + self.absent}
        paths = src["path"].take(pc.sort_indices(src["path"])).to_pylist()
        span = self.n_rows // 100
        self.ranges = []
        for _ in range(self.POOL // 2):
            s = self.rng.randrange(self.n_rows - span)
            lo, hi = paths[s], paths[s + span]
            m = pc.and_(pc.greater_equal(src["path"], lo),
                        pc.less_equal(src["path"], hi))
            self.ranges.append((lo, hi, _rows(src.filter(m))))
        self.kept = None
        self.n_out = 0
        self.last = None

    def sizes(self) -> dict:
        return {"rows": self.n_rows, "raw_MB": self.raw / 1e6,
                "source_MB": _dir_bytes(self.src) / 1e6,
                "store_MB": self.store_mb, "store_ratio": self.stats["ratio"],
                "store_chunks": self.stats["chunks"]}

    def throughput_mb(self) -> float:
        return self.raw / 1e6

    # -- ops ---------------------------------------------------------------
    def _encode(self):
        from parquet_go_spark.plans import pipeline

        self.n_out += 1
        out = os.path.join(self.work, f"enc{self.n_out}")
        return out, pipeline.encode_table(
            self.spark, self.df, out,
            salt_cols=["path", "commit"], sort_cols=["path", "commit"])

    def _check_encode(self, res) -> str | None:
        out, stats = res
        self.last = stats
        if stats["raw_bytes"] != self.raw or not stats["chunks"]:
            return f"summary {stats}, expected raw_bytes {self.raw}"
        if self.kept is None:
            self.kept = out  # verify_roundtrip runs on it after the loop
        else:
            shutil.rmtree(out, ignore_errors=True)
        return None

    def _key(self, n: int) -> str:
        # every fourth point lookup asks for an absent key: the same
        # present/absent proportion for every seed and run length
        return self.rng.choice(self.absent if n % 4 == 3 else self.present)

    def _yard(self, where=None):
        """The yardstick a read is paired with: the same Spark session
        reads the source parquet, filtered alike, through an identity
        mapInArrow (the Python worker path every store read takes), with
        no colcodec code."""
        def identity(batches):  # nested: pickled by value for the workers
            yield from batches

        df = self.spark.read.parquet(self.src)
        if where is not None:
            df = df.where(where)
        return df.mapInArrow(identity, df.schema)

    def ops(self):
        """Seeded closed-loop mix: rounds of every kind once, in shuffled
        order. Each op is yielded with its yardstick (see _yard)."""
        from pyspark.sql import functions as F

        from parquet_go_spark.plans import pipeline

        batch = list(self.kinds)
        n_lookup = n_ds = 0
        yard_out = os.path.join(self.work, "yard")
        while True:
            self.rng.shuffle(batch)
            for kind in batch:
                if kind == "encode":
                    yield (kind, "encode_table", self._encode,
                           self._check_encode,
                           lambda: self._yard().write.mode("overwrite")
                           .parquet(yard_out))
                elif kind == "scan":
                    yield (kind, "scan",
                           lambda: pipeline.decode_table(
                               self.spark, self.path).count(),
                           lambda r: None if r == self.n_rows
                           else f"count {r} != {self.n_rows}",
                           lambda: self._yard().count())
                elif kind in ("lookup", "dslookup"):
                    if kind == "lookup":
                        k = self._key(n_lookup)
                        n_lookup += 1
                        fn = (lambda k=k: pipeline.bloom_point_decode(
                            self.spark, self.path, "commit", k).collect())
                    else:
                        k = self._key(n_ds)
                        n_ds += 1
                        fn = (lambda k=k: self.spark.read.format("colcodec")
                              .load(self.path).where(F.col("commit") == k)
                              .collect())
                    yield (kind, f"{kind} {k}", fn,
                           lambda r, e=self.keys[k]: _same_rows(r, e),
                           lambda k=k: self._yard(
                               F.col("commit") == k).collect())
                else:
                    lo, hi, exp = self.rng.choice(self.ranges)
                    yield (kind, f"range {lo}..{hi}",
                           lambda lo=lo, hi=hi: pipeline.pruned_decode(
                               self.spark, self.path, "path", lo, hi)
                           .collect(),
                           lambda r, e=exp: _same_rows(r, e),
                           lambda lo=lo, hi=hi: self._yard(
                               F.col("path").between(lo, hi)).collect())

    def finish(self, tally) -> dict:
        """The per-row sha256 multiset check on one encoded store."""
        from parquet_go_spark.plans import pipeline

        if self.kept is None:
            return {}  # no encode succeeded: the run reports no result
        res = pipeline.verify_roundtrip(self.spark, self.df, self.kept)
        if not res["ok"] or res["rows_source"] != self.n_rows:
            tally.failed += 1
            harness.log(f"FAIL verify_roundtrip: {res}")
        return {"encode_ratio": self.last["ratio"],
                "encode_chunks": self.last["chunks"], "verify": res}

    # -- traced run --------------------------------------------------------
    def begin_trace(self, work: str) -> None:
        self.events = os.path.join(work, "events")
        self.logger = harness.EventLogger(self.spark, self.events)

    def traced(self, ops, calls: list):
        """Run every call in its own job group; record (group, kind,
        start, end) in `calls`."""
        sc = self.spark.sparkContext
        for kind, name, fn, check, yard in ops:
            def call(kind=kind, fn=fn):
                gid = f"{kind}#{len(calls)}"
                sc.setJobGroup(gid, kind)
                t0 = time.time()
                try:
                    return fn()
                finally:
                    calls.append((gid, kind, t0, time.time()))
                    sc.setLocalProperty("spark.jobGroup.id", None)
            yield kind, name, call, check, yard

    def end_trace(self, calls: list) -> dict:
        """Spark layers from the event log (means per call of each kind),
        then the codec replay."""
        self.logger.close()
        ev = harness.EventLog(self.events)
        per_kind: dict[str, list[dict]] = {}
        for gid, kind, t0, t1 in calls:
            per_kind.setdefault(kind, []).append(
                self.call_metrics(kind, ev.call(gid), t0, t1))
        out = {}
        for kind, rows in per_kind.items():
            for k in rows[0]:
                out[f"{kind}.{k}"] = sum(r[k] for r in rows) / len(rows)
        # read_frac: blob bytes a read moved into the decode kernel, as a
        # share of what a full scan moves. Spark 4.1's input byte counts
        # undercount these parquet reads (0.09 MB for a 1.6 MB store scan),
        # so the shuffle feeding the decode is the measurable proxy. The
        # colcodec data source decodes inside its own reader, with no
        # shuffle: no read_frac.
        for kind in ("lookup", "range"):
            out[f"{kind}.read_frac"] = (out[f"{kind}.shuffle_MB"]
                                        / out["scan.shuffle_MB"])
        out.update(self.replay(self.path, "zstd"))
        return out

    @staticmethod
    def call_metrics(kind: str, c: dict, t0: float, t1: float) -> dict:
        """One call's split. stage_s + driver_s == wall_s, and for encode
        write_s + other_s == stage_s, by construction."""
        tasks = [t for ts in c["tasks"].values() for t in ts]
        run = sum(t["run_s"] for t in tasks)
        stage_s = harness.union_seconds(c["spans"], t0, t1)
        m = {
            "wall_s": t1 - t0,
            "stage_s": stage_s,
            "driver_s": (t1 - t0) - stage_s,
            "tasks": len(tasks),
            "shuffle_MB": sum(t["shuffle_B"] for t in tasks) / 1e6,
        }
        if kind != "encode":
            m.update(decode_s=run,
                     offcpu_s=run - sum(t["cpu_s"] for t in tasks))
            return m
        out_b = {s: sum(t["out_B"] for t in ts)
                 for s, ts in c["tasks"].items()}
        ws = max(out_b, key=out_b.get)  # the stage that writes the blobs
        wrun = sorted(t["run_s"] for t in c["tasks"][ws])
        wcpu = sum(t["cpu_s"] for t in c["tasks"][ws])
        write_s = harness.union_seconds(
            [c["spans"][c["stages"].index(ws)]], t0, t1)
        m.update({
            "jobs": len(c["jobs"]),
            "shuffle_s": sum(t["shuffle_s"] for t in tasks),
            "write_s": write_s,
            "write_task_s": sum(wrun),
            "write_jvm_cpu_s": wcpu,
            "write_offcpu_s": sum(wrun) - wcpu,
            "gc_s": sum(t["gc_s"] for t in tasks),
            "task_skew": wrun[-1] / harness.median(wrun),
            "other_s": stage_s - write_s,
            "output_MB": sum(out_b.values()) / 1e6,
        })
        return m

    # -- codecs.* ----------------------------------------------------------
    def replay(self, store: str, compression: str | None) -> dict:
        """codecs.* layer split: a single-threaded replay in this process over
        the store's value blobs, column by column, of the per-chunk codec
        work an encode task does (decode, stats, selector with one FSST
        state per column, winner-only encode, bloom build). stats_ms and
        trials are per chunk; rates are raw MB per second of that step."""
        from parquet_go_spark.codecs import (
            _native, bloom, chunk, fsst, selector)
        from parquet_go_spark.codecs.kinds import Codec

        blobs = pq.read_table(
            store, columns=["column", "stream", "blob"],
            filters=[("stream", "=", "values")])
        out = {"codecs.native_loaded": float(_native.load() is not None)}
        train_s = []
        for c in COLUMNS:
            col = blobs.filter(pc.equal(blobs["column"], c))
            t = dict.fromkeys(["dec", "stats", "sel", "enc", "bloom"], 0.0)
            raw = enc = trials = 0
            state: dict = {}
            for blob in col["blob"].to_pylist():
                t0 = time.perf_counter()
                values, meta = chunk.decode_chunk(blob)
                t1 = time.perf_counter()
                kind = meta["kind"]
                selector.column_stats(values, kind)
                t2 = time.perf_counter()
                _, info = selector.select_and_encode(
                    values, kind, compression=compression, fsst_state=state)
                t3 = time.perf_counter()
                win = chunk.encode_chunk(
                    values, kind, info["codec"], dict_wrap=info["dict"],
                    compression=compression,
                    fsst_table=(state.get("table")
                                if info["codec"] == Codec.FSST else None))
                t4 = time.perf_counter()
                uniq = info.get("uniques")
                bloom.build(uniq if uniq is not None else values, kind)
                t5 = time.perf_counter()
                for k, dt in zip(t, (t1 - t0, t2 - t1, t3 - t2, t4 - t3,
                                     t5 - t4)):
                    t[k] += dt
                if c == "content" and len(train_s) < 5:
                    # the selector trains on a trial slice of this size
                    data = values.data[: min(int(values.offsets[-1]),
                                             selector.TRIAL_BYTES)]
                    t6 = time.perf_counter()
                    fsst.train(data)
                    train_s.append(time.perf_counter() - t6)
                raw += info["raw_bytes"]
                enc += len(win)
                trials += len(info["trials"])
            mb, n = raw / 1e6, col.num_rows
            out.update({
                f"selector.{c}.stats_ms": t["stats"] * 1e3 / n,
                f"selector.{c}.select_MBps": mb / t["sel"],
                f"selector.{c}.trials": trials / n,
                f"selector.{c}.overhead": t["sel"] / t["enc"],
                f"chunk.{c}.encode_MBps": mb / t["enc"],
                f"chunk.{c}.decode_MBps": mb / t["dec"],
                f"chunk.{c}.ratio": raw / enc,
                f"bloom.{c}.build_MBps": mb / t["bloom"],
            })
        out["fsst.train_ms"] = harness.median(train_s) * 1e3
        return out
