"""lineitem_probe: foreign-parquet reads through interop.pqreader, no Spark.

Set-up writes a seeded TPC-H-shaped lineitem table (sf0.1 row count,
sorted on l_orderkey as dbgen emits it) with pyarrow as 8 files of
64k-row row groups with page indexes. One client then loops over a
seeded mix of:

  probe       read_table, l_orderkey = k, over all files (footer and
              page-index pruning: sorted key)
  rangeprobe  read_table, l_shipdate in [lo, hi) (~1% of rows), over all
              files (unsorted column: nothing prunes, decode dominates)
  agg         merge_aggregates of footer_aggregates over all files

Every result is compared with pyarrow read+filter of the same files.
Each op's yardstick is pyarrow doing the same read on one thread:
read_table with the same filters, or the footers' row-group statistics.
"""

from __future__ import annotations

import datetime
import os
import random
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import harness

N_ROWS = 600_000
N_FILES = 8
ROW_GROUP = 65_536
AGG_COLS = ["l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate"]
EPOCH = datetime.datetime(1992, 1, 2)
SHIP_DAYS = 2526
RANGE_DAYS = 25  # ~1% of SHIP_DAYS
KEY_POOL = 64


def make_table(seed: int, n_rows: int = N_ROWS) -> pa.Table:
    rng = np.random.default_rng(seed)
    per_order = rng.integers(1, 8, size=n_rows // 2)
    ends = np.cumsum(per_order)
    n_orders = int(np.searchsorted(ends, n_rows)) + 1
    per_order = per_order[:n_orders]
    per_order[-1] -= int(ends[n_orders - 1]) - n_rows
    order = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    # dbgen's sparse order keys: 8 used out of every 32
    orderkey = (order // 8) * 32 + order % 8 + 1
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    linenumber = (np.arange(n_rows) - starts + 1).astype(np.int32)
    partkey = rng.integers(1, 20_001, n_rows)
    quantity = rng.integers(1, 51, n_rows).astype(np.float64)
    price = np.round(quantity * (900 + (partkey % 1000) + partkey / 1e3), 2)
    ship = (np.datetime64(EPOCH, "us")
            + rng.integers(0, SHIP_DAYS, n_rows) * np.timedelta64(1, "D"))
    return pa.table({
        "l_orderkey": orderkey,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(1, 1_001, n_rows),
        "l_linenumber": linenumber,
        "l_quantity": quantity,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n_rows) / 100.0,
        "l_tax": rng.integers(0, 9, n_rows) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_rows)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[
            rng.integers(0, 2, n_rows)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def write_files(tbl: pa.Table, d: str) -> list[str]:
    os.makedirs(d, exist_ok=True)
    n = tbl.num_rows
    files = []
    for i in range(N_FILES):
        lo, hi = i * n // N_FILES, (i + 1) * n // N_FILES
        f = os.path.join(d, f"part-{i}.parquet")
        pq.write_table(tbl.slice(lo, hi - lo), f, row_group_size=ROW_GROUP,
                       write_page_index=True)
        files.append(f)
    return files


def _same(res: pa.Table, exp: pa.Table) -> str | None:
    res = res.replace_schema_metadata(None)
    exp = exp.replace_schema_metadata(None)
    if not res.schema.equals(exp.schema):
        return f"schema {res.schema} != {exp.schema}"
    if not res.equals(exp):
        return f"rows differ ({res.num_rows} vs {exp.num_rows})"
    return None


def _aggregates(tbl: pa.Table) -> dict:
    cols = {}
    for c in AGG_COLS:
        col = tbl.column(c)
        mm = pc.min_max(col)
        cols[c] = {"count": pc.count(col).as_py(),
                   "null_count": col.null_count,
                   "min": mm["min"].as_py(), "max": mm["max"].as_py()}
    return {"rows": tbl.num_rows, "columns": cols}


class Workload:
    uses_spark = False
    kinds = ["probe", "rangeprobe", "agg"]
    full_pass_kind = "rangeprobe"
    setup_reps = 3
    warm_kinds = kinds
    min_rounds = 3
    cpu_clock = staticmethod(time.process_time)

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.rng = random.Random(seed)

    def setup_once(self, i: int) -> None:
        """Input generation and write (timed as set-up)."""
        d = os.path.join(self.work, f"lineitem{i}")
        shutil.rmtree(d, ignore_errors=True)
        self.files = write_files(make_table(self.seed), d)

    def prepare(self) -> None:
        """Oracle answers from pyarrow read+filter of the written files
        (untimed)."""
        read = pa.concat_tables(pq.read_table(f) for f in self.files)
        keys = read.column("l_orderkey").to_numpy()
        self.keys = [int(keys[j]) for j in
                     sorted(self.rng.sample(range(len(keys)), KEY_POOL))]
        self.expect_probe = {
            k: read.filter(pc.equal(read["l_orderkey"], k))
            for k in self.keys}
        self.ranges = []
        for _ in range(KEY_POOL // 4):
            lo = EPOCH + datetime.timedelta(
                days=self.rng.randrange(SHIP_DAYS - RANGE_DAYS))
            hi = lo + datetime.timedelta(days=RANGE_DAYS)
            sd = read["l_shipdate"]
            m = pc.and_(pc.greater_equal(sd, pa.scalar(lo, sd.type)),
                        pc.less(sd, pa.scalar(hi, sd.type)))
            self.ranges.append((lo, hi, read.filter(m)))
        self.expect_agg = _aggregates(read)
        self.raw_mb = read.nbytes / 1e6

    # -- ops ---------------------------------------------------------------
    def _probe(self, k):
        from parquet_go_spark.interop import pqreader

        return pa.concat_tables(
            pqreader.read_table(f, predicate=("l_orderkey", "=", k))
            for f in self.files)

    def _rangeprobe(self, lo, hi):
        from parquet_go_spark.interop import pqreader

        pred = [("l_shipdate", ">=", lo), ("l_shipdate", "<", hi)]
        return pa.concat_tables(
            pqreader.read_table(f, predicate=pred) for f in self.files)

    def _agg(self):
        from parquet_go_spark.interop import pqreader

        return pqreader.merge_aggregates(
            [pqreader.footer_aggregates(f, AGG_COLS) for f in self.files])

    # -- yardsticks: pyarrow doing the same reads, on one thread as
    # pqreader does -------------------------------------------------------
    def _yard_read(self, filters):
        return [pq.read_table(f, filters=filters, use_threads=False)
                for f in self.files]

    def _yard_agg(self):
        """Min/max/count of AGG_COLS from pyarrow's parse of the footers."""
        out = []
        for f in self.files:
            md = pq.read_metadata(f)
            idx = [md.schema.names.index(c) for c in AGG_COLS]
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for i in idx:
                    st = rg.column(i).statistics
                    out.append((st.min, st.max, st.null_count,
                                rg.num_rows))
        return out

    def ops(self):
        """Seeded closed-loop mix: rounds of every kind once, in shuffled
        order, so the mix is the same for every seed. Each op is yielded
        with its pyarrow yardstick."""
        batch = list(self.kinds)
        while True:
            self.rng.shuffle(batch)
            for kind in batch:
                if kind == "probe":
                    k = self.rng.choice(self.keys)
                    exp = self.expect_probe[k]
                    yield (kind, f"probe {k}", lambda k=k: self._probe(k),
                           lambda r, e=exp: _same(r, e),
                           lambda k=k: self._yard_read(
                               [("l_orderkey", "=", k)]))
                elif kind == "rangeprobe":
                    lo, hi, exp = self.rng.choice(self.ranges)
                    yield (kind, f"rangeprobe {lo}..{hi}",
                           lambda lo=lo, hi=hi: self._rangeprobe(lo, hi),
                           lambda r, e=exp: _same(r, e),
                           lambda lo=lo, hi=hi: self._yard_read(
                               [("l_shipdate", ">=", lo),
                                ("l_shipdate", "<", hi)]))
                else:
                    yield (kind, "agg", self._agg,
                           lambda r: None if r == self.expect_agg
                           else f"{r} != {self.expect_agg}",
                           self._yard_agg)

    def sizes(self) -> dict:
        return {"rows": N_ROWS, "files": N_FILES, "raw_MB": self.raw_mb,
                "file_MB": sum(os.path.getsize(f) for f in self.files) / 1e6}

    def finish(self, tally) -> dict:
        return {}

    def throughput_mb(self) -> float:
        """Data behind the full-pass op (rangeprobe decodes every row)."""
        return self.raw_mb

    def close(self) -> None:
        pass

    # -- traced run --------------------------------------------------------
    def begin_trace(self, work: str) -> None:
        pass

    def traced(self, ops, calls: list):
        """The ops are the pqreader calls themselves; the layer split is
        measured after the loop, so the traced loop runs unchanged."""
        return ops

    def end_trace(self, calls: list) -> dict:
        """pqreader layer split, single-threaded, medians of a few reps:
        footer parse of all files, full decode, and the probe against
        pyarrow read+filter of the same files."""
        from parquet_go_spark.interop import pqreader

        def med(fn, reps=5):
            ts = []
            for _ in range(reps):
                t0 = time.perf_counter()
                fn()
                ts.append(time.perf_counter() - t0)
            return harness.median(ts)

        schema_s = med(lambda: [pqreader.read_schema(f) for f in self.files])
        full_s = med(lambda: [pqreader.read_table(f) for f in self.files],
                     reps=3)
        k = self.keys[len(self.keys) // 2]
        probe_s = med(lambda: self._probe(k))
        pa_s = med(lambda: [
            pq.read_table(f).filter(pc.equal(pc.field("l_orderkey"), k))
            for f in self.files])
        return {
            "pqreader.schema_ms": schema_s * 1e3,
            "pqreader.fullread_MBps": self.raw_mb / full_s,
            "pqreader.probe_vs_pyarrow": probe_s / pa_s,
        }
