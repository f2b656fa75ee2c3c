"""Manifest statistics, chunk pruning, column projection, list columns."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from parquet_go_spark.plans import pipeline


@pytest.fixture(scope="module")
def orders_blobs(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc") / "orders")
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    pipeline.encode_table(
        spark, df, out, repo_col="o_orderpriority",
        salt_cols=["o_orderkey"], sort_cols=["o_orderkey"],
    )
    return out, df


def test_manifest_minmax_match_data(spark, orders_blobs):
    out, df = orders_blobs
    m = pipeline.manifest(spark, out).where(
        (F.col("column") == "o_orderkey") & (F.col("stream") == "values")
    )
    lo = m.agg(F.min(F.col("min_val").cast("double"))).collect()[0][0]
    hi = m.agg(F.max(F.col("max_val").cast("double"))).collect()[0][0]
    true_lo, true_hi = df.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    assert lo == float(true_lo) and hi == float(true_hi)


def test_string_stats_truncated_bounds(spark, orders_blobs):
    out, df = orders_blobs
    m = pipeline.manifest(spark, out).where(
        (F.col("column") == "o_orderstatus") & (F.col("stream") == "values")
    )
    rows = m.collect()
    assert all(len(r["min_val"]) <= pipeline.STAT_TRUNCATE for r in rows)
    # bounds actually bound: global min/max inside [min(min), max(max)]
    glo = min(r["min_val"] for r in rows)
    ghi = max(r["max_val"] for r in rows)
    slo, shi = df.agg(F.min("o_orderstatus"), F.max("o_orderstatus")).collect()[0]
    assert glo <= slo and ghi >= shi


def test_pruned_decode_matches_filter(spark, orders_blobs):
    out, df = orders_blobs
    got = (
        pipeline.pruned_decode(spark, out, "o_orderkey", lo=50, hi=300)
        .select("o_orderkey").orderBy("o_orderkey").collect()
    )
    want = (
        df.where((F.col("o_orderkey") >= 50) & (F.col("o_orderkey") <= 300))
        .select("o_orderkey").orderBy("o_orderkey").collect()
    )
    assert got == want


_BAD_BLOB = b"not-a-colcodec-chunk"


def _poison_refuted(src: str, dst: str, refuted) -> set:
    """Copy the store at src to dst, then overwrite with invalid bytes
    every blob cell of every chunk whose manifest values-stream row
    for the probed column makes refuted(row) true. Returns the poisoned
    chunk ids. A read that decodes any of them raises."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    # without Hadoop's .crc sidecars, which the rewrite would invalidate
    shutil.copytree(src, dst, ignore=shutil.ignore_patterns("*.crc"))
    files = [os.path.join(dst, f) for f in os.listdir(dst)
             if f.endswith(".parquet") and not f.startswith(("_", "."))]
    bad = set()
    for f in files:
        meta = pq.read_table(f, filters=[("stream", "=", "values")])
        bad |= {r["chunk_id"] for r in meta.to_pylist() if refuted(r)}
    for f in files:
        tbl = pq.read_table(f)
        hit = pc.is_in(tbl.column("chunk_id"),
                       value_set=pa.array(sorted(bad), pa.string()))
        blob = pc.if_else(hit, pa.scalar(_BAD_BLOB, pa.binary()),
                          tbl.column("blob"))
        i = tbl.schema.get_field_index("blob")
        pq.write_table(tbl.set_column(i, tbl.schema.field(i), blob), f)
    return bad


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def typed_blobs(spark, tmp_path_factory):
    """Small chunks over k-sorted rows, so every column's chunk bounds
    are narrow and both ends of each range refute chunks."""
    out = str(tmp_path_factory.mktemp("enc") / "typed")
    df = spark.range(3000).select(
        (F.col("id") % 4).cast("string").alias("repo"),
        F.col("id").alias("k"),
        (F.col("id") + 0.25).cast("decimal(10,2)").alias("dec"),
        (F.col("id") / 2).cast("float").alias("f32"),
        F.array((F.col("id") % 50).cast("int")).alias("arr"),
    )
    pipeline.encode_table(spark, df, out, repo_col="repo", sort_cols=["k"],
                          resume=False, target_chunk_bytes=2000)
    return out, df


def test_pruned_decode_skips_chunks(spark, orders_blobs, typed_blobs,
                                    tmp_path):
    from parquet_go_spark.codecs import bloom as bloomlib
    from parquet_go_spark.codecs import chunk as chunklib
    from parquet_go_spark.sources import datasource

    out, df = orders_blobs
    m = pipeline.manifest(spark, out)
    total_chunks = m.select("chunk_id").distinct().count()
    # a narrow range must decode fewer chunks than the total
    narrow = pipeline.pruned_decode(spark, out, "o_orderkey", lo=1, hi=5)
    assert narrow.count() >= 1
    lo_hi = m.where(
        (F.col("column") == "o_orderkey")
        & (F.col("min_val").cast("double") <= 5)
        & (F.col("max_val").cast("double") >= 1)
    ).select("chunk_id").distinct().count()
    assert lo_hi <= total_chunks  # pruning has something to skip or not; sanity

    # Tripwire: poison the blobs of every chunk the manifest refutes.
    # The reads below stay exact only if no refuted chunk is decoded.
    with pytest.raises(ValueError):
        chunklib.decode_chunk(_BAD_BLOB)
    datasource.register(spark)
    cols = ["o_orderkey", "o_custkey", "o_totalprice"]

    # each chunk spans nearly the whole key range (hash layout), so
    # probe the ends: [1, 3] is refuted by some chunks' min, [1492,
    # 1499] by some chunks' max
    for lo, hi in ((1, 3), (1492, 1499)):
        def refutes_range(r):
            if r["column"] != "o_orderkey":
                return False
            return ((r["max_val"] is not None and int(r["max_val"]) < lo)
                    or (r["min_val"] is not None and int(r["min_val"]) > hi))

        ranged = str(tmp_path / f"range{lo}")
        poisoned = _poison_refuted(out, ranged, refutes_range)
        assert 0 < len(poisoned) < total_chunks
        want = _rows(df.where(F.col("o_orderkey").between(lo, hi)), cols)
        assert want
        assert _rows(pipeline.pruned_decode(
            spark, ranged, "o_orderkey", lo=lo, hi=hi), cols) == want
        assert _rows(pipeline.pruned_decode(
            spark, ranged, "o_orderkey", lo=lo, hi=hi,
            columns_subset=["o_custkey", "o_totalprice"]), cols) == want
        assert _rows(spark.read.format("colcodec").load(ranged)
                     .where(F.col("o_orderkey").between(lo, hi)),
                     cols) == want

    key = df.select("o_custkey").head()[0]

    def refutes_key(r):
        if r["column"] != "o_custkey":
            return False
        if r["bloom"] is not None and not bloomlib.might_contain(
                r["bloom"], np.array([key], np.int64), r["kind"])[0]:
            return True
        return ((r["max_val"] is not None and int(r["max_val"]) < key)
                or (r["min_val"] is not None and int(r["min_val"]) > key))

    pointed = str(tmp_path / "point")
    poisoned = _poison_refuted(out, pointed, refutes_key)
    assert 0 < len(poisoned) < total_chunks
    want = _rows(df.where(F.col("o_custkey") == key), cols)
    assert want
    assert _rows(pipeline.bloom_point_decode(
        spark, pointed, "o_custkey", key), cols) == want
    assert _rows(pipeline.bloom_point_decode(
        spark, pointed, "o_custkey", key,
        columns_subset=["o_orderkey", "o_totalprice"]), cols) == want
    assert _rows(spark.read.format("colcodec").load(pointed)
                 .where(F.col("o_custkey") == key), cols) == want

    # literals Spark compares in another type: a decimal column bounded
    # by a str and by a float, and a float column by a Python float
    out, df = typed_blobs
    cols = ["k", "dec", "f32"]
    n_chunks = pipeline.manifest(spark, out).select(
        "chunk_id").distinct().count()
    cases = [("dec", "7.25", "9.250", lambda v: int(v) / 100),
             ("dec", 2990.25, None, lambda v: int(v) / 100),
             ("f32", 1.5, 4.0, float)]
    for i, (col, lo, hi, stat) in enumerate(cases):
        def refutes(r, col=col, lo=lo, hi=hi, stat=stat):
            if r["column"] != col:
                return False
            return ((r["max_val"] is not None
                     and stat(r["max_val"]) < float(lo))
                    or (hi is not None and r["min_val"] is not None
                        and stat(r["min_val"]) > float(hi)))

        store = str(tmp_path / f"typed{i}")
        poisoned = _poison_refuted(out, store, refutes)
        assert 0 < len(poisoned) < n_chunks
        want_df = df.where(F.col(col) >= F.lit(lo))
        if hi is not None:
            want_df = want_df.where(F.col(col) <= F.lit(hi))
        want = _rows(want_df, cols)
        assert want
        assert _rows(pipeline.pruned_decode(
            spark, store, col, lo=lo, hi=hi), cols) == want, (col, lo, hi)
    store = str(tmp_path / "typed_point")
    _poison_refuted(out, store, lambda r: r["column"] == "dec" and (
        int(r["max_val"]) < 72525 or int(r["min_val"]) > 72525))
    assert _rows(pipeline.bloom_point_decode(spark, store, "dec", "725.25"),
                 cols) == _rows(df.where("k = 725"), cols)


def test_wrapper_results_reusable(spark, typed_blobs):
    """A wrapper's result queried once with a pushed filter, then again
    with none, returns the oracle rows both times: Spark 4.1 replans a
    Python source's partitions only when a query pushes filters."""
    out, df = typed_blobs
    cases = [
        (pipeline.bloom_point_decode(spark, out, "arr", 7),
         df.where(F.array_contains("arr", 7))),
        (pipeline.bloom_point_decode(spark, out, "k", 2000),
         df.where("k = 2000")),
        (pipeline.pruned_decode(spark, out, "k"), df),
        (pipeline.pruned_decode(spark, out, "k", columns_subset=["dec"]),
         df.select("dec", "k")),
        (pipeline.pruned_decode(spark, out, "k", lo=100, hi=2500),
         df.where("k BETWEEN 100 AND 2500")),
        (pipeline.pruned_decode(spark, out, "dec", lo="100.25"),
         df.where(F.col("dec") >= F.lit("100.25"))),
    ]
    for got, want in cases:
        cols = got.columns
        for cond in ("k < 3000", "k = 2007"):
            assert _rows(got.where(cond), cols) == \
                _rows(want.where(cond), cols), cond
        assert _rows(got, cols) == _rows(want, cols)


def test_column_projection(spark, orders_blobs):
    out, df = orders_blobs
    sub = pipeline.decode_table(spark, out, columns_subset=["o_orderkey", "o_totalprice"])
    assert set(sub.columns) == {"o_orderkey", "o_totalprice"}
    assert sub.count() == df.count()


def test_list_column_roundtrip(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc") / "emb")
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    stats = pipeline.encode_table(
        spark, df, out, repo_col="label",
        salt_cols=["vec_id"], sort_cols=["vec_id"],
    )
    assert stats["chunks"] > 0
    dec = pipeline.decode_table(spark, out)
    a = {r["vec_id"]: r["embedding"] for r in df.collect()}
    b = {r["vec_id"]: r["embedding"] for r in dec.collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert np.array_equal(np.array(a[k], np.float32), np.array(b[k], np.float32))
    # manifest has two streams for the list column
    m = pipeline.manifest(spark, out)
    streams = {
        r["stream"] for r in m.where(F.col("column") == "embedding").collect()
    }
    assert streams == {"lengths", "values"}


def test_compact_keeps_each_chunk_in_one_file(spark, tmp_path):
    """compact_tables splices big chunks verbatim; an input blob file
    that Spark splits by row group must not spread one chunk over two
    output files, since the colcodec source (and the wrappers over it)
    decode one file at a time. Small split sizes stand in for blob files
    larger than spark.sql.files.maxPartitionBytes."""
    import glob
    import os
    from collections import defaultdict

    import pyarrow.parquet as pq

    from parquet_go_spark.sources import datasource

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    df = spark.range(4000).select(
        (F.col("id") % 5).cast("string").alias("repo"),
        F.col("id").alias("k"),
        F.concat(F.lit("name-"), F.col("id")).alias("name"),
    )
    pipeline.encode_table(spark, df, src, repo_col="repo", salt_cols=["k"],
                          sort_cols=["k"], resume=False,
                          target_chunk_bytes=20_000)
    for f in glob.glob(src + "/*.parquet"):
        pq.write_table(pq.read_table(f), f, row_group_size=2)
    for crc in glob.glob(src + "/.*.crc"):
        os.remove(crc)  # hadoop checksum sidecars of the rewritten files
    keys = ("spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes")
    saved = {k: spark.conf.get(k) for k in keys}
    spark.conf.set(keys[0], "2048")
    spark.conf.set(keys[1], "0")
    try:
        pipeline.compact_tables(spark, [src], out, repo_col="repo",
                                min_chunk_bytes=0)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    files_of = defaultdict(set)
    for f in glob.glob(out + "/*.parquet"):
        for cid in pq.read_table(f, columns=["chunk_id"]).column(0).to_pylist():
            files_of[cid].add(f)
    assert len(files_of) >= 5
    assert all(len(fs) == 1 for fs in files_of.values()), files_of
    cols = ["repo", "k", "name"]
    want = _rows(df, cols)
    assert _rows(pipeline.decode_table(spark, out), cols) == want
    datasource.register(spark)
    assert _rows(spark.read.format("colcodec").load(out), cols) == want
    assert _rows(pipeline.pruned_decode(spark, out, "k", lo=100, hi=2100),
                 cols) == _rows(df.where("k BETWEEN 100 AND 2100"), cols)
