"""Compaction: merge blob tables with verbatim splice of full chunks
and re-encode of undersized ones (MergeRowGroups + writer_copy analog)."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_go_spark.plans import pipeline
from parquet_go_spark.sources.repogen import repos_table


def test_compact_two_tables(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("compact")
    a_path, b_path, out = str(base / "a"), str(base / "b"), str(base / "out")

    full = repos_table(spark, 2400, seed=5, n_repos=20).cache()
    a = full.where(F.pmod(F.xxhash64("path"), F.lit(2)) == 0)
    b = full.where(F.pmod(F.xxhash64("path"), F.lit(2)) == 1)
    # tiny target → many undersized chunks in both inputs
    for df, pth in ((a, a_path), (b, b_path)):
        pipeline.encode_table(
            spark, df, pth, salt_cols=["path", "commit"],
            sort_cols=["path", "commit"], target_chunk_bytes=64 << 10,
        )
    n_in = (
        pipeline.manifest(spark, a_path).select("chunk_id").distinct().count()
        + pipeline.manifest(spark, b_path).select("chunk_id").distinct().count()
    )

    res = pipeline.compact_tables(
        spark, [a_path, b_path], out,
        salt_cols=["path", "commit"], sort_cols=["path", "commit"],
        min_chunk_bytes=256 << 10,
    )
    assert res["merged_small_chunks"] > 0
    assert res["chunks"] < n_in  # compaction actually reduced chunk count
    # content integrity: decoded rows == union of both inputs
    out_res = pipeline.verify_roundtrip(spark, full, out)
    assert out_res["ok"], out_res


def test_compact_unifies_schemas(spark, tmp_path_factory):
    """MergeNodes/Convert analog: inputs with different column sets merge
    to the union schema; missing columns decode as NULL."""
    base = tmp_path_factory.mktemp("compact_schema")
    a_path, b_path, out = str(base / "a"), str(base / "b"), str(base / "out")

    a = spark.createDataFrame(
        [("r", i, f"text-{i}") for i in range(100)],
        "repo string, k bigint, body string",
    )
    b = spark.createDataFrame(
        [("r", 1000 + i, f"text-{i}", float(i)) for i in range(100)],
        "repo string, k bigint, body string, score double",
    )
    for df, pth in ((a, a_path), (b, b_path)):
        pipeline.encode_table(spark, df, pth, salt_cols=["k"],
                              sort_cols=["k"], resume=False)

    res = pipeline.compact_tables(
        spark, [a_path, b_path], out, salt_cols=["k"], sort_cols=["k"],
    )
    dec = pipeline.decode_table(spark, out)
    assert set(dec.columns) == {"repo", "k", "body", "score"}
    assert dec.count() == 200
    # a's rows null-filled on the added column; b's rows keep their score
    assert dec.where(F.col("k") < 1000).where(
        F.col("score").isNotNull()).count() == 0
    got = {r["k"]: r["score"] for r in dec.where(F.col("k") >= 1000).collect()}
    assert got == {1000 + i: float(i) for i in range(100)}


def test_compact_conflicting_types_raises(spark, tmp_path_factory):
    import pytest as _pytest

    base = tmp_path_factory.mktemp("compact_conflict")
    a_path, b_path = str(base / "a"), str(base / "b")
    a = spark.createDataFrame([("r", 1, "x")], "repo string, k bigint, v string")
    b = spark.createDataFrame([("r", 2, 3.5)], "repo string, k bigint, v double")
    for df, pth in ((a, a_path), (b, b_path)):
        pipeline.encode_table(spark, df, pth, salt_cols=["k"],
                              sort_cols=["k"], resume=False)
    with _pytest.raises(ValueError, match="conflicting"):
        pipeline.compact_tables(spark, [a_path, b_path], str(base / "out"),
                                salt_cols=["k"], sort_cols=["k"])


def test_compact_unifies_nested_columns(spark, tmp_path_factory):
    """A table missing a list/map column unifies via EMPTY containers
    (the engine's nested input surface is non-null; null entries live in
    the values-stream validity, so empty is the representable convert
    analog)."""
    base = tmp_path_factory.mktemp("compact_nested")
    a_path, b_path, out = str(base / "a"), str(base / "b"), str(base / "out")

    a = spark.createDataFrame(
        [("r", i) for i in range(50)], "repo string, k bigint"
    )
    b = spark.createDataFrame(
        [("r", 100 + i) for i in range(50)], "repo string, k bigint"
    ).select(
        "repo", "k",
        F.array(F.lit("t1"), F.lit("t2")).alias("tags"),
        F.create_map(F.lit("a"), F.lit("1")).alias("attrs"),
    )
    for df, pth in ((a, a_path), (b, b_path)):
        pipeline.encode_table(spark, df, pth, salt_cols=["k"],
                              sort_cols=["k"], resume=False)

    pipeline.compact_tables(
        spark, [a_path, b_path], out, salt_cols=["k"], sort_cols=["k"],
        min_chunk_bytes=1 << 30,  # force re-encode of everything
    )
    dec = pipeline.decode_table(spark, out)
    assert set(dec.columns) == {"repo", "k", "tags", "attrs"}
    assert dec.count() == 100
    filled = dec.where(F.col("k") < 100)
    assert filled.where(F.size("tags") != 0).count() == 0
    assert filled.where(F.size("attrs") != 0).count() == 0
    kept = dec.where(F.col("k") >= 100).first()
    assert kept["tags"] == ["t1", "t2"] and kept["attrs"] == {"a": "1"}


def test_compact_export_inherits_lz4(spark, tmp_path):
    """Merged files keep the sources' LZ4 codec (pyarrow reports
    LZ4_RAW, id 7, as "LZ4"), not UNCOMPRESSED."""
    import glob

    import pyarrow.parquet as pq

    from parquet_go_spark.interop.compact import compact_export
    from parquet_go_spark.interop.export import export_parquet

    df = spark.createDataFrame(
        [(i, f"g{i % 40}", f"v{i}") for i in range(4000)],
        "k bigint, grp string, v string")
    out = str(tmp_path / "lz4cmp")
    export_parquet(spark, df, out, repo_col="grp", salt_cols=["k"],
                   compression="lz4_raw")
    before = set(glob.glob(out + "/*.parquet"))
    compact_export(spark, out, small_bytes=4 << 20, target_bytes=2 << 20)
    merged = set(glob.glob(out + "/*.parquet")) - before
    assert merged
    for f in merged:
        md = pq.ParquetFile(f).metadata
        assert md.row_group(0).column(0).compression == "LZ4"
    assert pq.read_table(out).num_rows == 4000


def test_inherit_codec_ids(tmp_path, monkeypatch):
    """Each footer codec id maps to the writer name that reproduces it;
    an id the writer cannot write raises instead of merging the file
    UNCOMPRESSED."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from parquet_go_spark.codecs.kinds import Kind
    from parquet_go_spark.interop import pqwriter
    from parquet_go_spark.interop.compact import _codec_name, _inherit_props

    def inherited(path):
        return _codec_name(_inherit_props(path, None)[0], path)

    p = str(tmp_path / "a.parquet")
    for name in ("lz4", "snappy", "gzip", "zstd", "brotli", "none"):
        pq.write_table(pa.table({"a": list(range(100))}), p,
                       compression=name)
        want = {"lz4": "lz4_raw", "none": None}.get(name, name)
        assert inherited(p) == want, name
    cols = [pqwriter.ColumnSpec("a", Kind.INT64, np.arange(100))]
    for name in ("lz4_legacy", "lz4_raw", None):
        pqwriter.write_table(p, cols, compression=name)
        assert inherited(p) == name
    # a footer declaring LZO (id 3) over uncompressed pages
    monkeypatch.setitem(pqwriter._COMPRESSION, None, 3)
    pqwriter.write_table(p, cols)
    with pytest.raises(ValueError, match="codec id 3"):
        inherited(p)
