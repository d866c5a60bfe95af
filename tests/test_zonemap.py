"""Zone-map data skipping: per-block min/max stats, block pruning,
partition pruning, and exactness against a full-scan filter."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import Row, functions as F

from nem_mms_spark.datagen.webpages import web_pages_df
from nem_mms_spark.jobs.decode import decode_blocks, scan_blocks
from nem_mms_spark.jobs.encode import encode_dataframe


@pytest.fixture(scope="module")
def enc_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc_zm"))
    pages = web_pages_df(spark, 4000)
    encode_dataframe(spark, pages, out, num_parts=6, block_rows=256)
    return out, pages


def test_zone_stats_present(spark, enc_dir):
    out, _ = enc_dir
    b = spark.read.parquet(os.path.join(out, "blocks"))
    ts = b.filter(F.col("column") == "warc_ts")
    assert ts.filter(F.col("zmin_i").isNull()).count() == 0
    assert ts.filter(F.col("zmax_i") < F.col("zmin_i")).count() == 0
    # bytes columns carry NULL zone maps (cannot skip)
    url = b.filter(F.col("column") == "url")
    assert url.filter(F.col("zmin_i").isNotNull()).count() == 0


def test_range_scan_matches_full_filter(spark, enc_dir):
    out, pages = enc_dir
    lo, hi = pages.agg(
        F.expr("percentile(unix_micros(cast(warc_ts as timestamp)), 0.45)"),
        F.expr("percentile(unix_micros(cast(warc_ts as timestamp)), 0.55)"),
    ).first()
    lo, hi = int(lo), int(hi)
    got = scan_blocks(spark, out, "warc_ts", lo=lo, hi=hi)
    expect = pages.filter(F.unix_micros(F.col("warc_ts").cast("timestamp")).between(lo, hi))
    assert got.count() == expect.count()
    csum = lambda df: df.agg(  # noqa: E731 — order-insensitive multiset hash
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)"))
    ).first()[0]
    assert csum(got) == csum(expect.select(*got.columns))


def test_range_scan_projection_without_predicate_column(spark, enc_dir):
    """columns= may leave out the predicate column: the scan still
    decodes it for the exact filter, then returns only the projection."""
    out, pages = enc_dir
    lo, hi = pages.agg(
        F.expr("percentile(unix_micros(cast(warc_ts as timestamp)), 0.3)"),
        F.expr("percentile(unix_micros(cast(warc_ts as timestamp)), 0.6)"),
    ).first()
    full = scan_blocks(spark, out, "warc_ts", lo=int(lo), hi=int(hi))
    proj = scan_blocks(
        spark, out, "warc_ts", lo=int(lo), hi=int(hi), columns=["url"]
    )
    assert proj.columns == ["url"]
    assert proj.count() == full.count() > 0


def test_range_scan_actually_skips_blocks(spark, enc_dir):
    out, pages = enc_dir
    b = spark.read.parquet(os.path.join(out, "blocks"))
    total_groups = b.select("part_id", "block_id").distinct().count()
    lo = pages.agg(F.expr("percentile(unix_micros(cast(warc_ts as timestamp)), 0.98)")).first()[0]
    scanned = scan_blocks(spark, out, "warc_ts", lo=int(lo))
    # narrow tail predicate must decode far fewer than all block groups;
    # measure by the survivors the metadata pass admits
    meta = b.filter(F.col("column") == "warc_ts")
    survivors = meta.filter(F.col("zmax_i") >= int(lo)).count()
    assert survivors < total_groups * 0.6, (survivors, total_groups)
    # and the result is still exact
    assert scanned.count() == pages.filter(
        F.unix_micros(F.col("warc_ts").cast("timestamp")) >= int(lo)
    ).count()


def test_empty_range_returns_empty(spark, enc_dir):
    out, _ = enc_dir
    got = scan_blocks(spark, out, "warc_ts", lo=2**62)
    assert got.count() == 0


def test_partition_pruning_reaches_scan(spark, enc_dir):
    """A ``parts`` filter prunes whole part files: the frame runs at most
    one task per kept part and returns exactly their committed rows."""
    import pyarrow.dataset as ds

    out, _ = enc_dir
    ckpt = ds.dataset(os.path.join(out, "checkpoint"), format="parquet")
    t = ckpt.to_table(columns=["part_id", "n_rows"])
    n_rows = dict(
        zip(t.column("part_id").to_pylist(), t.column("n_rows").to_pylist())
    )
    df = decode_blocks(spark, out, parts=[0, 1])
    assert df.rdd.getNumPartitions() <= 2
    assert df.count() == n_rows[0] + n_rows[1]


def test_scan_int64_full_range_exact(spark, tmp_path_factory):
    """64-bit-range column: the overlap test must stay in int64 (a double
    cast would round and could skip a matching block)."""
    out = str(tmp_path_factory.mktemp("enc_zm64"))
    big = 2**62 + 12345
    rows = [Row(k=i, v=(big + i if i >= 900 else -big - i)) for i in range(1000)]
    df = spark.createDataFrame(rows)
    encode_dataframe(spark, df, out, key_col="k", num_parts=3, block_rows=128)
    got = scan_blocks(spark, out, "v", lo=big)
    assert got.count() == 100
