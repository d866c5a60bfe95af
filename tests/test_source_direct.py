"""Source-direct parquet encode (`encode_parquet`): the scan happens
inside the Arrow task (pyarrow reader), Spark distributes file splits.
Contract: same output layout, same resume/idempotence semantics as the
aligned DataFrame path."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nem_mms_spark.jobs.decode import decode_blocks
from nem_mms_spark.jobs.encode import encode_parquet

N = 6000


@pytest.fixture(scope="module")
def src(spark, tmp_path_factory):
    from nem_mms_spark.datagen import web_pages_df

    d = str(tmp_path_factory.mktemp("sd") / "pages")
    web_pages_df(spark, N, num_partitions=5).write.mode("overwrite").parquet(d)
    return d


def test_roundtrip_multiset_equal(spark, src, tmp_path):
    out = str(tmp_path / "enc")
    m = encode_parquet(spark, src, out, resume=False)
    assert m["rows"] == N and m["parts"] == 5
    dec = decode_blocks(spark, out)
    s = spark.read.parquet(src)
    key = F.md5(
        F.concat_ws("|", "url", F.col("warc_ts").cast("string"),
                    F.col("html").cast("string"), "text", "lang")
    ).alias("h")
    a = s.select(key).groupBy("h").count()
    b = dec.select(key).groupBy("h").count()
    assert dec.count() == N
    assert a.join(b, ["h", "count"]).count() == a.count()


def test_resume_skips_done_and_completes_partial(spark, src, tmp_path):
    out = str(tmp_path / "enc")
    m1 = encode_parquet(spark, src, out, resume=False)
    # simulate a mid-run failure: drop the checkpoint rows for 2 parts by
    # re-committing only a subset (delete checkpoint, re-run from scratch
    # is simpler: re-encode with resume=True must be a no-op)
    m2 = encode_parquet(spark, src, out, resume=True)
    assert m2["skipped_parts"] == m1["parts"]
    assert m2["rows"] == N


def test_mode_mismatch_with_dataframe_path_raises(spark, src, tmp_path):
    from nem_mms_spark.jobs.encode import encode_dataframe

    out = str(tmp_path / "enc")
    encode_parquet(spark, src, out, resume=False)
    with pytest.raises(ValueError, match="partitioning parameters changed"):
        encode_dataframe(
            spark, spark.read.parquet(src), out, num_parts=5, resume=True
        )


def test_deterministic_blocks_across_runs(spark, src, tmp_path):
    """Payloads/params/codecs are a pure function of input content —
    only the encode_ns timing lineage may differ between runs."""
    import pyarrow.dataset as ds

    def content(root):
        t = ds.dataset(root, format="parquet", partitioning="hive").to_table()
        t = t.drop_columns(["encode_ns"])
        return t.sort_by([("part_id", "ascending"), ("block_id", "ascending"),
                          ("col_idx", "ascending")])

    out1 = str(tmp_path / "e1")
    out2 = str(tmp_path / "e2")
    encode_parquet(spark, src, out1, resume=False)
    encode_parquet(spark, src, out2, resume=False)
    assert content(os.path.join(out1, "blocks")).equals(
        content(os.path.join(out2, "blocks"))
    )


def test_salted_direct_roundtrip_and_skew_routing(spark, src, tmp_path):
    """SALTED-DIRECT hybrid (round-5 verdict item 2): hot url-host rows
    spill to negative salt-bucket part ids and encode in a second
    source-direct pass; the multiset of decoded rows is identical to the
    plain source-direct encode, every hot bucket is right-sized, and the
    gate/LPT plumbing carries through both passes."""
    out = str(tmp_path / "salt")
    m = encode_parquet(
        spark, src, out, resume=False, parallelism=2,
        partitioning="salted", min_hot_rows=500, hot_factor=0.5,
    )
    assert m["rows"] == N
    # the Zipfian fixture has hot hosts above N/5 rows -> a real hot set
    assert m["hot_keys"] >= 1 and m["hot_parts"] >= m["hot_keys"]
    # negative (hot) part dirs exist on disk
    hot_dirs = [
        d for d in os.listdir(os.path.join(out, "blocks"))
        if d.startswith("part_id=-")
    ]
    assert hot_dirs, "expected hot salt-bucket partitions"
    # spill is cleaned up after full commit
    assert not os.path.exists(os.path.join(out, "hot_spill"))
    # decoded content identical to plain source-direct
    dec = decode_blocks(spark, out)
    s = spark.read.parquet(src)
    key = F.md5(
        F.concat_ws("|", "url", F.col("warc_ts").cast("string"),
                    F.col("html").cast("string"), "text", "lang")
    ).alias("h")
    a = s.select(key).groupBy("h").count()
    b = dec.select(key).groupBy("h").count()
    assert dec.count() == N
    assert a.join(b, ["h", "count"]).count() == a.count()
    # no hot partition is oversized: every bucket <= ~target (with the
    # 2% inflation margin and integer rounding slack)
    import pyarrow.dataset as ds

    t = ds.dataset(
        os.path.join(out, "checkpoint"), format="parquet"
    ).to_table(columns=["part_id", "n_rows"])
    rows_by_part = dict(
        zip(t.column("part_id").to_pylist(), t.column("n_rows").to_pylist())
    )
    target = N // 5
    for pid, n in rows_by_part.items():
        if pid < 0:
            assert n <= target * 1.6, (pid, n, target)


def test_decode_blocks_direct_matches_generic(spark, src, tmp_path):
    """SOURCE-DIRECT decode (round-5 verdict item 5): zero-shuffle
    per-part-dir decode returns exactly what the generic
    JVM-scan+repartition engine returns — full table, column subsets,
    part filters, and hybrid outputs with negative hot part ids."""
    from nem_mms_spark.jobs.decode import decode_blocks_direct

    out = str(tmp_path / "enc")
    encode_parquet(spark, src, out, resume=False, partitioning="salted",
                   min_hot_rows=500, hot_factor=0.5)

    def sorted_pdf(df):
        p = df.toPandas()
        cols = sorted(p.columns)
        return p[cols].sort_values(cols).reset_index(drop=True)

    a = sorted_pdf(decode_blocks(spark, out))
    b = sorted_pdf(decode_blocks_direct(spark, out))
    assert a.equals(b)
    # column subset + the gate path
    c = decode_blocks_direct(
        spark, out, columns=["url", "lang"], parallelism=2, tasks_per_slot=2
    )
    assert sorted(c.columns) == ["lang", "url"]
    assert c.count() == N
    # part filter (one negative hot id)
    import os as _os

    hot = [
        int(d.split("=")[1])
        for d in _os.listdir(_os.path.join(out, "blocks"))
        if d.startswith("part_id=-")
    ]
    one = decode_blocks_direct(spark, out, parts=[hot[0]])
    assert 0 < one.count() < N
    # missing column raises
    with pytest.raises(ValueError, match="not in manifest"):
        decode_blocks_direct(spark, out, columns=["nope"])


def test_salted_direct_resume_after_pass1_crash(
    spark, src, tmp_path, monkeypatch
):
    """Kill the job between the cold commit and the hot pass: the spill
    and the cold checkpoint rows persist, and a resume completes ONLY
    the hot buckets — the two-commit structure's whole point."""
    import nem_mms_spark.checkpoint as ckpt_mod
    from nem_mms_spark.jobs.decode import decode_blocks_direct

    out = str(tmp_path / "s")
    orig = ckpt_mod.commit_checkpoint_rows
    calls = []

    def crash_after_first(rows, out_dir):
        orig(rows, out_dir)
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("injected crash after cold commit")

    monkeypatch.setattr(ckpt_mod, "commit_checkpoint_rows", crash_after_first)
    with pytest.raises(RuntimeError, match="injected crash"):
        encode_parquet(
            spark, src, out, resume=False, partitioning="salted",
            min_hot_rows=500, hot_factor=0.5,
        )
    monkeypatch.setattr(ckpt_mod, "commit_checkpoint_rows", orig)
    # the spill survived the crash (it is the hot pass's input)
    assert os.path.isdir(os.path.join(out, "hot_spill"))
    m = encode_parquet(
        spark, src, out, resume=True, partitioning="salted",
        min_hot_rows=500, hot_factor=0.5,
    )
    # every cold file part was committed before the crash -> skipped
    assert m["skipped_parts"] == 5
    assert m["rows"] == N
    # full commit -> spill cleaned, decode complete
    assert not os.path.exists(os.path.join(out, "hot_spill"))
    assert decode_blocks_direct(spark, out).count() == N


def test_salted_direct_resume_noop_and_content_determinism(
    spark, src, tmp_path
):
    import pyarrow.dataset as ds

    def content(root):
        t = ds.dataset(root, format="parquet", partitioning="hive").to_table()
        t = t.drop_columns(["encode_ns"])
        return t.sort_by([("part_id", "ascending"), ("block_id", "ascending"),
                          ("col_idx", "ascending")])

    o1 = str(tmp_path / "s1")
    o2 = str(tmp_path / "s2")
    m1 = encode_parquet(spark, src, o1, resume=False, partitioning="salted",
                        min_hot_rows=500, hot_factor=0.5)
    m2 = encode_parquet(spark, src, o2, resume=False, partitioning="salted",
                        min_hot_rows=500, hot_factor=0.5)
    assert content(os.path.join(o1, "blocks")).equals(
        content(os.path.join(o2, "blocks"))
    )
    m3 = encode_parquet(spark, src, o1, resume=True, partitioning="salted",
                        min_hot_rows=500, hot_factor=0.5)
    assert m3["skipped_parts"] == m1["parts"]
    # mode switch on resume raises (meta guard covers salted_direct too)
    with pytest.raises(ValueError, match="partitioning parameters changed"):
        encode_parquet(spark, src, o1, resume=True)


@pytest.mark.parametrize("parallelism", [None, 1], ids=["full", "p1"])
@pytest.mark.parametrize("partitioning", ["source_direct", "salted"])
def test_parallelism_bins_identical_output(
    spark, src, tmp_path, partitioning, parallelism
):
    """LPT task bins and the concurrency gate change scheduling, never
    the result: the checkpoint rows (fingerprints, byte counts, part
    ids) are bit-identical between parallelism=2 and either one task
    per file or a single gate slot — for the source-direct pass and for
    every gated pass of the salted mode (key count, cold+spill, hot
    buckets).  The property that lets the bench compare N-vs-4N inside
    one session."""
    import pyarrow.dataset as ds

    def ckpt_content(root):
        t = ds.dataset(
            os.path.join(root, "checkpoint"), format="parquet"
        ).to_table(columns=["part_id", "fingerprint", "encoded_bytes", "n_rows"])
        return sorted(zip(*[t.column(c).to_pylist() for c in t.column_names]))

    kw = {"partitioning": partitioning}
    if partitioning == "salted":
        # low thresholds: >= 2 hot buckets, so one gate slot also
        # queues the hot pass
        kw.update(min_hot_rows=200, hot_factor=0.2)
    out_a = str(tmp_path / "a")
    out_p2 = str(tmp_path / "p2")
    m_a = encode_parquet(
        spark, src, out_a, resume=False, parallelism=parallelism, **kw
    )
    m_p2 = encode_parquet(spark, src, out_p2, resume=False, parallelism=2, **kw)
    assert m_a["rows"] == m_p2["rows"] == N
    if partitioning == "salted":
        assert m_a["hot_parts"] == m_p2["hot_parts"] >= 2
    assert ckpt_content(out_a) == ckpt_content(out_p2)


def test_decode_blocks_direct_gated_matches_default(spark, src, tmp_path):
    """A single gate slot (parallelism=1) decodes exactly the rows of
    the ungated default: same multiset of row digests."""
    from nem_mms_spark.jobs.decode import decode_blocks_direct

    out = str(tmp_path / "enc")
    encode_parquet(spark, src, out, resume=False)

    def row_digests(df):
        h = F.xxhash64(*sorted(df.columns)).alias("h")
        return sorted(r["h"] for r in df.select(h).collect())

    a = row_digests(decode_blocks_direct(spark, out))
    b = row_digests(decode_blocks_direct(spark, out, parallelism=1))
    assert len(a) == N
    assert a == b
