"""CLI round trip through ``cli.main``: encode -> decode -> verify, then
the same output resumed through the API with its defaults (the CLI must
record the API's partitioning parameters)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from nem_mms_spark import cli
from nem_mms_spark.datagen import web_pages_df
from nem_mms_spark.jobs.encode import encode_dataframe

N = 2000


def _row_digests(df):
    h = F.xxhash64(*sorted(df.columns)).alias("h")
    return sorted(r["h"] for r in df.select(h).collect())


def test_cli_encode_decode_verify_then_api_resume(
    spark, tmp_path, capsys, monkeypatch
):
    # the test session, not a re-configured one
    monkeypatch.setattr(cli, "_spark", lambda args: spark)
    src, enc, back = (str(tmp_path / d) for d in ("src", "enc", "back"))
    web_pages_df(spark, N).write.parquet(src)

    def run(*argv):
        assert cli.main(list(argv)) == 0
        return json.loads(capsys.readouterr().out)

    m = run(
        "encode", "--input", src, "--out", enc, "--partitioning", "aligned"
    )
    assert m["rows"] == N
    assert run("decode", "--encoded", enc, "--out", back)["written"] == back
    source = spark.read.parquet(src)
    assert _row_digests(spark.read.parquet(back)) == _row_digests(source)
    v = run("verify", "--source", src, "--encoded", enc)
    assert v["decoded_rows"] == N and v["mismatched_groups"] == 0

    again = encode_dataframe(
        spark, source, enc, partitioning="aligned", resume=True
    )
    assert again["skipped_parts"] == m["parts"]
    assert again["rows"] == N
