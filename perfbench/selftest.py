"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

From the repository root.  It checks that

  1. ``BENCHMARK.json`` lists exactly the metrics ``metrics.py`` defines,
     and the query tables in ``data/sf0.1`` match their ``SHA256SUMS``;
  2. every workload, run through ``run.py`` on a tiny input, emits every
     end-to-end metric untraced and every per-layer metric traced, and
     reports a correct run with no failed operation;
  3. the decode-vs-source check fails on a copy of an encoded output
     with one payload byte flipped.

Exits 0 when all hold.  Takes about five minutes (the query suite's cold
pass over the full sf0.1 tables dominates; only the ``ingest`` input is
tiny).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PERFBENCH_TINY"] = "1"

from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402


def check_spec() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]}
    assert e2e == END_TO_END, f"end_to_end differs: {e2e} vs {END_TO_END}"
    layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layer == PER_LAYER, "per_layer differs from metrics.PER_LAYER"
    names = {w["name"] for w in spec["workloads"]}
    from perfbench.run import WORKLOADS

    assert names == set(WORKLOADS), f"workloads differ: {names}"


def check_query_data() -> None:
    import hashlib

    from perfbench.workloads import QUERY_DATA, QUERY_TABLES

    with open(os.path.join(QUERY_DATA, "SHA256SUMS")) as fh:
        sums = {name: digest for digest, name in (line.split() for line in fh)}
    assert set(sums) == {f"{t}.parquet" for t in QUERY_TABLES}, sorted(sums)
    for name, digest in sums.items():
        with open(os.path.join(QUERY_DATA, name), "rb") as fh:
            assert hashlib.sha256(fh.read()).hexdigest() == digest, name


def check_emitted(workload: str, trace: int) -> None:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, f"{workload}: exit {out.returncode}\n{out.stderr[-2000:]}"
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    want = PER_LAYER if trace else END_TO_END
    assert set(res["metrics"]) == set(want), (
        f"{workload} trace={trace}: missing {set(want) - set(res['metrics'])}, "
        f"extra {set(res['metrics']) - set(want)}"
    )
    for name, m in res["metrics"].items():
        assert m["unit"] == want[name][0], (name, m)
    assert res["correct"] and res["failed"] == 0, (workload, trace, res)
    print(f"ok  {workload} trace={trace}: {len(res['metrics'])} metrics, "
          f"{res['attempted']} ops, {res['failed']} failed")


def flip_one_payload_byte(out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(out_dir, "blocks", "part_id=0", "data.parquet")
    tbl = pq.read_table(path)
    payloads = tbl.column("payload").to_pylist()
    cols = tbl.column("column").to_pylist()
    i = cols.index("text")
    b = bytearray(payloads[i])
    b[len(b) // 2] ^= 0xFF
    payloads[i] = bytes(b)
    idx = tbl.schema.get_field_index("payload")
    tbl = tbl.set_column(idx, "payload", pa.array(payloads, pa.binary()))
    pq.write_table(tbl, path)


def check_byte_flip() -> None:
    from nem_mms_spark.jobs.encode import encode_parquet
    from nem_mms_spark.session import get_spark

    from perfbench.trace import NullTracer
    from perfbench.workloads import Run, decode_matches_source, write_web_pages

    os.environ["PYTHONPATH"] = ROOT
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    parent = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=parent)
    spark = get_spark(
        master="local[2]", app_name="perfbench-selftest",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    try:
        run = Run(spark, tmp, 7, 1, NullTracer())
        src, out, bad = (os.path.join(tmp, d) for d in ("src", "out", "bad"))
        write_web_pages(7, src, 4096, 2)
        encode_parquet(spark, src, out, resume=False)
        same, detail, _ = decode_matches_source(run, out, src)
        assert same, f"clean output must match: {detail}"
        shutil.copytree(out, bad)
        flip_one_payload_byte(bad)
        same, detail, _ = decode_matches_source(run, bad, src)
        assert not same, "check passed on an output with a flipped payload byte"
        print(f"ok  byte-flipped copy fails the decode check ({detail})")
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:  # another run still uses it
            pass


def main() -> int:
    check_spec()
    print("ok  BENCHMARK.json matches metrics.py")
    check_query_data()
    print("ok  query tables match SHA256SUMS")
    from perfbench.run import WORKLOADS

    for w in WORKLOADS:
        for trace in (0, 1):
            check_emitted(w, trace)
    check_byte_flip()
    return 0


if __name__ == "__main__":
    sys.exit(main())
