"""The benchmark's workloads.

Each workload is a closed loop with one client: the driver process submits
one operation, waits for it, checks its output, and only then submits the
next, until ``seconds`` have passed.  Set-up (input generation, the first
cold operation, the query oracle) happens before the window and is timed
as ``setup_s``.

  ingest       full source-direct ``encode_parquet`` of a generated
               ``web_pages`` table split over many parquet files
  query_suite  every query in ``nem_mms_spark.queries.QUERIES`` over a copy
               of the project's sf0.1 test tables (``data/sf0.1``), each
               result checked against the DuckDB ``ORACLE_SQL`` answer

With tracing on, each workload also times calls into the layers below the
operation and reads the counters those calls return (see ``layers.py``).
"""

from __future__ import annotations

import math
import multiprocessing
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import layers
from perfbench.stats import geomean, median

# web_pages input: rows and files per run (PERFBENCH_TINY=1, set by the
# self-test, shrinks them).  At 16,000 rows per file the encode kernels,
# not per-task dispatch, take most of an op's wall.
WEB_ROWS, WEB_FILES = (
    (4_096, 4) if os.environ.get("PERFBENCH_TINY") == "1" else (256_000, 16)
)
# the query suite's input: a byte copy of the project's sf0.1 test tables
# (TESTDATA.md; fixed, generated with seed 42), read in place
QUERY_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
QUERY_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


class Run:
    """State of one benchmark run: the session, its scratch directory and
    the operation counters every workload reports."""

    def __init__(self, spark, scratch: str, seed: int, seconds: float, tracer):
        self.spark = spark
        self.scratch = scratch
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.walls: list[float] = []
        self.layer: dict[str, float] = {}
        self.notes: list[str] = []

    def fail(self, what: str) -> None:
        """A failed operation that is not a recorded issue: it raised or
        its output is wrong, so the run is not correct."""
        self.failed += 1
        self.correct = False
        self.notes.append(f"FAILED {what}")

    def known_issue(self, what: str) -> None:
        """A recorded defect reproduced by a named check (README.md,
        "Recorded issue").  The check is not an operation: it counts in
        neither ``attempted`` nor ``failed`` and is not a wrong output."""
        self.notes.append(f"KNOWN ISSUE {what}")

    def window_open(self, t_start: float, n_done: int) -> bool:
        """True until ``seconds`` have passed since ``t_start``, and always
        before the first of the window's operations (or passes)."""
        return n_done == 0 or time.perf_counter() - t_start < self.seconds


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ------------------------------------------------------------ web_pages


def _write_web_file(path: str, lo: int, hi: int) -> None:
    from nem_mms_spark.datagen.webpages import generate_pages

    tbl = pa.Table.from_pandas(generate_pages(np.arange(lo, hi)), preserve_index=False)
    pq.write_table(tbl, path)


def write_web_pages(
    seed: int, dest: str, n_rows: int, n_files: int, pool=None
) -> None:
    """Write ``n_rows`` generated rows as ``n_files`` default-writer parquet
    files, on ``pool`` when given.  Row ids start at a seed-dependent
    offset, so the seed picks the rows (urls, hosts, timestamps) while
    their distributions stay fixed."""
    os.makedirs(dest)
    base = seed * 100_000_000
    per = n_rows // n_files
    jobs = [
        (os.path.join(dest, f"part-{i:05d}.parquet"), base + i * per, base + (i + 1) * per)
        for i in range(n_files)
    ]
    if pool is None:
        for j in jobs:
            _write_web_file(*j)
    else:
        pool.starmap(_write_web_file, jobs)


def ckpt_state(out_dir: str) -> list[tuple]:
    """(part_id, n_rows, fingerprint, encoded_bytes) per committed part."""
    from nem_mms_spark.checkpoint import checkpoint_path

    t = ds.dataset(checkpoint_path(out_dir), format="parquet").to_table(
        columns=["part_id", "n_rows", "fingerprint", "encoded_bytes"]
    )
    return sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def _row_digest(df):
    """Order-independent (count, digest) of a web_pages DataFrame."""
    from pyspark.sql import functions as F

    h = F.xxhash64(
        "url", "html", "text", "lang", F.col("warc_ts").cast("string")
    ).cast("decimal(38,0)")
    r = df.select(h.alias("h")).agg(F.count("*"), F.sum("h")).first()
    return int(r[0]), int(r[1] or 0)


def decode_matches_source(run: Run, out_dir: str, src_dir: str) -> tuple[bool, str, float]:
    """Full ``decode_blocks_direct`` of an encoded output compared with
    its source table: same row count and same order-independent digest.
    A decode that raises is a mismatch.  Also returns the decode's wall."""
    from nem_mms_spark.jobs.decode import decode_blocks_direct

    want = _row_digest(run.spark.read.parquet(src_dir))
    t = time.perf_counter()
    try:
        with run.tracer.span("jobs.decode", op="full"):
            got = _row_digest(decode_blocks_direct(run.spark, out_dir))
    except Exception as e:  # a corrupt output may fail to decode at all
        return False, f"decode raised {type(e).__name__}", time.perf_counter() - t
    return got == want, f"decoded {got} vs source {want}", time.perf_counter() - t


def run_ingest(run: Run) -> dict:
    from nem_mms_spark.jobs.encode import encode_parquet

    spark, tr = run.spark, run.tracer
    src = os.path.join(run.scratch, "src")
    t = time.perf_counter()
    with tr.span("datagen"):
        with multiprocessing.get_context("spawn").Pool(
            len(os.sched_getaffinity(0))
        ) as pool:
            write_web_pages(run.seed, src, WEB_ROWS, WEB_FILES, pool)
    write_s = time.perf_counter() - t
    out = os.path.join(run.scratch, "out")

    def encode():
        t = time.perf_counter()
        res = encode_parquet(spark, src, out, resume=False)
        return res, time.perf_counter() - t

    # the first (cold) op is set-up; its outputs are the reference every
    # later op must reproduce
    with tr.span("jobs.encode", op="warmup"):
        _res0, warm_s = encode()
    ref = ckpt_state(out)
    setup = write_s + warm_s
    run.notes.append(f"setup: datagen_s={write_s:.3f} warmup_s={warm_s:.3f}")

    print("@@phase measure", flush=True)
    results = []
    t_start = time.perf_counter()
    i = 0
    while run.window_open(t_start, i):
        i += 1
        run.attempted += 1
        try:
            with tr.span("jobs.encode", op=i):
                res, wall = encode()
        except Exception as e:  # a failed op is counted, the loop goes on
            run.fail(f"encode op {i}: {e!r}"[:300])
            continue
        if ckpt_state(out) != ref:
            run.fail(f"encode op {i}: parts differ from the first op")
            continue
        # only checked operations are latency samples
        run.walls.append(wall)
        results.append(res)
    print("@@phase end", flush=True)

    # one full decode against the source, outside the window
    run.attempted += 1
    same, detail, decode_full_s = decode_matches_source(run, out, src)
    if not same:
        run.fail(f"decode vs source: {detail}")

    lo, hi = layers.scan_range(src, run.seed)
    expect = layers.expected_scan_rows(src, lo, hi)
    layers.projection_defect_check(run, out, lo, hi, expect)

    raw = results[0]["raw_bytes"] if results else 0
    size = (
        dir_bytes(os.path.join(out, "blocks"))
        + dir_bytes(os.path.join(out, "manifest"))
    ) / dir_bytes(src)
    e2e = {
        "op_p50_ms": 1e3 * median(run.walls),
        "op_geomean_ms": 1e3 * geomean(run.walls),
        "mb_per_s": raw * len(results) / max(sum(run.walls), 1e-9) / 1e6,
        "size_vs_parquet": size,
    }
    run.notes.append(
        f"ops={len(run.walls)} raw_mb_per_op={raw / 1e6:.1f} "
        f"encoded_bytes={results[0]['encoded_bytes'] if results else 0} "
        f"warmup_s={warm_s:.3f} op_s={[round(w, 3) for w in run.walls]}"
    )
    if tr.enabled:
        run.layer["datagen.write_s"] = write_s
        run.layer["decode.full_s"] = decode_full_s
        run.layer.update(layers.encode_counters(results, spark))
        run.layer.update(layers.column_replay(src))
        run.layer.update(layers.decode_probes(run, out, lo, hi, expect))
        run.layer.update(salted_probe(run, src))
    return {"setup": setup, **e2e}


def salted_probe(run: Run, src: str) -> dict[str, float]:
    """Traced-run probe of the salted (skew) encode path on the same input:
    one ``partitioning="salted"`` encode, its skew counters, and a full
    decode of its output checked against the source."""
    from nem_mms_spark.jobs.encode import encode_parquet

    out = os.path.join(run.scratch, "out_salted")
    run.attempted += 1
    t = time.perf_counter()
    with run.tracer.span("jobs.encode", op="salted"):
        res = encode_parquet(run.spark, src, out, resume=False, partitioning="salted")
    wall = time.perf_counter() - t
    same, detail, _ = decode_matches_source(run, out, src)
    if not same:
        run.fail(f"salted decode vs source: {detail}")
    return {
        "encode.salted.op_s": wall,
        "encode.salted.hot_keys": res["hot_keys"],
        "encode.salted.hot_parts": res["hot_parts"],
        "encode.salted.hot_row_frac": res["hot_rows"] / max(res["rows"], 1),
    }


# ---------------------------------------------------------- query suite


def normalize(rows, cols):
    """Sort columns by name, canonicalize values, sort rows (the same rule
    as the project's oracle test)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in idx:
            v = row[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 6)
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def oracle_answers(table_dir: str) -> dict[str, tuple]:
    import duckdb

    from nem_mms_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    try:
        for t in QUERY_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'"
            )
        ans = {}
        for name, sql in ORACLE_SQL.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            ans[name] = (sorted(cols), normalize(res.fetchall(), cols))
        return ans
    finally:
        con.close()


def run_query_suite(run: Run) -> dict:
    from nem_mms_spark.queries import QUERIES

    spark, tr = run.spark, run.tracer
    tdir = QUERY_DATA
    t = time.perf_counter()
    with tr.span("oracle"):
        oracle = oracle_answers(tdir)
    oracle_s = time.perf_counter() - t
    t = time.perf_counter()
    size, arrow_bytes = layers.tables_size_ratio(tdir)
    size_s = time.perf_counter() - t
    setup = oracle_s + size_s
    run.notes.append(f"setup: oracle_s={oracle_s:.3f} size_ratio_s={size_s:.3f}")

    # one fixed order: a cold pass charges first-use costs (worker imports,
    # code generation) to whichever query touches a code path first, and a
    # seeded order moved those charges between queries from run to run
    names = list(QUERIES)
    sc = spark.sparkContext
    per_query: dict[str, list[float]] = {n: [] for n in names}
    build_s = exec_s = 0.0
    passes = 0
    print("@@phase measure", flush=True)
    t_start = time.perf_counter()
    while run.window_open(t_start, passes):
        for name in names:
            run.attempted += 1
            sc.setJobDescription(name)
            t0 = time.perf_counter()
            try:
                with tr.span("queries", op=name):
                    df = QUERIES[name](spark, tdir)
                    t1 = time.perf_counter()
                    rows = df.collect()
                t2 = time.perf_counter()
            except Exception as e:  # a failed query is counted, the pass goes on
                run.fail(f"{name}: {e!r}"[:300])
                continue
            finally:
                sc.setJobDescription(None)
            cols = df.columns
            rows = [tuple(r) for r in rows]
            if (sorted(cols), normalize(rows, cols)) != oracle[name]:
                run.fail(f"{name}: result differs from the oracle")
                continue
            # only checked queries are latency samples
            run.walls.append(t2 - t0)
            per_query[name].append(t2 - t0)
            build_s += t1 - t0
            exec_s += t2 - t1
        passes += 1
    print("@@phase end", flush=True)

    pass_s = sum(run.walls) / max(passes, 1)
    run.notes.append(
        "query_s " + " ".join(f"{n}={median(v):.3f}" for n, v in per_query.items() if v)
    )
    run.notes.append(
        f"passes={passes} queries={len(run.walls)} pass_s={pass_s:.2f} "
        f"query_total_s={sum(median(v) for v in per_query.values() if v):.2f} "
        f"query_geomean_s={geomean([median(v) for v in per_query.values() if v]):.4f}"
    )
    e2e = {
        "op_p50_ms": 1e3 * median(run.walls),
        "op_geomean_ms": 1e3 * geomean(run.walls),
        "mb_per_s": arrow_bytes / 1e6 / max(pass_s, 1e-9),
        "size_vs_parquet": size,
    }
    if tr.enabled:
        run.layer["queries.build_s"] = build_s / max(passes, 1)
        run.layer["queries.exec_s"] = exec_s / max(passes, 1)
        for n, v in per_query.items():
            run.layer[f"query.{n}.s"] = median(v) if v else 0.0
    return {"setup": setup, **e2e}


WORKLOADS = {"ingest": run_ingest, "query_suite": run_query_suite}
