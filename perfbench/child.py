"""One benchmark run inside the pinned environment ``run.py`` prepares.

Prints informational lines, ``@@phase`` markers around the measurement
window (the parent samples memory only inside it) and, last, one
``@@result`` line holding the run's JSON result without ``peak_rss_mb``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--trace-out", required=True)
    a = ap.parse_args()

    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.trace import NullTracer, Tracer
    from perfbench.workloads import WORKLOADS, Run

    tracer = Tracer() if a.trace else NullTracer()
    nproc = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(a.scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(a.scratch, "warehouse"),
        # no hsperfdata file in /tmp: the run writes only inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={a.scratch}/tmp "
        f"-Dderby.system.home={a.scratch}/derby -XX:-UsePerfData",
    }
    log_dir = os.path.join(a.scratch, "eventlog")
    if a.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })

    from nem_mms_spark.session import get_spark

    t = time.perf_counter()
    with tracer.span("session"):
        spark = get_spark(
            master=f"local[{nproc}]", app_name="perfbench", extra_conf=conf
        )
    session_s = time.perf_counter() - t
    try:
        run = Run(spark, a.scratch, a.seed, a.seconds, tracer)
        e2e = WORKLOADS[a.workload](run)
    finally:
        spark.stop()
    setup_s = session_s + e2e.pop("setup")
    for n in run.notes:
        print(n, flush=True)

    if a.trace:
        from perfbench.layers import event_log_counters

        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update(run.layer)
        layer["session.start_s"] = session_s
        layer.update(event_log_counters(log_dir))
        layer["trace.op_p50_ms"] = e2e["op_p50_ms"]
        layer["trace.setup_s"] = setup_s
        unknown = set(layer) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
        for name, secs in sorted(tracer.self_times().items()):
            print(f"self_time {name} {secs:.4f} s", flush=True)
        tracer.write(a.trace_out)
        metrics = {k: (layer[k], PER_LAYER[k][0]) for k in PER_LAYER}
    else:
        vals = {**e2e, "setup_s": setup_s}
        metrics = {
            k: (vals[k], END_TO_END[k][0])
            for k in END_TO_END
            if k not in ("peak_rss_mb", "cpu_ms_per_op")
        }
    result = {
        "correct": run.correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "samples": len(run.walls),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print("@@result " + json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
