"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

Run it from the repository root.  It pins the environment (see README.md),
starts the run in a child process with its own session, samples the
summed resident memory of every process in that session (driver, JVM,
Python workers) during the measurement window, stops whatever is left of
the session when the child ends, and removes the run's scratch
directory.  The last line of standard output is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest", "query_suite")
# driver JVM heap for a 15 GB, 4-core machine shared with other work
DRIVER_MEMORY = "3g"
# a run is killed after this long (the first run in a fresh checkout also
# compiles the native codec kernels)
GUARD_S = 850
PAGE = os.sysconf("SC_PAGE_SIZE")
TICKS = os.sysconf("SC_CLK_TCK")


def session_pids(sid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid pgrp session
        fields = stat[stat.rindex(")") + 2 :].split()
        if int(fields[3]) == sid:
            pids.append(int(d))
    return pids


def rss_bytes(pids) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


def cpu_ticks(pids) -> dict[int, int]:
    """utime + stime, in clock ticks, per live pid."""
    out = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        out[p] = int(fields[11]) + int(fields[12])
    return out


def host_steal() -> tuple[int, int]:
    """(steal, total) clock ticks of the whole machine."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


class WindowSampler:
    """Samples, while the measurement window is open, the summed resident
    memory of every process in the run's session (peak), the CPU time those
    processes use, and the machine's steal time."""

    def __init__(self, sid: int):
        self.sid = sid
        self.peak_rss = 0
        self.cpu_ticks = 0
        self._base: dict[int, int] = {}
        self._last: dict[int, int] = {}
        self._steal0 = self._steal1 = (0, 0)
        self.measuring = threading.Event()
        self._done = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        pids = session_pids(self.sid)
        self.peak_rss = max(self.peak_rss, rss_bytes(pids))
        for p, t in cpu_ticks(pids).items():
            self._base.setdefault(p, 0)  # a pid first seen in the window
            self._last[p] = t

    def start(self) -> None:
        with self._lock:
            self._base = cpu_ticks(session_pids(self.sid))
            self._last = dict(self._base)
            self._steal0 = host_steal()
            self.measuring.set()

    def stop(self) -> None:
        with self._lock:
            self._sample()
            self.measuring.clear()
            self._steal1 = host_steal()
            self.cpu_ticks = sum(t - self._base[p] for p, t in self._last.items())

    def steal_frac(self) -> float:
        d_total = self._steal1[1] - self._steal0[1]
        return (self._steal1[0] - self._steal0[0]) / d_total if d_total else 0.0

    def _loop(self) -> None:
        while not self._done.wait(0.2):
            with self._lock:
                if self.measuring.is_set():
                    self._sample()

    def close(self) -> None:
        self._done.set()
        self._thread.join()


def stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in the session; return
    once none remain."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 30.0)):
        pids = session_pids(sid)
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while pids and time.monotonic() < deadline:
            time.sleep(0.1)
            pids = session_pids(sid)
        if not pids:
            return


def pinned_env(scratch: str) -> dict:
    env = {
        k: v
        for k, v in os.environ.items()
        if not k.startswith("NEM_MMS_")
        and k not in ("SPARK_MASTER", "SPARK_GRAFT_CPUS", "PYSPARK_SUBMIT_ARGS")
    }
    env.update({
        "PYTHONPATH": ROOT,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark-local"),
        "TMPDIR": os.path.join(scratch, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "nem_mms_spark", "__init__.py")):
        print(
            f"perfbench: no nem_mms_spark package under {ROOT}; "
            "run from a full checkout",
            file=sys.stderr,
        )
        return 2

    scratch = os.path.join(ROOT, ".perfbench_run", f"{os.getpid()}-{time.time_ns()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(scratch, d))
    os.makedirs(out_dir, exist_ok=True)
    trace_out = os.path.join(out_dir, f"spans-{a.workload}-{a.seed}.jsonl")
    cmd = [
        sys.executable, "-m", "perfbench.child",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--scratch", scratch, "--trace-out", trace_out,
    ]
    result = None
    child = subprocess.Popen(
        cmd, cwd=ROOT, env=pinned_env(scratch), stdout=subprocess.PIPE,
        text=True, start_new_session=True,
    )
    sampler = WindowSampler(child.pid)
    timer = threading.Timer(GUARD_S, stop_session, args=(child.pid,))
    timer.start()
    try:
        for line in child.stdout:
            line = line.rstrip("\n")
            if line == "@@phase measure":
                sampler.start()
            elif line == "@@phase end":
                sampler.stop()
            elif line.startswith("@@result "):
                result = json.loads(line[len("@@result "):])
            else:
                print(line, flush=True)
        rc = child.wait()
    finally:
        timer.cancel()
        sampler.close()
        if child.poll() is None:
            child.kill()
            child.wait()
        stop_session(child.pid)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass
    if rc != 0 or result is None:
        print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
        return rc or 1

    n = result.pop("samples")
    if not a.trace:
        result["metrics"]["peak_rss_mb"] = {
            "value": sampler.peak_rss / 1e6, "unit": "MB",
        }
        result["metrics"]["cpu_ms_per_op"] = {
            "value": 1e3 * sampler.cpu_ticks / TICKS / max(n, 1), "unit": "ms",
        }
    print(f"host_steal_frac = {sampler.steal_frac():.4f} (machine-wide, in the window)")
    for name, m in result["metrics"].items():
        print(f"metric {name} = {m['value']:.6g} {m['unit']} (ops={n})")
    print(
        f"failed_frac = {result['failed'] / result['attempted']:.4g} "
        f"({result['failed']}/{result['attempted']})"
    )
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
