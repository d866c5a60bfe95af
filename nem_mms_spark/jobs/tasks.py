"""File-task scheduling: the one seam between Spark and the per-file
bodies of the source-direct jobs (encode, salted key count, cold+spill,
hot-bucket encode, decode).

A caller hands over a list of ``(part_id, path, nbytes)`` splits and a
per-file ``body(part_id, path)`` that yields Arrow record batches.  This
module owns everything about how those bodies become Spark tasks:

  * the range task frame — ``spark.range(0, n_bins, 1, n_bins)`` feeds
    ``mapInArrow``, and task ``i`` runs the bin with index ``i`` from the
    closure.  The frame is JVM-native, so each task starts ONE python
    worker (the mapInArrow one); a ``parallelize`` frame would add a
    second, pickled-row python stage in front of it;
  * LPT bins — splits are packed biggest-first into
    ``parallelism * tasks_per_slot`` bins, so a straggling task is
    backfilled by the remaining bins instead of extending the makespan
    one-for-one (the standard tasks-per-core > 1 cluster sizing);
  * the concurrency gate — when there are more bins than
    ``parallelism``, each task holds one of ``parallelism`` flock slot
    locks for its working duration: the local stand-in for a cluster
    manager's executor-slot count, which lets one session run two
    parallelism levels back-to-back for paired benchmarking;
  * worker tuning — one arrow thread per task, the warm system memory
    pool, one pinned core per python worker, and the zip-import guard
    that stops PySpark's per-task ``importlib.invalidate_caches()`` from
    re-parsing every zip archive on ``sys.path`` (see ``_tune_worker``).
"""

from __future__ import annotations

import functools
import os
import shutil
import sys
import time

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

_GATE_ROOT = "/dev/shm/nem_mms_gate"


def run_file_tasks(
    spark: SparkSession,
    splits: list[tuple[int, str, int]],
    body,
    schema,
    *,
    parallelism: int | None,
    tasks_per_slot: int,
    tag: str = "e",
    action=DataFrame.collect,
):
    """Run ``body(part_id, path)`` once per split as gated, tuned Spark
    tasks and return ``action(frame)`` — by default the collected rows.
    The gate dir is removed once the action returns or raises.

    ``action=None`` returns the lazy task DataFrame instead (the decode
    path); its gate dir, if any, is reclaimed by stale-gate pruning once
    the creating driver exits."""
    if not splits:
        frame = spark.createDataFrame([], schema=schema)
        return frame if action is None else action(frame)
    splits = sorted(splits, key=lambda s: -s[2])
    n_bins = len(splits)
    gate_dir = None
    gate_slots = 0
    if parallelism:
        n_bins = min(len(splits), parallelism * max(tasks_per_slot, 1))
        if n_bins > parallelism:
            _prune_stale_gates()
            gate_slots = parallelism
            gate_dir = os.path.join(
                _GATE_ROOT, f"{tag}{os.getpid()}_{time.monotonic_ns()}"
            )
    bins = _bin_file_splits(splits, n_bins)

    def file_task(batches):
        # one arrow thread per task: Spark already runs one task per
        # core, and pyarrow's default cpu_count-sized pool inside EVERY
        # concurrent task oversubscribes the box (32 tasks x 32 reader
        # threads), destroying scaling
        pa.set_cpu_count(1)
        _tune_worker()
        fd = _acquire_gate(gate_dir, gate_slots)
        try:
            for batch in batches:
                for i in batch.column("id").to_pylist():
                    for pid, path in bins[i]:
                        yield from body(pid, path)
        finally:
            _release_gate(fd)

    # range partition i holds exactly the id i, so task i runs bin i
    frame = spark.range(0, n_bins, 1, n_bins).mapInArrow(file_task, schema)
    if action is None:
        return frame
    try:
        return action(frame)
    finally:
        if gate_dir:
            shutil.rmtree(gate_dir, ignore_errors=True)


def tuned(fn):
    """Wrap a mapInArrow function so every call first applies the worker
    tuning (for kernels fed by Spark's own scan, which bypass
    ``run_file_tasks``: the DataFrame encode modes)."""

    def run(data):
        _tune_worker()
        return fn(data)

    return run


def pinned_slot() -> int:
    """The core this worker is pinned to, or -1 when unpinned."""
    return _PIN_SLOT[0] if _PIN_SLOT else -1


def _bin_file_splits(splits, n_bins):
    """LPT-bin biggest-first ``(part_id, path, nbytes)`` splits into
    ``n_bins`` lists of ``(part_id, path)``, heaviest bin first."""
    if n_bins >= len(splits):
        return [[s[:2]] for s in splits]
    bins: list[list] = [[] for _ in range(n_bins)]
    loads = [0] * n_bins
    for s in splits:
        j = loads.index(min(loads))
        bins[j].append(s)
        loads[j] += s[2]
    # biggest bins first: under gated/backfilled scheduling the heaviest
    # work should enter the machine in the first wave
    bins.sort(key=lambda b: -sum(s[2] for s in b))
    return [[s[:2] for s in b] for b in bins]


def _prune_stale_gates(root: str = _GATE_ROOT) -> None:
    """Remove gate dirs whose creating process is dead (failed encodes
    and lazy decode DataFrames — which never reach a cleanup point —
    would otherwise leak lock-file dirs in /dev/shm).  Dir names embed
    the creator pid (`<tag><pid>_<ns>`), so liveness is one /proc check;
    live processes' gates are never touched."""
    import re

    try:
        entries = os.listdir(root)
    except OSError:
        return
    for name in entries:
        m = re.match(r"[a-z]+(\d+)_\d+$", name)
        if not m:
            continue
        pid = int(m.group(1))
        if pid != os.getpid() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def _acquire_gate(gate_dir: str | None, n_slots: int) -> int | None:
    """Block until one of ``n_slots`` flock slot locks is free; return the
    held fd (kernel-released on process death — a crashed task cannot leak
    a slot)."""
    if gate_dir is None or n_slots <= 0:
        return None
    import fcntl

    os.makedirs(gate_dir, exist_ok=True)
    fds = [
        os.open(os.path.join(gate_dir, str(i)), os.O_CREAT | os.O_RDWR, 0o644)
        for i in range(n_slots)
    ]
    try:
        while True:
            for fd in fds:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                except OSError:
                    continue
                for other in fds:
                    if other != fd:
                        os.close(other)
                return fd
            time.sleep(0.002)
    except BaseException:
        for fd in fds:
            os.close(fd)
        raise


def _release_gate(fd: int | None) -> None:
    if fd is not None:
        os.close(fd)  # closing drops the flock


def _tune_worker() -> None:
    """Per-python-worker runtime tuning (idempotent — workers are reused
    across tasks, so this runs cheaply per task).

    * warm system pool: ALL pyarrow allocations (scan, serialization,
      framing) go through glibc malloc with trim/mmap disabled, so freed
      blocks stay on the warm heap and are recycled without refaulting.
      Measured (r5): the jemalloc default pool re-faulted ~1 M pages per
      encode pass inside parquet serialization alone, and fault SERVICE
      cost anti-scales brutally at 32-way concurrency (contended kernel
      page/LRU/memcg locks burn ~77x more CPU for the same work than at
      8-way).  A long-lived executor's steady state is a warm resident
      heap; this makes the python workers reach it.
      MEMORY SIZING NOTE: the worker's RSS pins at its high-watermark
      (roughly the largest source file fetched + its decoded table + the
      serialized output buffer, ~3x the biggest file) for the life of the
      worker.  Size executor memory for n_cores x that watermark, or cap
      the source file size.
    * worker pinning (NEM_MMS_PIN_WORKERS=0 to disable): one worker per
      core removes CFS migration + sibling-preemption noise, the local
      stand-in for the cgroup cpuset a real cluster manager gives each
      executor.  Each worker CLAIMS a unique core slot via an O_EXCL
      slot file (pid-modulo was tried and REJECTED: pid collisions pin
      two busy workers to one core, and the measured involuntary-switch
      rate tripled); slots from dead workers are reclaimed by liveness
      check, and when every slot is taken (more workers than cores) the
      worker stays unpinned rather than doubling up.
    * zip-import guard (``_guard_zip_invalidation``): PySpark's per-task
      ``setup_spark_files`` calls ``importlib.invalidate_caches()``, and
      on Python 3.11 every cached ``zipimporter`` then re-parses its
      whole archive directory (a worker holds 14-16 importers on
      pyspark.zip, 1,328 entries, and on the spark-core jar, 5,359
      entries): measured 105-315 ms, typically ~200 ms, of CPU per task
      inside 4 concurrent local[4] workers, before the task body
      starts, on every slot's critical path.  Guarded, the call takes
      ~0.05 ms once the worker has read each archive, and an archive is
      re-read only when its mtime or size changed.
    """
    # one IO thread per task to match the one compute thread: the
    # default 8-thread IO pool per worker process (32 workers x 8 =
    # 256 threads) oversubscribes the box during parquet scans
    try:
        pa.set_io_thread_count(1)
    except (AttributeError, ValueError):
        pass
    if not getattr(_tune_worker, "_pool_set", False):
        # mallopt via ctypes so it works even when the MALLOC_* env vars
        # weren't exported to the worker
        try:
            import ctypes

            libc = ctypes.CDLL(None, use_errno=True)
            libc.mallopt(-1, 1 << 30)  # M_TRIM_THRESHOLD: never trim
            libc.mallopt(-3, 1 << 30)  # M_MMAP_THRESHOLD: never mmap
        except (OSError, AttributeError):
            pass
        pa.set_memory_pool(pa.system_memory_pool())
        _guard_zip_invalidation()
        _tune_worker._pool_set = True
    if os.environ.get("NEM_MMS_PIN_WORKERS", "1") != "0":
        _pin_to_slot()


def _guard_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's ``(st_mtime_ns, st_size)`` moved
    since this process last read it; otherwise the importer takes the
    shared cached directory.  When the archive cannot be stat'ed, the
    real re-read runs.  Installed at most once per process (the wrapper
    carries ``__wrapped__``); a no-op on Python >= 3.12, where CPython
    already made the invalidation lazy (gh-103200)."""
    if sys.version_info >= (3, 12):
        return
    import zipimport

    real = zipimport.zipimporter.invalidate_caches
    if hasattr(real, "__wrapped__"):
        return
    read_at: dict[str, tuple[int, int]] = {}

    @functools.wraps(real)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            real(self)
            return
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == stamp:
            self._files = files
            return
        real(self)
        read_at[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_PIN_SLOT: list[int] | None = None


def _pin_to_slot(slot_dir: str = "/dev/shm/nem_mms_pin") -> None:
    """Claim a unique CPU slot for this (long-lived, reused) worker."""
    global _PIN_SLOT
    if _PIN_SLOT is not None:
        return
    ncpu = os.cpu_count() or 1
    pid = os.getpid()
    try:
        os.makedirs(slot_dir, exist_ok=True)
        for slot in range(ncpu):
            path = os.path.join(slot_dir, str(slot))
            for _attempt in (0, 1):
                try:
                    fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    os.write(fd, str(pid).encode())
                    os.close(fd)
                    os.sched_setaffinity(0, {slot})
                    _PIN_SLOT = [slot]
                    return
                except FileExistsError:
                    try:
                        with open(path) as f:
                            owner = int(f.read().strip() or "0")
                    except (OSError, ValueError):
                        owner = 0
                    if owner == pid:  # re-claimed after a re-exec
                        os.sched_setaffinity(0, {slot})
                        _PIN_SLOT = [slot]
                        return
                    if owner and os.path.exists(f"/proc/{owner}"):
                        break  # live owner -> next slot
                    # stale claim from a dead worker: remove and retry
                    try:
                        os.unlink(path)
                    except OSError:
                        break
        _PIN_SLOT = []  # all slots taken: run unpinned, never double up
    except (OSError, AttributeError):
        _PIN_SLOT = []
