"""The file-task seam (`jobs/tasks.py`): the JVM-native range task frame,
the LPT bins behind it, and the once-per-worker zip-import guard."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pyarrow as pa
import pytest

from nem_mms_spark.jobs.tasks import (
    _bin_file_splits,
    _guard_zip_invalidation,
    run_file_tasks,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimport invalidation is lazy on Python >= 3.12",
)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def guarded(monkeypatch):
    """Install the guard for one test; the real method is put back."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    _guard_zip_invalidation()


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on sys.path holding one fresh module; returns
    (archive path, module name)."""
    path = str(tmp_path / "mods.zip")
    name = f"zmod_{uuid.uuid4().hex}"
    _write_zip(path, {name: "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path, name
    sys.modules.pop(name, None)


@needs_guard
def test_guard_rereads_a_changed_archive(guarded, zip_on_path):
    path, a = zip_on_path
    assert importlib.import_module(a).X == 1
    importlib.invalidate_caches()  # stamps the archive as read
    b = f"zmod_{uuid.uuid4().hex}"
    size = os.path.getsize(path)
    _write_zip(path, {a: "X = 1\n", b: "Y = 2\n"})
    assert os.path.getsize(path) != size
    importlib.invalidate_caches()
    try:
        assert importlib.import_module(b).Y == 2
    finally:
        sys.modules.pop(b, None)


@needs_guard
def test_guard_skips_reread_of_unchanged_archive(
    guarded, zip_on_path, monkeypatch
):
    path, a = zip_on_path
    importlib.import_module(a)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        if archive == path:
            reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n
    # the skipped importer still resolves modules from the archive
    sys.modules.pop(a)
    assert importlib.import_module(a).X == 1


@needs_guard
def test_tune_worker_twice_installs_one_wrapper():
    # a child process: _tune_worker retunes the process it runs in
    code = (
        "import zipimport\n"
        "from nem_mms_spark.jobs import tasks\n"
        "tasks._tune_worker()\n"
        "tasks._tune_worker._pool_set = False\n"
        "tasks._tune_worker()\n"
        "f = zipimport.zipimporter.invalidate_caches\n"
        "print(hasattr(f, '__wrapped__'), hasattr(f.__wrapped__, '__wrapped__'))\n"
    )
    env = dict(os.environ, PYTHONPATH=ROOT, NEM_MMS_PIN_WORKERS="0")
    out = subprocess.run(
        [sys.executable, "-c", code],
        env=env, capture_output=True, text=True, timeout=120, check=True,
    )
    assert out.stdout.split() == ["True", "False"]


def test_bins_are_plain_lists_heaviest_first():
    sizes = [5, 9, 1, 7, 3, 8, 2]
    splits = sorted(
        ((i, f"f{i}", n) for i, n in enumerate(sizes)), key=lambda s: -s[2]
    )
    bins = _bin_file_splits(splits, 3)
    assert len(bins) == 3 and all(isinstance(b, list) for b in bins)
    assert sorted(s for b in bins for s in b) == sorted(s[:2] for s in splits)
    loads = [sum(sizes[pid] for pid, _ in b) for b in bins]
    assert loads == sorted(loads, reverse=True)
    assert _bin_file_splits(splits, len(splits)) == [[s[:2]] for s in splits]


def test_task_frame_is_a_jvm_range(spark, tmp_path):
    """The lazy task frame scans a Range, not a Python RDD, and still
    runs every split exactly once."""

    def echo(pid, path):
        yield pa.RecordBatch.from_pydict(
            {"part_id": [pid], "path": [path]},
            schema=pa.schema([("part_id", pa.int32()), ("path", pa.string())]),
        )

    splits = [(i, str(tmp_path / f"f{i}"), 10 * i + 1) for i in range(5)]
    for parallelism in (None, 2):
        frame = run_file_tasks(
            spark, splits, echo, "part_id int, path string",
            parallelism=parallelism, tasks_per_slot=2, action=None,
        )
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Range" in plan
        assert "ExistingRDD" not in plan and "PythonRDD" not in plan
        assert sorted(tuple(r) for r in frame.collect()) == [
            s[:2] for s in splits
        ]


def test_reused_worker_keeps_the_guard(spark, tmp_path):
    """Each task reports its worker pid, whether exactly one guard
    wrapper is installed, and how many archive directories one more
    ``importlib.invalidate_caches()`` re-read.  A worker seen again in
    a later run is a reused worker: it still has the guard, and with no
    archive changed it re-reads nothing."""

    def probe(_pid, _path):
        import importlib as il
        import os as o
        import zipimport as zi

        f = zi.zipimporter.invalidate_caches
        real_read = zi._read_directory
        reads = []
        zi._read_directory = lambda a: reads.append(a) or real_read(a)
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = real_read
        guarded = hasattr(f, "__wrapped__") and not hasattr(
            f.__wrapped__, "__wrapped__"
        )
        yield pa.RecordBatch.from_pydict(
            {"pid": [o.getpid()], "guarded": [guarded], "reads": [len(reads)]}
        )

    schema = "pid long, guarded boolean, reads long"
    splits = [(i, str(tmp_path / f"f{i}"), 1) for i in range(4)]
    seen: set[int] = set()
    reused = []
    for _ in range(8):  # idle workers are handed out first-in first-out
        rows = run_file_tasks(
            spark, splits, probe, schema, parallelism=None, tasks_per_slot=1
        )
        if sys.version_info < (3, 12):
            assert all(r["guarded"] for r in rows)
        reused += [r for r in rows if r["pid"] in seen]
        seen |= {r["pid"] for r in rows}
        if reused:
            break
    assert reused, "no python worker was reused across runs"
    if sys.version_info < (3, 12):
        assert all(r["reads"] == 0 for r in reused)
