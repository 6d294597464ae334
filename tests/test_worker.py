"""functions/worker.py: the stat-checked zip-directory cache that every
shipped function installs with ``ready()``.

In-process checks count ``zipimport._read_directory`` calls around
``importlib.invalidate_caches()`` for a module imported from a
temporary zip; the live check runs a one-partition ``mapInPandas``
until a worker serves a second task and reads its skip counter."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from recipys_spark.functions import worker
from recipys_spark.functions.worker import ready

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ re-reads zip directories lazily; ready() installs nothing",
)


def _write_zip(path, name, value):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def fresh(monkeypatch):
    """The worker module as a new process sees it; restored afterwards."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker._reread)
    monkeypatch.setattr(worker, "_installed", False)
    monkeypatch.setattr(worker, "_stats", {})
    monkeypatch.setattr(worker, "skipped", 0)
    return worker


@pytest.fixture
def zipped(tmp_path, monkeypatch):
    """(zip path, module name) of a module imported from a fresh zip."""
    zpath = str(tmp_path / "mods.zip")
    name = f"zipped_{abs(hash(zpath))}"
    _write_zip(zpath, name, "a")
    monkeypatch.syspath_prepend(zpath)
    assert importlib.import_module(name).VALUE == "a"
    yield zpath, name
    sys.modules.pop(name, None)
    sys.path_importer_cache.pop(zpath, None)
    zipimport._zip_directory_cache.pop(zpath, None)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in order."""
    seen = []
    original = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_zip_is_not_reread(fresh, zipped, reads):
    zpath, _ = zipped
    importlib.invalidate_caches()
    assert zpath in reads  # the stock importer re-reads every time
    reads.clear()
    fresh.ready()
    importlib.invalidate_caches()
    assert zpath not in reads
    assert fresh.skipped >= 1


def test_rewritten_zip_is_reread(fresh, zipped, reads):
    zpath, name = zipped
    fresh.ready()
    _write_zip(zpath, name, "b" * 16)  # in place: same inode, new size
    importlib.invalidate_caches()
    assert reads.count(zpath) == 1
    sys.modules.pop(name)
    assert importlib.import_module(name).VALUE == "b" * 16
    reads.clear()
    importlib.invalidate_caches()  # the new directory is cached again
    assert zpath not in reads


def test_second_ready_is_a_noop(fresh, zipped, reads):
    """A second ``ready()`` neither reinstalls nor re-records stats: a
    stat taken of an archive rewritten since its last read would pin
    the stale directory."""
    zpath, name = zipped
    fresh.ready()
    installed = zipimport.zipimporter.invalidate_caches
    _write_zip(zpath, name, "c" * 16)
    fresh.ready()
    assert zipimport.zipimporter.invalidate_caches is installed
    importlib.invalidate_caches()
    assert reads.count(zpath) == 1
    sys.modules.pop(name)
    assert importlib.import_module(name).VALUE == "c" * 16


def test_worker_skips_rereads_on_its_next_task(spark):
    """A worker that ran a function calling ``ready()`` skips the
    zip-directory re-reads of its next task's start. Idle workers are
    taken first-in first-out and may predate this test, so the job
    runs until some worker serves a second task."""

    def probe(batches):
        ready()
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "skipped": [worker.skipped],
                "archives": [len(zipimport._zip_directory_cache)],
            }
        )

    df = spark.range(1, numPartitions=1)
    schema = "pid long, skipped long, archives long"
    seen = {}  # pid -> skip count reported by its first task here
    for _ in range(12):
        row = df.mapInPandas(probe, schema=schema).collect()[0]
        if row.archives == 0:
            pytest.skip("the Python workers import nothing from zip archives")
        if row.pid in seen:
            assert row.skipped > 0, (seen, row)
            return
        seen[row.pid] = row.skipped
    pytest.fail(f"no worker served a second task: {seen}")
