"""The stat-checked zip directory invalidation (exaloglog_paper_spark._zipcache).

Driver side: an unchanged archive on sys.path is not re-read across
``importlib.invalidate_caches()``, and a rewritten or deleted one is.
Spark side: in a reused Python worker, the task after the engine's first
task re-reads no zip directory in its ``invalidate_caches()``.
"""

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

import exaloglog_paper_spark  # noqa: F401  (installs the replacement)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 invalidates zip directories lazily; no replacement installed",
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "zipcache_probe.zip")
    _write_zip(archive, {"zipcache_probe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in ("zipcache_probe_a", "zipcache_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread_and_rewritten_one_is(zip_on_path):
    archive, reads = zip_on_path
    assert importlib.import_module("zipcache_probe_a").X == 1
    importlib.invalidate_caches()  # first call for this archive: stamps it
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0

    _write_zip(archive, {"zipcache_probe_a": "X = 1\n", "zipcache_probe_b": "Y = 22\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zipcache_probe_b").Y == 22


def test_deleted_then_recreated_archive_is_reread(zip_on_path):
    archive, reads = zip_on_path
    importlib.import_module("zipcache_probe_a")
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()  # stat error: stdlib behaviour, empty directory
    assert sys.path_importer_cache[archive]._files == {}
    _write_zip(archive, {"zipcache_probe_b": "Y = 3\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zipcache_probe_b").Y == 3


_WORKER_SCRIPT = textwrap.dedent(
    """
    import json, os
    import pyarrow as pa
    from exaloglog_paper_spark.session import get_spark

    def first(batches):
        import zipimport
        from exaloglog_paper_spark.ops import agg  # noqa: F401  (an engine task)
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        zipimport._zipcache_test_reads = reads
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"pid": os.getpid(), "reads": 0, "zips": 0}])

    def second(batches):
        import sys, zipimport
        zips = sum(isinstance(i, zipimport.zipimporter)
                   for i in sys.path_importer_cache.values())
        for _ in batches:
            pass
        reads = len(zipimport._zipcache_test_reads)
        yield pa.RecordBatch.from_pylist([{"pid": os.getpid(), "reads": reads, "zips": zips}])

    spark = get_spark(master="local[1]", shuffle_partitions=1)
    df = spark.range(1, numPartitions=1)
    schema = "pid long, reads long, zips long"
    a = df.mapInArrow(first, schema).collect()[0]
    b = df.mapInArrow(second, schema).collect()[0]
    spark.stop()
    print(json.dumps({"pids": [a.pid, b.pid], "reads": b.reads, "zips": b.zips}))
    """
)


def test_second_worker_task_rereads_no_zip_directory():
    """A fresh local[1] session, so both tasks run in one fresh worker: the
    first imports the engine (installing the replacement) and starts
    counting zip directory reads; the second reports the reads its own
    task set-up made."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, env.get("PYTHONPATH")]))
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_SCRIPT],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    pid_a, pid_b = result["pids"]
    assert pid_a == pid_b, "the two tasks ran in different workers"
    assert result["zips"] > 0, "no zip importer on the worker path: nothing tested"
    assert result["reads"] == 0
