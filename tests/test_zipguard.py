"""The zip-import guard: an unchanged zip is not re-read on invalidation.

pyspark's worker invalidates the import caches at the start of every
task; below Python 3.12 that re-reads every zip on ``sys.path``
(``pyspark.zip`` among them) once per ``zipimporter``. Importing
``warcio_spark`` installs ``warcio_spark.zipguard``, which keeps the
directory while the archive's stat is unchanged and re-reads it when the
archive changes.
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

from conftest import REPO
from warcio_spark import zipguard

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimport re-reads lazily from Python 3.12 on; no guard",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zgpkg/__init__.py", "")
        zf.writestr("zgpkg/sub/__init__.py", "")
        for name, body in modules.items():
            zf.writestr(f"zgpkg/sub/{name}.py", body)


@pytest.fixture
def zipped_package(tmp_path, monkeypatch):
    archive = str(tmp_path / "zgpkg.zip")
    _write_zip(archive, {"one": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in [m for m in sys.modules if m.split(".")[0] == "zgpkg"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def _count_reads(monkeypatch):
    calls = []
    read = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(
        zipped_package, monkeypatch):
    from zgpkg.sub import one

    assert one.VALUE == 1
    importers = [k for k in sys.path_importer_cache
                 if k.startswith(zipped_package)]
    assert len(importers) >= 3  # the archive, zgpkg/ and zgpkg/sub/

    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert [c for c in calls if c == zipped_package] == []

    _write_zip(zipped_package, {"one": "VALUE = 1\n", "two": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert zipped_package in calls
    from zgpkg.sub import two

    assert two.VALUE == 2


def test_install_is_idempotent():
    guarded = zipimport.zipimporter.invalidate_caches
    read = zipimport._read_directory
    zipguard.install()
    zipguard.install()
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert zipimport._read_directory is read


_TWO_TASKS = textwrap.dedent("""
    import json, os, sys
    import pyarrow as pa
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.addPyFile(sys.argv[1])

    def count_reads(batches):
        import zipimport
        import warcio_spark  # noqa: F401  (installs the guard)
        from zgpkg.sub import one  # noqa: F401
        read = zipimport._read_directory
        zipimport.reads = []

        def counted(archive):
            zipimport.reads.append(archive)
            return read(archive)

        zipimport._read_directory = counted
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"out": [json.dumps(os.getpid())]})

    def report(batches):
        import zipimport
        from zgpkg.sub import one
        for _ in batches:
            pass
        out = [os.getpid(), getattr(zipimport, "reads", None), one.VALUE]
        yield pa.RecordBatch.from_pydict({"out": [json.dumps(out)]})

    def run(body):
        return json.loads(spark.range(1).mapInArrow(body, "out string")
                          .collect()[0].out)

    first = run(count_reads)
    pid, reads, value = run(report)
    spark.stop()
    print(json.dumps({"first": first, "pid": pid, "reads": reads,
                      "value": value}))
""")


def test_reused_worker_does_not_reread_zips(tmp_path):
    """Two Python tasks in one reused local[1] worker: the second task's
    start-up invalidation reads no zip directory, the shipped
    ``--py-files``-style zip included."""
    archive = str(tmp_path / "zgpkg.zip")
    _write_zip(archive, {"one": "VALUE = 1\n"})
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(
                   p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run(
        [sys.executable, "-c", _TWO_TASKS, archive], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["pid"] == result["first"], "worker was not reused"
    assert result["value"] == 1
    assert result["reads"] == []
