"""The engine's Python worker daemon (dask_distributed_vanilla_spark/pyworker.py):
zip archives are re-read only when they change, workers are reused
without re-reading pyspark.zip, and the daemon starts from any
environment."""

from __future__ import annotations

import importlib
import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

from dask_distributed_vanilla_spark import pyworker

_ROOT = Path(__file__).resolve().parents[1]


def _write_zip(path: Path, source: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zip_probe_mod.py", source)


def test_zip_reread_only_when_changed(tmp_path, monkeypatch):
    archive = tmp_path / "probe.zip"
    _write_zip(archive, "VALUE = 1\n")
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == str(archive):
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_if_changed)
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "zip_probe_mod", raising=False)
    assert importlib.import_module("zip_probe_mod").VALUE == 1

    importlib.invalidate_caches()  # first call stamps the new importer
    del reads[:]
    importlib.invalidate_caches()
    assert reads == []  # unchanged archive: no re-read

    _write_zip(archive, "VALUE = 2  # rewritten\n")
    importlib.invalidate_caches()
    assert len(reads) == 1
    del sys.modules["zip_probe_mod"]
    assert importlib.import_module("zip_probe_mod").VALUE == 2

    # an archive that cannot be stat'ed falls back to the stock re-read,
    # which empties the importer
    archive.unlink()
    importlib.invalidate_caches()
    del sys.modules["zip_probe_mod"]
    assert importlib.util.find_spec("zip_probe_mod") is None


def _read_probe(part):
    """First task in a worker installs a recorder on zipimport's archive
    reader; each later task in that worker returns the archives read
    since the previous one, then clears the record."""
    import os
    import zipimport

    list(part)  # a worker that leaves input unread is not reused

    reads = getattr(zipimport, "_probe_reads", None)
    if reads is None:
        reads = []
        read_directory = zipimport._read_directory

        def recording(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = recording
        zipimport._probe_reads = reads
        return [(os.getpid(), None)]
    out = list(reads)
    reads.clear()
    return [(os.getpid(), out)]


def test_reused_worker_skips_zip_reread(spark):
    sc = spark.sparkContext
    visits: dict[int, list] = {}
    # One single-task job at a time: idle workers are taken in turn, so
    # within a few rounds some worker runs the probe three times.
    for _ in range(40):
        [(pid, reads)] = sc.parallelize([0], 1).mapPartitions(_read_probe).collect()
        visits.setdefault(pid, []).append(reads)
        if sum(len(v) >= 3 for v in visits.values()) >= 2:
            break
    # A visit's record covers the invalidate_caches() at its own task
    # start. The second visit can still show one read per zipimporter
    # the first visit created (e.g. importing this module walks sys.path
    # past a zip an earlier test uploaded): that importer's first
    # invalidation. From the third visit on, a reused worker reads
    # nothing.
    steady = [reads for v in visits.values() for reads in v[2:]]
    assert steady, f"no worker ran the probe three times: {visits}"
    assert steady == [[]] * len(steady), visits


def test_python_task_without_pythonpath(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(_ROOT)!r})
        from dask_distributed_vanilla_spark.session import get_spark

        spark = get_spark("no-pythonpath", master="local[1]")
        spark.sparkContext.setLogLevel("ERROR")
        daemon = spark.sparkContext.parallelize([0], 1).map(
            lambda _: sys.modules["__main__"].__spec__.name
        ).collect()
        print("DAEMON", daemon[0])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "DAEMON dask_distributed_vanilla_spark.pyworker" in out.stdout, out.stdout
