"""Cluster-control client APIs (reference client.py:2354-3060 surface)."""

from __future__ import annotations

import zipfile

import pytest

from dask_distributed_vanilla_spark.client import Client


@pytest.fixture(scope="module")
def client(spark):
    c = Client(spark)
    yield c
    c.close()


def test_run_driver_and_executors(client):
    assert client.run(lambda: 7) == 7
    out = client.run(lambda: 1, on_executors=True)
    assert sum(out) == client.nthreads()


def test_retry_clears_memo(client):
    state = {"fail": True}

    def flaky(marker: str):
        if state["fail"]:
            raise RuntimeError("first attempt fails")
        return marker

    # module-scope closure over mutable dict -> unpicklable-ish content;
    # use explicit retry API regardless of memo behavior
    f1 = client.submit(flaky, "ok")
    with pytest.raises(RuntimeError):
        f1.result()
    state["fail"] = False
    f2 = client.retry(flaky, "ok")
    assert f2.result() == "ok"


def test_wait_for_workers_and_profile(client):
    client.wait_for_workers(1, timeout=5)
    with pytest.raises(TimeoutError):
        client.wait_for_workers(10**6, timeout=0.6)
    prof = client.profile()
    assert prof["default_parallelism"] >= 1


def test_upload_file(client, tmp_path):
    mod = tmp_path / "uploaded_helper.py"
    mod.write_text("VALUE = 41\n")
    client.upload_file(str(mod))
    # addPyFile makes it importable on executors
    got = client.run(
        lambda: __import__("uploaded_helper").VALUE + 1, on_executors=True
    )
    assert set(got) == {42}


def test_upload_zip_reaches_running_workers(client, tmp_path):
    # the workers already ran tasks above: a zip arriving now must still
    # be read by their (reused) import machinery
    with zipfile.ZipFile(tmp_path / "uploaded_zip_helper.zip", "w") as zf:
        zf.writestr("uploaded_zip_helper.py", "VALUE = 41\n")
    client.upload_file(str(tmp_path / "uploaded_zip_helper.zip"))
    got = client.run(
        lambda: __import__("uploaded_zip_helper").VALUE + 1, on_executors=True
    )
    assert set(got) == {42}


class _CounterPlugin:
    """Picklable worker plugin: setup returns a marker per slot."""

    def setup(self, worker):
        return "ready"


def test_introspection_tail(client, spark, tmp_path):
    """rebalance/has_what/nbytes/processing mirror reference
    client.py:3064-3277 at Spark granularity."""
    assert client.rebalance() is None
    df = spark.range(100)
    rb = client.rebalance(df)
    assert rb.rdd.getNumPartitions() == client.nthreads()

    cached = spark.range(50).persist()
    cached.count()
    try:
        nb = client.nbytes()
        assert all(isinstance(v, int) for v in nb.values())
        hw = client.has_what()
        assert len(hw) >= 1  # at least the driver-executor in local mode
        pr = client.processing()
        assert all(v >= 0 for v in pr.values())
    finally:
        cached.unpersist()


def test_futures_of_and_task_stream(client):
    from dask_distributed_vanilla_spark.client import futures_of

    a = client.submit(lambda: 1, pure=False)
    b = client.submit(lambda: 2, pure=False)
    found = futures_of({"x": a, "y": [b, a], "z": 3})
    assert found == [a, b]
    a.result(), b.result()
    stream = client.get_task_stream()
    assert len(stream) >= 2
    assert {"key", "function", "start", "stop", "status"} <= set(stream[-1])


def _ran_before_block():
    return 1


def _ran_inside_block():
    return 2


def test_performance_report(client, tmp_path):
    out = tmp_path / "report.html"
    client.submit(_ran_before_block, pure=False).result()
    with client.performance_report(str(out)):
        client.submit(_ran_inside_block, pure=False).result()
    html = out.read_text()
    assert "performance report" in html and "OK" in html
    # records are selected by start-time, so pre-block tasks stay out
    # even though they share the task-stream deque
    assert "_ran_inside_block" in html
    assert "_ran_before_block" not in html


def test_register_worker_plugin(client):
    got = client.register_worker_plugin(_CounterPlugin())
    # best-effort coverage: each python worker that received a probe task
    # runs setup exactly once (per-process memo), so the count is between
    # 1 and the 2*parallelism probes — never one result per probe task
    assert got and set(got) == {"ready"}
    assert len(got) <= 2 * client.nthreads()
    assert "_CounterPlugin" in client._plugins
    # re-registering under the same name: workers that already ran setup
    # skip it, so no worker reports twice in one reused-worker session
    again = client.register_worker_plugin(_CounterPlugin())
    assert set(again) <= {"ready"}
