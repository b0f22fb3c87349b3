"""Structured Streaming: watermarked windows (batch-equivalent) and the
custom stateful sessionization operator."""

from __future__ import annotations

import os
import tempfile
import threading
import uuid

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from dask_distributed_vanilla_spark.catalog import load_table
from dask_distributed_vanilla_spark.operators.events import e5
from dask_distributed_vanilla_spark.session import scoped_conf
from dask_distributed_vanilla_spark.streaming import events_stream as es
from dask_distributed_vanilla_spark.streaming.events_stream import events_stream, stream_e1
from dask_distributed_vanilla_spark.streaming.stateful import sessionize_stream
from tests.conftest import SF_SMOKE


def test_stream_e1_equals_batch(spark):
    got = {tuple(r) for r in stream_e1(spark, SF_SMOKE).collect()}
    want = {
        tuple(r)
        for r in spark.sql(
            """SELECT event_type, date_trunc('hour', ts) w, COUNT(*) n,
                      ROUND(SUM(value),2) sv
               FROM {ev} GROUP BY 1,2""",
            ev=__import__(
                "dask_distributed_vanilla_spark.catalog", fromlist=["load_table"]
            ).load_table(spark, SF_SMOKE, "events"),
        ).collect()
    }
    assert got == want


class _StateProgress(StreamingQueryListener):
    """Collects every state operator's partition count until a query ends."""

    def __init__(self):
        self.partitions = []
        self.ended = threading.Event()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.partitions += [op.numShufflePartitions for op in event.progress.stateOperators]

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.ended.set()


@pytest.mark.parametrize("name", sorted(es.QUERIES))
def test_twin_leaves_no_view_or_scratch_dir(spark, name):
    """The drain contract: a twin runs its stream to completion and
    returns its result without leaving a temp view or a temp-dir entry
    behind (a long-running service calls the twins indefinitely). Every
    state operator runs with `_drain`'s 4 partitions, and the session's
    batch setting is left as it was."""

    def snapshot():
        views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        return views, set(os.listdir(tempfile.gettempdir()))

    views, entries = snapshot()
    before = spark.conf.get("spark.sql.shuffle.partitions")
    progress = _StateProgress()
    spark.streams.addListener(progress)
    try:
        es.QUERIES[name](spark, SF_SMOKE).toPandas()
        assert progress.ended.wait(60), "no QueryTerminatedEvent"
    finally:
        spark.streams.removeListener(progress)
    new_views, new_entries = snapshot()
    assert new_views - views == set()
    assert new_entries - entries == set()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # stream_incremental_mv folds its view in foreachBatch and keeps no stream state
    if name != "stream_incremental_mv":
        assert progress.partitions, f"{name} reported no state operator"
        assert set(progress.partitions) == {4}


def test_drain_failure_restores_confs_and_drops_view(spark):
    """A query that fails mid-stream: `_drain` raises, every conf it
    scoped is back to its prior value, and neither the sink view nor the
    query's temp checkpoint dir is left."""
    poisoned = load_table(spark, SF_SMOKE, "events").agg(F.min("event_id")).first()[0]

    @F.udf("double")
    def poison(event_id, value):
        if event_id == poisoned:
            raise ValueError("poisoned row")
        return value

    totals = (
        events_stream(spark, SF_SMOKE)
        .withColumn("value", poison("event_id", "value"))
        .groupBy("event_type")
        .agg(F.sum("value").alias("sv"))
    )
    prior = {
        "spark.sql.shuffle.partitions": "5",
        "spark.sql.streaming.noDataMicroBatches.enabled": "true",
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "false",
    }
    jvm_tmp = spark._jvm.java.lang.System.getProperty("java.io.tmpdir")

    def checkpoints():
        return {e for e in os.listdir(jvm_tmp) if e.startswith("temporary-")}

    existing = checkpoints()
    with scoped_conf(spark, prior):
        with pytest.raises(StreamingQueryException, match="poisoned row"):
            es._drain(totals, "complete", skip_no_data_batch=True)
        assert {k: spark.conf.get(k) for k in prior} == prior
    assert [t.name for t in spark.catalog.listTables() if t.name.startswith("drain_")] == []
    assert checkpoints() - existing == set()


def test_stateful_sessionization(spark):
    """Replay the fixture through applyInPandasWithState; closed sessions
    must agree with the batch E5 sessionization on (count, sum)."""
    sink = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        sessionize_stream(events_stream(spark, SF_SMOKE))
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table(sink)
    batch = e5(spark, SF_SMOKE)

    # single availableNow replay closes only sessions followed by a >gap
    # jump within the batch — all closed sessions must exist in the batch
    # result with identical (user_id, n_events, sv)
    got_set = {(r.user_id, r.n_events, round(r.sv, 2)) for r in got.collect()}
    batch_set = {(r.user_id, r.n_events, r.sv) for r in batch.collect()}
    assert got_set, "no sessions closed — fixture should contain >30min gaps"
    assert got_set <= batch_set
    # and cover most multi-session users (all but each user's last session)
    batch_minus_last = {}
    for r in batch.collect():
        batch_minus_last[r.user_id] = batch_minus_last.get(r.user_id, 0) + 1
    expected_closed = sum(v - 1 for v in batch_minus_last.values())
    assert len(got_set) >= expected_closed * 0.9


def test_windowed_counts_watermark_drops_late(spark):
    """Watermark semantics: with update mode + tight watermark the stream
    still processes (smoke for the watermark plumbing)."""
    from dask_distributed_vanilla_spark.streaming.events_stream import windowed_counts

    sink = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        windowed_counts(events_stream(spark, SF_SMOKE), watermark="10 minutes")
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table(sink).count() > 0


def test_foreach_batch_exactly_once_parquet(spark, tmp_path):
    """The foreachBatch epoch sink: (1) a full availableNow drain lands
    every source row exactly once; (2) resuming from the same checkpoint
    reprocesses nothing; (3) a replayed epoch overwrites its own
    partition instead of appending — the idempotence that turns
    at-least-once delivery into exactly-once results."""
    from dask_distributed_vanilla_spark.catalog import load_table
    from dask_distributed_vanilla_spark.streaming import sinks

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src = events_stream(spark, SF_SMOKE).select("event_id", "user_id", "value")

    q = sinks.start_exactly_once_parquet(src, out, ckpt)
    q.awaitTermination()
    n_src = load_table(spark, SF_SMOKE, "events").count()
    landed = spark.read.parquet(out)
    assert landed.count() == n_src
    assert landed.select("event_id").distinct().count() == n_src

    # resume with the same checkpoint: offsets say everything is done
    q2 = sinks.start_exactly_once_parquet(src, out, ckpt)
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == n_src

    # simulate an epoch retry: re-landing epoch 0 must not duplicate
    batch0 = spark.read.parquet(out).where(F.col(sinks.EPOCH_COL) == 0).drop(
        sinks.EPOCH_COL
    )
    sinks.write_epoch(batch0, 0, out)
    assert spark.read.parquet(out).count() == n_src


def test_stream_approx_distinct_error_bound(spark):
    """The streaming HLL windows must estimate within the sketch's
    error envelope of the exact batch distinct count per (type, day)."""
    from dask_distributed_vanilla_spark.streaming.events_stream import (
        stream_approx_distinct,
    )
    from tests.conftest import SF_SMOKE

    approx = {
        (r.event_type, r.w): r.approx_users
        for r in stream_approx_distinct(spark, SF_SMOKE).collect()
    }
    exact = {
        (r.event_type, r.w): r.n
        for r in spark.sql(
            f"SELECT event_type, date_trunc('day', ts) AS w,"
            f" count(DISTINCT user_id) AS n FROM"
            f" parquet.`{SF_SMOKE}/events.parquet` GROUP BY 1, 2"
        ).collect()
    }
    assert set(approx) == set(exact)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(3, 0.15 * n), (k, approx[k], n)


def test_incremental_view_epoch_replay_is_noop(spark, tmp_path):
    """Re-delivering an already-applied epoch must not double-count:
    the applied-epoch watermark makes the merge idempotent — the
    exactly-once contract of the incremental materialized view."""
    from dask_distributed_vanilla_spark.streaming.sinks import (
        merge_epoch_into_view,
    )

    view = str(tmp_path / "mv")
    b0 = spark.createDataFrame([("a", 2, 10.0), ("b", 1, 5.0)], "k string, n long, sv double")
    b1 = spark.createDataFrame([("a", 1, 1.0)], "k string, n long, sv double")
    merge_epoch_into_view(b0, 0, view, ["k"])
    merge_epoch_into_view(b1, 1, view, ["k"])
    merge_epoch_into_view(b1, 1, view, ["k"])  # replay: must be a no-op
    merge_epoch_into_view(b1, 0, view, ["k"])  # stale epoch: also a no-op
    got = {r.k: (r.n, r.sv) for r in spark.read.parquet(view).collect()}
    assert got == {"a": (3, 11.0), "b": (1, 5.0)}


def test_incremental_view_fold_raises_on_unreadable_view(spark, tmp_path):
    """Only a missing view starts a fresh one: a view that exists but
    cannot be read makes the fold raise and is left as it was (folding
    the batch alone over it would drop every earlier epoch)."""
    from dask_distributed_vanilla_spark.streaming.sinks import merge_epoch_into_view

    view = tmp_path / "mv"
    b = spark.createDataFrame([("a", 2, 10.0)], "k string, n long, sv double")
    merge_epoch_into_view(b, 0, str(view), ["k"])
    (view / "part-corrupt.parquet").write_bytes(b"not a parquet file")
    before = {p.name: p.read_bytes() for p in view.iterdir()}
    with pytest.raises(Exception, match="part-corrupt.parquet"):
        merge_epoch_into_view(b, 1, str(view), ["k"])
    assert {p.name: p.read_bytes() for p in view.iterdir()} == before


def test_checkpoint_restart_processes_only_new_files(spark, tmp_path):
    """Restart-with-growth: after a drain completes, a NEW source file
    arrives and the stream restarts from the same checkpoint — the
    second run must process exactly the new file (incremental offsets),
    never re-land the old epochs, and the combined sink must equal one
    batch read of the whole directory. This is the daily-ingest loop:
    each restart picks up the delta, exactly once."""
    import os

    from dask_distributed_vanilla_spark.streaming import sinks

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    spark.range(0, 100).toDF("id").write.parquet(f"{src_dir}/f1.parquet")
    stream = spark.readStream.schema("id long").parquet(f"{src_dir}/*")

    q = sinks.start_exactly_once_parquet(stream, out, ckpt)
    q.awaitTermination()
    assert spark.read.parquet(out).count() == 100
    epochs_before = set(
        spark.read.parquet(out).select(sinks.EPOCH_COL).distinct().toPandas()[
            sinks.EPOCH_COL
        ]
    )

    spark.range(100, 130).toDF("id").write.parquet(f"{src_dir}/f2.parquet")
    q2 = sinks.start_exactly_once_parquet(stream, out, ckpt)
    q2.awaitTermination()

    landed = spark.read.parquet(out)
    assert landed.count() == 130
    assert landed.select("id").distinct().count() == 130
    # the restart landed only NEW epochs — old epoch partitions untouched
    new_epochs = (
        set(landed.select(sinks.EPOCH_COL).distinct().toPandas()[sinks.EPOCH_COL])
        - epochs_before
    )
    assert new_epochs  # progressed
    assert (
        landed.where(F.col(sinks.EPOCH_COL).isin(list(new_epochs))).count() == 30
    )


def test_rocksdb_state_store_matches_default(spark):
    """The disk-backed RocksDB state store — the provider a production
    deployment runs so streaming state is bounded by SSD, not executor
    heap — must produce byte-identical windowed aggregates to the
    default in-memory HDFS-backed provider."""
    from dask_distributed_vanilla_spark.plans.canonical import canonical
    from dask_distributed_vanilla_spark.streaming.events_stream import stream_e1

    base = stream_e1(spark, SF_SMOKE).toPandas()

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks = stream_e1(spark, SF_SMOKE).toPandas()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert canonical(base) == canonical(rocks)


def test_watermark_bounds_join_state(spark, tmp_path):
    """The scale contract of the stream-stream join, measured: replay
    the events as ten chronological files so the watermark advances
    batch by batch — the time-bounded interval join must EXPIRE state,
    holding peak state rows FAR below the total matched-type rows
    ingested (an unbounded-state join retains them all)."""
    import time
    import uuid

    from dask_distributed_vanilla_spark.session import scoped_conf

    # ten chronological chunks -> ten micro-batches, watermark advancing
    src = str(tmp_path / "chunks")
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    ts_type = dict(ev.dtypes)["ts"]
    if ts_type == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    n = ev.count()
    chunk = (n + 9) // 10
    rows = ev.orderBy("ts").collect()
    for i in range(10):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, ev.schema).coalesce(1).write.parquet(
                f"{src}/f{i:02d}.parquet"
            )
    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(f"{src}/*")
    if dict(stream.dtypes)["ts"] != "timestamp":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))

    clicks = (
        stream.where(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purch_id"),
            F.col("ts").alias("purch_ts"),
        )
        .withWatermark("purch_ts", "2 hours")
    )
    sink = f"state_bound_{uuid.uuid4().hex[:8]}"
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = (
            clicks.join(
                purchases,
                (F.col("user_id") == F.col("p_user_id"))
                & (F.col("purch_ts") >= F.col("click_ts"))
                & (F.col("purch_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        peak_state = 0
        while q.isActive:
            p = q.lastProgress
            if p and p.get("stateOperators"):
                peak_state = max(
                    peak_state, p["stateOperators"][0].get("numRowsTotal", 0)
                )
            time.sleep(0.5)
        q.awaitTermination()
        p = q.lastProgress
        if p and p.get("stateOperators"):
            peak_state = max(peak_state, p["stateOperators"][0].get("numRowsTotal", 0))

    joined_type_rows = ev.where(
        F.col("event_type").isin("click", "purchase")
    ).count()
    assert peak_state > 0  # the join kept some state
    # the stream spans ~30 days; a 2h watermark + 1h interval keeps only
    # a sliver of it alive at once — far below retain-everything
    assert peak_state < joined_type_rows / 2


def test_transform_with_state_totals(spark):
    """Spark 4's transformWithState arbitrary-state API (typed
    ValueState + init/close lifecycle): per-user lifetime totals with
    money in integer cents must equal the batch GROUP BY. The worker
    protocol needs google.protobuf, absent from this container — the
    test gates on the documented runtime flag and runs on any standard
    cluster image."""
    import pytest

    from dask_distributed_vanilla_spark.streaming.stateful import (
        HAVE_TWS_RUNTIME,
        RunningTotalsProcessor,
    )

    if not HAVE_TWS_RUNTIME:
        pytest.skip("transformWithState worker needs google.protobuf (absent here)")

    import uuid

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from dask_distributed_vanilla_spark.session import scoped_conf
    from dask_distributed_vanilla_spark.streaming.events_stream import events_stream

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sv", DoubleType()),
        ]
    )
    sink = f"tws_{uuid.uuid4().hex[:8]}"
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = (
            events_stream(spark, SF_SMOKE)
            .select("user_id", "value")
            .groupBy("user_id")
            .transformWithStateInPandas(
                RunningTotalsProcessor(),
                outputStructType=out_schema,
                outputMode="Update",
                timeMode="None",
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    got = {
        r["user_id"]: (r["n_events"], r["sv"])
        for r in spark.table(sink)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("sv").alias("sv"))
        .collect()
    }
    want = {
        r["user_id"]: (r["n"], r["sv"])
        for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100
            ).alias("sv"),
        )
        .collect()
    }
    assert got == want
