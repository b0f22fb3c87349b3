"""Per-layer metrics of the traced run.

Counts come from the probes attached for the traced window (Spark job
groups and status store, the streaming listener, a counting wrapper on
the client's ``submit``); times come from the benchmark's own spans
around calls into each layer. A layer the workload does not call reads 0.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

from spans import SparkCounters, StreamCounters

# name -> (unit, better); the order is the order printed
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "catalog.warmup_s": ("s", "lower"),
    "catalog.input_bytes_per_op": ("bytes", "lower"),
    "catalog.input_records_per_op": ("count", "lower"),
    "operators.warmup_s": ("s", "lower"),
    "operators.build_s": ("s", "lower"),
    "operators.collect_s": ("s", "lower"),
    "operators.jobs_per_op": ("count", "lower"),
    "operators.stages_per_op": ("count", "lower"),
    "operators.tasks_per_op": ("count", "lower"),
    "operators.task_cpu_s_per_op": ("s", "lower"),
    "operators.core_busy_ratio": ("ratio", "higher"),
    "operators.shuffle_write_bytes_per_op": ("bytes", "lower"),
    "operators.shuffle_read_bytes_per_op": ("bytes", "lower"),
    "operators.gc_s_per_op": ("s", "lower"),
    "operators.spill_bytes_per_op": ("bytes", "lower"),
    "operators.failed_tasks": ("count", "lower"),
    "plans.check_s": ("s", "lower"),
    "streaming.batches_per_op": ("count", "lower"),
    "streaming.input_rows_per_op": ("count", "higher"),
    "streaming.trigger_s_per_op": ("s", "lower"),
    "streaming.add_batch_s_per_op": ("s", "lower"),
    "streaming.log_commit_s_per_op": ("s", "lower"),
    "streaming.state_commit_s_per_op": ("s", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_bytes": ("bytes", "lower"),
    "streaming.leaked_views_per_op": ("count", "lower"),
    "streaming.leaked_dirs_per_op": ("count", "lower"),
    "sources.append_s": ("s", "lower"),
    "sources.read_s": ("s", "lower"),
    "sources.compact_s": ("s", "lower"),
    "sources.bytes_written_per_user_byte": ("ratio", "lower"),
    "sources.live_files": ("count", "lower"),
    "client.submit_s_per_task": ("s", "lower"),
    "client.gather_s": ("s", "lower"),
    "client.tasks_per_s": ("1/s", "higher"),
    "client.tree_reduce_s": ("s", "lower"),
    "client.memo_hit_ratio": ("ratio", "higher"),
    "linalg.matmul_grid_s": ("s", "lower"),
    "linalg.matmul_broadcast_s": ("s", "lower"),
    "linalg.matmul_gflops": ("GFLOP/s", "higher"),
    "linalg.tsqr_s": ("s", "lower"),
    "linalg.svd_compressed_s": ("s", "lower"),
    "linalg.kmeans_s": ("s", "lower"),
    "linalg.predict_s": ("s", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
}


class ClientStats:
    """Wraps ``submit`` on one client instance to time submits and count
    memo hits (a submit that returns an already-issued future)."""

    def __init__(self):
        self.submits = 0
        self.hits = 0
        self.submit_s = 0.0
        self._seen: set = set()

    def wrap(self, client) -> None:
        submit = client.submit

        def counted(fn, *args, **kwargs):
            t0 = time.perf_counter()
            fut = submit(fn, *args, **kwargs)
            self.submit_s += time.perf_counter() - t0
            self.submits += 1
            if fut in self._seen:
                self.hits += 1
            else:
                self._seen.add(fut)
            return fut

        client.submit = counted


class LayerProbes:
    """Attached for the traced window only; ``begin``/``end`` bracket one op."""

    def __init__(self, ctx, runner):
        self.ctx = ctx
        self.runner = runner
        self.spark = SparkCounters(ctx.spark)
        self.streams = StreamCounters()
        ctx.spark.streams.addListener(self.streams)
        self.client = ClientStats()
        self.client.wrap(ctx.client)
        self.totals: dict[str, float] = defaultdict(float)
        self.n_ops = 0
        self.op_wall = 0.0
        self._hygiene0 = (runner.hygiene.views, runner.hygiene.entries)
        self._op_id = None

    def begin(self, op_id: str) -> None:
        self._op_id = op_id
        self.spark.begin(op_id)

    def end(self, wall: float) -> None:
        self.spark.end()
        runs, stream = self.streams.take()
        for k, v in stream.items():
            self.totals[f"stream.{k}"] += v
        for k, v in self.spark.collect([self._op_id, *runs]).items():
            self.totals[f"spark.{k}"] += v
        self.n_ops += 1
        self.op_wall += wall

    def close(self) -> None:
        self.ctx.spark.streams.removeListener(self.streams)

    def metrics(self, traced: dict, plain: dict, warmup_s: float) -> dict:
        from workloads import ARRAY_SIZES, live_table

        tr = self.ctx.tracer
        n = max(self.n_ops, 1)
        t = self.totals

        def mean_span(name: str) -> float:
            d = tr.durations(name)
            return sum(d) / len(d) if d else 0.0

        def per_op_span(name: str) -> float:
            return sum(tr.durations(name)) / n

        def med(name: str) -> float:
            d = tr.durations(name)
            return statistics.median(d) if d else 0.0

        matmul_s = tr.durations("linalg.block_matmul") + tr.durations("linalg.matmul_broadcast")
        client_s = sum(tr.durations("op.tree_reduce")) + sum(tr.durations("op.client_map_gather"))
        vt = self.ctx.vt_stats
        views, entries = (self.runner.hygiene.views - self._hygiene0[0],
                          self.runner.hygiene.entries - self._hygiene0[1])
        values = {
            "session.start_s": med("session.get_spark"),
            "catalog.warmup_s": med("catalog.register"),
            "catalog.input_bytes_per_op": t["spark.inputBytes"] / n,
            "catalog.input_records_per_op": t["spark.inputRecords"] / n,
            "operators.warmup_s": warmup_s,
            "operators.build_s": per_op_span("operators.build"),
            "operators.collect_s": per_op_span("operators.collect"),
            "operators.jobs_per_op": t["spark.jobs"] / n,
            "operators.stages_per_op": t["spark.stages"] / n,
            "operators.tasks_per_op": (t["spark.numCompleteTasks"] + t["spark.numFailedTasks"]) / n,
            "operators.task_cpu_s_per_op": t["spark.executorCpuTime"] / 1e9 / n,
            "operators.core_busy_ratio": t["spark.executorRunTime"] / 1e3 / (self.op_wall * self.runner.cpus),
            "operators.shuffle_write_bytes_per_op": t["spark.shuffleWriteBytes"] / n,
            "operators.shuffle_read_bytes_per_op": t["spark.shuffleReadBytes"] / n,
            "operators.gc_s_per_op": t["spark.jvmGcTime"] / 1e3 / n,
            "operators.spill_bytes_per_op": (t["spark.memoryBytesSpilled"] + t["spark.diskBytesSpilled"]) / n,
            "operators.failed_tasks": t["spark.numFailedTasks"],
            "plans.check_s": per_op_span("plans.check"),
            "streaming.batches_per_op": t["stream.batches"] / n,
            "streaming.input_rows_per_op": t["stream.input_rows"] / n,
            "streaming.trigger_s_per_op": t["stream.trigger_ms"] / 1e3 / n,
            "streaming.add_batch_s_per_op": t["stream.add_batch_ms"] / 1e3 / n,
            "streaming.log_commit_s_per_op": t["stream.log_commit_ms"] / 1e3 / n,
            "streaming.state_commit_s_per_op": t["stream.state_commit_ms"] / 1e3 / n,
            "streaming.state_rows": t["stream.state_rows"] / n,
            "streaming.state_bytes": t["stream.state_bytes"] / n,
            "streaming.leaked_views_per_op": views / n,
            "streaming.leaked_dirs_per_op": entries / n,
            "sources.append_s": mean_span("sources.append"),
            "sources.read_s": mean_span("sources.read"),
            "sources.compact_s": mean_span("sources.compact"),
            "sources.bytes_written_per_user_byte": vt["written_bytes"] / vt["user_bytes"] if vt["user_bytes"] else 0.0,
            "sources.live_files": float(live_table(self.ctx)[2]),
            "client.submit_s_per_task": self.client.submit_s / self.client.submits if self.client.submits else 0.0,
            "client.gather_s": mean_span("client.gather"),
            "client.tasks_per_s": self.client.submits / client_s if client_s else 0.0,
            "client.tree_reduce_s": mean_span("op.tree_reduce"),
            "client.memo_hit_ratio": self.client.hits / self.client.submits if self.client.submits else 0.0,
            "linalg.matmul_grid_s": mean_span("linalg.block_matmul"),
            "linalg.matmul_broadcast_s": mean_span("linalg.matmul_broadcast"),
            "linalg.matmul_gflops": 2 * ARRAY_SIZES.matmul_n**3 * len(matmul_s) / sum(matmul_s) / 1e9 if matmul_s else 0.0,
            "linalg.tsqr_s": mean_span("linalg.svd_tall_skinny"),
            "linalg.svd_compressed_s": mean_span("linalg.svd_compressed"),
            "linalg.kmeans_s": mean_span("linalg.kmeans_fit"),
            "linalg.predict_s": mean_span("linalg.parallel_post_fit_predict"),
            "trace.overhead_ratio": statistics.median(traced["lat"]) / statistics.median(plain["lat"]),
        }
        return {k: {"value": float(values[k]), "unit": PER_LAYER[k][0]} for k in PER_LAYER}
