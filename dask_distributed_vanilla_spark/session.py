"""SparkSession factory.

The reference engine hand-rolls scheduling, spilling, work stealing and
shuffle (distributed/scheduler.py, worker.py — see SURVEY.md §4.2). On
Spark all of that is built in; the engine's job is to *configure* it:
AQE for runtime re-planning (partition coalescing, skew-join splitting,
broadcast demotion), Arrow for the pandas-UDF boundary, and shuffle
partition counts sized so a partition fits executor memory at the target
scale factor.

At 100 TB the same code runs unchanged on a real cluster: only
`master`, `spark.sql.shuffle.partitions` (→ ~2-3× total cores) and
executor sizing move to spark-submit conf.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Runtime re-planning: coalesce tiny shuffle partitions, split skewed
    # ones, demote/promote broadcast joins from runtime statistics.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Upper bound before AQE coalesces; on a 1000-executor cluster this
    # would be set to ~2-3x total cores instead.
    "spark.sql.shuffle.partitions": "32",
    # Arrow-batched transfer for pandas UDFs / toPandas — the fast path
    # for the few operators that genuinely need Python (SURVEY.md §2.10).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dimension tables (region/nation/customer/supplier/part at TPC-H
    # ratios) stay well under this; facts never broadcast.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    # The events fixture stores TIMESTAMP(NANOS) which the vectorized
    # reader rejects; read as long and convert in the catalog (µs
    # precision, matching DuckDB's TIMESTAMP semantics).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # collect() of a broadcast-matmul operand / collect_matrix test
    # helper can exceed the 1g default; judged query results are tiny
    "spark.driver.maxResultSize": "4g",
    # Every Python task (RDD closures, pandas UDFs,
    # applyInPandasWithState) started with a fixed CPU cost on PySpark's
    # stock daemon: `importlib.invalidate_caches()` in
    # `worker_util.setup_spark_files` makes each of a worker's 16
    # zipimporters re-parse pyspark.zip's 1,328-entry central directory
    # (16 `_read_directory` calls per task, counted; ~6 ms each
    # unprofiled). pyworker.py re-reads a zip only when it changed: a
    # trivial 16-task RDD job on 4 cores went 0.68-0.88 s -> 0.29-0.32 s.
    "spark.python.daemon.module": "dask_distributed_vanilla_spark.pyworker",
}

# The daemon above is imported by module path in each executor's Python,
# so the package's parent directory goes on the workers' PYTHONPATH
# whatever the caller's environment holds.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# AQE inside iterative fixpoint loops (min-label propagation, gradient
# steps): each loop round is a small query over node/weight-sized frames
# whose shuffle sizes are KNOWN and pinned by the loop (see the 8/4
# partition sizing comments at the call sites), so AQE's stage-by-stage
# materialize-and-replan cycle buys nothing and its per-stage driver
# latency multiplies by rounds × stages — measured r14 at sf0.1:
# er_golden_record's 6-round loop 3.5s → 2.2s, text_logreg's 5 steps
# ~3.1s → ~2.5s, dedup_cc 0.82s → 0.65s with AQE scoped off; the
# surrounding query (pair build, consolidation) keeps AQE. The latency
# is per ROUND, so the saving grows with rounds, not with core count —
# the same trade holds on a cluster; flip here if a deployment's loop
# frames are large enough for runtime re-planning to win back.
ITER_LOOP_AQE = "false"


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set session confs for the duration of a block, restoring the
    previous values on exit — the engine's pattern for loop- and
    query-scoped sizing (iterative loops, each streaming drain)."""
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def get_spark(app_name: str = "ddvs", master: str | None = None, **conf: str) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    Keyword overrides win over the tuned defaults; a caller's
    ``spark.executorEnv.PYTHONPATH`` is kept, after the package root.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    merged = dict(_DEFAULTS)
    merged.update(conf)
    merged["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        filter(None, [_PACKAGE_ROOT, conf.get("spark.executorEnv.PYTHONPATH")])
    )
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
