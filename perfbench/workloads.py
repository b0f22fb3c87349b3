"""The benchmark's four workloads: op lists, inputs and output checks.

Every op is a closed-loop call: ``run`` is timed (builder call through
collected result), ``check`` is not. Ops reach the program only through
public functions: ``plans.registry`` builders, ``sources.versioned``,
``client.Client`` / ``client.tree_reduce`` and ``linalg``.
"""

from __future__ import annotations

import math
import operator
import os
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

TPCH = tuple(f"b{i}" for i in range(1, 23))
CURATION = (
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_cc", "text_quality", "text_tfidf",
    "text_logreg_quality", "er_match_pairs", "er_golden_record", "graph_pagerank",
    "graph_triangles", "semdedup", "ann_lsh_topk", "redact_pii",
)
STREAMS = (
    "stream_e1", "stream_dedup", "stream_join", "stream_session", "stream_stateful",
    "stream_incremental_mv", "stream_outer_join", "stream_approx_distinct",
)
VERSIONED = ("vt_append", "vt_read_pruned", "vt_compact")
ARRAY = (
    "block_matmul", "matmul_broadcast", "svd_tall_skinny", "svd_compressed", "kmeans_fit",
    "parallel_post_fit_predict", "tree_reduce", "client_map_gather",
)

MATMUL_CHUNK = 256
TALL_COLS, TALL_PANELS = 64, 16
SQ_CHUNK, SQ_RANK, SQ_K = 256, 8, 5
KM_DIM, KM_K = 8, 4
PREDICT_DIM = 8


@dataclass(frozen=True)
class ArraySizes:
    matmul_n: int
    tall_rows: int
    sq_n: int
    km_points: int
    predict_rows: int


# the "small" scale of tools/bench_linalg.py (a 4x4x4 block matmul
# grid, TSQR of 100,000x64, 200,000-row predict), except svd_compressed
# (768, not 1024) and k-means (100,000 points, not 200,000): at full size
# one run took 69-73 s while the shared host ran slow, too long for a
# run's share of the benchmark's time budget
ARRAY_SIZES = ArraySizes(matmul_n=1024, tall_rows=100_000, sq_n=768, km_points=100_000, predict_rows=200_000)
# the warm-up runs the same code paths (2x2 grids, 16 panels) on inputs
# a quarter the size: the first execution of an op costs a few seconds
# whatever its size, and a full-size warm-up pass took 22-30 s
WARMUP_SIZES = ArraySizes(matmul_n=512, tall_rows=25_000, sq_n=512, km_points=25_000, predict_rows=50_000)
TREE_LEAVES = 1_024
MAP_TASKS, MAP_TASK_SIZE = 256, 256


class CheckFailed(Exception):
    pass


@dataclass
class Ctx:
    """Everything an op needs. Built once per run; ``spark`` and
    ``client`` are replaced at every set-up."""

    spark: Any
    data_dir: str
    work_dir: str
    tracer: Any
    expected: dict = field(default_factory=dict)
    queries: dict = field(default_factory=dict)
    client: Any = None
    array: ArraySizes = ARRAY_SIZES
    events: Any = None  # pandas copy of the events table (versioned-table checks)
    vt_counts: Any = None  # appended multiplicity per event_id
    vt_stats: dict = field(default_factory=lambda: {"user_bytes": 0, "written_bytes": 0})


def _no_inputs(ctx: Ctx, rng: np.random.Generator) -> None:
    return None


@dataclass
class Op:
    """``prepare`` draws the op's inputs (untimed), ``run`` is the timed
    call into the program, ``check`` validates its output (untimed)."""

    name: str
    run: Callable[[Ctx, Any], Any]
    check: Callable[[Ctx, Any, Any], None]
    prepare: Callable[[Ctx, np.random.Generator], Any] = _no_inputs


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    tables: tuple[str, ...]  # generated inputs it reads
    # ops run once after set-up: each enters a code path whose first
    # execution in a fresh JVM costs several times its warm latency
    warmup: tuple[str, ...]
    # nominal seconds of one warm pass (4 cores); it converts --seconds
    # into a pass count, so the count never depends on measured time
    pass_s: float

    def passes(self, seconds: float) -> int:
        return max(1, round(seconds / self.pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload("tpch", TPCH, ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"), TPCH,
                 pass_s=20.0),
        Workload("curation", CURATION, ("documents", "customer", "events", "embeddings"), CURATION, pass_s=22.0),
        Workload("ingest", STREAMS + VERSIONED, ("events",), ("vt_append", "stream_join", "stream_session"),
                 pass_s=25.0),
        Workload("array", ARRAY, (), ARRAY, pass_s=13.0),
    )
}


# ---------------------------------------------------------------- registry ops
def _registry_op(name: str) -> Op:
    def run(ctx: Ctx, _inputs):
        with ctx.tracer.span("operators.build"):
            df = ctx.queries[name](ctx.spark, ctx.data_dir)
        with ctx.tracer.span("operators.collect"):
            return df.toPandas()

    def check(ctx: Ctx, _inputs, pdf) -> None:
        from dask_distributed_vanilla_spark.plans.canonical import canonical

        with ctx.tracer.span("plans.check"):
            exp = ctx.expected[name]
            schema, digest = canonical(pdf)
            got = {"schema": schema, "hash": digest if exp["hash"] is not None else None, "rows": len(pdf)}
            if got != exp:
                raise CheckFailed(f"{name}: got {got}, expected {exp}")

    return Op(name, run, check)


# ------------------------------------------------------- versioned-table ops
def vt_path(ctx: Ctx) -> str:
    return os.path.join(ctx.work_dir, "versioned_events")


def _live_files(ctx: Ctx) -> list[str]:
    from dask_distributed_vanilla_spark.sources.versioned import snapshot_files

    if not os.path.isdir(vt_path(ctx)):
        return []
    return [os.path.join(vt_path(ctx), f) for f in snapshot_files(vt_path(ctx))]


def live_table(ctx: Ctx) -> tuple[int, int, int]:
    """(rows, bytes, files) of the versioned table's live snapshot."""
    import pyarrow.parquet as pq

    files = _live_files(ctx)
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return rows, sum(os.path.getsize(f) for f in files), len(files)


def _vt_expect_rows(ctx: Ctx, name: str) -> None:
    rows, _, _ = live_table(ctx)
    if rows != int(ctx.vt_counts.sum()):
        raise CheckFailed(f"{name}: table holds {rows} rows, expected {int(ctx.vt_counts.sum())}")


def _vt_append(name: str) -> Op:
    def prepare(ctx: Ctx, rng: np.random.Generator):
        n = len(ctx.events)
        size = int(rng.integers(n // 20, n // 10))
        lo = int(rng.integers(0, n - size))
        return lo, size, set(_live_files(ctx))

    def run(ctx: Ctx, inputs):
        from pyspark.sql import functions as F

        from dask_distributed_vanilla_spark.catalog import load_table
        from dask_distributed_vanilla_spark.sources.versioned import write_append

        lo, size, _ = inputs
        df = load_table(ctx.spark, ctx.data_dir, "events").filter(F.col("event_id").between(lo, lo + size - 1))
        with ctx.tracer.span("sources.append"):
            write_append(df, vt_path(ctx), stats_cols=["event_id"])

    def check(ctx: Ctx, inputs, _out) -> None:
        lo, size, before = inputs
        ctx.vt_counts[lo : lo + size] += 1
        written = sum(os.path.getsize(f) for f in set(_live_files(ctx)) - before)
        ctx.vt_stats["user_bytes"] += written
        ctx.vt_stats["written_bytes"] += written
        _vt_expect_rows(ctx, name)

    return Op(name, run, check, prepare)


def _vt_read_prepare(ctx: Ctx, rng: np.random.Generator):
    n = len(ctx.events)
    lo = int(rng.integers(0, n // 2))
    return lo, lo + int(rng.integers(n // 10, n // 2))


def _vt_read(ctx: Ctx, inputs):
    from pyspark.sql import functions as F

    from dask_distributed_vanilla_spark.sources.versioned import read_pruned

    lo, hi = inputs
    with ctx.tracer.span("sources.read"):
        row = read_pruned(ctx.spark, vt_path(ctx), "event_id", lo, hi).agg(
            F.count("*").alias("n"), F.sum("value").alias("s")
        ).collect()[0]
    return row["n"], row["s"] or 0.0


def _vt_read_check(ctx: Ctx, inputs, out) -> None:
    (lo, hi), (n, s) = inputs, out
    mult = ctx.vt_counts[lo : hi + 1]
    exp_n = int(mult.sum())
    exp_s = float(np.dot(mult, ctx.events["value"].to_numpy()[lo : hi + 1]))
    if n != exp_n or not math.isclose(s, exp_s, rel_tol=1e-9, abs_tol=1e-6):
        raise CheckFailed(f"vt_read_pruned [{lo},{hi}]: got ({n}, {s}), expected ({exp_n}, {exp_s})")


def _vt_compact(ctx: Ctx, _inputs):
    from dask_distributed_vanilla_spark.sources.versioned import compact

    with ctx.tracer.span("sources.compact"):
        compact(ctx.spark, vt_path(ctx))


def _vt_compact_check(ctx: Ctx, _inputs, _out) -> None:
    _, size, n_files = live_table(ctx)
    ctx.vt_stats["written_bytes"] += size
    if n_files != 1:
        raise CheckFailed(f"vt_compact: {n_files} live files after compaction, expected 1")
    _vt_expect_rows(ctx, "vt_compact")


# ---------------------------------------------------------------- array ops
def _blocks(ctx: Ctx, m: np.ndarray, chunk: int):
    items = [
        ((i, j), np.ascontiguousarray(m[i * chunk : (i + 1) * chunk, j * chunk : (j + 1) * chunk]))
        for i in range(m.shape[0] // chunk)
        for j in range(m.shape[1] // chunk)
    ]
    return ctx.spark.sparkContext.parallelize(items, len(items))


def _close(name: str, got, exp, rtol: float) -> None:
    if not np.allclose(got, exp, rtol=rtol, atol=0.0):
        raise CheckFailed(f"{name}: got {np.ravel(got)[:5]}, expected {np.ravel(exp)[:5]}")


def _two_matrices(ctx: Ctx, rng: np.random.Generator):
    n = ctx.array.matmul_n
    return rng.random((n, n)), rng.random((n, n))


def _block_matmul(ctx: Ctx, inputs):
    from dask_distributed_vanilla_spark import linalg

    a, b = inputs
    g = len(a) // MATMUL_CHUNK
    with ctx.tracer.span("linalg.block_matmul"):
        c = linalg.block_matmul(_blocks(ctx, a, MATMUL_CHUNK), _blocks(ctx, b, MATMUL_CHUNK), grid=(g, g, g))
        return c.values().map(np.sum).sum()


def _matmul_broadcast(ctx: Ctx, inputs):
    from dask_distributed_vanilla_spark import linalg

    a, b = inputs
    n_panels = len(a) // MATMUL_CHUNK
    panels = ctx.spark.sparkContext.parallelize(
        [(i, a[i * MATMUL_CHUNK : (i + 1) * MATMUL_CHUNK]) for i in range(n_panels)], n_panels
    )
    with ctx.tracer.span("linalg.matmul_broadcast"):
        return linalg.matmul_broadcast(ctx.spark, panels, b).values().map(np.sum).sum()


def _matmul_check(name: str):
    def check(ctx: Ctx, inputs, total) -> None:
        a, b = inputs
        _close(name, total, float((a @ b).sum()), 1e-9)

    return check


def _tall_prepare(ctx: Ctx, rng: np.random.Generator):
    return rng.standard_normal((ctx.array.tall_rows, TALL_COLS))


def _svd_tall_skinny(ctx: Ctx, a):
    from dask_distributed_vanilla_spark import linalg

    # row panels, the layout the TSQR entry point for chunked data takes
    panels = ctx.spark.sparkContext.parallelize(list(enumerate(np.array_split(a, TALL_PANELS))), TALL_PANELS)
    with ctx.tracer.span("linalg.svd_tall_skinny"):
        return linalg.svd_tall_skinny_panels(panels)[0]


def _low_rank_prepare(ctx: Ctx, rng: np.random.Generator):
    # exact rank SQ_RANK < k + oversampling, so the projection is exact
    n = ctx.array.sq_n
    u = np.linalg.qr(rng.standard_normal((n, SQ_RANK)))[0]
    v = np.linalg.qr(rng.standard_normal((n, SQ_RANK)))[0]
    a = (u * np.sort(rng.uniform(1.0, 100.0, SQ_RANK))[::-1]) @ v.T
    return a, int(rng.integers(0, 2**31))


def _svd_compressed(ctx: Ctx, inputs):
    from dask_distributed_vanilla_spark import linalg

    a, seed = inputs
    with ctx.tracer.span("linalg.svd_compressed"):
        return linalg.svd_compressed(_blocks(ctx, a, SQ_CHUNK), a.shape, SQ_CHUNK, SQ_K, seed=seed)[0]


def _svd_check(name: str, k: int | None):
    def check(ctx: Ctx, inputs, s) -> None:
        a = inputs[0] if isinstance(inputs, tuple) else inputs
        exp = np.linalg.svd(a, compute_uv=False)
        _close(name, s, exp[:k] if k else exp, 1e-8)

    return check


def _vectors_frame(ctx: Ctx, x: np.ndarray, with_id: bool = False):
    """DataFrame of the rows of ``x`` as an ``embedding`` array column
    (and the row index as ``id``), shipped as one Arrow table."""
    import pyarrow as pa

    offsets = pa.array(np.arange(0, x.size + 1, x.shape[1], dtype=np.int32))
    cols = {"id": pa.array(np.arange(len(x)))} if with_id else {}
    return ctx.spark.createDataFrame(pa.table({**cols, "embedding": pa.ListArray.from_arrays(offsets, pa.array(x.ravel()))}))


def _kmeans_prepare(ctx: Ctx, rng: np.random.Generator):
    # well-separated blobs, so most fits converge in a few rounds
    centers = 20.0 * rng.permutation(np.eye(KM_DIM))[:KM_K]
    n = ctx.array.km_points
    x = centers[rng.integers(0, KM_K, n)] + rng.standard_normal((n, KM_DIM))
    df = _vectors_frame(ctx, x)
    return x, df, int(rng.integers(0, 2**31))


def _kmeans_fit(ctx: Ctx, inputs):
    from dask_distributed_vanilla_spark import linalg

    _, df, seed = inputs
    with ctx.tracer.span("linalg.kmeans_fit"):
        return linalg.kmeans_fit(df, k=KM_K, seed=seed)


def _kmeans_check(ctx: Ctx, inputs, model) -> None:
    x = inputs[0]
    c = np.array(model.clusterCenters())
    if len(c) != KM_K:
        raise CheckFailed(f"kmeans_fit: {len(c)} centers, expected {KM_K}")
    inertia = float(((x[:, None, :] - c[None]) ** 2).sum(-1).min(1).sum())
    # the reported cost is taken before the last center update, so it
    # matches the returned centers only to the final round's movement
    _close("kmeans_fit", model.summary.trainingCost, inertia, 1e-3)


def _predict_prepare(ctx: Ctx, rng: np.random.Generator):
    from dask_distributed_vanilla_spark import linalg

    x = rng.standard_normal((ctx.array.predict_rows, PREDICT_DIM))
    model = linalg.LeastSquaresModel.fit(x, (x @ rng.standard_normal(PREDICT_DIM) > 0).astype(float))
    df = _vectors_frame(ctx, x, with_id=True)
    return x, model, df


def _predict(ctx: Ctx, inputs):
    from dask_distributed_vanilla_spark import linalg

    _, model, df = inputs
    with ctx.tracer.span("linalg.parallel_post_fit_predict"):
        return linalg.parallel_post_fit_predict(ctx.spark, model, df).toPandas()


def _predict_check(ctx: Ctx, inputs, pdf) -> None:
    x, model, _ = inputs
    got = pdf.sort_values("id")["prediction"].to_numpy()
    if len(got) != len(x) or not np.array_equal(got, model.predict(x)):
        raise CheckFailed("parallel_post_fit_predict: predictions differ from numpy")


def _tree_prepare(ctx: Ctx, rng: np.random.Generator):
    return rng.random(TREE_LEAVES).tolist()  # fresh leaves: no memo hits across ops


def _tree_reduce(ctx: Ctx, leaves):
    from dask_distributed_vanilla_spark.client import tree_reduce

    with ctx.tracer.span("client.tree_reduce"):
        fut = tree_reduce(ctx.client, operator.add, leaves)
    with ctx.tracer.span("client.gather"):
        return ctx.client.gather(fut)


def _tree_check(ctx: Ctx, leaves, total) -> None:
    _close("tree_reduce", total, math.fsum(leaves), 1e-12)


def small_task(seed: int, n: int) -> float:
    return float(np.random.default_rng(seed).random(n).sum())


def _map_prepare(ctx: Ctx, rng: np.random.Generator):
    return rng.integers(0, 2**62, MAP_TASKS).tolist()


def _map_gather(ctx: Ctx, seeds):
    with ctx.tracer.span("client.map"):
        futs = ctx.client.map(small_task, seeds, [MAP_TASK_SIZE] * len(seeds))
    with ctx.tracer.span("client.gather"):
        return ctx.client.gather(futs)


def _map_check(ctx: Ctx, seeds, vals) -> None:
    _close("client_map_gather", vals, [small_task(s, MAP_TASK_SIZE) for s in seeds], 1e-12)


def build_ops() -> dict[str, Op]:
    ops = {n: _registry_op(n) for n in TPCH + CURATION + STREAMS}
    for op in (
        _vt_append("vt_append"),
        Op("vt_read_pruned", _vt_read, _vt_read_check, _vt_read_prepare),
        Op("vt_compact", _vt_compact, _vt_compact_check),
        Op("block_matmul", _block_matmul, _matmul_check("block_matmul"), _two_matrices),
        Op("matmul_broadcast", _matmul_broadcast, _matmul_check("matmul_broadcast"), _two_matrices),
        Op("svd_tall_skinny", _svd_tall_skinny, _svd_check("svd_tall_skinny", None), _tall_prepare),
        Op("svd_compressed", _svd_compressed, _svd_check("svd_compressed", SQ_K), _low_rank_prepare),
        Op("kmeans_fit", _kmeans_fit, _kmeans_check, _kmeans_prepare),
        Op("parallel_post_fit_predict", _predict, _predict_check, _predict_prepare),
        Op("tree_reduce", _tree_reduce, _tree_check, _tree_prepare),
        Op("client_map_gather", _map_gather, _map_check, _map_prepare),
    ):
        ops[op.name] = op
    return ops


def pass_order(ops: tuple[str, ...], seed: int, n_pass: int) -> list[str]:
    """Op order of pass ``n_pass``: a permutation fixed by (seed, pass)."""
    perm = np.random.default_rng([seed, n_pass]).permutation(len(ops))
    return [ops[i] for i in perm]
