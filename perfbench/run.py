"""Closed-loop benchmark of the engine: one client issues ops one after
another, checks every output, and prints the end-to-end metrics (or,
with ``--trace 1``, the per-layer metrics) of one workload.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 10 --trace 0

Run it from the repository root: it imports the engine from the current
directory and writes only under ``.perfbench_work/`` there. The last
line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "dask_distributed_vanilla_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
SF = 0.01  # generated-table scale: lineitem 60k rows, events 10k
SETUPS = 5  # set-ups per run (the first starts the JVM); setup_s is their median

sys.path[:0] = [ROOT, HERE]

from stats import ProcessTree, jvm_live_bytes, tail  # noqa: E402

MB = 1 << 20


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _config(names: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m for m in json.load(f)[names]}


def _digest(*parts: str) -> str:
    return hashlib.sha1("\0".join(parts).encode()).hexdigest()[:12]


def prepare_inputs(workload, seed: int, op_names: list[str]) -> tuple[str, dict]:
    """Generate the seed's tables and the expected outputs of the
    workload's registry ops, both cached under keys that change when the
    generator, the oracles or the canonical form change."""
    import datagen
    import expected

    from dask_distributed_vanilla_spark.plans.canonical import canonical
    from dask_distributed_vanilla_spark.plans.registry import all_oracles

    data_dir = os.path.join(WORK, "data", f"{_digest(inspect.getsource(datagen))}-sf{SF}-seed{seed}")
    os.makedirs(data_dir, exist_ok=True)
    missing = tuple(t for t in workload.tables if not os.path.exists(os.path.join(data_dir, f"{t}.parquet")))
    if missing:
        datagen.generate(data_dir, seed, SF, missing)
    oracles = all_oracles()
    sources = [inspect.getsource(expected), inspect.getsource(canonical)]
    key = _digest(*sources, *(f"{n}={oracles.get(n)}" for n in op_names))
    exp_path = os.path.join(data_dir, f"expected-{key}.json")
    if not os.path.exists(exp_path):
        exp = expected.compute(data_dir, op_names, oracles, canonical)
        with open(exp_path + ".tmp", "w") as f:
            json.dump(exp, f)
        os.replace(exp_path + ".tmp", exp_path)
    with open(exp_path) as f:
        return data_dir, json.load(f)


class Hygiene:
    """Finds the temp views and temp-dir entries an op leaves behind,
    counts them and removes them, so a long run does not grow."""

    def __init__(self, tmp_dir: str):
        self.tmp_dir = tmp_dir
        self.views = 0
        self.entries = 0

    def snapshot(self, spark) -> tuple[set, set]:
        views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        return views, set(os.listdir(self.tmp_dir))

    def clean(self, spark, before: tuple[set, set]) -> None:
        views, entries = self.snapshot(spark)
        for v in views - before[0]:
            spark.catalog.dropTempView(v)
            self.views += 1
        for e in entries - before[1]:
            path = os.path.join(self.tmp_dir, e)
            shutil.rmtree(path, ignore_errors=True) if os.path.isdir(path) else os.remove(path)
            self.entries += 1


class Runner:
    def __init__(self, args, workload, ops):
        self.args = args
        self.wl = workload
        self.ops = ops
        self.cpus = len(os.sched_getaffinity(0))
        self.run_dir = os.path.join(WORK, "runs", f"{workload.name}-seed{args.seed}-{os.getpid()}")
        self.tmp_dir = os.path.join(self.run_dir, "tmp")
        self.hygiene = Hygiene(self.tmp_dir)
        self.tree: ProcessTree | None = None
        self.errors: list[str] = []

    # ------------------------------------------------------------ set-up
    def environment(self) -> None:
        os.makedirs(self.tmp_dir)
        os.makedirs(os.path.join(self.run_dir, "spark-local"))
        # Spark's Python workers import the engine (pandas UDFs, RDD
        # closures) and the benchmark's own task functions by module path
        os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, HERE, os.environ.get("PYTHONPATH")]))
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "spark-local")
        os.environ["TMPDIR"] = self.tmp_dir
        tempfile.tempdir = self.tmp_dir

    def spark_conf(self) -> dict:
        return {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp_dir} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }

    def setup_once(self, ctx, tracer) -> float:
        from dask_distributed_vanilla_spark.catalog import load_table
        from dask_distributed_vanilla_spark.client import Client
        from dask_distributed_vanilla_spark.session import get_spark

        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark("perfbench", **self.spark_conf())
        spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("catalog.register"):
            for t in self.wl.tables:
                load_table(spark, ctx.data_dir, t).count()
        ctx.spark = spark
        ctx.client = Client(spark, n_workers=self.cpus)
        return time.perf_counter() - t0

    def teardown(self, ctx) -> None:
        if ctx.client is not None:
            ctx.client.close()
        if ctx.spark is not None:
            ctx.spark.stop()

    # ---------------------------------------------------------------- ops
    def run_op(self, ctx, name: str, key: tuple, probes=None) -> tuple[float, float, bool]:
        """One closed-loop op: (wall s, process-tree CPU s, output ok)."""
        import numpy as np

        op = self.ops[name]
        inputs = op.prepare(ctx, np.random.default_rng([self.args.seed, *map(hash_key, key)]))
        before = self.hygiene.snapshot(ctx.spark)
        ctx.tracer.op_id = f"{name}@{'.'.join(map(str, key))}"
        if probes:
            probes.begin(ctx.tracer.op_id)
        cpu0 = self.tree.cpu_seconds()
        t0 = time.perf_counter()
        ok = True
        try:
            with ctx.tracer.span(f"op.{name}"):
                out = op.run(ctx, inputs)
        except Exception:
            ok = False
            self.errors.append(f"{ctx.tracer.op_id} raised:\n{traceback.format_exc()}")
        wall = time.perf_counter() - t0
        cpu = self.tree.cpu_seconds() - cpu0
        if probes:
            probes.end(wall)
        if ok:
            try:
                op.check(ctx, inputs, out)
            except Exception as e:  # CheckFailed, or a check that could not run
                ok = False
                self.errors.append(f"{ctx.tracer.op_id} failed its check: {e}")
        self.hygiene.clean(ctx.spark, before)
        ctx.tracer.op_id = None
        return wall, cpu, ok

    def warmup(self, ctx) -> dict[str, float]:
        """Run the workload's warm-up ops once (checked, not measured),
        so the window does not pay the first execution of their code
        paths; returns each one's wall time."""
        from workloads import ARRAY_SIZES, WARMUP_SIZES

        ctx.array = WARMUP_SIZES
        try:
            return {name: self.run_op(ctx, name, ("warmup", i))[0] for i, name in enumerate(self.wl.warmup)}
        finally:
            ctx.array = ARRAY_SIZES

    def window(self, ctx, tag: str, probes=None) -> dict:
        """The workload's fixed number of seed-shuffled passes over its
        ops, so every run measures the same multiset of ops however fast
        the host or the program is."""
        from workloads import pass_order

        lat, names, cpu, failed = [], [], 0.0, 0
        t_start = time.perf_counter()
        n_passes = self.wl.passes(self.args.seconds)
        for n_pass in range(n_passes):
            for i, name in enumerate(pass_order(self.wl.ops, self.args.seed, n_pass)):
                wall, c, ok = self.run_op(ctx, name, (tag, n_pass, i), probes)
                lat.append(wall)
                names.append(name)
                cpu += c
                failed += not ok
        return {"lat": lat, "names": names, "cpu": cpu, "failed": failed, "passes": n_passes,
                "wall": time.perf_counter() - t_start}


def hash_key(part) -> int:
    """Stable integer for a seed-sequence entry (``hash`` of str is salted)."""
    if isinstance(part, int):
        return part
    return int.from_bytes(str(part).encode()[:8].ljust(8, b"\0"), "little")


def end_to_end(setups: list[float], w: dict, peak_mem: int) -> tuple[dict, dict]:
    lat = w["lat"]
    n = len(lat)
    tail_v, tail_p = tail(lat)
    metrics = {
        "setup_s": _metric(statistics.median(setups), "s"),
        "latency_p50_s": _metric(statistics.median(lat), "s"),
        "latency_tail_s": _metric(tail_v, "s"),
        "throughput_ops_per_s": _metric((n - w["failed"]) / sum(lat), "ops/s"),
        "cpu_s_per_op": _metric(w["cpu"] / n, "s"),
        "peak_rss_mb": _metric(peak_mem / MB, "MB"),
        "error_rate": _metric(w["failed"] / n, "ratio"),
    }
    notes = {"latency_tail_s": f"p{tail_p:.1f} of {n} samples", "error_rate": f"{w['failed']}/{n}"}
    return metrics, notes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ under {ROOT}; run from the repository root", file=sys.stderr)
        return 2

    from workloads import WORKLOADS, build_ops

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    ops = build_ops()
    runner = Runner(args, wl, ops)
    runner.environment()
    try:
        return _run(runner, args, wl)
    finally:
        shutil.rmtree(runner.run_dir, ignore_errors=True)


def _run(runner: Runner, args, wl) -> int:
    import numpy as np
    import pandas as pd

    from layers import LayerProbes
    from spans import Tracer
    from workloads import Ctx

    from dask_distributed_vanilla_spark.plans.registry import all_queries

    queries = all_queries()
    data_dir, expected = prepare_inputs(wl, args.seed, [n for n in wl.ops if n in queries])
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(spark=None, data_dir=data_dir, work_dir=runner.run_dir, tracer=tracer,
              expected=expected, queries=queries)
    if "events" in wl.tables:
        ctx.events = pd.read_parquet(os.path.join(data_dir, "events.parquet"), columns=["event_id", "value"])
        ctx.vt_counts = np.zeros(len(ctx.events), dtype=np.int64)

    with ProcessTree() as tree:
        runner.tree = tree
        try:
            setups = []
            for _ in range(SETUPS):
                runner.teardown(ctx)
                setups.append(runner.setup_once(ctx, tracer))
            tracer.enabled = False
            warmup = runner.warmup(ctx)
            plain = runner.window(ctx, "plain")
            traced = None
            if args.trace:
                probes = LayerProbes(ctx, runner)
                tracer.enabled = True
                traced = runner.window(ctx, "traced", probes)
                probes.close()
            jvm_live = jvm_live_bytes(ctx.spark.sparkContext._jvm)
        finally:
            runner.teardown(ctx)
            _stop_jvm()
            tree.reap()
    metrics, notes = end_to_end(setups, plain, tree.peak_python_bytes + jvm_live)
    notes["peak_rss_mb"] = f"Python peak {tree.peak_python_bytes / MB:.0f} + JVM live {jvm_live / MB:.0f}"
    warmup_s = sum(warmup.values())

    print(f"workload={wl.name} seed={args.seed} cores={runner.cpus} sf={SF} "
          f"ops={len(plain['lat'])} passes={plain['passes']} window_s={plain['wall']:.2f} "
          f"warmup_s={warmup_s:.2f} "
          f"scratch={runner.tmp_dir} ({_fs_type(runner.tmp_dir)})")
    for name, m in metrics.items():
        print(f"  {name:<22} {m['value']:.6g} {m['unit']}" + (f"  ({notes[name]})" if name in notes else ""))
    by_op: dict[str, list[float]] = {}
    for name, t in zip(plain["names"], plain["lat"]):
        by_op.setdefault(name, []).append(t)
    print("  per-op median s: " + " ".join(f"{k}={statistics.median(v):.3f}" for k, v in by_op.items()))
    print("  warm-up s: " + " ".join(f"{k}={v:.3f}" for k, v in warmup.items()))
    for err in runner.errors:
        print(f"ERROR {err}", file=sys.stderr)

    if args.trace:
        layer = probes.metrics(traced, plain, warmup_s)
        span_path = os.path.join(WORK, "traces", f"{wl.name}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(span_path), exist_ok=True)
        tracer.write(span_path, {"workload": wl.name, "seed": args.seed, "seconds": args.seconds})
        print(f"spans: {span_path}")
        for name, m in layer.items():
            print(f"  {name:<40} {m['value']:.6g} {m['unit']}")
        print(f"  accounting: build_s + collect_s = "
              f"{layer['operators.build_s']['value'] + layer['operators.collect_s']['value']:.4f} s "
              f"of mean op wall {statistics.mean(traced['lat']):.4f} s")
        wanted = _config("per_layer")
        out_metrics = {k: layer[k] for k in wanted}
        w = traced
    else:
        wanted = _config("end_to_end")
        out_metrics = {k: metrics[k] for k in wanted}
        w = plain
    attempted, failed = len(w["lat"]), w["failed"]
    print(json.dumps({"correct": failed == 0 and not runner.errors, "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))
    return 0


def _fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (from /proc/mounts)."""
    best, fs = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, typ = line.split()[:3]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, fs = mnt, typ
    return fs


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM (and with it the
    Python worker daemon) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


if __name__ == "__main__":
    raise SystemExit(main())
