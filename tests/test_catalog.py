"""Catalog helpers across session restarts: `spread()`'s partition-count
memo is keyed on the Spark application, so a restarted session never
reads the counts of the one it replaced."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

_ROOT = Path(__file__).resolve().parents[1]


def test_spread_memo_keyed_per_application(tmp_path):
    script = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {str(_ROOT)!r})
        from dask_distributed_vanilla_spark import catalog
        from dask_distributed_vanilla_spark.session import get_spark

        apps = []
        for _ in range(2):
            spark = get_spark("spread-restart", master="local[2]")
            spark.sparkContext.setLogLevel("ERROR")
            catalog.spread(spark.range(0, 100, 1, 1)).count()
            apps.append(spark.sparkContext.applicationId)
            spark.stop()
        keys = sorted({{app for app, _ in catalog._SPREAD_NPARTS}})
        print(json.dumps({{"apps": sorted(apps), "keys": keys}}))
        """
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    seen = json.loads(out.stdout.splitlines()[-1])
    assert len(set(seen["apps"])) == 2, seen
    assert seen["keys"] == seen["apps"], seen
