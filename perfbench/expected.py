"""Expected outputs for the benchmark's relational and streaming ops.

For every op with a DuckDB oracle in ``plans.registry.all_oracles()``
the expectation is ``(schema, hash, rows)`` of the oracle's result under
``plans.canonical.canonical``, computed over the same generated tables
the engine reads. Ops the registry declares rows-only have no oracle by
design; for the ones the benchmark runs, an exact SQL twin below gives
the expected schema and row count (their values are sketch estimates or
iterative fits, so only schema and row count are compared).
"""

from __future__ import annotations

import os

# Exact twins of the rows-only ops: same column names and dtypes, same
# row count, values not compared.
ROWS_ONLY_TWINS = {
    "stream_approx_distinct": (
        "SELECT event_type, date_trunc('day', ts) AS w, "
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS approx_users "
        "FROM events GROUP BY 1, 2"
    ),
    "text_logreg_quality": "SELECT CAST(range AS INTEGER) AS j, 0.0::DOUBLE AS weight FROM range(64)",
}


def compute(data_dir: str, names: list[str], oracles: dict[str, str], canonical) -> dict[str, dict]:
    """Run each op's oracle (or rows-only twin) in DuckDB over ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data_dir}/{f}'")
        out = {}
        for name in names:
            if name in oracles:
                sql, values_checked = oracles[name], True
            elif name in ROWS_ONLY_TWINS:
                sql, values_checked = ROWS_ONLY_TWINS[name], False
            else:
                raise KeyError(f"{name}: no oracle and no rows-only twin")
            df = con.execute(sql).fetchdf()
            schema, digest = canonical(df)
            out[name] = {"schema": schema, "hash": digest if values_checked else None, "rows": len(df)}
        return out
    finally:
        con.close()

