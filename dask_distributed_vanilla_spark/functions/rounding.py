"""Engine-portable rounding.

Spark's ROUND(double, 2) rounds the shortest decimal *string* of the
double (via BigDecimal), while DuckDB rounds the binary value — they
disagree exactly on the .xx5 grid (e.g. 189/40: Spark 4.73, DuckDB
4.72). Ratios of small integers (token stats, Jaccard) land on that grid
constantly, so those operators round with an explicit half-up on the
binary value — `floor(x*100 + 0.5)/100` — which every engine evaluates
identically. SQL twin: `FLOOR(x*100 + 0.5)/100`.

Round-4 finding (generated-fixture fuzz): 2-decimal money AVERAGES also
land on the .xx5 grid (mean of 13.33 and 13.34 prints as 13.335 —
Spark's string-rounding ROUND gives 13.34, DuckDB's binary-rounding
13.33), caught live in e27_twap. The full migration was completed the
same round: every display rounding in the registry (and each oracle
twin, and the Python-side pins via math.floor) now uses the
floor(x*scale + 0.5)/scale form — no native-ROUND display pair
remains on the judged surface.

Two VALUE-DOMAIN native rounds survive the migration ON PURPOSE — they
round a quantity the query then computes WITH, not a displayed result,
and both engines' half-even agrees on their grids (integer codebook
cells / integer cents, never .xx5 doubles):

  - emb_quantize codebook cell assignment
    (operators/similarity.py `emb_quantize`, oracle twin
    `EMB_QUANTIZE_SQL`) — the round IS the quantizer; both sides round
    the same expression so MAE matches.
  - stream_update_totals integer-cents normalization
    (streaming/events_stream.py `stream_update_totals`) — cents are
    exact integers; the round removes double noise BEFORE the sum, not
    after it.

A future rounding sweep must leave these two as-is: "fixing" them to
half-up would change the quantizer/normalizer semantics themselves and
desynchronize engine vs oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round2(x: Column) -> Column:
    """Half-up round to 2 decimals on the binary double value."""
    return F.floor(x * 100 + F.lit(0.5)) / 100


def round2_sql(expr: str) -> str:
    """DuckDB twin of :func:`round2`."""
    return f"FLOOR(({expr}) * 100 + 0.5) / 100"
