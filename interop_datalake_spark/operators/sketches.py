"""Mergeable distinct-count sketches (Apache DataSketches HLL, exposed
by Spark 4 as ``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate``) — the pre-aggregated-rollup pattern for
distinct counting at 100 TB.

Why sketches and not count(DISTINCT): exact distinct is a full shuffle
of every key every time the question is asked, and distinct-to-date
over a year of days re-scans the year. A per-day HLL sketch is a few
KB, is computed once per day (map-side partial agg — the sketch IS the
combine state), and any date-range distinct count is then a union of
that range's sketches: the query over 365 days touches 365 rows, not
10^11. While sketches stay in sparse mode (small per-group
cardinalities) the union is bit-exact vs a monolithic sketch; once
dense, the DataSketches union target representation (HLL_8) differs
slightly from a directly-built sketch, so merged and monolithic
estimates drift on the estimator's own error scale (measured 0.1% at
15k keys, 0.7% at the 1500-key promotion boundary) — the tests pin BOTH regimes honestly: sparse
equality, dense sub-error agreement.

Sketches are binary and algorithm-specific, so cross-engine value
parity applies to the EXACT side only; the estimate is witnessed by an
in-query tolerance flag (and the store-vs-monolithic 2% agreement
assert), the same honesty pattern as agg_approx_distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def daily_sketches(
    ev: DataFrame, key_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """(day, n_events, sketch): one HLL sketch of ``key_col`` per day.
    This is the frame a daily job appends to the sketch-store TxnTable
    — computed once per day's partition, never revisited."""
    return ev.groupBy(F.date_trunc("day", ts_col).alias("day")).agg(
        F.count("*").alias("n_events"),
        F.hll_sketch_agg(key_col).alias("sketch"),
    )


def cumulative_estimates(sketches: DataFrame) -> DataFrame:
    """(day, n_events, est_to_date): distinct-to-date estimates from a
    running union over the stored sketches — a window aggregate over
    the (tiny) sketch table, no raw-data scan. The running union is
    ordered by day; at a year of days this is a 365-row window."""
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sketches.select(
        "day",
        "n_events",
        F.hll_sketch_estimate(F.hll_union_agg("sketch").over(w)).alias(
            "est_to_date"
        ),
    )
