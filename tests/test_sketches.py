"""Sketch aggregates: HLL++ approximate distinct + approximate quantiles,
with measured error bounds vs exact (the rows-only contract query's
correctness contract)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def _sketch_agg(spark):
    """The raw sketch aggregation (the contract query wraps this in an
    oracle-checkable harness of error-bound booleans — here we measure the
    tighter bounds directly)."""
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", [0.5, 0.95], 10000).alias("_vq"),
    ).select("event_type", "approx_users",
             F.col("_vq")[0].alias("p50"), F.col("_vq")[1].alias("p95"))


def test_sketch_error_bounds(spark):
    approx = {r["event_type"]: r for r in _sketch_agg(spark).collect()}
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    # baseline quantiles at max accuracy (effectively exact, and
    # non-interpolating like the sketch — `percentile()` interpolates
    # between data points, which is a different estimator, not an error)
    exact = {r["event_type"]: r for r in
             ev.groupBy("event_type").agg(
                 F.countDistinct("user_id").alias("users"),
                 F.percentile_approx("value", F.array(F.lit(0.5), F.lit(0.95)),
                                     2147483647).alias("q"),
             ).collect()}
    assert set(approx) == set(exact) and len(approx) >= 4
    for et, a in approx.items():
        e = exact[et]
        assert abs(a["approx_users"] - e["users"]) / e["users"] <= 0.05, \
            f"{et}: HLL distinct off by >5%"
        spread = e["q"][1] - e["q"][0] or 1.0
        assert abs(a["p50"] - e["q"][0]) <= 0.05 * spread
        assert abs(a["p95"] - e["q"][1]) <= 0.05 * spread


def test_sketch_plan_is_partial_final(spark):
    """Sketches must aggregate with map-side partial state (constant-size
    per group), not shuffle raw rows."""
    plan = _sketch_agg(spark)._jdf.queryExecution().executedPlan().toString()
    assert "partial_approx_count_distinct" in plan
    assert plan.count("Exchange") == 1
    # the contract harness around it must still hash TRUE on every bound
    rows = E.queries()["sketch_stats"](spark, SF).collect()
    assert rows and all(r["hll_ok"] and r["p50_ok"] and r["p95_ok"] for r in rows)
