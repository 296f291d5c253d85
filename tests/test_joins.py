"""As-of join operator: backward match, <= semantics, tolerance, no
right-row explosion."""

from __future__ import annotations

import pandas as pd

from hierarchical_to_relational_spark.operators.joins import asof_join


def _frames(spark):
    left = spark.createDataFrame(
        [("u1", 10, "c1"), ("u1", 25, "c2"), ("u1", 5, "c0"), ("u2", 50, "c3")],
        "user string, ts long, click string",
    )
    right = spark.createDataFrame(
        [("u1", 8, "s1"), ("u1", 25, "s2"), ("u1", 30, "s3"), ("u3", 1, "sx")],
        "user string, ts long, state string",
    )
    return left, right


def test_asof_backward_semantics(spark):
    left, right = _frames(spark)
    out = asof_join(left, right, on=["user"], left_ts="ts", right_ts="ts")
    got = {(r["user"], r["ts"]): r["state_asof"] for r in out.collect()}
    assert got == {
        ("u1", 5): None,      # nothing at or before 5
        ("u1", 10): "s1",     # 8 <= 10
        ("u1", 25): "s2",     # equal ts matches (<=)
        ("u2", 50): None,     # key with no right rows
    }
    assert out.count() == left.count()  # exactly one row per left row


def test_asof_tolerance(spark):
    left, right = _frames(spark)
    out = asof_join(left, right, on=["user"], left_ts="ts", right_ts="ts", tolerance=1)
    got = {(r["user"], r["ts"]): r["state_asof"] for r in out.collect()}
    # inclusive tolerance: 10-8=2 > 1 -> stale -> NULL; 25-25=0 -> kept
    assert got == {("u1", 5): None, ("u1", 10): None, ("u1", 25): "s2", ("u2", 50): None}


def test_asof_matches_pandas_merge_asof(spark):
    """Random-ish data vs pandas.merge_asof (the behavioral oracle)."""
    import numpy as np
    rng = np.random.default_rng(7)
    l = pd.DataFrame({
        "k": rng.integers(0, 5, 200).astype(str),
        "ts": rng.integers(0, 1000, 200).astype("int64"),
    }).drop_duplicates(["k", "ts"]).sort_values("ts").reset_index(drop=True)
    r = pd.DataFrame({
        "k": rng.integers(0, 5, 100).astype(str),
        "ts": rng.integers(0, 1000, 100).astype("int64"),
        "v": rng.integers(0, 10**6, 100).astype("int64"),
    }).drop_duplicates(["k", "ts"]).sort_values("ts").reset_index(drop=True)
    want = pd.merge_asof(l, r, on="ts", by="k", direction="backward").rename(columns={"v": "v_asof"})

    out = asof_join(spark.createDataFrame(l), spark.createDataFrame(r),
                    on=["k"], left_ts="ts", right_ts="ts").toPandas()
    got = out.sort_values(["ts", "k"]).reset_index(drop=True)
    want = want.sort_values(["ts", "k"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[["k", "ts", "v_asof"]], want[["k", "ts", "v_asof"]],
                                  check_dtype=False)


def test_interval_join_equals_naive_and_avoids_nested_loop(spark):
    """Bucketized interval join returns exactly the naive inequality-join
    pairs, with an equi-join (hash/sort-merge) plan — no per-key nested
    loop."""
    from pyspark.sql import functions as F
    from hierarchical_to_relational_spark.operators.joins import interval_join

    import numpy as np
    rng = np.random.default_rng(11)
    pts = spark.createDataFrame(
        [(str(k), int(t), i) for i, (k, t) in enumerate(
            zip(rng.integers(0, 4, 150), rng.integers(0, 5000, 150)))],
        "k string, ts long, pid int")
    iv = spark.createDataFrame(
        [(str(k), int(s), int(s + d), i) for i, (k, s, d) in enumerate(
            zip(rng.integers(0, 4, 40), rng.integers(0, 5000, 40), rng.integers(1, 900, 40)))],
        "k string, s long, e long, iid int")

    out = interval_join(pts, iv, on=["k"], point_ts="ts", start_ts="s",
                        end_ts="e", bucket_seconds=600)
    got = {(r["pid"], r["iid"]) for r in out.collect()}
    naive = pts.join(iv, "k").where((F.col("ts") >= F.col("s")) & (F.col("ts") <= F.col("e")))
    want = {(r["pid"], r["iid"]) for r in naive.collect()}
    assert got == want and len(got) > 10

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_asof_right_duplicates_deterministic(spark):
    """Duplicate right rows at the same (key, ts) resolve to the MAX
    payload — deterministically, not partitioning-dependent."""
    left = spark.createDataFrame([("u", 10, "c")], "k string, ts long, c string")
    right = spark.createDataFrame(
        [("u", 8, "a"), ("u", 8, "z"), ("u", 8, "m")], "k string, ts long, v string")
    for _ in range(3):
        out = asof_join(left.repartition(4), right.repartition(7),
                        on=["k"], left_ts="ts", right_ts="ts")
        assert out.collect()[0]["v_asof"] == "z"


def test_asof_map_payload_requires_tiebreak(spark):
    """Map-typed payload columns are not orderable: without tiebreak_cols
    the join refuses loudly; with an explicit tiebreak the duplicate at
    the same (key, ts) with the max tiebreak wins, deterministically."""
    import pytest

    left = spark.createDataFrame([("u", 10, "c")], "k string, ts long, c string")
    right = spark.createDataFrame(
        [("u", 8, 1, {"a": "old"}), ("u", 8, 3, {"a": "new"}), ("u", 8, 2, {"a": "mid"})],
        "k string, ts long, seq long, attrs map<string,string>",
    )
    with pytest.raises(TypeError, match="non-orderable"):
        asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts")

    for _ in range(3):
        out = asof_join(left.repartition(4), right.repartition(7),
                        on=["k"], left_ts="ts", right_ts="ts",
                        tiebreak_cols=["seq"])
        row = out.collect()[0]
        assert row["attrs_asof"] == {"a": "new"} and row["seq_asof"] == 3


def test_read_with_stats_broadcast_hint(spark, tmp_path):
    """A dimension-sized SnapshotTable read via read_with_stats plans a
    broadcast join (manifest-bytes decision, no filesystem listing); a
    tiny threshold leaves the join unhinted."""
    from pyspark.sql import functions as F, types as T
    from hierarchical_to_relational_spark.operators.joins import read_with_stats
    from hierarchical_to_relational_spark.table.snapshot_table import SnapshotTable

    schema = T.StructType([
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
    ])
    t = SnapshotTable.create(str(tmp_path / "dim"), schema, n_buckets=2)
    dim = spark.range(500).select(
        (F.pmod(F.xxhash64(F.concat(F.lit("c"), F.col("id"))), F.lit(2))).cast("int").alias("_bucket"),
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        F.col("id").alias("v"),
    )
    t.commit_data(dim, batch_id="b0")
    assert 0 < t.total_bytes() < 32 * 1024 * 1024

    fact = spark.range(10_000).select(
        F.concat(F.lit("c"), F.col("id") % 500).alias("conv_id"),
        F.col("id").alias("x"),
    )
    # disable Spark's own size-estimate broadcasting so the plans show the
    # MANIFEST-driven decision, not the optimizer's file-size guess
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = fact.join(read_with_stats(spark, t), "conv_id")
        assert "BroadcastHashJoin" in hinted._jdf.queryExecution().executedPlan().toString()

        unhinted = fact.join(
            read_with_stats(spark, t, broadcast_threshold_bytes=1), "conv_id"
        )
        plan = unhinted._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert hinted.count() == unhinted.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1MB")
