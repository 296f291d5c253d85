"""Spark-job budget per write, read and maintenance operation.

Under adaptive execution every shuffle stage runs as its own Spark job,
and at serve table sizes each job costs ~0.1-0.2 s of driver and
scheduling wall time, so the job count of an operation sets its latency
more than the bytes it moves. These tests pin the count for each
operation on one small fixed table: a change that adds an exchange to
``resolve`` (or anywhere on these paths) fails here instead of hiding in
benchmark noise. Jobs are counted per Spark job group.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hierarchical_to_relational_spark.operators.merge import (
    binpack_deltas,
    compact,
    compact_pressured,
    evolve_buckets,
    lookup_conversations,
    read_transcripts,
    resolve,
    scan_range,
)
from hierarchical_to_relational_spark.operators.mview import ConvAggregateView
from hierarchical_to_relational_spark.streaming.driver import CdcPipeline
from hierarchical_to_relational_spark.streaming.egress import changes_since
from tests.test_cdc import _env_rows

N_CONVS = 40
BUDGET = {
    "apply_batch_1_append": 2,
    "lookup_1": 2,
    "lookup_100": 2,
    "read_transcripts": 2,
    "scan_range": 4,
    "changes_since_1_append": 3,
    "view_refresh_incremental": 4,
    "compact_full": 5,
    "compact_pressured": 5,
    "compact_pressured_miss": 0,
    "binpack": 2,
    "rebucket": 5,
}


def _batch(i: int):
    """Append i: every conversation gets a full turn, every third a
    patch, every seventh a delete then a re-insert above it."""
    rows = []
    lsn = 1000 * (i + 1)
    for c in range(N_CONVS):
        cid = f"c{c}"
        rows.append((lsn + c, "insert" if i == 0 else "update", cid,
                     [(i % 3, "user", f"t{i}-{c}", None)]))
        if c % 3 == i % 3:
            rows.append((lsn + 100 + c, "patch", cid, [(i % 3, None, f"p{i}-{c}", None)]))
        if c % 7 == i:
            rows.append((lsn + 200 + c, "delete", cid, None))
            rows.append((lsn + 300 + c, "insert", cid, [(0, "user", f"r{i}-{c}", None)]))
    return rows


def _jobs(spark, name, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(name))


def _executed_plan(df) -> str:
    """The executed plan of ``df`` after a collect. The adaptive plan
    string then prints each Exchange twice (final and initial plan), and
    each shuffle query stage once."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(df) -> int:
    """Shuffle stages the executed plan of ``df`` ran."""
    return _executed_plan(df).count("ShuffleQueryStage")


@pytest.fixture(scope="module")
def measured(spark, tmp_path_factory):
    """Job counts of every budgeted operation, measured in a fixed order
    on one table: five appends over 4 buckets (the fifth counted), a view
    built after the fourth, then a pressure compaction that folds no
    bucket, the full compaction, and a pressure compaction at depth 1 that
    folds every bucket again (the rewrites come last: they rewrite the
    table). The bin-pack and then the re-bucketing to 8 run on a second
    table of the same five appends. Also the shuffle count of ``resolve`` and of
    ``read_transcripts`` over the uncompacted table, the executed plan
    of the one-append feed, and what the pressure compactions, the
    incremental refresh and ``delta_stats`` returned."""
    d = tmp_path_factory.mktemp("budget")
    pipe = CdcPipeline(spark, str(d / "binlog"), str(d / "t"), str(d / "ck"),
                       n_buckets=4, text_mode="none")
    t = pipe.table
    for i in range(4):
        pipe.apply_batch(_env_rows(spark, _batch(i)), f"b{i}")
    view = ConvAggregateView(spark, t, str(d / "mv"), n_buckets=4)
    view.refresh()
    rw = CdcPipeline(spark, str(d / "binlog"), str(d / "rw"), str(d / "rw-ck"),
                     n_buckets=4, text_mode="none")
    for i in range(5):
        rw.apply_batch(_env_rows(spark, _batch(i)), f"b{i}")
    v_before = t.current_version()
    env = _env_rows(spark, _batch(4))
    appended = _jobs(spark, "budget-apply_batch_1_append",
                     lambda: pipe.apply_batch(env, "b4"))
    resolved = resolve(t.read(spark), t.schema())
    shuffles = {"resolve": _shuffles(resolved),
                "read_transcripts": _shuffles(read_transcripts(spark, t))}
    assert resolved.where(F.col("_op") == "d").count() > 0
    feed_plan = _executed_plan(changes_since(spark, t, v_before))
    keys = [f"c{k}" for k in range(100)]
    got = {"delta_stats": t.delta_stats()}
    ops = {
        "lookup_1": lambda: lookup_conversations(spark, t, ["c5"]).collect(),
        "lookup_100": lambda: lookup_conversations(spark, t, keys).collect(),
        "read_transcripts": lambda: read_transcripts(spark, t).collect(),
        "scan_range": lambda: scan_range(spark, t, "turn_idx", 1, 2).collect(),
        "changes_since_1_append": lambda: changes_since(spark, t, v_before).collect(),
        "view_refresh_incremental": lambda: got.update(refresh=view.refresh()),
        "compact_pressured_miss": lambda: got.update(
            miss=compact_pressured(spark, t, "pressure-0", depth_threshold=6)),
        "compact_full": lambda: compact(spark, t, "compact-0"),
        "compact_pressured": lambda: got.update(
            hit=compact_pressured(spark, t, "pressure-1", depth_threshold=1)),
        "binpack": lambda: binpack_deltas(spark, rw.table, "binpack-0", min_dirs=3),
        "rebucket": lambda: evolve_buckets(spark, rw.table, 8, "rebucket-0"),
    }
    counts = {name: _jobs(spark, f"budget-{name}", fn) for name, fn in ops.items()}
    counts["apply_batch_1_append"] = appended
    assert view.cursor() == v_before + 1
    assert [h["kind"] for h in rw.table.history()][-2:] == ["compact", "rebucket"]
    return counts, shuffles, feed_plan, got


@pytest.mark.parametrize("op", sorted(BUDGET))
def test_job_budget(measured, op):
    counts, _, _, _ = measured
    assert counts[op] == BUDGET[op], counts


def test_perfbench_surface(measured):
    """``perfbench/workload.py`` (frozen) wraps or calls these engine
    names and reads these result shapes; a rename would make a traced run
    fail or read 0 for a layer, so it fails here first."""
    from hierarchical_to_relational_spark.lineage import LineageStore
    from hierarchical_to_relational_spark.operators import merge
    from hierarchical_to_relational_spark.streaming import driver, egress
    from hierarchical_to_relational_spark.streaming.egress import ChangeFollower
    from hierarchical_to_relational_spark.table.snapshot_table import SnapshotTable

    for owner, name in [
        (driver, "normalize_envelopes_fused"), (driver, "apply_cdc_batch"),
        (driver, "compact_pressured"), (merge, "binpack_deltas"),
        (merge, "lookup_conversation"), (merge, "lookup_conversations"),
        (merge, "read_transcripts"), (egress, "changes_since"),
        (SnapshotTable, "expire_snapshots"), (SnapshotTable, "delta_stats"),
        (LineageStore, "record"), (ChangeFollower, "poll_once"),
        (ConvAggregateView, "refresh"),
    ]:
        assert callable(getattr(owner, name, None)), f"{owner.__name__}.{name}"
    _, _, _, got = measured
    assert got["miss"] == [] and got["hit"] == [0, 1, 2, 3]
    assert got["delta_stats"] and all(s["depth"] == 5 for s in got["delta_stats"].values())
    assert got["refresh"]["mode"] == "incremental"


def test_resolve_plans_one_shuffle(measured):
    """``resolve`` over a multi-bucket, multi-dir read runs on one hash
    exchange, and the user-facing fold on top of it adds none."""
    _, shuffles, _, _ = measured
    assert shuffles == {"resolve": 1, "read_transcripts": 1}


def test_changes_since_plans_no_join(measured):
    """The change feed is one tagged scan on one ``conv_id`` partitioning:
    at most two shuffle stages (the delete branch aggregates the
    tombstone rows on its own exchange) and no join. Its empty union leg
    (no rollback in the window) is pruned, not run as a Python-side
    frame that would start Python workers."""
    _, _, plan, _ = measured
    assert plan.count("ShuffleQueryStage") <= 2
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" not in plan
    assert "ExistingRDD" not in plan


@pytest.mark.parametrize("case", ["feed_compaction_only", "scan_range_no_match"])
def test_empty_result_plans_no_python_rdd(spark, tmp_path, case):
    """An empty result is an empty local relation, not a frame made from
    a Python list: its plan has no ``ExistingRDD`` scan, which would
    start Python workers when it runs."""
    pipe = CdcPipeline(spark, str(tmp_path / "binlog"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    t = pipe.table
    pipe.apply_batch(_env_rows(spark, _batch(0)), "b0")
    if case == "feed_compaction_only":
        v = t.current_version()
        assert compact(spark, t, "compact-0")
        df = changes_since(spark, t, v)
    else:
        df = scan_range(spark, t, "turn_idx", 50, 60)
    plan = _executed_plan(df)
    assert df.count() == 0
    assert "ExistingRDD" not in plan, plan
