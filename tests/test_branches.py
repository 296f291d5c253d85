"""Writable branch refs (Iceberg-style branch commits): isolation,
fast-forward and delta-union merges, divergence rejection, shared-data GC
safety, and exactly-once across the fork."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F, types as T

from hierarchical_to_relational_spark.table.snapshot_table import (
    BranchDivergedError,
    SnapshotTable,
)
from tests.conftest import rows_as_set

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.IntegerType(), True),
    ]
)


def _bucketed(spark, table, rows, schema="k string, v int"):
    df = spark.createDataFrame(rows, schema)
    return df.withColumn("_bucket", table.bucket_col()(F.col("k")))


def _state(spark, table, cols=("k", "v")):
    return rows_as_set(table.read(spark).select(*cols))


def test_branch_isolation_and_ff_merge(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=4)
    t.commit_append(_bucketed(spark, t, [("a", 1), ("b", 2)]), "b0")
    br = t.create_branch("exp")
    assert t.branches() == ["exp"]
    br.commit_append(_bucketed(spark, br, [("c", 3)]), "b1")
    # isolation: main never sees the branch commit
    assert _state(spark, t) == {("a", 1), ("b", 2)}
    assert _state(spark, br) == {("a", 1), ("b", 2), ("c", 3)}
    # fast-forward merge (main untouched since fork)
    assert t.merge_branch("exp", "merge-1") is True
    assert _state(spark, t) == {("a", 1), ("b", 2), ("c", 3)}
    # idempotent on batch_id
    assert t.merge_branch("exp", "merge-1") is False
    assert t.snapshot()["kind"] == "merge"
    assert t.drop_branch("exp") and t.branches() == []


def test_branch_merge_unions_disjoint_deltas(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=1)
    t.commit_append(_bucketed(spark, t, [("a", 1)]), "base")
    br = t.create_branch("exp")
    t.commit_append(_bucketed(spark, t, [("m", 10)]), "main-delta")
    br.commit_append(_bucketed(spark, br, [("x", 20)]), "branch-delta")
    assert t.merge_branch("exp", "merge-2") is True
    assert _state(spark, t) == {("a", 1), ("m", 10), ("x", 20)}
    # both sides' delta dirs are stacked on the bucket (fork + main + branch)
    assert len(t.snapshot()["live"]["0"]) == 3


def test_branch_merge_rejects_rewrite_divergence(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=1)
    t.commit_append(_bucketed(spark, t, [("a", 1)]), "base")
    br = t.create_branch("exp")
    br.commit_append(_bucketed(spark, br, [("x", 2)]), "branch-delta")
    # main REWRITES bucket 0 (CoW) — three-way merge must refuse
    t.commit_overwrite_buckets(
        _bucketed(spark, t, [("a", 99)]), [0], "main-rewrite"
    )
    with pytest.raises(BranchDivergedError):
        t.merge_branch("exp", "merge-3")


def test_branch_dirs_survive_main_gc(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.commit_append(_bucketed(spark, t, [("a", 1)]), "b0")
    br = t.create_branch("exp")
    br.commit_append(_bucketed(spark, br, [("b", 2)]), "b1")
    for i in range(3):  # push main history past the branch point
        t.commit_append(_bucketed(spark, t, [(f"m{i}", i)]), f"m-{i}")
    rep = t.expire_snapshots(retain_last=1, orphan_grace_seconds=0.0)
    assert rep["expired_snapshots"] >= 1
    # the branch's own commit AND its fork-referenced dirs still read fine
    assert ("b", 2) in _state(spark, br) and ("a", 1) in _state(spark, br)
    # after dropping the branch, its exclusive dirs become collectable
    ndirs_before = len(t.snapshot()["live"])
    t.drop_branch("exp")
    rep2 = t.expire_snapshots(retain_last=1, orphan_grace_seconds=0.0)
    assert rep2["removed_data_dirs"] >= 1
    assert len(t.snapshot()["live"]) == ndirs_before  # main untouched
    assert _state(spark, t) >= {("a", 1), ("m0", 0), ("m1", 1), ("m2", 2)}


def test_branch_inherits_committed_ids(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.commit_append(_bucketed(spark, t, [("a", 1)]), "batch-7")
    br = t.create_branch("exp")
    # replaying a pre-fork batch on the branch is a no-op (exactly-once
    # carries across the fork)
    assert br.commit_append(_bucketed(spark, br, [("a", 999)]), "batch-7") is False
    assert _state(spark, br) == {("a", 1)}


def test_branch_schema_union_on_merge(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.commit_append(_bucketed(spark, t, [("a", 1)]), "b0")
    br = t.create_branch("exp")
    wide = T.StructType(list(SCHEMA.fields) +
                        [T.StructField("w", T.StringType(), True)])
    assert br.evolve_to(wide, "b1-evolve") is True
    br.commit_append(
        _bucketed(spark, br, [("c", 3, "new")], "k string, v int, w string"), "b1")
    assert t.merge_branch("exp", "merge-4") is True
    assert [f.name for f in t.schema().fields] == ["k", "v", "w"]
    assert _state(spark, t, ("k", "v", "w")) == {
        ("a", 1, None), ("c", 3, "new")}


def test_branch_from_tag_and_bad_names(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.commit_append(_bucketed(spark, t, [("a", 1)]), "b0")
    t.tag("rel")
    t.commit_append(_bucketed(spark, t, [("b", 2)]), "b1")
    br = t.create_branch("hotfix", from_version="rel")  # fork at the tag
    assert _state(spark, br) == {("a", 1)}
    with pytest.raises(ValueError):
        t.create_branch("bad/name")
    with pytest.raises(ValueError):
        t.create_branch("hotfix")  # already exists
    with pytest.raises(ValueError):
        br.create_branch("nested")  # branch-off-branch unsupported


def test_merge_folds_branch_ids_into_main_ledger(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.commit_append(_bucketed(spark, t, [("a", 1)]), "base")
    br = t.create_branch("exp")
    br.commit_append(_bucketed(spark, br, [("x", 2)]), "staged-batch")
    assert t.merge_branch("exp", "merge-ff") is True
    t.drop_branch("exp")
    # the staged batch is now part of MAIN's state: replaying it against
    # main must no-op (exactly-once survives the publish)
    assert t.commit_append(
        _bucketed(spark, t, [("x", 999)]), "staged-batch") is False
    assert _state(spark, t) == {("a", 1), ("x", 2)}


def test_fork_at_older_version_applies_post_fork_batches(spark, tmp_path):
    """ADVICE r5: the branch ledger must seed only ids committed AS OF the
    fork version — a batch main committed AFTER the fork point was never
    part of the branch's lineage, so applying it to the branch must be a
    real commit, not a silent no-op (the hotfix-fork data-skip bug)."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.commit_append(_bucketed(spark, t, [("a", 1)]), "pre-fork")
    v_fork = t.current_version()
    t.commit_append(_bucketed(spark, t, [("b", 2)]), "post-fork")
    br = t.create_branch("hotfix", from_version=v_fork)
    assert _state(spark, br) == {("a", 1)}
    # pre-fork id still no-ops on the branch (exactly-once across fork)
    assert br.commit_append(_bucketed(spark, br, [("a", 999)]), "pre-fork") is False
    # post-fork id APPLIES: the branch never contained it
    assert br.commit_append(_bucketed(spark, br, [("b", 20)]), "post-fork") is True
    assert _state(spark, br) == {("a", 1), ("b", 20)}
    # and main is untouched by either
    assert _state(spark, t) == {("a", 1), ("b", 2)}


def test_merge_replay_repairs_lost_ledger_fold(spark, tmp_path):
    """ADVICE r5: a crash between merge_branch's _commit and its ledger
    fold loses the fold; the replay (same batch_id) must repair it before
    no-op'ing, so a staged branch batch can never re-commit against main."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.commit_append(_bucketed(spark, t, [("a", 1)]), "base")
    br = t.create_branch("exp")
    br.commit_append(_bucketed(spark, br, [("x", 2)]), "staged-batch")

    real = t._write_ledger

    def crash(ids, expired_through=None):
        raise RuntimeError("crash between _commit and ledger fold")

    t._write_ledger = crash
    with pytest.raises(RuntimeError, match="crash between"):
        t.merge_branch("exp", "merge-crash")
    del t._write_ledger  # restore the bound method
    assert real == t._write_ledger

    # the merge snapshot committed, but the fold was lost: a fresh handle
    # does NOT see the staged branch id as committed on main yet
    t2 = SnapshotTable(str(tmp_path / "t"))
    assert "merge-crash" in t2.committed_batch_ids()
    assert "staged-batch" not in t2.committed_batch_ids()

    # merge replay: no-op on state, but deterministically repairs the fold
    assert t2.merge_branch("exp", "merge-crash") is False
    assert "staged-batch" in t2.committed_batch_ids()
    assert t2.commit_append(
        _bucketed(spark, t2, [("x", 999)]), "staged-batch") is False
    assert _state(spark, t2) == {("a", 1), ("x", 2)}
    # replay with a healthy ledger does not keep rewriting it
    v_led = t2._ledger_versions()
    assert t2.merge_branch("exp", "merge-crash") is False
    assert t2._ledger_versions() == v_led


def test_merge_retry_folds_concurrent_schema_evolution(spark, tmp_path):
    """ADVICE r5: merge_branch's union schema is re-resolved on every
    commit attempt — losing the pointer race to a concurrent widening on
    main must not publish a stale union that reverts the new column."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.commit_append(_bucketed(spark, t, [("a", 1)]), "base")
    br = t.create_branch("exp")
    br.commit_append(_bucketed(spark, br, [("x", 2)]), "br-delta")

    wide = T.StructType(list(SCHEMA.fields) +
                        [T.StructField("w", T.StringType(), True)])
    raced = {"done": False}
    real_write = t._write_snapshot

    def racing_write(snap):
        if not raced["done"]:
            raced["done"] = True
            # a concurrent committer wins the version race with a schema
            # evolution while our merge is mid-commit
            other = SnapshotTable(str(tmp_path / "t"))
            assert other._commit("race-evolve", wide,
                                 lambda live: live, kind="evolve") is True
        return real_write(snap)

    t._write_snapshot = racing_write
    try:
        assert t.merge_branch("exp", "merge-raced") is True
    finally:
        del t._write_snapshot
    assert raced["done"]
    # the published schema carries BOTH the merge union and the racer's column
    assert [f.name for f in t.schema().fields] == ["k", "v", "w"]
    assert _state(spark, t) == {("a", 1), ("x", 2)}
