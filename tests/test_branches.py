"""Writable branch refs (Iceberg-style branch commits): isolation,
fast-forward and delta-union merges, divergence rejection, shared-data GC
safety, and exactly-once across the fork."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F, types as T

from hierarchical_to_relational_spark.table.snapshot_table import (
    BranchDivergedError,
    CommittedIds,
    SnapshotTable,
)
from tests.conftest import rows_as_set
from tests.test_table import _overwrite

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
    t.commit_data(_bucketed(spark, t, [("a", 1), ("b", 2)]), "b0")
    br = t.create_branch("exp")
    assert t.branches() == ["exp"]
    br.commit_data(_bucketed(spark, br, [("c", 3)]), "b1")
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
    t.commit_data(_bucketed(spark, t, [("a", 1)]), "base")
    br = t.create_branch("exp")
    t.commit_data(_bucketed(spark, t, [("m", 10)]), "main-delta")
    br.commit_data(_bucketed(spark, br, [("x", 20)]), "branch-delta")
    assert t.merge_branch("exp", "merge-2") is True
    assert _state(spark, t) == {("a", 1), ("m", 10), ("x", 20)}
    # both sides' delta dirs are stacked on the bucket (fork + main + branch)
    assert len(t.snapshot()["live"]["0"]) == 3


def test_branch_merge_rejects_rewrite_divergence(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=1)
    t.commit_data(_bucketed(spark, t, [("a", 1)]), "base")
    br = t.create_branch("exp")
    br.commit_data(_bucketed(spark, br, [("x", 2)]), "branch-delta")
    # main REWRITES bucket 0 (CoW) — three-way merge must refuse
    _overwrite(t, _bucketed(spark, t, [("a", 99)]), [0], "main-rewrite")
    with pytest.raises(BranchDivergedError):
        t.merge_branch("exp", "merge-3")


def test_branch_dirs_survive_main_gc(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.commit_data(_bucketed(spark, t, [("a", 1)]), "b0")
    br = t.create_branch("exp")
    br.commit_data(_bucketed(spark, br, [("b", 2)]), "b1")
    for i in range(3):  # push main history past the branch point
        t.commit_data(_bucketed(spark, t, [(f"m{i}", i)]), f"m-{i}")
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
    t.commit_data(_bucketed(spark, t, [("a", 1)]), "batch-7")
    br = t.create_branch("exp")
    # replaying a pre-fork batch on the branch is a no-op (exactly-once
    # carries across the fork)
    assert br.commit_data(_bucketed(spark, br, [("a", 999)]), "batch-7") is False
    assert _state(spark, br) == {("a", 1)}


def test_branch_schema_union_on_merge(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.commit_data(_bucketed(spark, t, [("a", 1)]), "b0")
    br = t.create_branch("exp")
    wide = T.StructType(list(SCHEMA.fields) +
                        [T.StructField("w", T.StringType(), True)])
    assert br.evolve_to(wide, "b1-evolve") is True
    br.commit_data(
        _bucketed(spark, br, [("c", 3, "new")], "k string, v int, w string"), "b1")
    assert t.merge_branch("exp", "merge-4") is True
    assert [f.name for f in t.schema().fields] == ["k", "v", "w"]
    assert _state(spark, t, ("k", "v", "w")) == {
        ("a", 1, None), ("c", 3, "new")}


def test_branch_from_tag_and_bad_names(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.commit_data(_bucketed(spark, t, [("a", 1)]), "b0")
    t.tag("rel")
    t.commit_data(_bucketed(spark, t, [("b", 2)]), "b1")
    br = t.create_branch("hotfix", from_version="rel")  # fork at the tag
    assert _state(spark, br) == {("a", 1)}
    with pytest.raises(ValueError):
        t.create_branch("bad/name")
    with pytest.raises(ValueError):
        t.create_branch("hotfix")  # already exists
    with pytest.raises(ValueError):
        br.create_branch("nested")  # branch-off-branch unsupported


def test_merge_carries_branch_ids_to_main(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.commit_data(_bucketed(spark, t, [("a", 1)]), "base")
    br = t.create_branch("exp")
    br.commit_data(_bucketed(spark, br, [("x", 2)]), "staged-batch")
    led = t._ledger_versions()
    assert t.merge_branch("exp", "merge-ff") is True
    # the branch's ids ride the merge snapshot; no ledger is written
    assert t._ledger_versions() == led
    assert "staged-batch" in t.snapshot()["inherited_ids"]["ids"]
    t.drop_branch("exp")
    # the staged batch is now part of MAIN's state: replaying it against
    # main must no-op (exactly-once survives the publish)
    assert t.commit_data(
        _bucketed(spark, t, [("x", 999)]), "staged-batch") is False
    assert _state(spark, t) == {("a", 1), ("x", 2)}


def test_fork_at_older_version_applies_post_fork_batches(spark, tmp_path):
    """ADVICE r5: the branch must inherit only ids committed AS OF the
    fork version — a batch main committed AFTER the fork point was never
    part of the branch's lineage, so applying it to the branch must be a
    real commit, not a silent no-op (the hotfix-fork data-skip bug)."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.commit_data(_bucketed(spark, t, [("a", 1)]), "pre-fork")
    v_fork = t.current_version()
    t.commit_data(_bucketed(spark, t, [("b", 2)]), "post-fork")
    br = t.create_branch("hotfix", from_version=v_fork)
    assert _state(spark, br) == {("a", 1)}
    # pre-fork id still no-ops on the branch (exactly-once across fork)
    assert br.commit_data(_bucketed(spark, br, [("a", 999)]), "pre-fork") is False
    # post-fork id APPLIES: the branch never contained it
    assert br.commit_data(_bucketed(spark, br, [("b", 20)]), "post-fork") is True
    assert _state(spark, br) == {("a", 1), ("b", 20)}
    # and main is untouched by either
    assert _state(spark, t) == {("a", 1), ("b", 2)}


def test_merge_replay_noops_and_writes_nothing(spark, tmp_path):
    """A replayed merge (same batch_id) is a plain no-op: it writes no
    snapshot and no ledger, and the staged branch batch stays committed
    on main for a fresh handle."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.commit_data(_bucketed(spark, t, [("a", 1)]), "base")
    br = t.create_branch("exp")
    br.commit_data(_bucketed(spark, br, [("x", 2)]), "staged-batch")
    assert t.merge_branch("exp", "merge-once") is True

    t2 = SnapshotTable(str(tmp_path / "t"))
    v, led = t2.current_version(), t2._ledger_versions()
    assert t2.merge_branch("exp", "merge-once") is False
    assert (t2.current_version(), t2._ledger_versions()) == (v, led)
    assert SnapshotTable(str(tmp_path / "t")).commit_data(
        _bucketed(spark, t2, [("x", 999)]), "staged-batch") is False
    assert _state(spark, t2) == {("a", 1), ("x", 2)}


def test_fork_after_expiry_applies_post_fork_batch(spark, tmp_path):
    """Expiration writes only the ids of the snapshots it expires: a fork
    at a still-retained version must not inherit a batch main committed
    after it."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    for i in (1, 2, 3):
        t.commit_data(_bucketed(spark, t, [(f"k{i}", i)]), f"b{i}")
    v_b2 = t.current_version() - 1
    t.expire_snapshots(retain_last=2, clean_orphans=False)
    br = t.create_branch("hotfix", from_version=v_b2)
    assert br._ledger_versions() == []
    fresh = t.branch_table("hotfix")
    assert fresh.commit_data(_bucketed(spark, fresh, [("k3", 30)]), "b3") is True
    # the expired pre-fork batch still no-ops on the branch
    assert fresh.commit_data(_bucketed(spark, fresh, [("k1", 10)]), "b1") is False
    assert _state(spark, fresh) == {("k1", 1), ("k2", 2), ("k3", 30)}


@pytest.mark.parametrize("ids", [("b1", "b2", "b3"), ("1", "2", "3")])
def test_fork_on_older_ledger_applies_post_fork_batch(tmp_path, ids):
    """Ledgers written before expiration recorded only the expired ids
    also hold the ids of snapshots still retained. A fork at a retained
    version drops the own id of every snapshot after it, so a post-fork
    batch applies to the branch; a numeric id lowers the floor below it.
    Pre-fork batches still no-op."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    for b in ids:
        t._commit(b, "append", lambda nxt: {})
    v_b2 = t.current_version() - 1
    t.expire_snapshots(retain_last=2, clean_orphans=False)
    (v,) = t._ledger_versions()
    with open(t._ledger_file(v)) as f:
        led = json.load(f)
    old = CommittedIds(set(led["ids"]) | set(ids), led["numeric_floor"])
    old.compact()
    with open(t._ledger_file(v), "w") as f:
        json.dump({**old.to_json(), "expired_through": led["expired_through"]}, f)
    br = t.create_branch("hf", from_version=v_b2)
    assert br._commit(ids[2], "append", lambda nxt: {}) is True
    assert br._commit(ids[1], "append", lambda nxt: {}) is False
    assert br._commit(ids[0], "append", lambda nxt: {}) is False


def test_merge_replay_does_not_skip_later_branch_batch(spark, tmp_path):
    """A merge carries the branch's ids as of the merged branch snapshot
    only: a batch the branch commits after the merge still applies to
    main, also after the merge is replayed."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.commit_data(_bucketed(spark, t, [("a", 1)]), "base")
    br = t.create_branch("exp")
    br.commit_data(_bucketed(spark, br, [("x", 2)]), "staged")
    assert t.merge_branch("exp", "m1") is True
    br.commit_data(_bucketed(spark, br, [("y", 3)]), "later")
    assert t.merge_branch("exp", "m1") is False
    assert t.commit_data(_bucketed(spark, t, [("y", 3)]), "later") is True
    assert t.commit_data(_bucketed(spark, t, [("x", 9)]), "staged") is False
    assert _state(spark, t) == {("a", 1), ("x", 2), ("y", 3)}


def test_create_branch_handle_noops_pre_fork_batch(spark, tmp_path):
    """The handle create_branch returns knows the pre-fork ids at once."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.commit_data(_bucketed(spark, t, [("a", 1)]), "b1")
    led = t._ledger_versions()
    br = t.create_branch("exp")
    assert t._ledger_versions() == led and br._ledger_versions() == []
    assert br.commit_data(_bucketed(spark, br, [("a", 999)]), "b1") is False
    assert _state(spark, br) == {("a", 1)}


def test_fork_at_tag_older_than_expiry_warns_and_applies(spark, tmp_path, caplog):
    """A tag older than main's last expiration is older than the ledger:
    the fork inherits no expired ids (one warning), so a post-fork batch
    applies to the branch instead of being silently skipped."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.commit_data(_bucketed(spark, t, [("a", 1)]), "pre")
    t.tag("rel")
    for i in range(3):
        t.commit_data(_bucketed(spark, t, [(f"m{i}", i)]), f"post-{i}")
    t.expire_snapshots(retain_last=1, clean_orphans=False)
    with caplog.at_level("WARNING", logger="hierarchical_to_relational_spark.table.snapshot_table"):
        br = t.create_branch("hotfix", from_version="rel")
    assert len([r for r in caplog.records if r.levelname == "WARNING"]) == 1
    assert br.commit_data(_bucketed(spark, br, [("m0", 10)]), "post-0") is True
    assert br.commit_data(_bucketed(spark, br, [("a", 9)]), "pre") is False
    assert _state(spark, br) == {("a", 1), ("m0", 10)}


def test_merge_retry_folds_concurrent_schema_evolution(spark, tmp_path):
    """ADVICE r5: merge_branch's union schema is re-resolved on every
    commit attempt — losing the pointer race to a concurrent widening on
    main must not publish a stale union that reverts the new column."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.commit_data(_bucketed(spark, t, [("a", 1)]), "base")
    br = t.create_branch("exp")
    br.commit_data(_bucketed(spark, br, [("x", 2)]), "br-delta")

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
            assert other.evolve_to(wide, "race-evolve") is True
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
