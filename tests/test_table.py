"""SnapshotTable ("icelite") semantics: atomicity, idempotence, evolution,
time travel, orphan tolerance (SURVEY.md §7.1 M1)."""

from __future__ import annotations

import glob
import json
import os
import time

import pytest
from pyspark.sql import functions as F, types as T

from hierarchical_to_relational_spark.table import SnapshotTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.IntegerType(), True),
    ]
)


def _bucketed(spark, table, rows):
    df = spark.createDataFrame(rows, "k string, v int")
    return df.withColumn("_bucket", table.bucket_col()(F.col("k")))


def _buckets(df):
    return sorted(r[0] for r in df.select("_bucket").distinct().collect())


def _overwrite(t, df, buckets, batch_id, as_of=None):
    """Commit ``df`` replacing ``buckets``' live dirs as of version
    ``as_of`` (None: the current snapshot) — a copy-on-write rewrite of
    those buckets."""
    live = t.snapshot(as_of)["live"]
    return t.commit_data(df, batch_id,
                         replace={str(b): live[str(b)] for b in buckets if str(b) in live})


def test_create_and_first_commit(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=4)
    assert t.current_version() == 0
    assert t.read(spark).count() == 0

    df = _bucketed(spark, t, [("a", 1), ("b", 2), ("c", 3)])
    assert _overwrite(t, df, _buckets(df), "b1") is True
    out = t.read(spark)
    assert {tuple(r) for r in out.select("k", "v").collect()} == {("a", 1), ("b", 2), ("c", 3)}


def test_idempotent_commit_same_batch_id(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=4)
    df = _bucketed(spark, t, [("a", 1)])
    assert _overwrite(t, df, _buckets(df), "b1") is True
    v = t.current_version()
    # replaying the same batch must be a no-op (exactly-once primitive)
    df2 = _bucketed(spark, t, [("a", 999)])
    assert _overwrite(t, df2, _buckets(df2), "b1") is False
    assert t.current_version() == v
    assert t.read(spark).select("v").collect()[0][0] == 1


def test_copy_on_write_only_affected_buckets(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=8)
    df = _bucketed(spark, t, [(f"k{i}", i) for i in range(20)])
    _overwrite(t, df, _buckets(df), "b1")
    live_before = dict(t.snapshot()["live"])

    upd = _bucketed(spark, t, [("k0", 100)])
    (b0,) = _buckets(upd)
    _overwrite(t, upd, [b0], "b2")
    live_after = dict(t.snapshot()["live"])
    # only k0's bucket re-pointed; all others untouched
    changed = {b for b in live_before if live_before[b] != live_after.get(b)}
    assert changed == {str(b0)}
    # pruned read of one bucket only sees that bucket's rows
    pruned = t.read(spark, buckets=[b0])
    assert ("k0", 100) in {tuple(r) for r in pruned.select("k", "v").collect()}


def test_bucket_emptied_is_dropped(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=4)
    df = _bucketed(spark, t, [("a", 1)])
    (b,) = _buckets(df)
    _overwrite(t, df, [b], "b1")
    empty = spark.createDataFrame([], df.schema)
    _overwrite(t, empty, [b], "b2")
    assert t.read(spark).count() == 0


def test_orphan_files_invisible(spark, tmp_path):
    """Crash between data write and snapshot commit → orphan files that no
    snapshot references; reads never see them."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=4)
    df = _bucketed(spark, t, [("a", 1)])
    _overwrite(t, df, _buckets(df), "b1")
    # simulate a crashed writer: data lands, snapshot never created
    orphan_dir = os.path.join(t.root, "data", "c-orphan")
    _bucketed(spark, t, [("zz", 999)]).write.parquet(orphan_dir)
    assert glob.glob(os.path.join(orphan_dir, "*.parquet"))
    out = {tuple(r) for r in t.read(spark).select("k", "v").collect()}
    assert out == {("a", 1)}


def test_additive_evolution_and_null_fill(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=4)
    df = _bucketed(spark, t, [("a", 1)])
    _overwrite(t, df, _buckets(df), "b1")

    assert t.evolve_to(t.schema().add("w", T.StringType()), "b2") is True
    assert t.schema().fieldNames() == ["k", "v", "w"]
    # old files read with the new column null-filled
    row = t.read(spark).select("k", "v", "w").collect()[0]
    assert tuple(row) == ("a", 1, None)
    # evolution is idempotent on batch_id too
    assert t.evolve_to(t.schema().add("w2", T.StringType()), "b2") is False
    assert t.schema().fieldNames() == ["k", "v", "w"]

    wide = spark.createDataFrame([("b", 2, "x")], "k string, v int, w string")
    wide = wide.withColumn("_bucket", t.bucket_col()(F.col("k")))
    _overwrite(t, wide, _buckets(wide), "b3")
    out = {tuple(r) for r in t.read(spark).select("k", "v", "w").collect()}
    assert out == {("a", 1, None), ("b", 2, "x")}


def test_mixed_schema_dirs_read_in_one_scan(spark, tmp_path):
    """Three live commit dirs with different physical schemas — before an
    added column, before a short→long / float→double / decimal(5,2)→
    decimal(12,2) widening, and after it — read back null-filled and
    cast up (vectorized reader on and off) through ONE parquet scan built
    with no Spark job (no per-dir schema inference)."""
    from decimal import Decimal

    narrow = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("s", T.ShortType(), True),
        T.StructField("f", T.FloatType(), True),
        T.StructField("d", T.DecimalType(5, 2), True),
    ])
    t = SnapshotTable.create(str(tmp_path / "t"), narrow, n_buckets=4)

    def append(rows, schema, batch_id):
        df = spark.createDataFrame(rows, schema)
        assert t.commit_data(df.withColumn("_bucket", t.bucket_col()(F.col("k"))), batch_id)

    append([("a", 1, 1.5, Decimal("1.25"))], narrow, "b1")
    assert t.evolve_to(t.schema().add("w", T.StringType()), "b2")
    added = t.schema()
    append([("b", 2, 2.5, Decimal("2.50"), "x")], added, "b3")
    wide = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("s", T.LongType(), True),
        T.StructField("f", T.DoubleType(), True),
        T.StructField("d", T.DecimalType(12, 2), True),
        T.StructField("w", T.StringType(), True),
    ])
    assert t.evolve_to(wide, "b4")
    assert t.schema() == wide
    append([("c", 1 << 40, 0.1, Decimal("1234567890.12"), "y")], wide, "b5")
    dirs = {d for ds in t.snapshot()["live"].values() for d in ds}
    assert len(dirs) == 3

    sc = spark.sparkContext
    key = "spark.sql.parquet.enableVectorizedReader"
    prev = spark.conf.get(key)
    try:
        for vectorized in ("true", "false"):
            spark.conf.set(key, vectorized)
            sc.setJobGroup("one-scan-read", "read() must launch no job")
            try:
                out = t.read(spark)
            finally:
                sc._jsc.clearJobGroup()
            assert list(sc.statusTracker().getJobIdsForGroup("one-scan-read")) == []
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert plan.count("FileScan parquet") == 1, plan
            assert out.schema["s"].dataType == T.LongType()
            got = {r["k"]: tuple(r)[1:] for r in out.select("k", "s", "f", "d", "w").collect()}
            assert got == {
                "a": (1, 1.5, Decimal("1.25"), None),
                "b": (2, 2.5, Decimal("2.50"), "x"),
                "c": (1 << 40, 0.1, Decimal("1234567890.12"), "y"),
            }
    finally:
        spark.conf.set(key, prev)


def test_non_additive_evolution_rejected(spark, tmp_path):
    """No path drops a column: evolving to a narrower schema is a no-op,
    and a frame that lacks a column lands with that column null."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=4)
    df = _bucketed(spark, t, [("a", 1)])
    _overwrite(t, df, _buckets(df), "b1")
    v = t.current_version()
    narrower = T.StructType([T.StructField("k", T.StringType(), False)])
    assert t.evolve_to(narrower, "b2") is False
    assert t.current_version() == v and t.schema() == SCHEMA
    narrow = spark.createDataFrame([("b",)], "k string")
    assert t.commit_data(narrow.withColumn("_bucket", t.bucket_col()(F.col("k"))), "b3")
    assert t.schema() == SCHEMA
    out = {tuple(r) for r in t.read(spark).select("k", "v").collect()}
    assert out == {("a", 1), ("b", None)}


def test_evolve_to_is_the_union_rule(spark, tmp_path):
    """evolve_to applies the table's one rule (``_union_schema``): a new
    column is recorded nullable whatever the target says, the table keeps
    its column order, a target lacking a table column is a no-op with no
    commit, and evolve_to, merge_branch and apply_cdc_batch refuse a
    bigint → string change with the same message."""
    from hierarchical_to_relational_spark.operators.merge import apply_cdc_batch

    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.commit_data(_bucketed(spark, t, [("a", 1)]), "b0")
    br = t.create_branch("exp")

    # a non-nullable new field is recorded nullable: old rows read null
    strict = T.StructType(list(SCHEMA.fields) + [T.StructField("w", T.StringType(), False)])
    assert t.evolve_to(strict, "e1") is True
    assert t.schema()["w"].nullable is True
    assert [tuple(r) for r in t.read(spark).select("k", "v", "w").collect()] == [("a", 1, None)]

    # a reordered target keeps the table's order; the new column appends
    reordered = T.StructType([
        T.StructField("x", T.LongType(), True),
        T.StructField("w", T.StringType(), True),
        T.StructField("v", T.IntegerType(), True),
        T.StructField("k", T.StringType(), False),
    ])
    assert t.evolve_to(reordered, "e2") is True
    assert t.schema().fieldNames() == ["k", "v", "w", "x"]

    # a target lacking table columns: False, no commit, columns kept
    v = t.current_version()
    assert t.evolve_to(SCHEMA, "e3") is False
    assert t.current_version() == v and t.schema().fieldNames() == ["k", "v", "w", "x"]
    assert "e3" not in t.committed_batch_ids()

    # bigint -> string is refused with one message on every path
    msg = "incompatible type change for 'x': bigint -> string"
    as_string = T.StructType([T.StructField("x", T.StringType(), True)])
    with pytest.raises(ValueError, match=msg):
        t.evolve_to(as_string, "e4")
    # the branch evolved x as string since the fork
    assert br.evolve_to(as_string, "br-e1") is True
    with pytest.raises(ValueError, match=msg):
        t.merge_branch("exp", "merge-1")
    batch = spark.createDataFrame(
        [("c", "five", 5, None, "u")],
        "k string, x string, _lsn long, _commit_ts timestamp, _op string")
    with pytest.raises(ValueError, match=msg):
        apply_cdc_batch(spark, t, batch, batch_id="a1")
    assert t.current_version() == v and t.schema()["x"].dataType == T.LongType()


def test_data_commit_keeps_a_concurrent_evolution(spark, tmp_path):
    """A data commit publishes the schema of the snapshot it lands on:
    an evolution that another writer commits while the data files are
    being written survives the data commit (the new rows read null)."""
    wide = T.StructType(list(SCHEMA.fields) + [T.StructField("w", T.StringType(), True)])
    for kind in ("append", "overwrite"):
        t = SnapshotTable.create(str(tmp_path / kind), SCHEMA, n_buckets=2)
        other = SnapshotTable(t.root)
        write = t._write_commit_data

        def racing_write(*args, **kwargs):
            out = write(*args, **kwargs)
            assert other.evolve_to(wide, "evolve-w")
            return out

        t._write_commit_data = racing_write
        df = _bucketed(spark, t, [("a", 1)])
        if kind == "append":
            assert t.commit_data(df, "b1")
        else:
            assert _overwrite(t, df, _buckets(df), "b1")
        assert t.schema().fieldNames() == ["k", "v", "w"], kind
        assert [tuple(r) for r in t.read(spark).select("k", "v", "w").collect()] == [("a", 1, None)]


def test_time_travel(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=4)
    d1 = _bucketed(spark, t, [("a", 1)])
    _overwrite(t, d1, _buckets(d1), "b1")
    v1 = t.current_version()
    d2 = _bucketed(spark, t, [("a", 2)])
    _overwrite(t, d2, _buckets(d2), "b2")
    assert t.read(spark).select("v").collect()[0][0] == 2
    assert t.read(spark, version=v1).select("v").collect()[0][0] == 1


def test_concurrent_appends_both_commit(spark, tmp_path):
    """Two writers appending different batches race on the snapshot
    version; optimistic retry preserves BOTH (no lost update, distinct
    versions, union of rows visible)."""
    import threading

    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=4)
    d1 = _bucketed(spark, t, [(f"a{i}", i) for i in range(10)])
    d2 = _bucketed(spark, t, [(f"b{i}", i) for i in range(10)])
    # pre-write both commits' data, then race only the pointer swap: two
    # handles so the in-memory batch-id caches don't serialize the race
    t1, t2 = SnapshotTable(t.root), SnapshotTable(t.root)
    results = {}

    def go(handle, df, bid):
        results[bid] = handle.commit_data(df, batch_id=bid)

    th1 = threading.Thread(target=go, args=(t1, d1, "w1"))
    th2 = threading.Thread(target=go, args=(t2, d2, "w2"))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert results == {"w1": True, "w2": True}
    out = {r["k"] for r in t.read(spark).select("k").collect()}
    assert out == {f"a{i}" for i in range(10)} | {f"b{i}" for i in range(10)}
    assert t.current_version() == 2


def test_overwrite_merges_concurrent_append_deltas(spark, tmp_path):
    """A delta appended between a rewriter's read and its winning snapshot
    must NOT be dropped: the overwrite keeps unseen delta dirs stacked on
    the rewritten base (readers LWW-resolve), so no committed data is lost."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=1)
    d1 = _bucketed(spark, t, [("a", 1), ("b", 2)])
    t.commit_data(d1, "w1")

    base_v = t.current_version()
    rewrite = _bucketed(spark, t, [("a", 10), ("b", 20)])  # compactor's output

    # concurrent writer appends to the same bucket after the read
    other = SnapshotTable(t.root)
    d2 = _bucketed(spark, other, [("c", 3)])
    assert other.commit_data(d2, "w2") is True

    assert _overwrite(t, rewrite, [0], "compact", as_of=base_v) is True
    live = t.snapshot()["live"]["0"]
    assert len(live) == 2  # rewrite dir + the unseen delta dir
    out = {tuple(r) for r in t.read(spark).select("k", "v").collect()}
    assert out == {("a", 10), ("b", 20), ("c", 3)}


def test_commit_data_replace_rule(spark, tmp_path):
    """``commit_data``'s one placement and conflict rule, on a one-bucket
    table: an append goes last; a replacing dir takes the slot of the
    first dir it replaces and the rest keep their order; a delta appended
    after a rewrite's read stays after the rewrite; a replaced dir that is
    gone, or a re-bucketing that misses a live dir, conflicts and writes
    no snapshot; a bucket left with no dir is dropped."""
    from hierarchical_to_relational_spark.table.snapshot_table import (
        ConcurrentOverwriteError,
        bucket_expr,
    )

    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=1)

    def dirs():
        return t.snapshot()["live"].get("0", [])

    for i in range(4):
        assert t.commit_data(_bucketed(spark, t, [(f"k{i}", i)]), f"a{i}")
        assert len(dirs()) == i + 1
    a0, a1, a2, a3 = dirs()
    # bin-pack the two middle dirs: the packed dir takes a1's slot
    assert t.commit_data(_bucketed(spark, t, [("k1", 1), ("k2", 2)]), "pack",
                         replace={"0": [a1, a2]})
    first, packed, last = dirs()
    assert (first, last) == (a0, a3) and packed not in (a1, a2)
    # a compaction reads, an append lands, then the compaction commits
    read = dirs()
    assert t.commit_data(_bucketed(spark, t, [("k4", 4)]), "a4")
    a4 = dirs()[-1]
    assert t.commit_data(_bucketed(spark, t, [(f"k{i}", i) for i in range(4)]), "compact",
                         replace={"0": read})
    c = dirs()[0]
    assert dirs() == [c, a4]
    assert {tuple(r) for r in t.read(spark).select("k", "v").collect()} == {
        (f"k{i}", i) for i in range(5)}

    v = t.current_version()
    with pytest.raises(ConcurrentOverwriteError):  # a0 was compacted away
        t.commit_data(_bucketed(spark, t, [("k0", 0)]), "stale", replace={"0": [a0]})
    with pytest.raises(ConcurrentOverwriteError):  # a4 landed after the read
        t.commit_data(_bucketed(spark, t, [("k0", 0)]), "rb-stale", replace={"0": [c]},
                      n_buckets=2)
    assert t.current_version() == v and dirs() == [c, a4]

    # a rewrite holding no row of the bucket (every row a GC'd tombstone)
    empty = spark.createDataFrame([], "k string, v int").withColumn("_bucket", F.lit(0))
    assert t.commit_data(empty, "drop", replace={"0": [c, a4]})
    assert t.snapshot()["live"] == {}

    assert t.commit_data(_bucketed(spark, t, [("k5", 5), ("k6", 6)]), "a5")
    two = (spark.createDataFrame([("k5", 5), ("k6", 6)], "k string, v int")
           .withColumn("_bucket", bucket_expr(F.col("k"), 2)))
    assert t.commit_data(two, "rebucket", replace={"0": dirs()}, n_buckets=2)
    assert t.n_buckets == 2
    assert len({d for ds in t.snapshot()["live"].values() for d in ds}) == 1
    assert [h["kind"] for h in t.history()][1:] == (
        ["append"] * 4 + ["compact", "append", "compact", "compact", "append", "rebucket"])


def test_racing_overwrites_raise_conflict(spark, tmp_path):
    """Two rewrites computed from the same base: the loser must get
    ConcurrentOverwriteError (blindly re-pointing would drop the winner)."""
    from hierarchical_to_relational_spark.table.snapshot_table import ConcurrentOverwriteError

    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=1)
    t.commit_data(_bucketed(spark, t, [("a", 1)]), "w1")
    base_v = t.current_version()

    winner, loser = SnapshotTable(t.root), SnapshotTable(t.root)
    assert _overwrite(winner, _bucketed(spark, winner, [("a", 2)]), [0], "c1",
                      as_of=base_v) is True
    with pytest.raises(ConcurrentOverwriteError):
        _overwrite(loser, _bucketed(spark, loser, [("a", 3)]), [0], "c2",
                   as_of=base_v)
    assert t.read(spark).select("v").collect()[0][0] == 2


def test_overwrite_retry_rereads_and_wins(spark, tmp_path):
    """The merge layer's rewrite loop picks again, re-reads and re-resolves
    after a conflicting overwrite and converges on the union of both
    writers."""
    from hierarchical_to_relational_spark.operators.merge import _rewrite

    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=1)
    t.commit_data(_bucketed(spark, t, [("a", 1)]), "w1")

    other = SnapshotTable(t.root)
    calls = {"n": 0}

    def resolve_fn(current, schema):
        calls["n"] += 1
        if calls["n"] == 1:  # inject a racing overwrite between read and commit
            _overwrite(other, _bucketed(spark, other, [("z", 9)]), [0], "racer")
        # rewrite = current state with v bumped by 100
        return current.withColumn("v", F.col("v") + 100)

    replaced = _rewrite(spark, t, "compact", lambda snap: snap["live"], resolve_fn)
    assert replaced == t.snapshot(t.current_version() - 1)["live"]  # the racer's dirs
    assert calls["n"] == 2
    out = {tuple(r) for r in t.read(spark).select("k", "v").collect()}
    assert out == {("z", 109)}  # second attempt read the racer's state


CDC_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), True),
    T.StructField("v", T.IntegerType(), True),
    T.StructField("_lsn", T.LongType(), False),
    T.StructField("_commit_ts", T.TimestampType(), True),
    T.StructField("_op", T.StringType(), False),
])


def _cdc_table(spark, root, n_appends):
    """A one-bucket table of ``CDC_SCHEMA``: append i writes conversation ci."""
    from hierarchical_to_relational_spark.operators.merge import apply_cdc_batch

    t = SnapshotTable.create(root, CDC_SCHEMA, n_buckets=1)
    for i in range(n_appends):
        batch = spark.createDataFrame([(f"c{i}", 0, i, i + 1, None, "u")], CDC_SCHEMA)
        apply_cdc_batch(spark, t, batch, f"a{i}")
    return t


def _race_first_commit(monkeypatch, t, racer):
    """Run ``racer()`` just before ``t``'s first ``commit_data`` goes on."""
    commit, calls = t.commit_data, []

    def raced(*a, **k):
        calls.append(1)
        if len(calls) == 1:
            racer()
        return commit(*a, **k)

    monkeypatch.setattr(t, "commit_data", raced)
    return calls


def test_binpack_conflict_picks_again(spark, tmp_path, monkeypatch, caplog):
    """A compaction by another writer that lands between the bin-pack's
    pick and its commit makes the pack pick again, with one warning; on
    the compacted bucket there is nothing left to pack, so it returns []
    and the table is unchanged."""
    import logging

    from hierarchical_to_relational_spark.operators import merge

    t = _cdc_table(spark, str(tmp_path / "t"), 4)
    before = sorted(map(tuple, t.read(spark).select("conv_id", "v").collect()))
    other = SnapshotTable(t.root)
    calls = _race_first_commit(monkeypatch, t, lambda: merge.compact(spark, other, "racer"))
    with caplog.at_level(logging.WARNING, logger=merge.__name__):
        assert merge.binpack_deltas(spark, t, "pack", min_dirs=3) == []
    assert len(calls) == 1  # the second pick was empty: no second commit
    assert sorted(map(tuple, t.read(spark).select("conv_id", "v").collect())) == before
    assert [h["batch_id"] for h in t.history()][-1] == "racer"
    [rec] = [r for r in caplog.records if r.name == merge.__name__]
    assert rec.levelno == logging.WARNING
    assert "'pack'" in rec.getMessage() and "no longer live" in rec.getMessage()


@pytest.mark.parametrize("op", ["compact", "evolve_buckets"])
def test_retried_rewrite_keeps_a_racing_column(spark, tmp_path, monkeypatch, op):
    """A rewrite that loses its first commit to a writer that added a
    column (and then compacted) resolves its second read under the new
    snapshot's schema: the racer's value survives instead of reading
    NULL."""
    from hierarchical_to_relational_spark.operators.merge import (
        apply_cdc_batch,
        compact,
        evolve_buckets,
    )

    t = _cdc_table(spark, str(tmp_path / "t"), 2)
    other = SnapshotTable(t.root)
    wide = T.StructType(CDC_SCHEMA.fields + [T.StructField("x", T.StringType(), True)])

    def racer():
        batch = spark.createDataFrame([("cx", 0, 9, 100, None, "u", "X-VALUE")], wide)
        assert apply_cdc_batch(spark, other, batch, "racer-append")["committed"]
        assert compact(spark, other, "racer-compact")

    calls = _race_first_commit(monkeypatch, t, racer)
    if op == "compact":
        assert compact(spark, t, "rewrite")
    else:
        assert evolve_buckets(spark, t, 4, "rewrite") and t.n_buckets == 4
    assert len(calls) == 2
    got = {r["conv_id"]: r["x"] for r in t.read(spark).select("conv_id", "x").collect()}
    assert got == {"c0": None, "c1": None, "cx": "X-VALUE"}


def test_committed_ids_floor_collapse():
    from hierarchical_to_relational_spark.table.snapshot_table import CommittedIds

    ids = CommittedIds()
    for i in [0, 1, 2, 3, 5]:
        ids.add(str(i))
    ids.add("3::compact")
    ids.add("3::binpack")
    ids.add("replay-abc")
    ids.compact()
    assert ids.numeric_floor == 3
    assert ids.ids == {"5", "replay-abc"}  # contiguous prefix + derived ids collapsed
    for covered in ["0", "2", "3", "3::compact", "3::binpack", "1::evolve", "5", "replay-abc"]:
        assert covered in ids
    assert "4" not in ids and "6" not in ids and "replay-xyz" not in ids


def test_expire_snapshots_bounds_metadata_and_keeps_idempotence(spark, tmp_path):
    """After expiration: snapshot file count bounded, idempotence of
    EXPIRED batch ids survives via the ledger (floor + set), current state
    unchanged, orphan + dereferenced data dirs collected."""
    import os

    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    for i in range(12):
        t.commit_data(_bucketed(spark, t, [(f"k{i}", i)]), str(i))
    # fold deltas so old append dirs become dereferenced
    full = _bucketed(spark, t, [(f"k{i}", i) for i in range(12)])
    _overwrite(t, full, [0, 1], "12")

    n_dirs_before = len(glob.glob(os.path.join(t.root, "data", "c-*")))
    # retain only the current snapshot: historical snapshots stop pinning
    # the superseded append dirs, so they become collectible
    stats = t.expire_snapshots(retain_last=1, orphan_grace_seconds=0.0)
    assert stats["expired_snapshots"] == 13  # v0..v12 gone, v13 kept
    assert len(glob.glob(os.path.join(t.root, "_snapshots", "v*.json"))) == 1
    assert stats["removed_data_dirs"] > 0
    assert len(glob.glob(os.path.join(t.root, "data", "c-*"))) < n_dirs_before

    # fresh handle (cold cache): every old batch id still reads committed
    t2 = SnapshotTable(t.root)
    for i in range(13):
        assert t2.commit_data(_bucketed(spark, t2, [("dup", 99)]), str(i)) is False
    assert t2.commit_data(_bucketed(spark, t2, [("new", 1)]), "13") is True
    got = {tuple(r) for r in t2.read(spark).select("k", "v").collect()}
    assert got == {(f"k{i}", i) for i in range(12)} | {("new", 1)}


def test_orphan_grace_protects_inflight_commit(spark, tmp_path):
    """A data dir younger than the grace window is NOT collected even if no
    snapshot references it (a concurrent writer between data write and
    pointer swap)."""
    import os

    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t.commit_data(_bucketed(spark, t, [("a", 1)]), "b0")
    # simulate in-flight: write data without committing the pointer
    df = _bucketed(spark, t, [("b", 2)])
    t._write_commit_data(df)
    assert len(glob.glob(os.path.join(t.root, "data", "c-*"))) == 2
    t.expire_snapshots(retain_last=1, orphan_grace_seconds=3600.0)
    assert len(glob.glob(os.path.join(t.root, "data", "c-*"))) == 2  # survived
    t.expire_snapshots(retain_last=1, orphan_grace_seconds=0.0)
    assert len(glob.glob(os.path.join(t.root, "data", "c-*"))) == 1  # collected


def test_delta_bytes_from_manifest(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=1)
    assert t.delta_bytes() == 0
    _overwrite(t, _bucketed(spark, t, [("base", 0)]), [0], "b0")
    assert t.delta_bytes() == 0  # base only, no deltas
    t.commit_data(_bucketed(spark, t, [("d1", 1)]), "b1")
    t.commit_data(_bucketed(spark, t, [("d2", 2)]), "b2")
    n = t.delta_bytes()
    assert n > 0
    # matches the filesystem truth
    import os
    live = t.snapshot()["live"]["0"]
    fs = sum(
        os.path.getsize(f)
        for d in live[1:]
        for f in glob.glob(os.path.join(t.root, d, "*.parquet"))
    )
    assert n == fs


def test_rebucket_migration(spark, tmp_path):
    """evolve_buckets: 4 -> 16 buckets; state identical; reads prune on the
    NEW bucketing; later appends bucket under the new spec; racing commits
    conflict rather than vanish."""
    from pyspark.sql import functions as F
    from hierarchical_to_relational_spark.operators.merge import evolve_buckets
    from hierarchical_to_relational_spark.table.snapshot_table import ConcurrentOverwriteError

    schema = T.StructType([
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("v", T.IntegerType(), True),
        T.StructField("_lsn", T.LongType(), False),
        T.StructField("_commit_ts", T.TimestampType(), True),
        T.StructField("_op", T.StringType(), False),
    ])
    t = SnapshotTable.create(str(tmp_path / "t"), schema, n_buckets=4)
    rows = [(f"c{i}", 0, i, i + 1, None, "u") for i in range(40)]
    df = spark.createDataFrame(rows, schema).withColumn(
        "_bucket", t.bucket_col()(F.col("conv_id")))
    t.commit_data(df.select("_bucket", *schema.fieldNames()), "b0")
    before = {tuple(r) for r in t.read(spark).select("conv_id", "v").collect()}

    assert evolve_buckets(spark, t, 16, batch_id="rebucket-16") is True
    assert t.n_buckets == 16
    assert {tuple(r) for r in t.read(spark).select("conv_id", "v").collect()} == before

    # pruned read returns exactly the convs hashing to that bucket under 16
    expect_b3 = {r["conv_id"] for r in
                 spark.createDataFrame([(c,) for c, *_ in rows], "conv_id string")
                 .where(F.pmod(F.xxhash64("conv_id"), F.lit(16)) == 3).collect()}
    got_b3 = {r["conv_id"] for r in t.read(spark, buckets=[3]).select("conv_id").collect()}
    assert got_b3 == expect_b3

    # appends after migration land under the new bucketing
    extra = spark.createDataFrame([("c99", 0, 99, 100, None, "u")], schema).withColumn(
        "_bucket", t.bucket_col()(F.col("conv_id")))
    t.commit_data(extra.select("_bucket", *schema.fieldNames()), "b1")
    assert int(extra.select("_bucket").first()[0]) in [int(b) for b in t.snapshot()["live"]]

    # a rebucket computed against a stale base conflicts
    stale_base = t.current_version() - 1
    with pytest.raises(ConcurrentOverwriteError):
        t.commit_data(df.select("_bucket", *schema.fieldNames()), "rebucket-8",
                      replace=t.snapshot(stale_base)["live"], n_buckets=8)


def test_rollback_and_history(spark, tmp_path):
    """rollback re-points live to a retained historical version via a NEW
    commit (history preserved, idempotent); history() lists the log."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    d1 = _bucketed(spark, t, [("a", 1)])
    _overwrite(t, d1, _buckets(d1), "b1")
    v1 = t.current_version()
    d2 = _bucketed(spark, t, [("a", 2), ("b", 9)])
    _overwrite(t, d2, _buckets(d2), "b2")
    assert {tuple(r) for r in t.read(spark).select("k", "v").collect()} == {("a", 2), ("b", 9)}

    assert t.rollback(v1, batch_id="rb1") is True
    assert {tuple(r) for r in t.read(spark).select("k", "v").collect()} == {("a", 1)}
    assert t.rollback(v1, batch_id="rb1") is False  # idempotent
    assert t.current_version() == v1 + 2  # a new commit, not a deletion

    hist = t.history()
    assert [h["batch_id"] for h in hist] == ["__create__", "b1", "b2", "rb1"]
    assert hist[-1]["live_buckets"] == hist[1]["live_buckets"]

    # writes continue normally after rollback
    d3 = _bucketed(spark, t, [("c", 3)])
    t.commit_data(d3, "b3")
    got = {tuple(r) for r in t.read(spark).select("k", "v").collect()}
    assert got == {("a", 1), ("c", 3)}


def test_concurrent_expirations_merge_ledgers(tmp_path):
    """Two racing expirations must not lose each other's batch ids: the
    ledger uses versioned O_EXCL writes; the loser re-merges and retries.
    (Pure-metadata commits — no Spark needed.)"""
    import threading

    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    for i in range(40):
        t._commit(str(i), "append", lambda nxt: {})
    h1, h2 = SnapshotTable(t.root), SnapshotTable(t.root)

    def expire(h):
        h.expire_snapshots(retain_last=5, clean_orphans=False)

    ths = [threading.Thread(target=expire, args=(h,)) for h in (h1, h2)]
    for th in ths:
        th.start()
    for th in ths:
        th.join()

    cold = SnapshotTable(t.root)
    ids = cold.committed_batch_ids()
    for i in range(40):
        assert str(i) in ids, f"batch {i} lost by racing expirations"
    assert glob.glob(os.path.join(t.root, "_snapshots", "ledger-v*.json"))


def test_expiry_ledger_floor_passes_a_tag(tmp_path):
    """Expiration folds the ids of every snapshot up to the newest one it
    expires, tagged ones included: a tag on an early numeric batch must
    not stop the ledger's floor."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    for i in range(30):
        t._commit(str(i), "append", lambda nxt: {})
        if i == 2:
            t.tag("early")
        if i % 10 == 9:
            t.expire_snapshots(retain_last=3, clean_orphans=False)
    with open(t._ledger_file(t._ledger_versions()[-1])) as f:
        led = json.load(f)
    assert led["numeric_floor"] >= 26 and led["ids"] == ["__create__"]


def test_expire_with_nothing_to_expire_writes_no_ledger(tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    for i in range(5):
        t._commit(str(i), "append", lambda nxt: {})
    assert t.expire_snapshots(retain_last=10, clean_orphans=False)["expired_snapshots"] == 0
    assert t._ledger_versions() == []
    t.expire_snapshots(retain_last=2, clean_orphans=False)
    led = t._ledger_versions()
    with open(t._ledger_file(led[-1])) as f:  # the first ledger is collapsed too
        assert json.load(f)["numeric_floor"] == 2
    assert t.expire_snapshots(retain_last=2, clean_orphans=False)["expired_snapshots"] == 0
    assert t._ledger_versions() == led


def test_old_ledger_without_expired_through_still_loads(tmp_path):
    """A ledger with no ``expired_through`` mark (written before expiration
    recorded it) still counts, for the log and for a fork."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    t._commit("7", "append", lambda nxt: {})
    with open(t._ledger_file(1), "w") as f:
        json.dump({"ids": ["old-batch"], "numeric_floor": 5, "expired_through": None}, f)
    cold = SnapshotTable(t.root)
    ids = cold.committed_batch_ids()
    assert all(i in ids for i in ("old-batch", "3", "7")) and "6" not in ids
    br = cold.create_branch("b")
    assert "old-batch" in br.committed_batch_ids() and "4" in br.committed_batch_ids()
    cold.expire_snapshots(retain_last=1, clean_orphans=False)
    with open(cold._ledger_file(2)) as f:
        led = json.load(f)
    assert "old-batch" in led["ids"] and led["expired_through"] == 0


def test_metadata_commit_restates_its_change_after_a_lost_race(tmp_path, monkeypatch):
    """A commit that loses the version race states its change again on
    the winner's snapshot: enable_index racing evolve_to, and evolve_to
    racing enable_index, both publish the index columns AND the new
    column. Only the merge snapshot carries inherited_ids; the commit
    after it does not. (Pure-metadata commits — no Spark needed.)"""
    from hierarchical_to_relational_spark.table.snapshot_table import CommittedIds

    wide = T.StructType(SCHEMA.fields + [T.StructField("w", T.StringType(), True)])
    ops = {"index": lambda h: h.enable_index(["k"], "index"),
           "evolve": lambda h: h.evolve_to(wide, "evolve")}
    for first, racer in (("index", "evolve"), ("evolve", "index")):
        t = SnapshotTable.create(str(tmp_path / first), SCHEMA, n_buckets=2)
        real_write, raced = t._write_snapshot, []

        def racing_write(snap):
            if not raced:
                raced.append(snap["version"])
                assert ops[racer](SnapshotTable(t.root)) is True
            return real_write(snap)

        monkeypatch.setattr(t, "_write_snapshot", racing_write)
        assert ops[first](t) is True
        assert raced == [1]
        assert [h["batch_id"] for h in t.history()] == ["__create__", racer, first]
        assert t.index_cols == ["k"]
        assert [f.name for f in t.schema().fields] == ["k", "v", "w"]

    t = SnapshotTable.create(str(tmp_path / "merged"), SCHEMA, n_buckets=2)
    br = t.create_branch("exp")
    assert br._commit("br-1", "append", lambda nxt: {}) is True
    assert t.merge_branch("exp", "m1") is True
    assert "br-1" in CommittedIds.from_json(t.snapshot()["inherited_ids"])
    assert t._commit("after-merge", "append", lambda nxt: {}) is True
    assert "inherited_ids" not in t.snapshot()


def test_rollback_protects_rereferenced_dirs_from_orphan_gc(spark, tmp_path):
    """rollback() re-references OLD data dirs whose mtimes may lie outside
    the orphan grace window; it must freshen them BEFORE committing so a
    concurrent expire_snapshots (which may have listed versions before the
    rollback landed) cannot rmtree the dirs the new head points at."""
    import os

    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    d1 = _bucketed(spark, t, [("a", 1)])
    _overwrite(t, d1, _buckets(d1), "b1")
    v1 = t.current_version()
    dirs_v1 = {d for ds in t.snapshot(v1)["live"].values() for d in ds}
    d2 = _bucketed(spark, t, [("a", 2)])
    _overwrite(t, d2, _buckets(d2), "b2")

    # age the v1 dirs far past any grace window
    old = time.time() - 7200
    for d in dirs_v1:
        os.utime(os.path.join(t.root, d), (old, old))

    assert t.rollback(v1, batch_id="rb") is True
    for d in dirs_v1:  # mtimes freshened by the rollback itself
        assert time.time() - os.path.getmtime(os.path.join(t.root, d)) < 60

    # expire with a 1h grace window: the re-referenced dirs are inside the
    # window again, so even a retain-window that drops v1 can't collect them
    t.expire_snapshots(retain_last=1, orphan_grace_seconds=3600.0)
    got = {tuple(r) for r in t.read(spark).select("k", "v").collect()}
    assert got == {("a", 1)}  # table remains readable at the rollback state


def test_floor_credit_restricted_to_known_suffixes():
    """Floor coverage applies to pure-numeric ids and the engine-derived
    ::compact/::evolve only: a caller-chosen '2::manual' that never
    committed must NOT read as committed just because the floor passed 2
    (it would silently no-op when the caller finally runs it)."""
    from hierarchical_to_relational_spark.table.snapshot_table import CommittedIds

    ids = CommittedIds()
    for i in ("0", "1", "2", "3"):
        ids.add(i)
    ids.compact()
    assert ids.numeric_floor == 3
    assert "2" in ids and "2::compact" in ids and "3::evolve" in ids
    assert "2::manual" not in ids and "3::anything-else" not in ids


def test_floor_not_poisoned_by_derived_ids():
    """A caller-chosen id like '7::manual' must NOT advance the floor past
    epoch 7 — otherwise a later real epoch-7 batch would silently no-op
    (data loss)."""
    from hierarchical_to_relational_spark.table.snapshot_table import CommittedIds

    ids = CommittedIds()
    for i in ("0", "1", "2", "3::manual", "4"):
        ids.add(i)
    ids.compact()
    assert ids.numeric_floor == 2      # stops before the uncommitted "3"
    assert "3" not in ids              # epoch 3 still applies when it arrives
    assert "3::manual" in ids          # the derived id itself stays committed
    assert "1::compact" in ids         # derived ids under the floor are covered


def _envs(spark, rows):
    """rows: (lsn, op, conv_id, [(turn_idx, text), ...] | None) → envelope DF."""
    import pandas as pd
    from hierarchical_to_relational_spark.sources.binlog import envelope_schema

    ts = pd.Timestamp("2026-01-01").to_pydatetime()
    data = [
        (
            lsn, ts, op, cid,
            None if turns is None else {"turns": [
                {"turn_idx": i, "role": "user", "text": t, "tool": None, "ts": ts}
                for (i, t) in turns
            ]},
        )
        for (lsn, op, cid, turns) in rows
    ]
    return spark.createDataFrame(data, envelope_schema())


def test_file_level_minmax_pruning(spark, tmp_path):
    """A point lookup scans FEWER files than the bucket holds: per-file
    conv_id min-max from the commit sidecars prunes (a) delta files from
    batches that never touched the key and (b) range-clustered base files
    outside the key's range — and the pruned read returns the same rows."""
    from hierarchical_to_relational_spark.operators.merge import (
        compact, lookup_conversation, read_transcripts,
    )
    from hierarchical_to_relational_spark.streaming.driver import CdcPipeline

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=1, text_mode="none",
                       compact_every=10_000)
    # three disjoint conv ranges, one batch each
    pipe.apply_batch(_envs(spark, [
        (i + 1, "insert", f"cAAA{i}", [(0, f"a{i}"), (1, f"a{i}b")]) for i in range(4)
    ]), "b-a")
    pipe.apply_batch(_envs(spark, [
        (i + 11, "insert", f"cMMM{i}", [(0, f"m{i}")]) for i in range(4)
    ]), "b-m")
    compact(spark, pipe.table, batch_id="manual-compact")
    # post-compact delta that never mentions cAAA*
    pipe.apply_batch(_envs(spark, [
        (i + 21, "insert", f"cZZZ{i}", [(0, f"z{i}")]) for i in range(4)
    ]), "b-z")

    t = pipe.table
    full_files = set(t.read(spark).inputFiles())
    pruned = t.read(spark, col_ranges={"conv_id": ("cAAA2", "cAAA2")})
    pruned_files = set(pruned.inputFiles())
    assert pruned_files < full_files, "pruning must drop files"
    rows_pruned = {
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in pruned.where(F.col("conv_id") == "cAAA2").collect()
    }
    rows_full = {
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in t.read(spark).where(F.col("conv_id") == "cAAA2").collect()
    }
    assert rows_pruned == rows_full and rows_pruned

    # the user-facing point lookup: same result as the full read, filtered
    via_lookup = {
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in lookup_conversation(spark, t, "cAAA2").collect()
    }
    via_full = {
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in read_transcripts(spark, t)
        .where(F.col("conv_id") == "cAAA2").collect()
    }
    assert via_lookup == via_full and via_lookup


def test_lsn_bound_pruning_skips_old_deltas(spark, tmp_path):
    """Incremental 'changes since LSN' reads skip delta files whose max
    _lsn is below the watermark."""
    from hierarchical_to_relational_spark.streaming.driver import CdcPipeline

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=1, text_mode="none",
                       compact_every=10_000)
    pipe.apply_batch(_envs(spark, [(i + 1, "insert", f"c{i}", [(0, "x")]) for i in range(3)]), "b0")
    pipe.apply_batch(_envs(spark, [(i + 100, "insert", f"d{i}", [(0, "y")]) for i in range(3)]), "b1")
    t = pipe.table
    full = set(t.read(spark).inputFiles())
    recent = t.read(spark, col_ranges={"_lsn": (100, None)})
    assert set(recent.inputFiles()) < full
    assert {r["conv_id"] for r in recent.where(F.col("_lsn") >= 100).collect()} == {"d0", "d1", "d2"}


def test_legacy_table_formats_rejected(spark, tmp_path):
    """One table format: a missing or torn sidecar, sidecar files under
    ``_bucket=k/`` subdirs, a snapshot without ``kind`` and a live dir
    without ``commit_bytes`` each raise TableFormatError naming the dir
    or version — never an unpruned read or a filesystem walk."""
    import json
    import re

    from hierarchical_to_relational_spark.table.snapshot_table import (
        FILE_STATS_NAME, TableFormatError,
    )

    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=4)
    df = _bucketed(spark, t, [(f"k{i}", i) for i in range(8)])
    _overwrite(t, df, _buckets(df), "b1")
    v = t.current_version()
    (d,) = {d for ds in t.snapshot()["live"].values() for d in ds}
    sidecar = os.path.join(t.root, d, FILE_STATS_NAME)
    with open(sidecar) as fh:
        good_stats = fh.read()
    with open(t._snapshot_path(v)) as fh:
        good_snap = json.load(fh)
    rel = next(iter(json.loads(good_stats)))

    def rejected(match, stats=good_stats, snap=good_snap):
        if stats is None:
            os.unlink(sidecar)
        else:
            with open(sidecar, "w") as fh:
                fh.write(stats)
        with open(t._snapshot_path(v), "w") as fh:
            json.dump(snap, fh)
        with pytest.raises(TableFormatError, match=re.escape(match)):
            SnapshotTable(t.root).read(spark)  # fresh instance: no sidecar memo

    rejected(d, stats=None)
    rejected(d, stats=good_stats[: len(good_stats) // 2])
    rejected(d, stats=json.dumps({os.path.join("_bucket=0", rel): {}}))
    rejected(f"v{v}", snap={k: x for k, x in good_snap.items() if k != "kind"})
    rejected(d, snap={**good_snap, "commit_bytes": {}})
    # the intact table reads again
    with open(t._snapshot_path(v), "w") as fh:
        json.dump(good_snap, fh)
    assert SnapshotTable(t.root).read(spark).count() == 8


def test_rollback_keeps_commit_bytes(spark, tmp_path):
    """A rollback re-references dirs the current snapshot no longer
    knows (a compaction folded them away). Their commit_bytes come from
    the rollback target, so byte accounting, compaction pressure and
    bin-packing keep seeing them."""
    from hierarchical_to_relational_spark.operators.merge import compact
    from hierarchical_to_relational_spark.streaming.driver import CdcPipeline

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none",
                       compact_every=10_000)
    pipe.apply_batch(_envs(spark, [(1, "insert", "c0", [(0, "x")])]), "b0")
    pipe.apply_batch(_envs(spark, [(2, "insert", "c1", [(0, "y")])]), "b1")
    t = pipe.table
    v_pre = t.current_version()
    target = t.snapshot(v_pre)["commit_bytes"]
    assert compact(spark, t, batch_id="c0")
    assert t.rollback(v_pre, batch_id="rb")
    snap = t.snapshot()
    live = {d for ds in snap["live"].values() for d in ds}
    assert len(live) == 2 and live == set(target)
    assert {d: snap["commit_bytes"].get(d) for d in live} == target
    assert t.total_bytes() == sum(n for bs in target.values() for n in bs.values())


def test_v0_without_commit_bytes_still_opens(spark, tmp_path):
    """``create`` once wrote v0 with no ``commit_bytes`` key. Such a table
    still reads, appends and expires that v0."""
    import json

    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=4)
    with open(t._snapshot_path(0)) as fh:
        v0 = json.load(fh)
    del v0["commit_bytes"]
    with open(t._snapshot_path(0), "w") as fh:
        json.dump(v0, fh)
    t = SnapshotTable(t.root)
    assert t.read(spark).count() == 0 and t.total_bytes() == 0
    df = _bucketed(spark, t, [("a", 1), ("b", 2)])
    assert t.commit_data(df, "b1")
    assert t.read(spark).count() == 2
    assert t.expire_snapshots(retain_last=1)["expired_snapshots"] == 1
    assert t.read(spark).count() == 2


def test_lost_commit_bytes_snapshot_rolls_back_and_expires(spark, tmp_path):
    """A rollback after a compaction once wrote a snapshot whose
    ``commit_bytes`` missed its live dirs. Reading that version raises
    TableFormatError, but the log-only paths (history, the batch-id scan,
    a rollback's base, expiration) still work, so rolling back from it
    and expiring it brings the table back."""
    import json

    from hierarchical_to_relational_spark.table.snapshot_table import TableFormatError

    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    rows = [(f"k{i}", i) for i in range(6)]
    for i in (0, 3):
        assert t.commit_data(_bucketed(spark, t, rows[i: i + 3]), f"a{i}")
    v_pre = t.current_version()
    full = _bucketed(spark, t, rows)
    assert _overwrite(t, full, _buckets(full), "compact")
    assert t.rollback(v_pre, "rb")
    v_bad = t.current_version()
    with open(t._snapshot_path(v_bad)) as fh:
        bad = json.load(fh)
    bad["commit_bytes"] = {}  # what that rollback wrote: 0 of its live dirs
    with open(t._snapshot_path(v_bad), "w") as fh:
        json.dump(bad, fh)

    t = SnapshotTable(t.root)
    with pytest.raises(TableFormatError, match=f"v{v_bad}"):
        t.read(spark)
    assert t.history()[-1]["version"] == v_bad
    assert t.rollback(v_pre, "rb2")
    assert t.read(spark).count() == 6
    assert t.commit_data(_bucketed(spark, t, [("k9", 9)]), "a9")
    assert t.expire_snapshots(retain_last=2, orphan_grace_seconds=0)["expired_snapshots"] == v_bad + 1
    assert not os.path.exists(t._snapshot_path(v_bad))
    assert t.read(spark).count() == 7 and t.total_bytes() > 0


def test_bloom_filters_on_delta_appends(spark, tmp_path, monkeypatch):
    """Hash-ordered delta appends carry parquet bloom filters on conv_id —
    the row-group-skip complement to min-max pruning (which cannot help on
    hash-ordered files). parquet-mr materializes the bloom only when the
    dictionary overflows, so the probe uses enough distinct keys to force
    fallback; the bloom's presence shows up as extra file bytes for the
    IDENTICAL data. Range-clustered rewrites skip the bloom (tight min-max
    bounds already give file-level pruning)."""
    import hierarchical_to_relational_spark.table.snapshot_table as st

    schema = T.StructType([
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("_lsn", T.LongType(), False),
    ])
    # one bucket, 150k distinct 45-char keys → dictionary page overflow
    df = spark.range(150_000).select(
        F.lit(0).alias("_bucket"),
        F.concat(F.lit("conversation-"), F.md5(F.col("id").cast("string"))).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.col("id").alias("_lsn"),
    )

    def commit_bytes(root, opts):
        monkeypatch.setattr(st, "PARQUET_BLOOM_OPTS", opts)
        t = st.SnapshotTable.create(str(root), schema, n_buckets=1)
        t.commit_data(df, batch_id="b0")
        d = t.snapshot()["live"]["0"][0]
        import glob as g, os as o
        return sum(o.path.getsize(p)
                   for p in g.glob(o.path.join(t.root, d, "*.parquet")))

    with_bloom = commit_bytes(tmp_path / "tb", dict(st.PARQUET_BLOOM_OPTS))
    without = commit_bytes(tmp_path / "tp", {})
    assert with_bloom > without + 50_000, (with_bloom, without)

    # lookups through bloom-carrying files stay correct
    t = st.SnapshotTable(str(tmp_path / "tb"))
    key = "conversation-" + __import__("hashlib").md5(b"77").hexdigest()
    got = t.read(spark).where(F.col("conv_id") == key).collect()
    assert [r["_lsn"] for r in got] == [77]


def test_zorder_compaction_prunes_both_dimensions(spark, tmp_path):
    """compact(zorder=["conv_id", "_lsn"]) clusters the base so BOTH a
    conv_id point lookup AND an _lsn range read prune files via the
    min-max sidecar — single-column clustering can only serve one.
    State is unchanged by the z-ordered rewrite."""
    from hierarchical_to_relational_spark.operators.merge import compact, read_transcripts
    from hierarchical_to_relational_spark.streaming.driver import CdcPipeline

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=1, text_mode="none",
                       compact_every=10_000)
    # 400 convs; lsn deliberately NOT correlated with conv order
    rows = [((i * 37) % 400 + 1000, "insert", f"c{i:04d}", [(0, f"t{i}")])
            for i in range(400)]
    pipe.apply_batch(_envs(spark, rows), "b0")
    before = {(r["conv_id"], r["text"]) for r in read_transcripts(spark, pipe.table).collect()}
    # AQE would coalesce this tiny rewrite into one file and leave nothing
    # to prune; at real scale each range partition is a full-sized file
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        assert compact(spark, pipe.table, batch_id="z0", zorder=["conv_id", "_lsn"])
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    t = pipe.table
    after = {(r["conv_id"], r["text"]) for r in read_transcripts(spark, t).collect()}
    assert after == before

    full = set(t.read(spark).inputFiles())
    assert len(full) >= 4, "need multiple files for pruning to be observable"
    by_key = set(t.read(spark, col_ranges={"conv_id": ("c0100", "c0100")}).inputFiles())
    by_lsn = set(t.read(spark, col_ranges={"_lsn": (1350, None)}).inputFiles())
    assert by_key < full, (len(by_key), len(full))
    assert by_lsn < full, (len(by_lsn), len(full))
    # pruned reads stay supersets of the exact answers
    assert {r["conv_id"] for r in t.read(spark, col_ranges={"conv_id": ("c0100", "c0100")})
            .where(F.col("conv_id") == "c0100").collect()} == {"c0100"}
    got_lsn = {r["conv_id"] for r in t.read(spark, col_ranges={"_lsn": (1350, None)})
               .where(F.col("_lsn") >= 1350).collect()}
    want_lsn = {f"c{i:04d}" for i in range(400) if (i * 37) % 400 + 1000 >= 1350}
    assert got_lsn == want_lsn


def test_zorder_expr_interleaves(spark):
    """z-value sanity: for two uniform int columns the interleave maps the
    (x, y) grid so that z-adjacent ranges form small rectangles — check
    the corner ordering property z(0,0) < z(max,max) and that both
    columns influence the value."""
    from hierarchical_to_relational_spark.functions.zorder import zorder_expr

    df = spark.range(256).select(
        (F.col("id") % 16).alias("x"), (F.col("id") / 16).cast("long").alias("y")
    )
    z = df.select("x", "y", zorder_expr(df, ["x", "y"]).alias("z")).collect()
    zmap = {(r["x"], r["y"]): r["z"] for r in z}
    assert zmap[(0, 0)] == min(zmap.values())
    assert zmap[(15, 15)] == max(zmap.values())
    assert zmap[(1, 0)] != zmap[(0, 1)]  # both dimensions contribute


def test_partial_compaction_folds_only_pressured_buckets(spark, tmp_path):
    """Partial compaction (the per-bucket trigger the pipeline uses):
    only buckets whose delta stack crosses the threshold rewrite; cold
    buckets keep their shallow stacks untouched (O(pressured) rewrite,
    not O(table)); state is preserved and the compaction window emits no
    incremental changes."""
    from hierarchical_to_relational_spark.operators.merge import (
        changes_since, compact_pressured, read_transcripts,
    )
    from hierarchical_to_relational_spark.streaming.driver import CdcPipeline

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=8, text_mode="none",
                       compact_every=10_000)
    t = pipe.table
    bucket_of = t.bucket_col()
    # find two conv ids living in different buckets
    probe = spark.createDataFrame(
        [(f"c{i}",) for i in range(50)], "conv_id string"
    ).select("conv_id", bucket_of(F.col("conv_id")).alias("b")).collect()
    by_bucket: dict[int, str] = {}
    for r in probe:
        by_bucket.setdefault(r["b"], r["conv_id"])
    (hot_b, hot_c), (cold_b, cold_c) = list(by_bucket.items())[:2]

    # hot conv: 5 delta batches; cold conv: 2
    for i in range(5):
        pipe.apply_batch(_envs(spark, [(100 + i, "insert", hot_c, [(i, f"h{i}")])]), f"h{i}")
    for i in range(2):
        pipe.apply_batch(_envs(spark, [(200 + i, "insert", cold_c, [(i, f"k{i}")])]), f"k{i}")
    before = {(r["conv_id"], r["turn_idx"], r["text"])
              for r in read_transcripts(spark, t).collect()}
    v1 = t.current_version()

    folded = compact_pressured(spark, t, batch_id="pc0", depth_threshold=4)
    assert folded == [hot_b]
    stats = t.delta_stats()
    assert stats[hot_b]["depth"] == 1          # folded to a single base
    assert stats[cold_b]["depth"] == 2         # untouched
    after = {(r["conv_id"], r["turn_idx"], r["text"])
             for r in read_transcripts(spark, t).collect()}
    assert after == before
    assert changes_since(spark, t, v1).count() == 0  # pure rewrite window

    # nothing pressured → no commit at all
    v2 = t.current_version()
    assert compact_pressured(spark, t, batch_id="pc1", depth_threshold=4) == []
    assert t.current_version() == v2


def test_partial_compaction_stale_dir_rows_stay_out_of_reads(spark, tmp_path):
    """A dir that a partial compaction folded away from one bucket stays
    live in another; full and multi-bucket reads must not return its old
    rows of the folded bucket. Here the fold expired a tombstone, so a
    leaked row would resurrect the deleted conversation."""
    from hierarchical_to_relational_spark.functions.xxh64 import bucket_of_key
    from hierarchical_to_relational_spark.operators.merge import (
        compact, lookup_conversations, read_transcripts,
    )
    from hierarchical_to_relational_spark.streaming.driver import CdcPipeline

    nb = 4
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=nb, text_mode="none",
                       compact_every=10_000)
    t = pipe.table
    keep = "c0"
    gone = next(c for c in (f"c{i}" for i in range(1, 50))
                if bucket_of_key(c, nb) != bucket_of_key(keep, nb))
    keep_b, gone_b = bucket_of_key(keep, nb), bucket_of_key(gone, nb)
    # one dir holds both buckets' rows
    pipe.apply_batch(_envs(spark, [(1, "insert", keep, [(0, "k")]),
                                   (2, "insert", gone, [(0, "g")])]), "b0")
    pipe.apply_batch(_envs(spark, [(3, "delete", gone, None)]), "b1")
    assert compact(spark, t, batch_id="c-gone", buckets=[gone_b],
                   expire_tombstones_below=100)
    assert str(gone_b) not in t.snapshot()["live"]

    def rows(df):
        return sorted(map(tuple, df.select("conv_id", "turn_idx", "text").collect()))

    state = rows(read_transcripts(spark, t))
    assert gone not in {r[0] for r in state}
    assert state == rows(lookup_conversations(spark, t, [keep, gone]))
    both = t.read(spark, buckets=[keep_b, gone_b]).select("_bucket").collect()
    assert {r["_bucket"] for r in both} == {keep_b}


def test_timestamp_time_travel_and_age_expiry(spark, tmp_path, monkeypatch):
    """version_as_of: timestamp time travel resolves to
    the latest snapshot committed at or before the given time;
    expire_snapshots(older_than_s) keeps young snapshots alive even
    beyond retain_last (wall-clock time-travel horizon)."""
    import hierarchical_to_relational_spark.table.snapshot_table as st

    clock = {"now": 1_000_000.0}
    monkeypatch.setattr(st.time, "time", lambda: clock["now"])

    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    stamps = {}
    for i in range(5):
        clock["now"] += 100
        df = _bucketed(spark, t, [("a", i)])
        _overwrite(t, df, _buckets(df), f"b{i}")
        stamps[t.current_version()] = clock["now"]

    # exact stamp, between stamps, and before-history
    v3 = t.version_as_of(stamps[3])
    assert v3 == 3
    assert t.version_as_of(stamps[3] + 50) == 3
    assert t.read(spark, version=t.version_as_of(stamps[2])).select("v").collect()[0][0] == 1
    with pytest.raises(ValueError, match="no retained snapshot"):
        t.version_as_of(999_999.0)
    assert all(h["committed_at"] for h in t.history())

    # age-restricted expiration: retain_last=1 would expire v0..v4, but
    # only snapshots older than 250s (v0..v2 at now) actually expire
    res = t.expire_snapshots(retain_last=1, older_than_s=250.0,
                             orphan_grace_seconds=1e9)
    assert res["expired_snapshots"] == 3
    assert t._versions() == [3, 4, 5]
    # the surviving window still time-travels
    assert t.read(spark, version=t.version_as_of(stamps[4])).select("v").collect()[0][0] == 3


def _ts_envs(spark, rows):
    """rows: (lsn, op, conv_id, [(turn_idx, role, text, ts_day)]) with a
    controllable per-turn ts (days from 2026-01-01)."""
    import datetime

    import pandas as pd
    from hierarchical_to_relational_spark.sources.binlog import envelope_schema

    base = pd.Timestamp("2026-01-01").to_pydatetime()
    data = [
        (lsn, base, op, cid,
         None if turns is None else {"turns": [
             {"turn_idx": i, "role": r, "text": t, "tool": None,
              "ts": base + datetime.timedelta(days=day)}
             for (i, r, t, day) in turns]})
        for (lsn, op, cid, turns) in rows
    ]
    return spark.createDataFrame(data, envelope_schema())


def test_col_ranges_pruning_and_scan_range(spark, tmp_path):
    """Non-key lookup pruning: per-file sidecar bounds on ANY scalar user
    column let a ts-range read scan fewer files than the table holds — on
    a PLAIN delta stack and on a z-ordered base — while scan_range stays
    LWW-safe: superseded and deleted in-range rows do not resurrect."""
    import datetime

    from hierarchical_to_relational_spark.operators.merge import compact, scan_range
    from hierarchical_to_relational_spark.streaming.driver import CdcPipeline

    base = datetime.datetime(2026, 1, 1)
    day = lambda d: base + datetime.timedelta(days=d)
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=4, text_mode="none",
                       compact_every=999)
    # three time-ordered batches -> three delta dirs with disjoint ts spans
    pipe.apply_batch(_ts_envs(spark, [
        (1, "insert", "cA", [(0, "user", "a0", 0)]),
        (2, "insert", "cB", [(0, "user", "b0", 0)]),
    ]), "b0")
    pipe.apply_batch(_ts_envs(spark, [
        (3, "insert", "cC", [(0, "user", "c0", 10)]),
        (4, "update", "cA", [(0, "user", "a0-v2", 10)]),  # supersedes day-0 row
    ]), "b1")
    pipe.apply_batch(_ts_envs(spark, [
        (5, "delete", "cB", None),                         # kills day-0 cB
        (6, "insert", "cD", [(0, "user", "d0", 20)]),
    ]), "b2")
    t = pipe.table

    # (a) PLAIN base: ts-range file pruning drops the other days' deltas
    full = set(t.read(spark).inputFiles())
    day0 = set(t.read(spark, col_ranges={"ts": (day(0), day(1))}).inputFiles())
    assert day0 and day0 < full, f"ts-range must prune files: {len(day0)}/{len(full)}"

    # (b) scan_range is resolution-safe: day-0 window returns NOTHING
    # (cA's day-0 row was superseded, cB was deleted) — a naive
    # pruned-files resolve would return both
    assert scan_range(spark, t, "ts", day(0), day(1)).count() == 0
    got10 = {(r["conv_id"], r["text"])
             for r in scan_range(spark, t, "ts", day(9), day(11)).collect()}
    assert got10 == {("cA", "a0-v2"), ("cC", "c0")}
    # open-ended + equality-style ranges
    assert {r["conv_id"] for r in scan_range(spark, t, "ts", lo=day(15)).collect()} == {"cD"}
    assert {r["conv_id"] for r in
            scan_range(spark, t, "role", "user", "user").collect()} == {"cA", "cC", "cD"}

    # (c) Z-ORDERED base: cluster on (conv_id, ts); per-file ts bounds on
    # the rewritten base still prune a ts window (AQE coalescing disabled
    # so the tiny rewrite keeps multiple files, as at real scale)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        assert compact(spark, t, batch_id="z0", zorder=["conv_id", "ts"])
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.conf.unset("spark.sql.shuffle.partitions")
    fullz = set(t.read(spark).inputFiles())
    day20 = set(t.read(spark, col_ranges={"ts": (day(19), day(21))}).inputFiles())
    assert day20 and day20 < fullz, f"z-base ts pruning: {len(day20)}/{len(fullz)}"
    # same answers through the z-ordered base
    assert {r["conv_id"] for r in scan_range(spark, t, "ts", lo=day(15)).collect()} == {"cD"}
    assert scan_range(spark, t, "ts", day(0), day(1)).count() == 0


def test_query_bound_matches_pyspark_naive_datetime_conversion():
    """col_ranges/scan_range pruning bounds for NAIVE datetimes must equal
    what PySpark's own driver-side literal conversion produces
    (TimestampType.toInternal = local mktime) — under a NON-UTC driver TZ
    too, or pruning drifts from the row filter by the TZ offset and
    silently drops matching rows."""
    import datetime
    import time as _time

    from pyspark.sql.types import TimestampType

    from hierarchical_to_relational_spark.table.snapshot_table import (
        _query_bound_to_json,
    )

    old = os.environ.get("TZ")
    try:
        for tz in ("America/New_York", "Asia/Tokyo", "UTC"):
            os.environ["TZ"] = tz
            _time.tzset()
            for dt in (datetime.datetime(2026, 1, 15, 12, 30, 45, 123456),
                       datetime.datetime(2025, 7, 1, 0, 0, 0)):
                assert _query_bound_to_json(dt) == TimestampType().toInternal(dt), tz
            aware = datetime.datetime(2026, 1, 15, 12, 0,
                                      tzinfo=datetime.timezone.utc)
            assert _query_bound_to_json(aware) == TimestampType().toInternal(aware), tz
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        _time.tzset()


def test_pruning_keeps_file_on_incomparable_bounds(spark, tmp_path):
    """A cross-type col_ranges bound (e.g. a string vs an int sidecar
    bound) must keep the file — superset-safe — instead of raising
    TypeError or wrongly pruning."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=2)
    df = _bucketed(spark, t, [("a", 1), ("b", 2)])
    _overwrite(t, df, _buckets(df), "b1")
    out = t.read(spark, col_ranges={"v": ("not-a-number", None)})
    assert out.count() == 2, "incomparable bound kept every file"


def test_commit_accounting_exact_per_bucket(spark, tmp_path):
    """Per-commit accounting (rows / max-LSN / tombstones, global and per
    bucket) from the driver's footer + (bucket, lsn) column read is EXACT:
    pinned to figures computed here from the input rows and the table's
    own bucket function, for both the append and the bucket-overwrite
    commit."""
    schema = T.StructType([
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("_lsn", T.LongType(), True),
    ])
    rows = ([(f"c{i % 7}", i, 100 + i) for i in range(40)]
            + [("c1", None, 500), ("c3", None, 501)])  # tombstones

    for kind in ("append", "overwrite"):
        t = SnapshotTable.create(str(tmp_path / f"t-{kind}"), schema, n_buckets=4)
        df = (spark.createDataFrame(rows, "conv_id string, turn_idx int, _lsn long")
              .withColumn("_bucket", t.bucket_col()(F.col("conv_id"))))
        bucket_of = {r["conv_id"]: r["_bucket"]
                     for r in df.select("conv_id", "_bucket").distinct().collect()}
        want_rows: dict[str, int] = {}
        want_lsn: dict[str, int] = {}
        for cid, _, lsn in rows:
            b = str(bucket_of[cid])
            want_rows[b] = want_rows.get(b, 0) + 1
            want_lsn[b] = max(want_lsn.get(b, lsn), lsn)
        assert len(want_rows) > 1, "the keys must spread over several buckets"

        if kind == "append":
            t.commit_data(df, "b1")
        else:
            _overwrite(t, df, sorted(int(b) for b in want_rows), "b1")
        m = t.last_commit_stats
        assert m["rows_written"] == 42 and m["deletes"] == 2 and m["upserts"] == 40
        assert m["max_lsn"] == 501
        assert m["bucket_rows"] == want_rows, kind
        assert m["bucket_max_lsn"] == want_lsn, kind


def test_footer_stats_folds_each_column_bound_on_its_own(tmp_path):
    """A column whose row groups carry no statistics loses only its OWN
    sidecar bound: conv_id keeps its bound when _lsn has none, and the
    commit's max_lsn is the max of the exact per-bucket maxima, not a
    row-group statistic."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    commit = tmp_path / "c-x"
    commit.mkdir()
    data = pa.table({
        "_bucket": pa.array([0, 0, 1, 1], pa.int32()),
        "conv_id": ["a", "b", "c", "d"],
        "turn_idx": pa.array([0, None, 1, 2], pa.int32()),
        "_lsn": pa.array([5, 9, 7, 3], pa.int64()),
    })
    papq.write_table(data, str(commit / "part-00000.parquet"), row_group_size=2,
                     write_statistics=["_bucket", "conv_id", "turn_idx"])
    metrics, file_stats, _ = SnapshotTable._footer_stats(str(commit))
    st = file_stats["part-00000.parquet"]
    assert st["conv_id"] == ["a", "d"]
    assert st["_lsn"] is None
    assert st["_bucket"] == [0, 1]
    assert st["cols"] == {"turn_idx": [0, 2]}
    assert metrics["bucket_max_lsn"] == {"0": 9, "1": 7}
    assert metrics["max_lsn"] == 9
    assert metrics["rows_written"] == 4 and metrics["deletes"] == 1


def _assert_sidecar_bounds_match_data(t, commit_dirs) -> int:
    """Every bound in the sidecars of ``commit_dirs`` equals the min/max
    of its file's data read with pyarrow (no bound for an all-null or
    unorderable column). Returns the number of (file, column) pairs."""
    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    from hierarchical_to_relational_spark.table.snapshot_table import _bound_to_json

    checked = 0
    for d in commit_dirs:
        for rel, st in t._file_stats(d).items():
            assert set(st) == {"conv_id", "_lsn", "_bucket", "cols"}, st
            data = papq.read_table(os.path.join(t.root, d, rel))
            assert data.num_rows > 0
            for name in data.column_names:
                mm = pc.min_max(data[name]).as_py()
                want = [_bound_to_json(mm["min"]), _bound_to_json(mm["max"])]
                want = None if None in want else want
                got = st[name] if name in ("conv_id", "_lsn", "_bucket") else st["cols"].get(name)
                assert got == want, (d, rel, name)
                checked += 1
    return checked


def test_sidecar_bounds_equal_file_data(spark, tmp_path):
    """Pin: on an append commit and on a z-order compaction, each sidecar
    bound is exactly the min/max of the file's data, for every column."""
    from hierarchical_to_relational_spark.operators.merge import compact
    from hierarchical_to_relational_spark.streaming.driver import CdcPipeline

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=4, text_mode="none",
                       compact_every=999)
    pipe.apply_batch(_ts_envs(spark, [
        (i + 1, "insert", f"c{i:02d}", [(0, "user", f"q{i}", i % 5), (1, "assistant", f"a{i}", i % 7)])
        for i in range(24)]), "b0")
    pipe.apply_batch(_ts_envs(spark, [
        (30, "delete", "c03", None),
        (31, "update", "c05", [(0, "user", "q5'", 9)]),
    ]), "b1")
    t = pipe.table
    appended = {d for ds in t.snapshot()["live"].values() for d in ds}
    assert len(appended) == 2
    assert _assert_sidecar_bounds_match_data(t, appended) > 0

    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        assert compact(spark, t, batch_id="z0", zorder=["conv_id", "ts"])
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    compacted = {d for ds in t.snapshot()["live"].values() for d in ds}
    assert compacted and not compacted & appended
    assert len(t._file_stats(next(iter(compacted)))) > 1
    assert _assert_sidecar_bounds_match_data(t, compacted) > 0


def test_scan_range_key_set_phase2_prunes_far_apart_candidates(spark, tmp_path, monkeypatch):
    """Round-5 scan_range phase 2: when the candidate set is small, the
    DISTINCT candidate keys drive key_set bisect file pruning — two
    far-apart keys read only their OWN files on a range-clustered base,
    where the old global (min, max) envelope kept every file between
    them."""
    import datetime

    from hierarchical_to_relational_spark.operators import merge
    from hierarchical_to_relational_spark.operators.merge import compact, scan_range
    from hierarchical_to_relational_spark.streaming.driver import CdcPipeline

    day = lambda d: datetime.datetime(2026, 1, 1) + datetime.timedelta(days=d)
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=4, text_mode="none",
                       compact_every=999)
    # 40 conversations; ONLY the keyspace extremes c00/c39 carry day-50
    rows = [(i + 1, "insert", f"c{i:02d}",
             [(0, "user", f"t{i}", 50 if i in (0, 39) else i % 10)])
            for i in range(40)]
    for lo_i in range(0, 40, 10):
        pipe.apply_batch(_ts_envs(spark, rows[lo_i:lo_i + 10]), f"b{lo_i}")
    t = pipe.table
    # range-cluster the base into many tight-key-span files
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        assert compact(spark, t, batch_id="z0", zorder=["conv_id", "ts"])
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.conf.unset("spark.sql.shuffle.partitions")

    reads = []
    orig = SnapshotTable.read

    def spy(self, spark_, **kw):
        reads.append(kw)
        return orig(self, spark_, **kw)

    monkeypatch.setattr(SnapshotTable, "read", spy)
    out = scan_range(spark, t, "ts", day(49), day(51))
    got = {(r["conv_id"], r["text"]) for r in out.collect()}
    assert got == {("c00", "t0"), ("c39", "t39")}
    # phase 2 ran in the key-set regime with exactly the candidate keys
    assert reads[-1].get("key_set") == ["c00", "c39"]
    assert reads[-1].get("col_ranges") is None
    monkeypatch.undo()
    # and it scanned strictly fewer files than the envelope would
    key_files = set(out.inputFiles())
    env_files = set(t.read(spark, buckets=reads[-1]["buckets"],
                           col_ranges={"conv_id": ("c00", "c39")}).inputFiles())
    assert key_files and key_files < env_files, (
        f"key_set kept {len(key_files)} files, envelope {len(env_files)}")
    # oversized candidate sets fall back to the envelope regime
    reads.clear()
    monkeypatch.setattr(SnapshotTable, "read", spy)
    monkeypatch.setattr(merge, "SCAN_RANGE_KEY_SET_MAX", 5)
    all_rows = scan_range(spark, t, "role", "user", "user")
    assert all_rows.count() == 40
    assert reads[-1].get("key_set") is None
    assert reads[-1]["col_ranges"] == {"conv_id": ("c00", "c39")}


def test_bloom_index_equality_probe_prunes_files(spark, tmp_path):
    """Round-5 secondary index: a table created with index_cols writes a
    per-file Bloom over the indexed column into the manifest sidecar, and
    an equality probe on a hash-like HIGH-CARDINALITY column (where every
    file's [min, max] bounds span the probe — bounds prune nothing) skips
    files the bloom proves absent. scan_range(v, v) rides the same pruning
    and stays resolution-safe; enable_index mid-stream indexes only new
    commits (old files never pruned — superset-safe)."""
    import hashlib

    from hierarchical_to_relational_spark.operators.merge import (
        scan_range,
        table_schema_for,
    )
    from hierarchical_to_relational_spark.streaming.driver import CdcPipeline
    from tests.test_cdc import _env_rows

    turn_cols = [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
    SnapshotTable.create(str(tmp_path / "t"), table_schema_for(turn_cols), 4,
                         index_cols=["text"])
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=4, text_mode="none")
    texts, lsn = {}, 0
    for b in range(4):
        rows = []
        for i in range(12):
            lsn += 1
            tx = hashlib.md5(f"{b}-{i}".encode()).hexdigest()
            texts[(b, i)] = tx
            rows.append((lsn, "insert", f"c{b:02d}{i:02d}", [(0, "user", tx, None)]))
        pipe.apply_batch(_env_rows(spark, rows), f"b{b}")
    t = pipe.table
    assert t.index_cols == ["text"]

    probe = texts[(2, 5)]
    full = set(t.read(spark).inputFiles())
    kept = set(t.read(spark, col_eq={"text": probe}).inputFiles())
    bounds_only = set(t.read(spark, col_ranges={"text": (probe, probe)}).inputFiles())
    assert kept and kept < full, f"bloom kept {len(kept)}/{len(full)}"
    assert len(kept) < len(bounds_only), (
        "the bloom must prune beyond what min-max bounds can on a "
        f"hash-like column: {len(kept)} vs {len(bounds_only)}")
    out = scan_range(spark, t, "text", lo=probe, hi=probe)
    assert [(r["conv_id"], r["text"]) for r in out.collect()] == [("c0205", probe)]

    # enable_index on a previously UNindexed table: old files stay
    # unpruned (no bloom -> keep), new commits get blooms, results exact
    pipe2 = CdcPipeline(spark, str(tmp_path / "bl2"), str(tmp_path / "t2"),
                        str(tmp_path / "ck2"), n_buckets=4, text_mode="none")
    pipe2.apply_batch(_env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "old-text", None)])]), "b0")
    assert pipe2.table.enable_index(["text"], "idx-on") is True
    assert pipe2.table.enable_index(["text"], "idx-on") is False  # idempotent
    pipe2.apply_batch(_env_rows(spark, [
        (2, "insert", "cB", [(0, "user", "new-text", None)])]), "b1")
    got = {r["conv_id"] for r in
           scan_range(spark, pipe2.table, "text", "old-text", "old-text").collect()}
    assert got == {"cA"}
    with pytest.raises(ValueError, match="string/int"):
        pipe2.table.enable_index(["ts"], "idx-bad")


def test_bloom_build_and_membership_unit():
    """Pure-Python bloom: no false negatives ever; false-keep rate near
    the designed ~1% at 9.6 bits/value."""
    from hierarchical_to_relational_spark.functions.xxh64 import xxh64
    from hierarchical_to_relational_spark.table.snapshot_table import (
        _bloom_build,
        _bloom_maybe,
    )

    vals = {f"v{i:05d}" for i in range(2000)}
    bl = _bloom_build(vals, xxh64)
    assert all(_bloom_maybe(bl, v, xxh64) for v in vals), "no false negatives"
    fp = sum(_bloom_maybe(bl, f"absent{i}", xxh64) for i in range(5000)) / 5000
    assert fp < 0.05, f"false-keep rate {fp}"
    # ints index too; unindexable probe values are never pruned on
    bli = _bloom_build({1, 2, 3}, xxh64)
    assert _bloom_maybe(bli, 2, xxh64) and not _bloom_maybe(bli, 99, xxh64)
    assert _bloom_maybe(bli, 1.5, xxh64) is True


def test_binpack_deltas_preserves_state_and_reduces_dirs(spark, tmp_path):
    """Round-5 bin-packing: small delta dirs merge VERBATIM (no resolve,
    no base rewrite) into one packed dir per bucket — resolved state is
    bit-identical, delta depth drops, tombstones/patches survive, the
    commit is idempotent, and incremental readers see NO spurious
    emissions (kind='compact' → skipped by changes_since)."""
    from hierarchical_to_relational_spark.operators.merge import (
        binpack_deltas,
        changes_since,
        read_transcripts,
    )
    from hierarchical_to_relational_spark.streaming.driver import CdcPipeline
    from tests.test_cdc import _env_rows

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none",
                       compact_every=999)
    lsn = 0
    for b in range(5):
        rows = []
        for i in range(4):
            lsn += 1
            rows.append((lsn, "insert" if (b + i) % 3 else "update",
                         f"c{i}", [(b, "user", f"t{b}-{i}", None)]))
        lsn += 1
        rows.append((lsn, "delete", "c9", None))  # tombstones pass through
        pipe.apply_batch(_env_rows(spark, rows), f"b{b}")
    t = pipe.table
    before = sorted(map(tuple, read_transcripts(spark, t)
                        .select("conv_id", "turn_idx", "text").collect()))
    depth_before = t.delta_depth()
    v_before = t.current_version()

    packed = binpack_deltas(spark, t, "bp0", target_bytes=10 << 20, min_dirs=2)
    assert packed, "small dirs must get packed"
    assert t.delta_depth() < depth_before
    after = sorted(map(tuple, read_transcripts(spark, t)
                       .select("conv_id", "turn_idx", "text").collect()))
    assert after == before, "bin-packing must not change resolved state"
    # tombstones preserved verbatim: a late upsert below the del LSN stays dead
    assert binpack_deltas(spark, t, "bp0") == [], "idempotent on batch id"
    assert changes_since(spark, t, v_before).count() == 0, (
        "a pure rewrite must not re-emit anything downstream")
    # min_dirs guard: nothing left to pack at the same threshold
    assert binpack_deltas(spark, t, "bp1", target_bytes=10 << 20,
                          min_dirs=5) == []


def _sidecar_entries(t):
    """(commit dir, file, sidecar entry) for every live written file."""
    import json as _json

    for d in {d for ds in t.snapshot()["live"].values() for d in ds}:
        with open(os.path.join(t.root, d, "_file_stats.json")) as f:
            for rel, st in _json.load(f).items():
                yield d, rel, st


def _reference_blooms(t, index_cols) -> dict:
    """Pure-Python reference bloom build: one pyarrow read per written
    file of its indexed columns, then ``_bloom_build`` over each column's
    distinct non-null values. Keyed (commit dir, file) like the sidecars."""
    import pyarrow.parquet as papq

    from hierarchical_to_relational_spark.functions.xxh64 import xxh64
    from hierarchical_to_relational_spark.table.snapshot_table import _bloom_build

    out = {}
    for d, rel, _ in _sidecar_entries(t):
        tbl = papq.read_table(os.path.join(t.root, d, rel), columns=index_cols)
        blooms = {}
        for c in index_cols:
            vals = set(tbl.column(c).to_pylist())
            vals.discard(None)
            if vals:
                blooms[c] = _bloom_build(vals, xxh64)
        if blooms:
            out[(d, rel)] = blooms
    return out


def test_bloom_fold_build_bit_identical_to_reference(spark, tmp_path):
    """The bloom index is built inside the write job (the fold build: the
    indexed commit makes ONE pass over the batch, no re-read). Its
    sidecars are BIT-IDENTICAL to a pure-Python reference build over the
    written files, for a string AND an integral column, and equality
    probes prune files while returning the exact probe result."""
    import hashlib
    import json as _json

    from hierarchical_to_relational_spark.operators.merge import table_schema_for
    from hierarchical_to_relational_spark.streaming.driver import CdcPipeline
    from tests.test_cdc import _env_rows

    turn_cols = [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
    index_cols = ["text", "turn_idx"]
    root = str(tmp_path / "t")
    SnapshotTable.create(root, table_schema_for(turn_cols), 4, index_cols=index_cols)
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), root, str(tmp_path / "ck"),
                       n_buckets=4, text_mode="none")
    lsn = 0
    for b in range(2):
        rows = []
        for i in range(10):
            lsn += 1
            tx = hashlib.md5(f"{b}-{i}".encode()).hexdigest()
            rows.append((lsn, "insert", f"c{b}{i}", [(i, "user", tx, None)]))
        pipe.apply_batch(_env_rows(spark, rows), f"b{b}")
    t = pipe.table

    fold = {(d, rel): st["bloom"] for d, rel, st in _sidecar_entries(t) if "bloom" in st}
    ref = _reference_blooms(t, index_cols)
    assert ref and set(fold) == set(ref)
    assert _json.dumps(sorted(fold.items()), sort_keys=True) == \
        _json.dumps(sorted(ref.items()), sort_keys=True)

    probe = hashlib.md5(b"1-3").hexdigest()
    kept = t.read(spark, col_eq={"text": probe}).inputFiles()
    assert kept and len(kept) < len(t.read(spark).inputFiles())
    # col_eq prunes FILES (superset semantics); the row filter is the
    # caller's — together they give the exact probe result
    assert ({tuple(r) for r in t.read(spark, col_eq={"text": probe})
             .where(F.col("text") == probe)
             .select("conv_id", "text").collect()}
            == {("c13", probe)})


def test_fold_bloom_matching_no_file_warns(caplog):
    """A fold bloom whose write partition matches no written file is
    dropped (the file it belonged to stays unpruned by bloom, which is
    superset-safe) — with a warning naming the partition, not silently."""
    import logging
    from types import SimpleNamespace

    acc = SimpleNamespace(value=[(0, "text", 64, 7, "AA=="),
                                 (9, "text", 64, 7, "AQ=="),
                                 (9, "turn_idx", 64, 7, "Ag==")])
    file_stats = {"part-00000-x.c000.zstd.parquet": {}}
    logger = "hierarchical_to_relational_spark.table.snapshot_table"
    with caplog.at_level(logging.WARNING, logger=logger):
        SnapshotTable._attach_fold_blooms(acc, file_stats)
    assert file_stats["part-00000-x.c000.zstd.parquet"]["bloom"] == {
        "text": {"m": 64, "k": 7, "b64": "AA=="}}
    [rec] = caplog.records
    assert rec.levelno == logging.WARNING and "[9]" in rec.getMessage()

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=logger):
        SnapshotTable._attach_fold_blooms(acc, {"part-00000-x.parquet": {},
                                                "part-00009-y.parquet": {}})
    assert not caplog.records, "every bloom matched a file: no warning"


def test_tagged_snapshot_survives_expiration(spark, tmp_path):
    """Named refs (Iceberg-style tags): a tagged version outlives ANY
    retention window — snapshot file retained, data dirs protected from
    the orphan sweep, still time-travelable by name; dropping the tag
    returns it to normal retention."""
    import pytest as _pytest

    from hierarchical_to_relational_spark.operators.merge import (
        apply_cdc_batch,
        read_transcripts,
        table_schema_for,
    )
    from hierarchical_to_relational_spark.operators.normalize import (
        normalize_envelopes_fused,
    )
    from tests.test_cdc import _env_rows

    cols = [T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), True),
            T.StructField("role", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("tool", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True)]
    t = SnapshotTable.create(str(tmp_path / "t"), table_schema_for(cols), 2)

    def _apply(lsn, op, cid, turns, bid):
        rows = normalize_envelopes_fused(_env_rows(spark, [(lsn, op, cid, turns)]),
                                         text_mode="none")
        apply_cdc_batch(spark, t, rows, batch_id=bid)

    _apply(1, "insert", "cA", [(0, "user", "a0", None)], "b0")
    v_tagged = t.tag("audit-2026q1")
    assert t.ref("audit-2026q1") == v_tagged == t.current_version()
    tagged_state = {(r["conv_id"], r["turn_idx"]): r["text"]
                    for r in read_transcripts(spark, t, version=v_tagged).collect()}

    for i in range(4):
        _apply(10 + i, "update", "cA", [(0, "user", f"a{i+1}", None)], f"b{i+1}")
    rep = t.expire_snapshots(retain_last=1, orphan_grace_seconds=0.0)
    assert rep["expired_snapshots"] > 0

    # the tagged version is still there and still reads EXACTLY its state
    assert v_tagged in t._versions(), "tag exempted the version from expiry"
    again = {(r["conv_id"], r["turn_idx"]): r["text"]
             for r in read_transcripts(spark, t, version=t.ref("audit-2026q1")).collect()}
    assert again == tagged_state == {("cA", 0): "a0"}
    # ...while untagged old versions between tag and head are gone
    assert len(t._versions()) == 2  # the tag + the current head

    # re-tag moves the name; drop returns the version to retention
    t.tag("audit-2026q1")  # now points at head
    assert t.ref("audit-2026q1") == t.current_version()
    t.expire_snapshots(retain_last=1, orphan_grace_seconds=0.0)
    assert v_tagged not in t._versions(), "old target re-entered retention and aged out"
    assert t.drop_tag("audit-2026q1") is True
    assert t.drop_tag("audit-2026q1") is False
    with _pytest.raises(KeyError):
        t.ref("audit-2026q1")
    with _pytest.raises(FileNotFoundError):
        t.tag("bogus", version=9999)


def test_read_by_tag_name(spark, tmp_path):
    """Every version-taking surface accepts a tag NAME (resolved in
    snapshot(), the single resolver)."""
    from hierarchical_to_relational_spark.operators.merge import (
        apply_cdc_batch,
        read_transcripts,
        table_schema_for,
    )
    from hierarchical_to_relational_spark.operators.normalize import (
        normalize_envelopes_fused,
    )
    from tests.test_cdc import _env_rows

    cols = [T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), True),
            T.StructField("role", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("tool", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True)]
    t = SnapshotTable.create(str(tmp_path / "t"), table_schema_for(cols), 2)
    rows = normalize_envelopes_fused(_env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "v1", None)])]), text_mode="none")
    apply_cdc_batch(spark, t, rows, batch_id="b0")
    t.tag("prod")
    rows = normalize_envelopes_fused(_env_rows(spark, [
        (2, "update", "cA", [(0, "user", "v2", None)])]), text_mode="none")
    apply_cdc_batch(spark, t, rows, batch_id="b1")

    assert [r["text"] for r in read_transcripts(spark, t, version="prod").collect()] == ["v1"]
    assert [r["text"] for r in read_transcripts(spark, t).collect()] == ["v2"]
    assert t.schema("prod") == t.schema()
