"""Maintenance CLI (jobs/table_maintenance_job.py): every action against a
live table, in-process (the spark-submit surface shares main())."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "jobs"))

from hierarchical_to_relational_spark import datagen
from hierarchical_to_relational_spark.operators.merge import read_transcripts
from hierarchical_to_relational_spark.streaming.driver import CdcPipeline
from hierarchical_to_relational_spark.table.snapshot_table import SnapshotTable


@pytest.fixture()
def table(spark, tmp_path):
    spec = datagen.BinlogSpec(n_events=150, n_convs=8, seed=5)
    ev = datagen.generate_events(spec)
    d = str(tmp_path / "binlog")
    datagen.write_binlog(datagen.arrival_order(ev, spec), d, n_segments=3)
    pipe = CdcPipeline(spark, d, str(tmp_path / "t"), str(tmp_path / "ck"),
                       n_buckets=4, text_mode="none")
    for i, seg in enumerate(sorted((tmp_path / "binlog").glob("*.parquet"))):
        pipe.replay_batch([str(seg)], f"b{i}")
    return str(tmp_path / "t"), ev


def _run(capsys, *argv) -> dict:
    import table_maintenance_job as M

    assert M.main(list(argv)) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_all_actions(spark, tmp_path, capsys, table):
    root, events = table
    st = _run(capsys, "--table", root, "status")
    assert st["version"] == 3 and st["delta_depth"] == 3
    assert st["monitoring"]["batches_committed"] == 3

    c = _run(capsys, "--table", root, "compact")
    assert c["committed"] is True
    # idempotent re-run with the derived id of the PREVIOUS version is new;
    # explicit batch-id proves the exactly-once contract
    c2 = _run(capsys, "--table", root, "compact", "--batch-id", c["batch_id"])
    assert c2["committed"] is False

    rb = _run(capsys, "--table", root, "rebucket", "--n-buckets", "8")
    assert rb["committed"] is True and SnapshotTable(root).n_buckets == 8

    v_before = SnapshotTable(root).current_version()
    ro = _run(capsys, "--table", root, "rollback", "--to-version", str(v_before))
    assert ro["committed"] is True
    # a SECOND rollback to the same target (table moved since) must be a
    # fresh commit, not a silent no-op against the permanent id ledger
    ro2 = _run(capsys, "--table", root, "rollback", "--to-version", str(v_before))
    assert ro2["committed"] is True and ro2["batch_id"] != ro["batch_id"]

    ex = _run(capsys, "--table", root, "expire", "--retain-last", "2", "--orphan-grace-s", "0")
    assert ex["expired_snapshots"] > 0

    hist = _run(capsys, "--table", root, "history")
    assert len(hist["history"]) == 2  # retained window

    # state equals the pandas oracle through the whole lifecycle
    got = (read_transcripts(spark, SnapshotTable(root))
           .orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True))
    import pandas as pd
    want = datagen.expected_state(events)
    pd.testing.assert_frame_equal(got.astype({"turn_idx": "int64"}),
                                  want.astype({"turn_idx": "int64"}), check_dtype=False)


def test_changes_and_zorder_actions(spark, tmp_path, capsys, table):
    """changes: egress counts + parquet export equal the direct operator
    output; compact --zorder commits and preserves state."""
    import pandas as pd
    from hierarchical_to_relational_spark.operators.merge import changes_since

    root, _events = table
    t = SnapshotTable(root)
    before = read_transcripts(spark, t).orderBy("conv_id", "turn_idx").toPandas()

    out_dir = str(tmp_path / "egress")
    ch = _run(capsys, "--table", root, "changes", "--since-version", "1",
              "--out", out_dir)
    direct = changes_since(spark, t, 1)
    assert ch["upserts"] == direct.where("change_op = 'u'").count()
    assert ch["deletes"] == direct.where("change_op = 'd'").count()
    exported = spark.read.parquet(out_dir)
    assert exported.count() == ch["upserts"] + ch["deletes"]

    z = _run(capsys, "--table", root, "compact", "--zorder", "conv_id,_lsn")
    assert z["committed"] is True
    after = read_transcripts(spark, t).orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(
        before.reset_index(drop=True), after.reset_index(drop=True)
    )


def test_rollback_by_timestamp_and_age_expire(spark, tmp_path, capsys, table):
    """CLI: rollback --to-ts resolves via version_as_of; expire
    --older-than-s with a huge age expires nothing."""
    root, _events = table
    t = SnapshotTable(root)
    target_ts = t.snapshot(2)["committed_at"]
    ro = _run(capsys, "--table", root, "rollback", "--to-ts", str(target_ts))
    assert ro["committed"] is True and ro["to_version"] == 2

    e = _run(capsys, "--table", root, "expire", "--retain-last", "1",
             "--older-than-s", "999999", "--orphan-grace-s", "999999")
    assert e["expired_snapshots"] == 0


def test_changes_timestamp_cursors(spark, tmp_path, capsys, table):
    """changes --since-ts/--until-ts resolve through version_as_of and
    equal the version-cursor diff; changes_between_timestamps composes the
    same way; exactly one cursor flavor must be given."""
    import time

    from hierarchical_to_relational_spark.operators.merge import (
        changes_between_timestamps, changes_since,
    )
    from tests.test_cdc import _env_rows

    root, _events = table
    t = SnapshotTable(root)
    pipe = CdcPipeline(spark, str(tmp_path / "binlog"), root, str(tmp_path / "ck2"),
                       n_buckets=4, text_mode="none")
    t_mid = time.time()
    v_mid = t.current_version()
    pipe.apply_batch(_env_rows(spark, [
        (10_000, "insert", "cTS", [(0, "user", "after-mid", None)]),
    ]), "ts-b1")

    direct = changes_since(spark, t, v_mid)
    via_ts = changes_between_timestamps(spark, t, t_mid)
    assert sorted(map(tuple, via_ts.collect())) == sorted(map(tuple, direct.collect()))
    assert via_ts.where("conv_id = 'cTS'").count() == 1

    ch = _run(capsys, "--table", root, "changes", "--since-ts", str(t_mid))
    assert ch["since_version"] == v_mid and ch["upserts"] >= 1

    # --until-ts pins the window's right edge: a commit after t_end is out
    t_end = time.time()
    pipe.apply_batch(_env_rows(spark, [
        (10_001, "insert", "cTS2", [(0, "user", "after-end", None)]),
    ]), "ts-b2")
    windowed = changes_between_timestamps(spark, t, t_mid, until_ts=t_end)
    assert windowed.where("conv_id = 'cTS2'").count() == 0
    assert windowed.where("conv_id = 'cTS'").count() == 1
    ch2 = _run(capsys, "--table", root, "changes",
               "--since-ts", str(t_mid), "--until-ts", str(t_end))
    assert ch2["version"] < t.current_version()

    # exactly one cursor flavor
    import table_maintenance_job as M
    with pytest.raises(SystemExit):
        M.main(["--table", root, "changes"])
    with pytest.raises(SystemExit):
        M.main(["--table", root, "changes", "--since-version", "1",
                "--since-ts", str(t_mid)])


def test_lookup_and_scan_range_actions(spark, tmp_path, capsys, table):
    """The ops CLI serves the round-4 read surfaces: batched lookup and
    LWW-safe value-range scans, with optional parquet export."""
    from hierarchical_to_relational_spark.operators.merge import read_transcripts

    root, events = table
    keys = sorted({r["conv_id"] for r in
                   read_transcripts(spark, SnapshotTable(root))
                   .select("conv_id").distinct().limit(3).collect()})
    lk = _run(capsys, "--table", root, "lookup", "--conv-ids", ",".join(keys),
              "--out", str(tmp_path / "lk"))
    assert lk["conv_ids"] == len(keys) and lk["rows"] >= 1
    got = {r["conv_id"] for r in spark.read.parquet(str(tmp_path / "lk")).collect()}
    assert got <= set(keys) and got

    sr = _run(capsys, "--table", root, "scan-range", "--col", "role",
              "--lo", "user", "--hi", "user")
    want = read_transcripts(spark, SnapshotTable(root)).where("role = 'user'").count()
    assert sr["rows"] == want > 0


def test_scan_range_timestamp_bounds_coerced(spark, tmp_path, capsys, table):
    """ISO-string --lo/--hi on a timestamp column are coerced by the
    COLUMN's type (resolved from the table schema) before they reach the
    sidecar's epoch-micros bounds — a raw string would TypeError against
    the int bounds, and a numeric epoch-seconds guess would silently
    prune every file (seconds vs micros)."""
    from hierarchical_to_relational_spark.operators.merge import read_transcripts

    root, events = table
    t = SnapshotTable(root)
    lo, hi = (read_transcripts(spark, t)
              .selectExpr("min(ts)", "max(ts)").first())
    mid = lo + (hi - lo) / 2
    sr = _run(capsys, "--table", root, "scan-range", "--col", "ts",
              "--lo", lo.isoformat(), "--hi", mid.isoformat())
    want = (read_transcripts(spark, t)
            .where((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(mid)))
            .count())
    assert sr["rows"] == want > 0
    # an integer band on turn_idx still coerces to int
    sr2 = _run(capsys, "--table", root, "scan-range", "--col", "turn_idx",
               "--lo", "0", "--hi", "0")
    want2 = read_transcripts(spark, t).where("turn_idx = 0").count()
    assert sr2["rows"] == want2 > 0


def test_maintain_cycle_action(spark, tmp_path, capsys, table):
    """`maintain` — the combined cadence pass — folds pressured buckets,
    bin-packs the cold dribble, expires snapshots, and leaves the state
    byte-equal to the oracle; a re-run with the same batch id no-ops the
    commit steps (exactly-once, same as ingest)."""
    root, events = table
    # pass 1: pressure threshold 2 → every bucket with ≥2 deltas folds;
    # bin-packing then finds nothing ≥ --min-dirs; expiration trims to 3
    m = _run(capsys, "--table", root, "maintain", "--compact-depth", "2",
             "--retain-last", "3", "--orphan-grace-s", "0")
    assert m["compacted_buckets"], "deep delta stacks must fold"
    assert m["expired"]["expired_snapshots"] >= 0
    t = SnapshotTable(root)
    assert t.delta_depth() == 1  # folded: base dir only on every bucket

    # stack fresh shallow deltas, then a pack-only cycle (depth threshold
    # too high to compact): the small dirs merge verbatim
    from hierarchical_to_relational_spark.operators import merge as mg
    import pyspark.sql.functions as F

    live = t.read(spark).limit(6).persist()
    for i in range(3):
        t.commit_data(live.withColumn("_lsn", F.col("_lsn") + 0), f"dribble-{i}")
    live.unpersist()
    m2 = _run(capsys, "--table", root, "maintain", "--compact-depth", "99",
              "--min-dirs", "2", "--batch-id", "cycle-2")
    assert m2["compacted_buckets"] == [] and m2["packed_buckets"]
    # idempotent re-run: both commit steps are spent ids → no-ops
    m3 = _run(capsys, "--table", root, "maintain", "--compact-depth", "99",
              "--min-dirs", "2", "--batch-id", "cycle-2")
    assert m3["compacted_buckets"] == [] and m3["packed_buckets"] == []

    got = (read_transcripts(spark, SnapshotTable(root))
           .orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True))
    import pandas as pd
    want = datagen.expected_state(events)
    pd.testing.assert_frame_equal(got.astype({"turn_idx": "int64"}),
                                  want.astype({"turn_idx": "int64"}), check_dtype=False)
    assert mg.maintain_cycle is not None  # imported surface


def test_mview_action(spark, tmp_path, capsys, table):
    """The mview CLI action: first call builds, second is a noop (no new
    commits), after more ingest it refreshes incrementally; the windowed
    variant maintains a daily rollup at its own root; both views equal
    from-scratch recomputes."""
    root, events = table
    mv_root = str(tmp_path / "mv")
    r1 = _run(capsys, "--table", root, "mview", "--root", mv_root)
    assert r1["mode"] == "full" and r1["mv_version"] is not None
    r2 = _run(capsys, "--table", root, "mview", "--root", mv_root)
    assert r2["mode"] == "noop"

    from hierarchical_to_relational_spark.operators.mview import ConvAggregateView
    from hierarchical_to_relational_spark.operators.merge import apply_cdc_batch
    from tests.test_cdc import _env_rows
    from hierarchical_to_relational_spark.operators.normalize import normalize_envelopes_fused

    rows = normalize_envelopes_fused(_env_rows(spark, [
        (10_000, "insert", "cli-added", [(0, "user", "x", None)]),
    ]), text_mode="none")
    apply_cdc_batch(spark, SnapshotTable(root), rows, batch_id="extra")
    r3 = _run(capsys, "--table", root, "mview", "--root", mv_root)
    assert r3["mode"] == "incremental" and r3["changed_convs"] == 1

    view = ConvAggregateView(spark, SnapshotTable(root), mv_root)
    got = {r["conv_id"]: r["n_turns"] for r in view.read().collect()}
    want = {r["conv_id"]: r["n_turns"] for r in
            read_transcripts(spark, SnapshotTable(root))
            .groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns")).collect()}
    assert got == want and "cli-added" in got

    w = _run(capsys, "--table", root, "mview", "--root", str(tmp_path / "wmv"),
             "--window-days")
    assert w["mode"] == "full"
    wview = ConvAggregateView(
        spark, SnapshotTable(root), str(tmp_path / "wmv"),
        aggs={"n_turns": F.count(F.lit(1)),
              "chars": F.sum(F.length("text"))},
        window_col=F.datediff(F.col("ts"), F.lit("1970-01-01")))
    wgot = {(r["conv_id"], r["window_id"]): r["n_turns"]
            for r in wview.read().collect()}
    wwant = {(r["conv_id"], r["w"]): r["n_turns"] for r in
             read_transcripts(spark, SnapshotTable(root))
             .groupBy("conv_id",
                      F.datediff(F.col("ts"), F.lit("1970-01-01")).alias("w"))
             .agg(F.count(F.lit(1)).alias("n_turns")).collect()}
    assert wgot == wwant


def test_tag_actions(spark, tmp_path, capsys, table):
    root, _ = table
    tg = _run(capsys, "--table", root, "tag", "--name", "prod")
    st = _run(capsys, "--table", root, "status")
    assert st["refs"] == {"prod": tg["version"]}
    ex = _run(capsys, "--table", root, "expire", "--retain-last", "1",
              "--orphan-grace-s", "0")
    assert ex["expired_snapshots"] >= 0
    assert tg["version"] in SnapshotTable(root)._versions()
    dr = _run(capsys, "--table", root, "drop-tag", "--name", "prod")
    assert dr["dropped"] is True


def test_branch_actions(spark, tmp_path, capsys, table):
    root, events = table
    bc = _run(capsys, "--table", root, "branch", "--name", "stage")
    st = _run(capsys, "--table", root, "status")
    assert st["branches"] == ["stage"] and st["branch"] is None
    # the global --branch flag points any action at the branch ref
    bst = _run(capsys, "--table", root, "--branch", "stage", "status")
    assert bst["branch"] == "stage" and bst["version"] == bc["forked_from"]
    # audit step on the branch: compact there, main log untouched
    v_main = SnapshotTable(root).current_version()
    c = _run(capsys, "--table", root, "--branch", "stage", "compact")
    assert c["committed"] is True
    assert SnapshotTable(root).current_version() == v_main
    # publish: fold the branch back (branch rewrote, main untouched →
    # branch adopted), then drop it
    mg = _run(capsys, "--table", root, "merge-branch", "--name", "stage")
    assert mg["committed"] is True
    mg2 = _run(capsys, "--table", root, "merge-branch", "--name", "stage",
               "--batch-id", mg["batch_id"])
    assert mg2["committed"] is False  # exactly-once on explicit id
    want = datagen.expected_state(events)
    got = read_transcripts(spark, SnapshotTable(root))
    assert got.count() == len(want)
    dr = _run(capsys, "--table", root, "drop-branch", "--name", "stage")
    assert dr["dropped"] is True
    assert _run(capsys, "--table", root, "status")["branches"] == []
