"""ChangeFollower: crash-resumable continuous CDC egress over
changes_since, with parquet increment export a downstream Structured
Streaming job can tail."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hierarchical_to_relational_spark.operators.merge import read_transcripts
from hierarchical_to_relational_spark.streaming.driver import CdcPipeline
from hierarchical_to_relational_spark.streaming.egress import ChangeFollower
from tests.test_cdc import _env_rows


def _apply_poll(state: dict, spark, out_path):
    rows = spark.read.parquet(out_path).collect()
    for r in rows:
        if r["change_op"] == "d":
            for k in [k for k in state if k[0] == r["conv_id"]]:
                del state[k]
    for r in rows:
        if r["change_op"] == "u":
            state[(r["conv_id"], r["turn_idx"])] = r["text"]
    return state


def test_follower_crash_resume_and_export(spark, tmp_path):
    """Polls export atomic parquet increments; a consumer applying them to
    its snapshot tracks the table exactly; a NEW follower on the same
    cursor file resumes where the crashed one stopped (no gaps, no
    re-emission of consumed windows)."""
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=4, text_mode="none")
    cursor = str(tmp_path / "cursor.json")
    out = str(tmp_path / "egress")

    pipe.apply_batch(_env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "a0", None)]),
        (2, "insert", "cB", [(0, "user", "b0", None)]),
    ]), "b0")
    f1 = ChangeFollower(spark, pipe.table, cursor, out_dir=out)
    first = f1.poll_once()           # pins cursor, emits nothing
    assert first["from"] is None and first["out_path"] is None
    # consumer bootstraps with its own full read at the pinned version
    state = {(r["conv_id"], r["turn_idx"]): r["text"]
             for r in read_transcripts(spark, pipe.table, version=first["to"]).collect()}

    pipe.apply_batch(_env_rows(spark, [
        (3, "update", "cA", [(0, "user", "a1", None)]),
    ]), "b1")
    p1 = f1.poll_once()
    assert (p1["upserts"], p1["deletes"]) == (1, 0) and p1["out_path"]
    state = _apply_poll(state, spark, p1["out_path"])

    # follower crashes; more commits land; a NEW follower resumes
    pipe.apply_batch(_env_rows(spark, [
        (4, "delete", "cB", None),
        (5, "insert", "cC", [(0, "user", "c0", None)]),
    ]), "b2")
    f2 = ChangeFollower(spark, pipe.table, cursor, out_dir=out)
    p2 = f2.poll_once()
    assert p2["from"] == p1["to"], "resumed exactly at the crashed cursor"
    assert (p2["upserts"], p2["deletes"]) == (1, 1)
    state = _apply_poll(state, spark, p2["out_path"])

    want = {(r["conv_id"], r["turn_idx"]): r["text"]
            for r in read_transcripts(spark, pipe.table).collect()}
    assert state == want

    # idle poll: nothing new, cursor unchanged, no export dir
    p3 = f2.poll_once()
    assert p3["from"] == p3["to"] and p3["out_path"] is None

    # the export dir is a valid Structured Streaming source: a downstream
    # job tails the increments with vanilla readStream
    inc_schema = spark.read.parquet(p2["out_path"]).schema
    q = (spark.readStream.schema(inc_schema).parquet(os.path.join(out, "inc-*"))
         .groupBy("change_op").count()
         .writeStream.format("memory").queryName("egress_counts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(60)
    counts = {r["change_op"]: r["count"] for r in spark.sql("select * from egress_counts").collect()}
    assert counts == {"u": 2, "d": 1}


def test_follower_emits_through_rollback(spark, tmp_path):
    """Round-5: a rollback inside a polled window no longer forces a
    resync — changes_since scans the retracted dirs for SYNTHETIC
    conversation deletes and re-adds the affected buckets' current rows,
    so a consumer applying 'd' then 'u' converges to the post-rollback
    state (the previously-inserted conv vanishes downstream too)."""
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    cursor = str(tmp_path / "cursor.json")
    out = str(tmp_path / "egress")
    pipe.apply_batch(_env_rows(spark, [(1, "insert", "cA", [(0, "user", "keep", None)])]), "b0")
    f = ChangeFollower(spark, pipe.table, cursor, out_dir=out)
    first = f.poll_once()
    state = {(r["conv_id"], r["turn_idx"]): r["text"]
             for r in read_transcripts(spark, pipe.table, version=first["to"]).collect()}
    v_good = pipe.table.current_version()

    # consumer SEES the bad commit, then the table rolls it back
    pipe.apply_batch(_env_rows(spark, [
        (2, "insert", "cX", [(0, "user", "bad", None)]),
        (3, "update", "cA", [(1, "user", "bad-turn", None)]),
    ]), "b1")
    p1 = f.poll_once()
    assert p1["upserts"] == 2
    state = _apply_poll(state, spark, p1["out_path"])
    assert ("cX", 0) in state and ("cA", 1) in state

    pipe.table.rollback(v_good, batch_id="rb")
    p2 = f.poll_once()
    assert p2["needs_resync"] is False
    assert p2["deletes"] >= 1, "synthetic deletes for the rolled-back convs"
    state = _apply_poll(state, spark, p2["out_path"])
    want = {(r["conv_id"], r["turn_idx"]): r["text"]
            for r in read_transcripts(spark, pipe.table).collect()}
    assert state == want, "consumer converged to the post-rollback state"
    assert ("cX", 0) not in state and ("cA", 1) not in state

    # and the follower keeps following normally afterwards
    pipe.apply_batch(_env_rows(spark, [(4, "insert", "cB", [(0, "user", "post", None)])]), "b2")
    p3 = f.poll_once()
    assert p3["needs_resync"] is False and p3["upserts"] == 1
    state = _apply_poll(state, spark, p3["out_path"])
    assert state == {(r["conv_id"], r["turn_idx"]): r["text"]
                     for r in read_transcripts(spark, pipe.table).collect()}


def test_rollback_with_expired_retraction_dirs_needs_resync(spark, tmp_path):
    """The narrowed resync case: if the dirs a rollback un-referenced are
    deleted before the window is consumed, the synthetic deletes are
    unrecoverable and the follower surfaces needs_resync; reset_cursor
    re-arms it after the consumer rebuilds."""
    import shutil as _sh

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    cursor = str(tmp_path / "cursor.json")
    pipe.apply_batch(_env_rows(spark, [(1, "insert", "cA", [(0, "user", "keep", None)])]), "b0")
    f = ChangeFollower(spark, pipe.table, cursor)
    f.poll_once()
    v_good = pipe.table.current_version()
    live_before = {d for ds in pipe.table.snapshot()["live"].values() for d in ds}
    pipe.apply_batch(_env_rows(spark, [(2, "insert", "cX", [(0, "user", "bad", None)])]), "b1")
    live_mid = {d for ds in pipe.table.snapshot()["live"].values() for d in ds}
    pipe.table.rollback(v_good, batch_id="rb")
    for d in live_mid - live_before:  # simulate early GC of retracted dirs
        _sh.rmtree(str(tmp_path / "t" / d), ignore_errors=True)
    polls = f.run(poll_interval_s=0.01, max_polls=3)
    assert polls[0]["needs_resync"] is True and len(polls) == 1
    v_now = pipe.table.current_version()
    f.reset_cursor(v_now)
    pipe.apply_batch(_env_rows(spark, [(3, "insert", "cB", [(0, "user", "post", None)])]), "b2")
    p = f.poll_once()
    assert p["needs_resync"] is False and p["upserts"] == 1


def test_follower_reexport_after_cursor_crash(spark, tmp_path):
    """Crash between export and cursor write: the re-poll of the same
    window reuses the existing export instead of failing on the rename
    (the diff of a fixed version window is deterministic)."""
    import json

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    cursor = str(tmp_path / "cursor.json")
    out = str(tmp_path / "egress")
    pipe.apply_batch(_env_rows(spark, [(1, "insert", "cA", [(0, "user", "a", None)])]), "b0")
    f = ChangeFollower(spark, pipe.table, cursor, out_dir=out)
    f.poll_once()
    v0 = f.cursor()
    pipe.apply_batch(_env_rows(spark, [(2, "insert", "cB", [(0, "user", "b", None)])]), "b1")
    p1 = f.poll_once()
    # simulate the crash: cursor rolls back to before the export
    with open(cursor, "w") as fh:
        json.dump({"version": v0}, fh)
    p2 = f.poll_once()          # same window re-polled
    assert p2["out_path"] == p1["out_path"]
    assert (p2["upserts"], p2["deletes"]) == (p1["upserts"], p1["deletes"])
    assert f.cursor() == p1["to"]


def test_follower_recovers_cursor_from_exports(spark, tmp_path):
    """Crash after publishing inc-A-B but before the cursor write, with NEW
    commits landing before restart: a restarted follower adopts B from the
    published exports (the export is the durable cursor) and publishes
    inc-B-C — never an overlapping inc-A-C whose files could race the
    earlier window in a downstream streaming tail."""
    import json

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    cursor = str(tmp_path / "cursor.json")
    out = str(tmp_path / "egress")
    pipe.apply_batch(_env_rows(spark, [(1, "insert", "cA", [(0, "user", "a", None)])]), "b0")
    f = ChangeFollower(spark, pipe.table, cursor, out_dir=out)
    f.poll_once()
    v_a = f.cursor()
    pipe.apply_batch(_env_rows(spark, [(2, "update", "cA", [(0, "user", "a1", None)])]), "b1")
    p1 = f.poll_once()           # publishes inc-A-B
    # simulate the crash: cursor file rolled back, new commits land
    with open(cursor, "w") as fh:
        json.dump({"version": v_a}, fh)
    pipe.apply_batch(_env_rows(spark, [(3, "insert", "cB", [(0, "user", "b", None)])]), "b2")
    f2 = ChangeFollower(spark, pipe.table, cursor, out_dir=out)
    assert f2.cursor() == p1["to"], "startup adopted the max published 'to'"
    p2 = f2.poll_once()
    assert p2["from"] == p1["to"], "next window starts where the export ended"
    incs = sorted(os.path.basename(d) for d in
                  __import__("glob").glob(os.path.join(out, "inc-*")))
    froms = [n.split("-")[1] for n in incs]
    assert len(froms) == len(set(froms)) == 2, f"no overlapping windows: {incs}"


def test_follower_callback_before_cursor_advance(spark, tmp_path):
    """on_changes fires BEFORE the cursor advances: a failing callback
    leaves the cursor put and the next poll re-delivers the same window
    (at-least-once for callback-only consumers, not at-most-once)."""
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    cursor = str(tmp_path / "cursor.json")
    pipe.apply_batch(_env_rows(spark, [(1, "insert", "cA", [(0, "user", "a", None)])]), "b0")
    f = ChangeFollower(spark, pipe.table, cursor)
    f.poll_once()
    v0 = f.cursor()
    pipe.apply_batch(_env_rows(spark, [(2, "insert", "cB", [(0, "user", "b", None)])]), "b1")

    def boom(res):
        raise RuntimeError("consumer crashed mid-delivery")

    with pytest.raises(RuntimeError):
        f.poll_once(on_changes=boom)
    assert f.cursor() == v0, "cursor did NOT advance past an undelivered window"

    delivered = []
    p = f.poll_once(on_changes=lambda res: delivered.append(
        {r["conv_id"] for r in res["changes"].collect()}))
    assert p["upserts"] == 1 and delivered == [{"cB"}], "window re-delivered"
    assert f.cursor() == p["to"], "cursor advanced only after delivery"


def test_follower_expired_cursor_needs_resync(spark, tmp_path, caplog):
    """A follower offline past the snapshot retention window surfaces
    needs_resync instead of crashing with FileNotFoundError, and logs a
    warning naming the window and the reason."""
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    cursor = str(tmp_path / "cursor.json")
    pipe.apply_batch(_env_rows(spark, [(1, "insert", "cA", [(0, "user", "a", None)])]), "b0")
    f = ChangeFollower(spark, pipe.table, cursor)
    f.poll_once()
    for i in range(4):
        pipe.apply_batch(_env_rows(spark, [(2 + i, "insert", f"c{i}", [(0, "user", "x", None)])]), f"b{1+i}")
    pipe.table.expire_snapshots(retain_last=2, orphan_grace_seconds=1e9)
    with caplog.at_level("WARNING", logger="hierarchical_to_relational_spark.streaming.egress"):
        p = f.poll_once()
    assert p["needs_resync"] is True
    assert p["redelivered"] == 0
    assert [r.getMessage() for r in caplog.records] == [
        f"feed resync v{p['from']}..v{p['to']}: the cursor's snapshot expired"]


def test_torn_sidecar_raises_instead_of_resync(spark, tmp_path):
    """A torn _file_stats.json is a table-format error: read and poll_once
    raise TableFormatError (a RuntimeError), so the poll neither reads the
    dir unpruned nor reports a resync, and the cursor stays put."""
    import json

    from hierarchical_to_relational_spark.table.snapshot_table import (
        FILE_STATS_NAME, SnapshotTable, TableFormatError,
    )

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    pipe.apply_batch(_env_rows(spark, [(1, "insert", "cA", [(0, "user", "a", None)])]), "b0")
    before = {d for ds in pipe.table.snapshot()["live"].values() for d in ds}
    f = ChangeFollower(spark, SnapshotTable(pipe.table.root), str(tmp_path / "cursor.json"))
    v0 = f.poll_once()["to"]
    pipe.apply_batch(_env_rows(spark, [(2, "insert", "cB", [(0, "user", "b", None)])]), "b1")
    (d,) = {d for ds in pipe.table.snapshot()["live"].values() for d in ds} - before
    sidecar = os.path.join(pipe.table.root, d, FILE_STATS_NAME)
    with open(sidecar) as fh:
        stats = json.dumps(json.load(fh))
    with open(sidecar, "w") as fh:
        fh.write(stats[: len(stats) // 2])
    with pytest.raises(TableFormatError, match=d):
        SnapshotTable(pipe.table.root).read(spark)
    with pytest.raises(TableFormatError, match=d):
        f.poll_once()
    assert f.cursor() == v0


def test_follower_since_ts_start(spark, tmp_path):
    """A brand-new follower with since_ts starts from the snapshot current
    at that wall-clock instant: the first poll emits exactly the commits
    after it (instead of pinning at current and emitting nothing); an
    existing cursor takes precedence over since_ts."""
    import time

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    pipe.apply_batch(_env_rows(spark, [(1, "insert", "cOld", [(0, "user", "old", None)])]), "b0")
    t_mid = time.time()
    pipe.apply_batch(_env_rows(spark, [(2, "insert", "cNew", [(0, "user", "new", None)])]), "b1")

    cursor = str(tmp_path / "cursor.json")
    f = ChangeFollower(spark, pipe.table, cursor, since_ts=t_mid)
    p = f.poll_once(on_changes=lambda res: None)
    assert p["upserts"] == 1, "only the post-since_ts commit is emitted"

    # resumed follower: the cursor wins over since_ts
    pipe.apply_batch(_env_rows(spark, [(3, "insert", "cNew2", [(0, "user", "n2", None)])]), "b2")
    f2 = ChangeFollower(spark, pipe.table, cursor, since_ts=0.0)
    p2 = f2.poll_once()
    assert p2["from"] == p["to"] and p2["upserts"] == 1


def _win_dirs(out):
    import re

    return sorted(os.path.basename(d) for d in os.listdir(out)
                  if re.fullmatch(r"inc-\d+-\d+", d))


def test_callback_redelivered_after_export_crash(spark, tmp_path):
    """out_dir + on_changes: a crash AFTER publishing inc-A-B but BEFORE the
    callback fired must not lose the callback delivery of that window — the
    restarted follower adopts the export cursor but keeps ``acked`` behind
    and re-delivers A-B from its export, then B-C fresh; and it never
    publishes an overlapping inc-A-C."""
    import json

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    cursor = str(tmp_path / "cursor.json")
    out = str(tmp_path / "egress")
    pipe.apply_batch(_env_rows(spark, [(1, "insert", "cA", [(0, "user", "a0", None)])]), "b0")
    f = ChangeFollower(spark, pipe.table, cursor, out_dir=out)
    f.poll_once(on_changes=lambda r: None)  # pin
    v_a = f.cursor()
    pipe.apply_batch(_env_rows(spark, [(2, "insert", "cB", [(0, "user", "b0", None)])]), "b1")
    p1 = f.poll_once(on_changes=lambda r: None)  # exports + delivers inc-A-B
    v_b = p1["to"]
    # simulate the crash between export and callback: cursor rolled back to
    # A with no ack of the published window
    with open(cursor, "w") as fh:
        json.dump({"version": v_a}, fh)
    pipe.apply_batch(_env_rows(spark, [(3, "insert", "cC", [(0, "user", "c0", None)])]), "b2")

    got = []
    f2 = ChangeFollower(spark, pipe.table, cursor, out_dir=out)
    assert f2.cursor() == v_b, "export cursor adopted from the published window"
    assert f2._acked() == v_a, "ack cursor stayed at the last delivered point"
    p2 = f2.poll_once(on_changes=lambda r: got.append((r["from"], r["to"], r["upserts"])))
    assert p2["redelivered"] == 1
    assert got[0] == (v_a, v_b, 1), "published window re-delivered from its export"
    assert got[1] == (v_b, p2["to"], 1), "then the new window"
    assert _win_dirs(out) == [f"inc-{v_a:010d}-{v_b:010d}",
                              f"inc-{v_b:010d}-{p2['to']:010d}"], "no overlap"
    assert f2._acked() == f2.cursor() == p2["to"]


def test_callback_error_with_export_never_overlaps(spark, tmp_path):
    """out_dir + on_changes: a callback error after the export advances the
    EXPORT cursor (so a retry with new commits can never publish an
    overlapping inc-A-C next to inc-A-B) while ``acked`` stays behind; the
    next poll re-delivers A-B from the export and publishes B-C."""
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    cursor = str(tmp_path / "cursor.json")
    out = str(tmp_path / "egress")
    pipe.apply_batch(_env_rows(spark, [(1, "insert", "cA", [(0, "user", "a0", None)])]), "b0")
    f = ChangeFollower(spark, pipe.table, cursor, out_dir=out)
    f.poll_once()  # pin
    v_a = f.cursor()
    pipe.apply_batch(_env_rows(spark, [(2, "insert", "cB", [(0, "user", "b0", None)])]), "b1")

    def boom(res):
        raise RuntimeError("downstream hiccup")

    with pytest.raises(RuntimeError):
        f.poll_once(on_changes=boom)
    v_b = f.cursor()
    assert v_b > v_a and f._acked() == v_a, "export advanced, ack did not"
    # new commits land, then a healthy retry
    pipe.apply_batch(_env_rows(spark, [(3, "insert", "cC", [(0, "user", "c0", None)])]), "b2")
    got = []
    p = f.poll_once(on_changes=lambda r: got.append((r["from"], r["to"])))
    assert [w[:2] for w in got] == [(v_a, v_b), (v_b, p["to"])]
    assert _win_dirs(out) == [f"inc-{v_a:010d}-{v_b:010d}",
                              f"inc-{v_b:010d}-{p['to']:010d}"], "no overlap"


def test_redelivery_gap_falls_back_to_recompute(spark, tmp_path):
    """If a published-but-unacked export was retired (dir deleted), the
    follower recomputes ONE catch-up window via changes_since — the
    callback still converges (net state), nothing is silently skipped."""
    import json
    import shutil

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    cursor = str(tmp_path / "cursor.json")
    out = str(tmp_path / "egress")
    pipe.apply_batch(_env_rows(spark, [(1, "insert", "cA", [(0, "user", "a0", None)])]), "b0")
    f = ChangeFollower(spark, pipe.table, cursor, out_dir=out)
    f.poll_once()
    v_a = f.cursor()
    pipe.apply_batch(_env_rows(spark, [(2, "insert", "cB", [(0, "user", "b0", None)])]), "b1")
    p1 = f.poll_once(on_changes=lambda r: None)
    v_b = p1["to"]
    shutil.rmtree(p1["out_path"])  # retention removed the export
    with open(cursor, "w") as fh:  # ...and the callback was never acked
        json.dump({"version": v_b, "acked": v_a}, fh)

    got = []
    p2 = f.poll_once(on_changes=lambda r: got.append((r["from"], r["to"], r.get("redelivery"))))
    assert p2["redelivered"] == 1 and got == [(v_a, v_b, True)]
    assert f._acked() == f.cursor() == v_b


def test_journal_exact_redelivery_after_retire(spark, tmp_path):
    """Window journal: after retention deletes published-but-unacked
    exports, re-delivery recomputes each ORIGINAL window with its exact
    (from, to] boundaries (not one merged catch-up) — consumers keyed on
    window ids see the same window stream the original run delivered."""
    import json

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    cursor = str(tmp_path / "cursor.json")
    out = str(tmp_path / "egress")
    pipe.apply_batch(_env_rows(spark, [(1, "insert", "cA", [(0, "user", "a0", None)])]), "b0")
    f = ChangeFollower(spark, pipe.table, cursor, out_dir=out)
    f.poll_once()
    v_a = f.cursor()
    pipe.apply_batch(_env_rows(spark, [(2, "insert", "cB", [(0, "user", "b0", None)])]), "b1")
    p1 = f.poll_once(on_changes=lambda r: None)
    pipe.apply_batch(_env_rows(spark, [(3, "insert", "cC", [(0, "user", "c0", None)])]), "b2")
    p2 = f.poll_once(on_changes=lambda r: None)
    v_b, v_c = p1["to"], p2["to"]

    # retention removes BOTH exports; the callback acks are rolled back to
    # v_a (crash lost them) — without the journal this would merge into one
    # (v_a, v_c] catch-up window
    removed = f.retire_exports(keep_last=0, force=True)
    assert len(removed) == 2 and _win_dirs(out) == []
    with open(cursor, "w") as fh:
        json.dump({"version": v_c, "acked": v_a}, fh)

    got = []
    p3 = f.poll_once(on_changes=lambda r: got.append(
        (r["from"], r["to"], r.get("recomputed"))))
    assert p3["redelivered"] == 2
    assert got == [(v_a, v_b, True), (v_b, v_c, True)], \
        "original window boundaries preserved through retirement"
    assert f._acked() == f.cursor() == v_c


def test_retire_exports_refuses_unacked(spark, tmp_path):
    """retire_exports keeps published-but-unacked windows by default (they
    are owed to the callback) and removes acked ones past keep_last."""
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    cursor = str(tmp_path / "cursor.json")
    out = str(tmp_path / "egress")
    pipe.apply_batch(_env_rows(spark, [(1, "insert", "cA", [(0, "user", "a0", None)])]), "b0")
    f = ChangeFollower(spark, pipe.table, cursor, out_dir=out)
    f.poll_once()
    pipe.apply_batch(_env_rows(spark, [(2, "insert", "cB", [(0, "user", "b0", None)])]), "b1")
    f.poll_once()  # export published, but NO callback ever delivered it
    v = f.cursor()
    # force acked behind to model the owed window
    import json
    with open(cursor, "w") as fh:
        json.dump({"version": v, "acked": 1}, fh)
    assert f.retire_exports(keep_last=0) == [], "unacked window kept"
    assert len(_win_dirs(out)) == 1
    with open(cursor, "w") as fh:
        json.dump({"version": v, "acked": v}, fh)
    assert len(f.retire_exports(keep_last=0)) == 1, "acked window retired"
    assert _win_dirs(out) == []


def test_journal_stats_and_audit_exports(spark, tmp_path):
    """Published windows journal op counts + an order-insensitive content
    hash of the EXPORTED bytes; audit_exports() recomputes fingerprints
    from the live dirs and reports divergence (none when untouched, the
    exact window when an export is corrupted)."""
    import json

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    out = str(tmp_path / "egress")
    f = ChangeFollower(spark, pipe.table, str(tmp_path / "cursor.json"),
                       out_dir=out)
    pipe.apply_batch(_env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "a0", None)]),
    ]), "b0")
    f.poll_once()  # pin
    pipe.apply_batch(_env_rows(spark, [
        (2, "insert", "cB", [(0, "user", "b0", None), (1, "agent", "b1", None)]),
        (3, "delete", "cA", None),
    ]), "b1")
    p = f.poll_once()
    assert (p["upserts"], p["deletes"]) == (2, 1)
    lines = [json.loads(x) for x in
             open(os.path.join(out, "_windows.jsonl")).read().splitlines()]
    w = [x for x in lines if x["from"] == p["from"]][0]
    assert (w["upserts"], w["deletes"]) == (2, 1) and w["hash"]
    assert f.audit_exports() == []
    # corrupt the published window: drop one parquet part file
    parts = [x for x in os.listdir(p["out_path"]) if x.endswith(".parquet")]
    os.unlink(os.path.join(p["out_path"], parts[0]))
    bad = f.audit_exports()
    assert len(bad) == 1 and bad[0]["from"] == p["from"]
    assert bad[0]["expected"]["hash"] != bad[0]["found"]["hash"] or \
        bad[0]["expected"]["upserts"] != bad[0]["found"]["upserts"]


def test_audit_reports_export_with_no_part_file(spark, tmp_path):
    """An export dir that lost every part file audits as an empty window
    (0 upserts, 0 deletes, no hash): that window, and only it, is
    reported as divergent."""
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    f = ChangeFollower(spark, pipe.table, str(tmp_path / "cursor.json"),
                       out_dir=str(tmp_path / "egress"))
    pipe.apply_batch(_env_rows(spark, [(1, "insert", "cA", [(0, "user", "a0", None)])]), "b0")
    f.poll_once()  # pin
    polls = []
    for i, rows in enumerate([
        [(2, "insert", "cB", [(0, "user", "b0", None)]), (3, "delete", "cA", None)],
        [(4, "insert", "cC", [(0, "user", "c0", None)])],
    ]):
        pipe.apply_batch(_env_rows(spark, rows), f"b{i + 1}")
        polls.append(f.poll_once())
    assert f.audit_exports() == []
    p = polls[0]
    for x in os.listdir(p["out_path"]):
        if x.endswith(".parquet"):
            os.unlink(os.path.join(p["out_path"], x))
    bad = f.audit_exports()
    assert [(b["from"], b["to"]) for b in bad] == [(p["from"], p["to"])]
    assert bad[0]["expected"]["upserts"] == 1 and bad[0]["expected"]["deletes"] == 1
    assert bad[0]["found"] == {"upserts": 0, "deletes": 0, "hash": None}


def test_audit_recomputes_retired_windows(spark, tmp_path):
    """After retention deletes a published export, audit_exports with
    recompute_retired=True reproduces the window via changes_since and
    verifies it against the journal fingerprint; a tampered journal line
    is flagged; an expired source makes it 'unverifiable', never a silent
    pass."""
    import json

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    out = str(tmp_path / "egress")
    f = ChangeFollower(spark, pipe.table, str(tmp_path / "cursor.json"),
                       out_dir=out)
    pipe.apply_batch(_env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "a0", None)]),
    ]), "b0")
    f.poll_once()
    pipe.apply_batch(_env_rows(spark, [
        (2, "insert", "cB", [(0, "user", "b0", None)]),
    ]), "b1")
    p1 = f.poll_once(on_changes=lambda r: None)   # acked → retirable
    pipe.apply_batch(_env_rows(spark, [
        (3, "update", "cA", [(0, "user", "a0-v2", None)]),
    ]), "b2")
    f.poll_once(on_changes=lambda r: None)
    assert f.retire_exports(keep_last=1) == [p1["out_path"]]
    # the retired window recomputes clean; live window verifies from disk
    assert f.audit_exports(recompute_retired=True) == []
    # tamper the retired window's journal hash → flagged
    jp = os.path.join(out, "_windows.jsonl")
    lines = [json.loads(x) for x in open(jp).read().splitlines()]
    for w in lines:
        if w["from"] == p1["from"]:
            w["hash"] = "12345"
    with open(jp, "w") as fh:
        fh.write("\n".join(json.dumps(w) for w in lines) + "\n")
    bad = f.audit_exports(recompute_retired=True)
    assert len(bad) == 1 and bad[0]["from"] == p1["from"]
    assert bad[0]["path"] is None and "unverifiable" not in bad[0]


def test_window_stats_guard_map_columns(spark):
    """ADVICE r5: xxhash64 rejects MapType (top-level or nested) at
    analysis time — the window fingerprint must skip such columns so
    poll_once itself can't be taken down by an exotic schema, degrading
    to counts-only when nothing is hashable."""
    df = spark.createDataFrame(
        [("u", {"a": 1}), ("d", {"b": 2}), ("u", {"c": 3})],
        "change_op string, attrs map<string,int>")
    # map column excluded, the string column still hashes
    assert ChangeFollower._hashable_cols(df) == ["change_op"]
    stats = ChangeFollower._window_stats(df)
    assert stats["upserts"] == 2 and stats["deletes"] == 1
    assert stats["hash"] is not None

    # nested maps (array<map>, struct<... map ...>) are excluded too
    nested = spark.createDataFrame(
        [("u", [{"a": 1}], ({"b": 2},))],
        "change_op string, am array<map<string,int>>, "
        "sm struct<m: map<string,int>>")
    assert ChangeFollower._hashable_cols(nested) == ["change_op"]

    # stats computed over a map-bearing window journal the same counts a
    # map-free schema would — and audit recomputes through the same
    # helper, so write and audit stay comparable
    assert ChangeFollower._window_stats(nested)["upserts"] == 1


def test_audit_checks_counts_of_counts_only_window(spark, tmp_path):
    """ADVICE r6: a journal line carrying counts but no hash (a window
    fingerprinted counts-only) is still audited — a row deleted from its
    export shows up as an upsert-count divergence, not a silent pass."""
    import json

    import pyarrow.parquet as papq
    from pyspark.sql import types as T

    from hierarchical_to_relational_spark.operators.merge import (
        apply_cdc_batch,
        table_schema_for,
    )
    from hierarchical_to_relational_spark.table import SnapshotTable

    payload = [T.StructField("conv_id", T.StringType(), False),
               T.StructField("turn_idx", T.IntegerType(), True),
               T.StructField("attrs", T.MapType(T.StringType(), T.IntegerType()), True)]
    table = SnapshotTable.create(str(tmp_path / "t"), table_schema_for(payload), n_buckets=2)
    batch_schema = T.StructType(payload + [
        T.StructField("_lsn", T.LongType(), False),
        T.StructField("_commit_ts", T.TimestampType(), True),
        T.StructField("_op", T.StringType(), False),
    ])

    def apply(rows, batch_id):
        apply_cdc_batch(spark, table, spark.createDataFrame(rows, batch_schema), batch_id)

    apply([("cA", 0, {"a": 1}, 1, None, "u")], "b0")
    out = str(tmp_path / "egress")
    f = ChangeFollower(spark, table, str(tmp_path / "cursor.json"), out_dir=out)
    f.poll_once()  # pin
    apply([("cB", 0, {"b": 2}, 2, None, "u"), ("cC", 0, {"c": 3}, 3, None, "u")], "b1")
    p = f.poll_once()
    assert (p["upserts"], p["deletes"]) == (2, 0)

    # the window's journal line keeps its counts but carries no hash
    jp = os.path.join(out, "_windows.jsonl")
    lines = [json.loads(x) for x in open(jp).read().splitlines()]
    for w in lines:
        w.pop("hash", None)
    with open(jp, "w") as fh:
        fh.write("\n".join(json.dumps(w) for w in lines) + "\n")
    assert f.audit_exports() == []

    # delete one row from the published export
    exported = papq.read_table(p["out_path"])
    for name in os.listdir(p["out_path"]):
        if name.endswith(".parquet"):
            os.unlink(os.path.join(p["out_path"], name))
    papq.write_table(exported.slice(1), os.path.join(p["out_path"], "part-00000.parquet"))
    bad = f.audit_exports()
    assert len(bad) == 1 and bad[0]["from"] == p["from"]
    assert bad[0]["expected"] == {"upserts": 2, "deletes": 0}
    assert bad[0]["found"] == {"upserts": 1, "deletes": 0}
