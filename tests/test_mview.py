"""ConvAggregateView: incremental materialized aggregates over the CDC
table's change stream — refresh cost O(changed conversations), results
always equal to a from-scratch recompute."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hierarchical_to_relational_spark.operators.merge import read_transcripts
from hierarchical_to_relational_spark.operators.mview import ConvAggregateView
from hierarchical_to_relational_spark.streaming.driver import CdcPipeline
from tests.test_cdc import _env_rows


def _recompute(spark, table):
    """Independent from-scratch recompute of the default aggregate."""
    rows = read_transcripts(spark, table)
    return {
        r["conv_id"]: (r["n_turns"], r["last_ts"], r["n_roles"], r["chars"])
        for r in rows.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.max("ts").alias("last_ts"),
            F.countDistinct("role").alias("n_roles"),
            F.sum(F.length("text")).alias("chars"),
        ).collect()
    }


def _mv_state(mv):
    return {r["conv_id"]: (r["n_turns"], r["last_ts"], r["n_roles"], r["chars"])
            for r in mv.read().collect()}


def test_incremental_matches_recompute_through_updates_and_deletes(spark, tmp_path):
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=4, text_mode="none")
    mv = ConvAggregateView(spark, pipe.table, str(tmp_path / "mv"))

    pipe.apply_batch(_env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "a0", None), (1, "assistant", "a1", None)]),
        (2, "insert", "cB", [(0, "user", "b0", None)]),
    ]), "b0")
    r0 = mv.refresh()
    assert r0["mode"] == "full"
    assert _mv_state(mv) == _recompute(spark, pipe.table)

    # update one conv, insert another — refresh touches ONLY those convs
    pipe.apply_batch(_env_rows(spark, [
        (3, "update", "cA", [(1, "assistant", "a1-longer-text", None)]),
        (4, "insert", "cC", [(0, "user", "c0", None)]),
    ]), "b1")
    r1 = mv.refresh()
    assert r1["mode"] == "incremental" and r1["changed_convs"] == 2
    assert _mv_state(mv) == _recompute(spark, pipe.table)

    # delete a conversation → its MV row disappears
    pipe.apply_batch(_env_rows(spark, [(5, "delete", "cB", None)]), "b2")
    r2 = mv.refresh()
    assert r2["mode"] == "incremental"
    st = _mv_state(mv)
    assert "cB" not in st and st == _recompute(spark, pipe.table)

    # no new commits → noop, cursor stays
    r3 = mv.refresh()
    assert r3["mode"] == "noop" and not r3["committed"]


def test_refresh_is_crash_idempotent(spark, tmp_path):
    """A refresh replayed after a crash (cursor file lost after commit)
    converges to the same state: LWW rows keyed on the source version
    commute, and the commit batch_id dedups the exact replay."""
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    mv = ConvAggregateView(spark, pipe.table, str(tmp_path / "mv"))
    pipe.apply_batch(_env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "a0", None)]),
    ]), "b0")
    mv.refresh()
    want = _mv_state(mv)
    os.remove(os.path.join(str(tmp_path / "mv"), "_mview_cursor.json"))
    mv2 = ConvAggregateView(spark, pipe.table, str(tmp_path / "mv"))
    rep = mv2.refresh()  # cursor lost → full rebuild, same state
    assert rep["mode"] == "full"
    assert _mv_state(mv2) == want == _recompute(spark, pipe.table)
    # exact same-window replay (same batch_id) is a no-op commit
    rep2 = mv2.full_refresh()
    assert rep2["committed"] is False


def test_expired_cursor_falls_back_to_full_and_reconciles_deletes(spark, tmp_path):
    """When the MV cursor's snapshot expired, refresh() full-rebuilds —
    including removing MV rows whose conversations were deleted while the
    window was lost."""
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    mv = ConvAggregateView(spark, pipe.table, str(tmp_path / "mv"))
    pipe.apply_batch(_env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "a0", None)]),
        (2, "insert", "cB", [(0, "user", "b0", None)]),
    ]), "b0")
    mv.refresh()
    # the window the cursor points into expires
    pipe.apply_batch(_env_rows(spark, [(3, "delete", "cB", None)]), "b1")
    pipe.apply_batch(_env_rows(spark, [
        (4, "update", "cA", [(0, "user", "a0x", None)]),
    ]), "b2")
    pipe.table.expire_snapshots(retain_last=1, orphan_grace_seconds=0.0)
    rep = mv.refresh()
    assert rep["mode"] == "full"
    st = _mv_state(mv)
    assert "cB" not in st and st == _recompute(spark, pipe.table)


def test_custom_aggregates_and_mv_time_travel(spark, tmp_path):
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    mv = ConvAggregateView(
        spark, pipe.table, str(tmp_path / "mv"),
        aggs={"n_user": F.count(F.lit(1)).alias("x"),
              "longest": F.max(F.length("text"))},
    )
    pipe.apply_batch(_env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "hi", None)]),
    ]), "b0")
    mv.refresh()
    v1 = mv.table.current_version()
    pipe.apply_batch(_env_rows(spark, [
        (2, "update", "cA", [(1, "assistant", "a-much-longer-reply", None)]),
    ]), "b1")
    mv.refresh()
    now = {r["conv_id"]: (r["n_user"], r["longest"]) for r in mv.read().collect()}
    assert now == {"cA": (2, len("a-much-longer-reply"))}
    then = {r["conv_id"]: (r["n_user"], r["longest"])
            for r in mv.read(version=v1).collect()}
    assert then == {"cA": (1, 2)}, "the MV is itself time-travelable"


def test_refresh_many_shares_one_scan(spark, tmp_path):
    """Two views over one source refresh from ONE change scan + ONE pruned
    read; both equal their individually-refreshed twins."""
    from hierarchical_to_relational_spark.operators.mview import refresh_many

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    v_default = ConvAggregateView(spark, pipe.table, str(tmp_path / "mv1"))
    v_custom = ConvAggregateView(
        spark, pipe.table, str(tmp_path / "mv2"),
        aggs={"longest": F.max(F.length("text"))})

    pipe.apply_batch(_env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "a0", None)]),
        (2, "insert", "cB", [(0, "user", "b-longer", None)]),
    ]), "b0")
    r = refresh_many([v_default, v_custom])
    assert [x["mode"] for x in r] == ["full", "full"], "first build each"

    pipe.apply_batch(_env_rows(spark, [
        (3, "update", "cB", [(1, "assistant", "reply", None)]),
        (4, "delete", "cA", None),
    ]), "b1")
    r = refresh_many([v_default, v_custom])
    assert all(x["mode"] == "incremental" and x["shared_scan"] for x in r)
    assert _mv_state(v_default) == _recompute(spark, pipe.table)
    assert ({row["conv_id"]: row["longest"] for row in v_custom.read().collect()}
            == {"cB": len("b-longer")})

    # idle: both no-op, cursors advance nowhere new
    r = refresh_many([v_default, v_custom])
    assert [x["mode"] for x in r] == ["noop", "noop"]

    # a straggler view (older cursor) joins a shared refresh: superset
    # window recompute is still exact
    v_late = ConvAggregateView(spark, pipe.table, str(tmp_path / "mv3"))
    v_late.full_refresh()
    pipe.apply_batch(_env_rows(spark, [
        (5, "insert", "cC", [(0, "user", "c0", None)]),
    ]), "b2")
    pipe.apply_batch(_env_rows(spark, [
        (6, "update", "cC", [(1, "tool", "t", None)]),
    ]), "b3")
    v_default.refresh()  # ahead
    pipe.apply_batch(_env_rows(spark, [
        (7, "insert", "cD", [(0, "user", "d0", None)]),
    ]), "b4")
    r = refresh_many([v_default, v_late])
    assert all(x["mode"] == "incremental" for x in r)
    assert _mv_state(v_default) == _mv_state(v_late) == _recompute(spark, pipe.table)


def test_windowed_view_daily_rollup_delete_then_readd(spark, tmp_path):
    """window_col turns the view into an event-time rollup: one row per
    (conv_id, window). A change that moves turns OUT of a window must
    vacate that window's row (delete-then-readd semantics) — the classic
    incremental-maintenance hazard delta-apply schemes get wrong."""
    import datetime

    from hierarchical_to_relational_spark.operators.mview import refresh_many
    from hierarchical_to_relational_spark.sources.binlog import envelope_schema

    def _env_rows_ts(spark, rows):
        # like test_cdc._env_rows, but each turn carries its own event ts
        commit = datetime.datetime(2026, 1, 1)
        data = [
            (lsn, commit, op, cid,
             None if turns is None else {"turns": [
                 {"turn_idx": i, "role": r, "text": t, "tool": tool, "ts": tts}
                 for (i, r, t, tool, tts) in turns
             ]})
            for (lsn, op, cid, turns) in rows
        ]
        return spark.createDataFrame(data, envelope_schema())

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    mv = ConvAggregateView(
        spark, pipe.table, str(tmp_path / "mv"),
        aggs={"n_turns": F.count(F.lit(1))},
        window_col=F.datediff(F.col("ts"), F.lit("1970-01-01")),
    )
    d1 = datetime.datetime(2026, 1, 1, 10)
    d2 = datetime.datetime(2026, 1, 2, 10)
    w1 = (d1.date() - datetime.date(1970, 1, 1)).days
    w2 = (d2.date() - datetime.date(1970, 1, 1)).days
    pipe.apply_batch(_env_rows_ts(spark, [
        (1, "insert", "cA", [(0, "user", "a0", None, d1),
                             (1, "assistant", "a1", None, d1),
                             (2, "user", "a2", None, d2)]),
    ]), "b0")
    mv.refresh()
    rows = {(r["conv_id"], r["window_id"]): r["n_turns"] for r in mv.read().collect()}
    assert rows == {("cA", w1): 2, ("cA", w2): 1}

    # the day-2 turn moves to day 1: window w2 must VANISH, w1 grows
    pipe.apply_batch(_env_rows_ts(spark, [
        (2, "update", "cA", [(2, "user", "a2-moved", None, d1)]),
    ]), "b1")
    rep = mv.refresh()
    assert rep["mode"] == "incremental"
    rows = {(r["conv_id"], r["window_id"]): r["n_turns"] for r in mv.read().collect()}
    assert rows == {("cA", w1): 3}, "vacated window deleted, not orphaned"

    # windowed + plain views share one scan in refresh_many
    plain = ConvAggregateView(spark, pipe.table, str(tmp_path / "mvp"),
                              aggs={"n_turns": F.count(F.lit(1))})
    pipe.apply_batch(_env_rows_ts(spark, [
        (3, "insert", "cB", [(0, "user", "b0", None, d2)]),
    ]), "b2")
    reps = refresh_many([mv, plain])
    assert reps[0]["mode"] == "incremental" and reps[1]["mode"] == "full"
    rows = {(r["conv_id"], r["window_id"]): r["n_turns"] for r in mv.read().collect()}
    assert rows == {("cA", w1): 3, ("cB", w2): 1}
    assert ({r["conv_id"]: r["n_turns"] for r in plain.read().collect()}
            == {"cA": 3, "cB": 1})

    # delete the conversation: every one of its windows dies
    pipe.apply_batch(_env_rows_ts(spark, [(4, "delete", "cA", None)]), "b3")
    refresh_many([mv, plain])
    rows = {(r["conv_id"], r["window_id"]): r["n_turns"] for r in mv.read().collect()}
    assert rows == {("cB", w2): 1}


def test_sql_declared_aggs(spark, tmp_path):
    """Aggs declared as SQL strings (the CLI --agg surface) behave exactly
    like Column aggs."""
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    pipe.apply_batch(_env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "hello", None), (1, "agent", "hi", None)]),
        (2, "insert", "cB", [(0, "user", "yo", None)]),
    ]), "b0")
    mv = ConvAggregateView(spark, pipe.table, str(tmp_path / "mv"),
                           aggs={"n_turns": "count(*)",
                                 "chars": "sum(length(text))"})
    mv.refresh()
    got = {r["conv_id"]: (r["n_turns"], r["chars"]) for r in mv.read().collect()}
    assert got == {"cA": (2, 7), "cB": (1, 2)}


def test_chained_view_over_windowed_view(spark, tmp_path):
    """View chaining: source → per-(conv, day) windowed MV → per-conv
    rollup over the MV. Changes propagate level-by-level, the downstream
    refresh is incremental (O(changed convs) of the UPSTREAM window), and
    both levels always equal a from-scratch recompute."""
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")

    pipe.apply_batch(_env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "a0", None), (1, "agent", "a1", None)]),
        (2, "insert", "cB", [(0, "user", "b0", None)]),
    ]), "b0")

    daily = ConvAggregateView(
        spark, pipe.table, str(tmp_path / "mv1"),
        aggs={"n_turns": "count(*)", "chars": "sum(length(text))"},
        window_col=F.datediff(F.col("ts"), F.lit("1970-01-01")))
    rollup = ConvAggregateView(
        spark, daily, str(tmp_path / "mv2"),   # source = the upstream VIEW
        aggs={"n_days": "count(*)", "total_turns": "sum(n_turns)",
              "total_chars": "sum(chars)"})
    with pytest.raises(ValueError):
        rollup.refresh()  # upstream never refreshed → explicit error
    daily.refresh()
    r = rollup.refresh()
    assert r["mode"] == "full"

    def recompute():
        per_day = read_transcripts(spark, pipe.table).groupBy(
            "conv_id",
            F.datediff(F.col("ts"), F.lit("1970-01-01")).alias("w")).agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("chars"))
        return {r["conv_id"]: (r["n_days"], r["total_turns"], r["total_chars"])
                for r in per_day.groupBy("conv_id").agg(
                    F.count(F.lit(1)).alias("n_days"),
                    F.sum("n_turns").alias("total_turns"),
                    F.sum("chars").alias("total_chars")).collect()}

    def mv2_state():
        return {r["conv_id"]: (r["n_days"], r["total_turns"], r["total_chars"])
                for r in rollup.read().collect()}

    assert mv2_state() == recompute()

    # incremental propagation: touch ONE conversation upstream
    pipe.apply_batch(_env_rows(spark, [
        (3, "update", "cA", [(1, "agent", "a1-much-longer", None)]),
    ]), "b1")
    d1 = daily.refresh()
    assert d1["mode"] == "incremental" and d1["changed_convs"] == 1
    r1 = rollup.refresh()
    assert r1["mode"] == "incremental" and r1["changed_convs"] == 1
    assert mv2_state() == recompute()

    # delete propagates: conv vanishes from BOTH levels
    pipe.apply_batch(_env_rows(spark, [(4, "delete", "cB", None)]), "b2")
    daily.refresh()
    rollup.refresh()
    assert "cB" not in mv2_state() and mv2_state() == recompute()


def test_refresh_dag_propagates_one_wave(spark, tmp_path):
    """refresh_dag: one call refreshes base-level views via the shared
    scan and chained views AFTER their upstream committed — a single
    change wave reaches the deepest level."""
    from hierarchical_to_relational_spark.operators.mview import refresh_dag

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    pipe.apply_batch(_env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "a0", None), (1, "agent", "a1", None)]),
        (2, "insert", "cB", [(0, "user", "b0", None)]),
    ]), "b0")

    daily = ConvAggregateView(
        spark, pipe.table, str(tmp_path / "mv1"),
        aggs={"n_turns": "count(*)", "chars": "sum(length(text))"},
        window_col=F.datediff(F.col("ts"), F.lit("1970-01-01")))
    profile = ConvAggregateView(spark, pipe.table, str(tmp_path / "mv1b"))
    rollup = ConvAggregateView(
        spark, daily, str(tmp_path / "mv2"),
        aggs={"total_turns": "sum(n_turns)"})
    # input order deliberately downstream-first: the DAG must reorder
    reps = refresh_dag([rollup, profile, daily])
    assert [r["mode"] for r in reps] == ["full", "full", "full"]
    # same-source level-0 views shared one scan on the next (incremental) wave
    pipe.apply_batch(_env_rows(spark, [
        (3, "update", "cA", [(1, "agent", "a1-longer", None)]),
    ]), "b1")
    reps = refresh_dag([rollup, profile, daily])
    assert [r["mode"] for r in reps] == ["incremental"] * 3
    assert reps[1].get("shared_scan") and reps[2].get("shared_scan")
    got = {r["conv_id"]: r["total_turns"] for r in rollup.read().collect()}
    want = {r["conv_id"]: r["n"] for r in
            read_transcripts(spark, pipe.table)
            .groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want
    # a hand-wired cycle fails loudly
    a = ConvAggregateView(spark, pipe.table, str(tmp_path / "x"))
    b = ConvAggregateView(spark, a, str(tmp_path / "y"))
    a._source = b
    with pytest.raises(ValueError, match="cycle"):
        refresh_dag([a, b])


def test_refresh_dag_duplicate_view_instance_refreshes_once(spark, tmp_path):
    """ADVICE r5: the same view instance passed twice used to KeyError
    (reports were keyed by id(view)) after double-refreshing it; now the
    input is deduped by identity — one refresh, report repeated."""
    from hierarchical_to_relational_spark.operators.mview import refresh_dag

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    pipe.apply_batch(_env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "a0", None)]),
    ]), "b0")
    v = ConvAggregateView(spark, pipe.table, str(tmp_path / "mv"))
    reps = refresh_dag([v, v, v])
    # one real refresh (a double refresh would report noop at position 0)
    assert [r["mode"] for r in reps] == ["full", "full", "full"]
    assert reps[0] == reps[1] == reps[2]
    pipe.apply_batch(_env_rows(spark, [
        (2, "update", "cA", [(0, "user", "a0-upd", None)]),
    ]), "b1")
    reps = refresh_dag([v, v])
    assert [r["mode"] for r in reps] == ["incremental", "incremental"]
    assert _mv_state(v) == _recompute(spark, pipe.table)


def test_incremental_refresh_batch_plans_no_python_rdd(spark, tmp_path, monkeypatch):
    """The affected-conversation frame of an incremental refresh is built
    in the JVM: the batch handed to apply_cdc_batch plans no PythonRDD, so
    a refresh commit starts no Python workers (refresh and refresh_many)."""
    from hierarchical_to_relational_spark.operators import mview
    from hierarchical_to_relational_spark.operators.mview import refresh_many

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    one = ConvAggregateView(spark, pipe.table, str(tmp_path / "mv1"))
    two = ConvAggregateView(spark, pipe.table, str(tmp_path / "mv2"))
    pipe.apply_batch(_env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "a0", None)]),
        (2, "insert", "cB", [(0, "user", "b0", None)]),
    ]), "b0")
    one.refresh()
    two.refresh()

    batches = []
    real_apply = mview.apply_cdc_batch

    def capture(spark_, table, batch, *a, **kw):
        batches.append(batch)
        return real_apply(spark_, table, batch, *a, **kw)

    monkeypatch.setattr(mview, "apply_cdc_batch", capture)
    pipe.apply_batch(_env_rows(spark, [
        (3, "update", "cA", [(1, "assistant", "a1", None)]),
        (4, "delete", "cB", None),
    ]), "b1")
    assert one.refresh()["mode"] == "incremental"
    assert [x["mode"] for x in refresh_many([two])] == ["incremental"]
    assert len(batches) == 2
    for batch in batches:
        rdd = batch._jdf.queryExecution().toRdd().toDebugString()
        assert "PythonRDD" not in rdd, rdd
    assert _mv_state(one) == _mv_state(two) == _recompute(spark, pipe.table)


@pytest.mark.parametrize("case", ["compaction", "rollback", "rebucket", "merge", "late_upsert"])
def test_refresh_over_rare_windows(spark, tmp_path, case):
    """Windows the hot path never sees: a compaction alone is a noop with
    no commit; a rollback retracting a conversation that lives only in
    the retracted dir, a rebucket, a branch merge that adopts the
    branch's compacted buckets and a late upsert below a tombstone all
    leave the view equal to a recompute."""
    from hierarchical_to_relational_spark.operators.merge import compact, evolve_buckets
    from tests.test_cdc import _merge_branch_window, _rebucket_batch

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    mv = ConvAggregateView(spark, pipe.table, str(tmp_path / "mv"))
    for i in range(2):
        pipe.apply_batch(_env_rows(spark, _rebucket_batch(i)), f"b{i}")
    v_good = pipe.table.current_version()
    assert mv.refresh()["mode"] == "full"
    mv_version = mv.table.current_version()

    if case == "compaction":
        assert compact(spark, pipe.table, "compact-0")
        r = mv.refresh()
        assert r["mode"] == "noop" and not r["committed"]
        assert mv.table.current_version() == mv_version
        assert mv.cursor() == pipe.table.current_version()
    elif case == "rollback":
        pipe.apply_batch(_env_rows(spark, [
            (900, "insert", "cNew", [(0, "user", "rolled back", None)]),
        ]), "b2")
        mv.refresh()
        assert "cNew" in _mv_state(mv)
        pipe.table.rollback(v_good, batch_id="rb0")
        assert mv.refresh()["mode"] == "incremental"
        assert "cNew" not in _mv_state(mv)
    elif case == "rebucket":
        pipe.apply_batch(_env_rows(spark, _rebucket_batch(2)), "b2")
        assert evolve_buckets(spark, pipe.table, 4, "rebucket-0")
        pipe.apply_batch(_env_rows(spark, _rebucket_batch(3)), "b3")
        assert mv.refresh()["mode"] == "incremental"
    elif case == "merge":
        _merge_branch_window(spark, pipe, _rebucket_batch(2))
        assert mv.refresh()["mode"] == "incremental"
    else:
        pipe.apply_batch(_env_rows(spark, [(5000, "delete", "c3", None)]), "b2")
        mv.refresh()
        pipe.apply_batch(_env_rows(spark, [
            (4000, "update", "c3", [(7, "user", "late", None)]),
        ]), "b3")
        mv.refresh()
        assert "c3" not in _mv_state(mv)
    assert _mv_state(mv) == _recompute(spark, pipe.table)
