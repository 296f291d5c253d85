"""CDC vertical slice: datagen → normalize → merge → read, verified against
the independent pure-pandas replay oracle (SURVEY.md §5.4, §7.2).

Judged invariants covered here (BASELINE.json north_rule):
- final-state equality: per-turn text equality under stable
  (conv_id, turn_idx) ordering;
- order-insensitivity: two different shuffles/batchings of the same event
  set yield identical final state;
- exactly-once: re-firing the same batch_id is a no-op;
- deletes: whole-conversation tombstones kill older turns, spare newer;
- schema evolution: additively-widened late events widen the target.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hierarchical_to_relational_spark import datagen
from hierarchical_to_relational_spark.operators.merge import read_transcripts
from hierarchical_to_relational_spark.sources.binlog import envelope_schema
from hierarchical_to_relational_spark.streaming.driver import CdcPipeline
from pyspark.sql import types as T


SPEC = datagen.BinlogSpec(n_events=400, n_convs=25, seed=7)


@pytest.fixture(scope="module")
def binlog(tmp_path_factory):
    d = tmp_path_factory.mktemp("binlog")
    events = datagen.generate_events(SPEC)
    stream = datagen.arrival_order(events, SPEC)
    paths = datagen.write_binlog(stream, str(d), n_segments=6)
    return {"dir": str(d), "paths": paths, "events": events}


def _final_state(spark, table) -> pd.DataFrame:
    return (
        read_transcripts(spark, table)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )


def _assert_matches_oracle(spark, pipe, events):
    got = _final_state(spark, pipe.table)
    want = datagen.expected_state(events)
    pd.testing.assert_frame_equal(
        got.astype({"turn_idx": "int64"}),
        want.astype({"turn_idx": "int64"}),
        check_dtype=False,
    )


def test_batch_replay_matches_oracle(spark, tmp_path, binlog):
    """Apply all segments as one batch; final state == pandas oracle."""
    pipe = CdcPipeline(spark, binlog["dir"], str(tmp_path / "t"), str(tmp_path / "ck"),
                       n_buckets=8, text_mode="none")
    pipe.replay_batch(binlog["dir"], "all")
    _assert_matches_oracle(spark, pipe, binlog["events"])


def test_incremental_equals_one_shot_and_batching_insensitive(spark, tmp_path, binlog):
    """Segment-at-a-time replay (out-of-order, duplicated arrivals split
    across arbitrary batch boundaries) converges to the same state."""
    pipe = CdcPipeline(spark, binlog["dir"], str(tmp_path / "t"), str(tmp_path / "ck"),
                       n_buckets=8, text_mode="none")
    for i, p in enumerate(binlog["paths"]):
        pipe.replay_batch(p, f"seg-{i}")
    _assert_matches_oracle(spark, pipe, binlog["events"])
    # different batching: reversed pairs of segments into a second table
    pipe2 = CdcPipeline(spark, binlog["dir"], str(tmp_path / "t2"), str(tmp_path / "ck2"),
                        n_buckets=8, text_mode="none")
    rev = list(reversed(binlog["paths"]))
    for i in range(0, len(rev), 2):
        pipe2.replay_batch(rev[i : i + 2], f"pair-{i}")
    pd.testing.assert_frame_equal(_final_state(spark, pipe.table), _final_state(spark, pipe2.table))


def test_exactly_once_refire_batch(spark, tmp_path, binlog):
    """Re-firing an applied batch_id leaves version + state unchanged."""
    pipe = CdcPipeline(spark, binlog["dir"], str(tmp_path / "t"), str(tmp_path / "ck"),
                       n_buckets=8, text_mode="none")
    m1 = pipe.replay_batch(binlog["paths"][0], "seg-0")
    assert m1["committed"] is True
    v = pipe.table.current_version()
    before = _final_state(spark, pipe.table)
    m2 = pipe.replay_batch(binlog["paths"][0], "seg-0")
    assert m2["committed"] is False
    assert pipe.table.current_version() == v
    pd.testing.assert_frame_equal(before, _final_state(spark, pipe.table))


def test_delete_semantics(spark, tmp_path):
    """Tombstone kills older turns; re-insert after delete survives; a
    late-arriving pre-delete event stays dead."""
    rows = [
        # lsn, op, conv, turns
        (1, "insert", "cA", [(0, "user", "hello", None), (1, "assistant", "hi", None)]),
        (2, "insert", "cB", [(0, "user", "keep me", None)]),
        (3, "delete", "cA", None),
        (4, "insert", "cA", [(0, "user", "reborn", None)]),
    ]
    late = [(2, "insert", "cA", [(5, "user", "late pre-delete", None)])]  # lsn 2 < delete lsn 3

    def env_df(rws):
        ts = pd.Timestamp("2026-01-01")
        data = [
            (
                lsn,
                ts.to_pydatetime(),
                op,
                cid,
                None if turns is None else {"turns": [
                    {"turn_idx": i, "role": r, "text": t, "tool": tool, "ts": ts.to_pydatetime()}
                    for (i, r, t, tool) in turns
                ]},
            )
            for (lsn, op, cid, turns) in rws
        ]
        return spark.createDataFrame(data, envelope_schema())

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"), str(tmp_path / "ck"),
                       n_buckets=4, text_mode="none")
    pipe.apply_batch(env_df(rows), "b1")
    pipe.apply_batch(env_df(late), "b2")  # must NOT resurrect cA turn 5
    got = {
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in read_transcripts(spark, pipe.table).collect()
    }
    assert got == {("cA", 0, "reborn"), ("cB", 0, "keep me")}


def test_schema_evolution_widens_target(spark, tmp_path):
    """F6b: late events carry an additive turn field → the target table is
    widened before merge; earlier rows read as null."""
    spec_old = datagen.BinlogSpec(n_events=60, n_convs=6, seed=11, delete_rate=0.0)
    spec_new = datagen.BinlogSpec(n_events=60, n_convs=6, seed=12, delete_rate=0.0, evolve_after=0)
    old_events = datagen.generate_events(spec_old)
    new_events = datagen.generate_events(spec_new)
    new_events["lsn"] = new_events["lsn"] + 1000
    d_old, d_new = str(tmp_path / "old"), str(tmp_path / "new")
    datagen.write_binlog(old_events.rename(columns={}), d_old, n_segments=1)
    datagen.write_binlog(new_events, d_new, n_segments=1, evolved=True)

    pipe = CdcPipeline(spark, d_old, str(tmp_path / "t"), str(tmp_path / "ck"),
                       n_buckets=4, text_mode="none")
    pipe.replay_batch(d_old, "b-old")
    assert "model" not in pipe.table.schema().fieldNames()

    evolved_env = envelope_schema([T.StructField("model", T.StringType(), True)])
    env = spark.read.schema(evolved_env).parquet(d_new)
    pipe.apply_batch(env, "b-new")
    assert "model" in pipe.table.schema().fieldNames()

    out = read_transcripts(spark, pipe.table)
    assert "model" in out.columns
    n_new = out.where(F.col("model").isNotNull()).count()
    n_old = out.where(F.col("model").isNull()).count()
    assert n_new > 0 and n_old > 0


def _extra_envs(spark, rows, extra=None):
    """rows: (lsn, op, conv_id, [(turn_idx, role, text, value)]) → envelopes
    whose turns carry the extra turn field ``extra`` (a StructField) set to
    ``value``; with ``extra=None`` the base envelope schema (value unused)."""
    ts = pd.Timestamp("2026-01-01").to_pydatetime()
    data = [
        (lsn, ts, op, cid,
         None if turns is None else {"turns": [
             {"turn_idx": i, "role": r, "text": t, "tool": None, "ts": ts,
              **({extra.name: x} if extra else {})}
             for (i, r, t, x) in turns]})
        for (lsn, op, cid, turns) in rows
    ]
    return spark.createDataFrame(data, envelope_schema([extra] if extra else None))


def _rating_envs(spark, rows, rating_type):
    """rows: (lsn, op, conv_id, [(turn_idx, role, text, rating)]) with a
    numeric ``rating`` turn column of the given Spark type."""
    return _extra_envs(spark, rows, T.StructField("rating", rating_type, True))


def test_type_widening_evolution(spark, tmp_path):
    """A mid-stream int→long widening of a turn column evolves the table
    metadata-only; old narrow files read cast-up, late narrow batches cast
    up at write, and the final state matches an independent LWW oracle.
    Incompatible changes (long→string) are rejected."""
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=4, text_mode="none",
                       envelope_schema=envelope_schema(
                           [T.StructField("rating", T.IntegerType(), True)]))
    pipe.apply_batch(_rating_envs(spark, [
        (1, "insert", "cA", [(0, "user", "a0", 7), (1, "assistant", "a1", 3)]),
        (2, "insert", "cB", [(0, "user", "b0", None)]),
    ], T.IntegerType()), "b0")
    assert pipe.table.schema()["rating"].dataType == T.IntegerType()

    big = 5_000_000_000  # does not fit int32
    pipe.apply_batch(_rating_envs(spark, [
        (3, "update", "cA", [(1, "assistant", "a1-v2", big)]),
    ], T.LongType()), "b1")
    assert pipe.table.schema()["rating"].dataType == T.LongType(), \
        "int→long widening evolved the table schema"

    # a NARROW (int) producer still lands after the widening, cast up
    pipe.apply_batch(_rating_envs(spark, [
        (4, "insert", "cC", [(0, "user", "c0", 9)]),
    ], T.IntegerType()), "b2")

    got = {(r["conv_id"], r["turn_idx"]): (r["text"], r["rating"])
           for r in read_transcripts(spark, pipe.table).collect()}
    # independent oracle: LWW fold of the event list by (conv, turn, lsn)
    want = {("cA", 0): ("a0", 7), ("cA", 1): ("a1-v2", big),
            ("cB", 0): ("b0", None), ("cC", 0): ("c0", 9)}
    assert got == want
    assert read_transcripts(spark, pipe.table).schema["rating"].dataType == T.LongType()

    # time travel BEFORE the widening still serves the narrow schema
    assert pipe.table.schema(version=1)["rating"].dataType == T.IntegerType()

    # incompatible change: numeric → string is refused, table untouched
    with pytest.raises(ValueError, match="incompatible type change"):
        pipe.apply_batch(_rating_envs(spark, [
            (5, "insert", "cD", [(0, "user", "d0", "five-stars")]),
        ], T.StringType()), "b3")
    assert pipe.table.schema()["rating"].dataType == T.LongType()


def test_old_schema_batch_after_widening(spark, tmp_path):
    """A batch without an evolved turn column, arriving after the table
    was widened for it, makes no ::evolve commit, leaves the schema as
    it is and lands with the column null — equal to an LWW fold."""
    model = T.StructField("model", T.StringType(), True)
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=4, text_mode="none")
    evolved = [
        (1, "insert", "cA", [(0, "user", "a0", "m1"), (1, "assistant", "a1", "m1")]),
        (2, "insert", "cB", [(0, "user", "b0", "m2")]),
    ]
    base = [
        (3, "update", "cA", [(1, "assistant", "a1-v2", None)]),
        (4, "insert", "cC", [(0, "user", "c0", None)]),
    ]
    pipe.apply_batch(_extra_envs(spark, evolved, model), "b0")
    widened = pipe.table.schema()
    assert "model" in widened.fieldNames()
    v = pipe.table.current_version()

    pipe.apply_batch(_extra_envs(spark, base), "b1")
    assert pipe.table.schema() == widened
    assert "b1::evolve" not in pipe.table.committed_batch_ids()
    kinds = [s["kind"] for s in pipe.table.history() if s["version"] > v]
    assert kinds[0] == "append" and "evolve" not in kinds

    # independent oracle: LWW fold by (conv, turn) on lsn; a full row
    # from the base schema sets model to null
    want: dict = {}
    for lsn, _, cid, turns in evolved + base:
        for i, _, text, m in turns:
            if (cid, i) not in want or want[(cid, i)][0] < lsn:
                want[(cid, i)] = (lsn, text, m)
    got = {(r["conv_id"], r["turn_idx"]): (r["text"], r["model"])
           for r in read_transcripts(spark, pipe.table).collect()}
    assert got == {key: row[1:] for key, row in want.items()}
    assert got[("cA", 1)] == ("a1-v2", None) and got[("cC", 0)] == ("c0", None)


def test_pipeline_table_schema_is_the_planned_schema(spark, tmp_path):
    """CdcPipeline creates its table with exactly the schema the dry-run
    planner derives, for the base and an evolved envelope schema."""
    from hierarchical_to_relational_spark.plans import plan_cdc_table

    model = T.StructField("model", T.StringType(), True)
    for i, env in enumerate([envelope_schema(), envelope_schema([model])]):
        pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / f"t{i}"),
                           str(tmp_path / f"ck{i}"), n_buckets=2, text_mode="none",
                           envelope_schema=env)
        assert pipe.table.schema() == plan_cdc_table(env)
    assert "model" in pipe.table.schema().fieldNames()


def test_evolve_to_rules(spark, tmp_path):
    """SnapshotTable.evolve_to unit rules: float→double and decimal
    precision-up accepted; narrowing and scale changes rejected; no-op
    returns False without a commit."""
    from hierarchical_to_relational_spark.table.snapshot_table import SnapshotTable

    schema = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("x", T.FloatType(), True),
        T.StructField("d", T.DecimalType(10, 2), True),
    ])
    t = SnapshotTable.create(str(tmp_path / "t"), schema, n_buckets=2)
    v0 = t.current_version()
    assert t.evolve_to(schema, "e0") is False and t.current_version() == v0

    wide = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("x", T.DoubleType(), True),
        T.StructField("d", T.DecimalType(18, 2), True),
    ])
    assert t.evolve_to(wide, "e1") is True
    assert t.schema()["x"].dataType == T.DoubleType()
    assert t.schema()["d"].dataType == T.DecimalType(18, 2)

    # a narrower schema is tolerated (kept wide; batches cast up at write)
    # and does NOT move the table
    v1 = t.current_version()
    assert t.evolve_to(schema, "e2") is False and t.current_version() == v1
    with pytest.raises(ValueError):  # decimal scale change is NOT lossless
        t.evolve_to(T.StructType([
            T.StructField("k", T.StringType(), False),
            T.StructField("x", T.DoubleType(), True),
            T.StructField("d", T.DecimalType(20, 4), True),
        ]), "e3")


def test_lineage_records(spark, tmp_path, binlog):
    pipe = CdcPipeline(spark, binlog["dir"], str(tmp_path / "t"), str(tmp_path / "ck"),
                       n_buckets=8, text_mode="none")
    for i, p in enumerate(binlog["paths"][:3]):
        pipe.replay_batch(p, f"seg-{i}")
    entries = pipe.lineage.entries()
    assert len(entries) == 3
    assert all({"batch_id", "rows_written", "max_lsn", "table_version"} <= set(e) for e in entries)
    assert pipe.lineage.applied_lsn_watermark() is not None


def test_arrow_normalize_text(spark, tmp_path):
    """text_mode "arrow" (the full Unicode normalize) stores exactly the
    pure-pandas reference's output, NFC and Unicode whitespace included,
    and plans no Python UDF evaluation."""
    from hierarchical_to_relational_spark.operators.normalize import (
        _normalize_series_pandas,
        normalize_envelopes_fused,
    )

    ts = pd.Timestamp("2026-01-01").to_pydatetime()
    texts = ["  hello\t\tworld \x00!", "Cafe\u0301", "a\u3000b", "x\u0085 y\x07z"]
    turns = [{"turn_idx": i, "role": "user", "text": t, "tool": None, "ts": ts}
             for i, t in enumerate(texts)]
    env = spark.createDataFrame([(1, ts, "insert", "cA", {"turns": turns})],
                                envelope_schema())
    plan = normalize_envelopes_fused(env, text_mode="arrow")._jdf.queryExecution().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"), str(tmp_path / "ck"),
                       n_buckets=2, text_mode="arrow")
    pipe.apply_batch(env, "b1")
    got = [r["text"] for r in read_transcripts(spark, pipe.table).orderBy("turn_idx").collect()]
    assert got == _normalize_series_pandas(pd.Series(texts, dtype=object)).tolist()
    assert got[:2] == ["hello world !", "Caf\u00e9"]


def test_per_batch_compaction_matches_oracle(spark, tmp_path, binlog):
    """Pressure compaction at depth 2 rewrites every bucket a batch
    touched right after that batch (the copy-on-write layout): no bucket
    ever stacks a delta, and the state equals the oracle."""
    pipe = CdcPipeline(spark, binlog["dir"], str(tmp_path / "t"), str(tmp_path / "ck"),
                       n_buckets=8, text_mode="none", compact_every=2)
    for i, p in enumerate(binlog["paths"]):
        pipe.replay_batch(p, f"seg-{i}")
        assert pipe.table.delta_depth() <= 1
    _assert_matches_oracle(spark, pipe, binlog["events"])


def test_inline_maintenance_losing_every_race_skips(spark, tmp_path, binlog, caplog):
    """An inline compaction or bin-pack that loses every race (here: every
    replacing commit raises) is skipped with a warning: the batch that
    already committed still returns and gets its lineage line."""
    import logging

    from hierarchical_to_relational_spark.table.snapshot_table import ConcurrentOverwriteError

    pipe = CdcPipeline(spark, binlog["dir"], str(tmp_path / "t"), str(tmp_path / "ck"),
                       n_buckets=8, text_mode="none", compact_every=1,
                       binpack_every=1, binpack_min_dirs=2)
    commit = pipe.table.commit_data

    def racing_commit(df, batch_id, replace=None, **kw):
        if replace:
            raise ConcurrentOverwriteError(f"{batch_id}: a picked dir is gone")
        return commit(df, batch_id, replace=replace, **kw)

    pipe.table.commit_data = racing_commit
    with caplog.at_level(logging.WARNING, logger="hierarchical_to_relational_spark"):
        for i, p in enumerate(binlog["paths"]):
            m = pipe.replay_batch(p, f"seg-{i}")
            assert m["committed"] is True and "compacted" not in m
    _assert_matches_oracle(spark, pipe, binlog["events"])
    assert [e["batch_id"] for e in pipe.lineage.entries()] == [
        f"seg-{i}" for i in range(len(binlog["paths"]))]
    skipped = [r.getMessage() for r in caplog.records if "skipped" in r.getMessage()]
    assert any(s.startswith("batch seg-0: inline compact skipped") for s in skipped)
    assert any(s.startswith("batch seg-1: inline binpack skipped") for s in skipped)
    assert {h["kind"] for h in pipe.table.history()} == {"create", "append"}


def test_mor_compaction_preserves_state(spark, tmp_path, binlog):
    """Appended deltas stack; compaction folds them without changing the
    resolved state; reads are identical before/after."""
    pipe = CdcPipeline(spark, binlog["dir"], str(tmp_path / "t"), str(tmp_path / "ck"),
                       n_buckets=8, text_mode="none", compact_every=1000)
    for i, p in enumerate(binlog["paths"]):
        pipe.replay_batch(p, f"seg-{i}")
    assert pipe.table.delta_depth() >= len(binlog["paths"]) - 1
    before = _final_state(spark, pipe.table)
    from hierarchical_to_relational_spark.operators.merge import compact
    assert compact(spark, pipe.table, "compact-1") is True
    assert pipe.table.delta_depth() == 1
    pd.testing.assert_frame_equal(before, _final_state(spark, pipe.table))
    _assert_matches_oracle(spark, pipe, binlog["events"])
    # compaction replay is a no-op
    assert compact(spark, pipe.table, "compact-1") is False


def test_tombstone_gc_on_compaction(spark, tmp_path, binlog):
    """Compaction with a retention watermark drops old tombstone rows but
    never live rows; resolved user-facing state is unchanged."""
    from hierarchical_to_relational_spark.operators.merge import compact
    from pyspark.sql import functions as F

    pipe = CdcPipeline(spark, binlog["dir"], str(tmp_path / "t"), str(tmp_path / "ck"),
                       n_buckets=8, text_mode="none")
    for i, p in enumerate(binlog["paths"]):
        pipe.replay_batch(p, f"seg-{i}")
    before = _final_state(spark, pipe.table)
    raw = pipe.table.read(spark)
    n_tomb_before = raw.where(F.col("_op") == "d").count()
    assert n_tomb_before > 0
    max_lsn = int(binlog["events"]["lsn"].max())
    assert compact(spark, pipe.table, "gc", expire_tombstones_below=max_lsn + 1) is True
    raw2 = pipe.table.read(spark)
    assert raw2.where(F.col("_op") == "d").count() == 0
    pd.testing.assert_frame_equal(before, _final_state(spark, pipe.table))


def test_derived_batch_id_applies_new_segments(spark, tmp_path):
    """Batch-mode replays derive the idempotence key from the input file
    listing: identical input → no-op; a NEW segment → a distinct batch that
    actually applies (a fixed id would silently skip the new data)."""
    d = str(tmp_path / "binlog")
    events = datagen.generate_events(datagen.BinlogSpec(n_events=200, n_convs=10, seed=7))
    stream = datagen.arrival_order(events, datagen.BinlogSpec(n_events=200, n_convs=10, seed=7))
    datagen.write_binlog(stream[:150], d, n_segments=3)

    pipe = CdcPipeline(spark, d, str(tmp_path / "t"), str(tmp_path / "ck"),
                       n_buckets=4, text_mode="none")
    m1 = pipe.replay_batch(d)
    assert m1["committed"] is True
    m2 = pipe.replay_batch(d)  # same listing → same derived id → no-op
    assert m2["committed"] is False and m2["batch_id"] == m1["batch_id"]

    # a late segment lands; the derived id changes and the replay applies
    datagen.write_binlog(stream[150:], d, n_segments=1, start_segment=3)
    m3 = pipe.replay_batch(d)
    assert m3["committed"] is True and m3["batch_id"] != m1["batch_id"]
    _assert_matches_oracle(spark, pipe, events)


def test_size_based_compaction_trigger(spark, tmp_path):
    """With a tiny byte threshold (and the depth trigger disabled), the
    pipeline compacts based on manifest delta-byte stats; state unchanged."""
    d = str(tmp_path / "binlog")
    spec = datagen.BinlogSpec(n_events=120, n_convs=6, seed=9)
    events = datagen.generate_events(spec)
    datagen.write_binlog(datagen.arrival_order(events, spec), d, n_segments=2)

    pipe = CdcPipeline(spark, d, str(tmp_path / "t"), str(tmp_path / "ck"),
                       n_buckets=2, text_mode="none",
                       compact_every=10_000, compact_min_bytes=1)
    env = spark.read.schema(pipe.envelope_schema).parquet(d)
    rows = env.collect()
    m1 = pipe.apply_batch(spark.createDataFrame(rows[:60], pipe.envelope_schema), 0)
    m2 = pipe.apply_batch(spark.createDataFrame(rows[60:], pipe.envelope_schema), 1)
    # first append is all base (no deltas to fold); the second stacks a
    # delta whose manifest bytes trip the threshold
    assert "compacted" not in m1 and m2.get("compacted")
    assert pipe.table.delta_depth() <= 1  # folded down after each batch
    _assert_matches_oracle(spark, pipe, events)

    # depth-only pipeline with a huge threshold never size-compacts
    pipe2 = CdcPipeline(spark, d, str(tmp_path / "t2"), str(tmp_path / "ck2"),
                        n_buckets=2, text_mode="none",
                        compact_every=10_000, compact_min_bytes=None)
    pipe2.apply_batch(spark.createDataFrame(rows[:60], pipe2.envelope_schema), 0)
    m = pipe2.apply_batch(spark.createDataFrame(rows[60:], pipe2.envelope_schema), 1)
    assert "compacted" not in m and pipe2.table.delta_depth() == 2


def test_csv_binlog_replays_to_same_state(spark, tmp_path, binlog):
    """A flat CSV export of the SAME arrival stream (one row per turn,
    null-turn delete rows — the reference's example-pipeline File-source
    shape) replays through the pipeline to the identical final state as
    the nested parquet WAL, both in batch and as a checkpointed stream."""
    events, spec = binlog["events"], SPEC
    stream = datagen.arrival_order(events, spec)
    d = str(tmp_path / "csvlog")
    paths = datagen.write_binlog_csv(stream, d, n_segments=6)
    assert len(paths) == 6 and all(p.endswith(".csv") for p in paths)

    # batch replay
    pipe = CdcPipeline(spark, d, str(tmp_path / "t"), str(tmp_path / "ck"),
                       n_buckets=8, text_mode="none", source_format="csv")
    pipe.replay_batch(d, "all")
    _assert_matches_oracle(spark, pipe, events)

    # streaming replay (availableNow over the csv segments)
    pipe2 = CdcPipeline(spark, d, str(tmp_path / "t2"), str(tmp_path / "ck2"),
                        n_buckets=8, text_mode="none", source_format="csv")
    pipe2.run_stream(max_files_per_trigger=2)
    pd.testing.assert_frame_equal(_final_state(spark, pipe.table),
                                  _final_state(spark, pipe2.table))


def test_csv_binlog_evolved_schema(spark, tmp_path):
    """CSV segments carrying an additively-evolved turn column (model)
    replay correctly when the evolved envelope schema is supplied."""
    spec = datagen.BinlogSpec(n_events=120, n_convs=8, seed=11, evolve_after=0)
    events = datagen.generate_events(spec)
    d = str(tmp_path / "csvlog")
    datagen.write_binlog_csv(datagen.arrival_order(events, spec), d,
                             n_segments=2, evolved=True)
    evolved = envelope_schema([T.StructField("model", T.StringType(), True)])
    pipe = CdcPipeline(spark, d, str(tmp_path / "t"), str(tmp_path / "ck"),
                       n_buckets=4, text_mode="none", source_format="csv",
                       envelope_schema=evolved)
    pipe.replay_batch(d, "all")
    got = _final_state(spark, pipe.table)
    assert "model" in got.columns and got["model"].notna().any()
    want = datagen.expected_state(events)
    pd.testing.assert_frame_equal(
        got[want.columns].astype({"turn_idx": "int64"}),
        want.astype({"turn_idx": "int64"}),
        check_dtype=False,
    )


def _env_rows(spark, rows):
    """rows: (lsn, op, conv_id, turns=[(idx, role, text, tool)]|None) → envelopes.
    Patch turns may carry None for unset columns (merge-patch)."""
    ts = pd.Timestamp("2026-01-01").to_pydatetime()
    data = [
        (
            lsn, ts, op, cid,
            None if turns is None else {"turns": [
                {"turn_idx": i, "role": r, "text": t, "tool": tool, "ts": ts}
                for (i, r, t, tool) in turns
            ]},
        )
        for (lsn, op, cid, turns) in rows
    ]
    return spark.createDataFrame(data, envelope_schema())


PATCH_EVENTS = [
    # full insert: two turns
    (1, "insert", "cA", [(0, "user", "hello", None), (1, "assistant", "hi", "bash")]),
    # patch turn 0: only text changes, role/tool keep previous values
    (2, "patch", "cA", [(0, None, "hello-edited", None)]),
    # patch turn 1: only tool changes
    (3, "patch", "cA", [(1, None, None, "python")]),
    # full rewrite of turn 1 AFTER the patch: resets every column (tool→None)
    (4, "update", "cA", [(1, "assistant", "hi-v2", None)]),
    # patch on top of the rewrite
    (5, "patch", "cA", [(1, None, None, "search")]),
    # other conversation, then delete it — patches below the tombstone die
    (6, "insert", "cB", [(0, "user", "doomed", None)]),
    (7, "patch", "cB", [(0, None, "edited-doomed", None)]),
    (8, "delete", "cB", None),
]

PATCH_WANT = {
    ("cA", 0, "user", "hello-edited", None),
    ("cA", 1, "assistant", "hi-v2", "search"),
}


def _patch_state(spark, table):
    return {
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"])
        for r in read_transcripts(spark, table).collect()
    }


def test_merge_patch_semantics(spark, tmp_path):
    """Partial-column upserts (op=patch): null columns keep the previous
    value; a later full row resets every column; patches below a tombstone
    die. Final state is identical for in-order, reversed, and re-fired
    replays (order-insensitivity of the full+patch semilattice)."""
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none",
                       compact_every=10_000)
    for i, ev in enumerate(PATCH_EVENTS):
        pipe.apply_batch(_env_rows(spark, [ev]), f"b{i}")
    assert _patch_state(spark, pipe.table) == PATCH_WANT

    # reversed arrival, different batching
    pipe2 = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t2"),
                        str(tmp_path / "ck2"), n_buckets=2, text_mode="none",
                        compact_every=10_000)
    rev = list(reversed(PATCH_EVENTS))
    pipe2.apply_batch(_env_rows(spark, rev[:3]), "r0")
    pipe2.apply_batch(_env_rows(spark, rev[3:]), "r1")
    # duplicate re-fire of the whole stream under a new id (dup events)
    pipe2.apply_batch(_env_rows(spark, PATCH_EVENTS), "r2")
    assert _patch_state(spark, pipe2.table) == PATCH_WANT


def test_merge_patch_compaction_and_squash(spark, tmp_path):
    """Compaction keeps live patch rows as rows (per-column provenance
    survives the fold) — a LATE patch with an in-between LSN still resolves
    correctly after compaction. squash_patches_below folds patches under
    the retention watermark into materialized rows and state is unchanged."""
    from hierarchical_to_relational_spark.operators.merge import compact
    from hierarchical_to_relational_spark.operators.normalize import META_OP

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none",
                       compact_every=10_000)
    pipe.apply_batch(_env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "base", "bash")]),
        (4, "patch", "cA", [(0, None, "patched@4", None)]),
    ]), "b0")
    compact(spark, pipe.table, batch_id="c0")
    # late patch with LSN 3 (< 4): sets tool; text must STAY patched@4
    # (set at 4), tool comes from 3, role from the full row at 1
    pipe.apply_batch(_env_rows(spark, [
        (3, "patch", "cA", [(0, None, "late-text@3", "python")]),
    ]), "b1")
    assert _patch_state(spark, pipe.table) == {("cA", 0, "user", "patched@4", "python")}

    # squash everything below LSN 10 → patches fold away, state unchanged
    compact(spark, pipe.table, batch_id="c1", squash_patches_below=10)
    stored = pipe.table.read(spark)
    assert stored.where(F.col(META_OP) == "p").count() == 0
    assert _patch_state(spark, pipe.table) == {("cA", 0, "user", "patched@4", "python")}


def test_merge_patch_without_base_row(spark, tmp_path):
    """A patch for a key that never got a full upsert materializes a row
    with nulls for never-set columns (upsert-style, total semantics)."""
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    pipe.apply_batch(_env_rows(spark, [
        (1, "patch", "cX", [(0, None, "orphan-patch", None)]),
    ]), "b0")
    assert _patch_state(spark, pipe.table) == {("cX", 0, None, "orphan-patch", None)}


def test_same_event_writes_turn_twice_later_wins(spark, tmp_path):
    """One update envelope carries turn 0 twice, so both rows share
    (_lsn, _commit_ts). The later array element wins in lookups, full
    reads and after compaction (the binlog generator emits such events;
    the pandas reference keeps the last)."""
    from hierarchical_to_relational_spark.operators.merge import compact, lookup_conversations

    convs = [f"c{i}" for i in range(6)]
    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=4, text_mode="none")
    pipe.apply_batch(_env_rows(spark, [
        (1, "insert", c, [(0, "user", "base", None), (1, "assistant", "keep", None)])
        for c in convs
    ]), "b0")
    # "z-first" sorts above "a-later": a pick by value would keep the wrong one
    pipe.apply_batch(_env_rows(spark, [
        (5, "update", c, [(0, "user", "z-first", None), (0, "tool", "a-later", "bash")])
        for c in convs
    ]), "b1")
    want = {(c, 0, "tool", "a-later", "bash") for c in convs} | {
        (c, 1, "assistant", "keep", None) for c in convs}

    def looked_up():
        return {(r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"])
                for r in lookup_conversations(spark, pipe.table, convs).collect()}

    assert _patch_state(spark, pipe.table) == want
    assert looked_up() == want
    compact(spark, pipe.table, batch_id="c0")
    assert _patch_state(spark, pipe.table) == want
    assert looked_up() == want


# ---------------------------------------------------------------------------
# changes_since: incremental CDC egress (net-diff contract)
# ---------------------------------------------------------------------------

def _apply_diff(state: pd.DataFrame, changes) -> pd.DataFrame:
    """Independent consumer model: apply a changes_since poll to a cached
    snapshot — deletes drop whole conversations, then upserts replace rows
    by (conv_id, turn_idx). Emitted upserts always supersede the poll's
    tombstones (they are post-resolution live state), so d-then-u is the
    correct apply order regardless of per-row LSNs."""
    dead = {r["conv_id"] for r in changes if r["change_op"] == "d"}
    ups = [r for r in changes if r["change_op"] == "u"]
    out = state[~state["conv_id"].isin(dead)]
    if ups:
        up_df = pd.DataFrame(
            [{c: r[c] for c in state.columns} for r in ups], columns=state.columns
        )
        keys = list(zip(up_df["conv_id"], up_df["turn_idx"]))
        mask = [
            (c, t) not in set(keys) for c, t in zip(out["conv_id"], out["turn_idx"])
        ]
        out = pd.concat([out[mask], up_df], ignore_index=True)
    return out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def test_changes_since_net_diff(spark, tmp_path, binlog):
    """Replay half the (shuffled, out-of-order) stream, checkpoint
    (state, version); replay the rest, with compactions before and after
    the checkpoint; changes_since(version) applied to the checkpointed
    state must equal the current table state — late events with LOW LSNs
    are still surfaced because the cursor is the snapshot version, and the
    post-checkpoint compaction (a pure rewrite) adds no spurious
    re-emissions."""
    from hierarchical_to_relational_spark.operators.merge import changes_since, compact

    pipe = CdcPipeline(spark, binlog["dir"], str(tmp_path / "t"), str(tmp_path / "ck"),
                       n_buckets=8, text_mode="none", compact_every=10_000)
    half = len(binlog["paths"]) // 2
    for i, p in enumerate(binlog["paths"][:half]):
        pipe.replay_batch(p, f"seg-{i}")
    compact(spark, pipe.table, batch_id="mid-compact")
    state1 = _final_state(spark, pipe.table)
    v1 = pipe.table.current_version()

    for i, p in enumerate(binlog["paths"][half:]):
        pipe.replay_batch(p, f"seg-late-{i}")
    compact(spark, pipe.table, batch_id="late-compact")

    changes = changes_since(spark, pipe.table, v1).collect()
    assert changes, "second half of the stream must surface changes"
    got = _apply_diff(state1, changes)
    want = _final_state(spark, pipe.table)
    pd.testing.assert_frame_equal(
        got.astype({"turn_idx": "int64"}), want.astype({"turn_idx": "int64"}),
        check_dtype=False,
    )

    # idle poll at the advanced cursor: empty, stable schema
    again = changes_since(spark, pipe.table, pipe.table.current_version())
    assert again.count() == 0
    assert again.columns == [c for c in want.columns] + ["change_lsn", "change_op"]


def test_changes_since_delete_then_reinsert(spark, tmp_path):
    """A conversation deleted and re-inserted past the watermark emits BOTH
    a 'd' row and the new 'u' rows; a late dead upsert (below an old
    tombstone the consumer already saw) nets to nothing."""
    from hierarchical_to_relational_spark.operators.merge import changes_since

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    pipe.apply_batch(_env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "v1", None)]),
        (5, "delete", "cB", None),          # consumer sees this tombstone
    ]), "b0")
    v1 = pipe.table.current_version()
    pipe.apply_batch(_env_rows(spark, [
        (6, "delete", "cA", None),
        (7, "insert", "cA", [(0, "user", "reborn", None)]),
        (3, "insert", "cB", [(0, "user", "late-dead", None)]),  # below cB tombstone
    ]), "b1")
    rows = changes_since(spark, pipe.table, v1).collect()
    by_op = {}
    for r in rows:
        by_op.setdefault(r["change_op"], []).append(r)
    assert {r["conv_id"] for r in by_op.get("d", [])} == {"cA"}
    assert [(r["conv_id"], r["turn_idx"], r["text"]) for r in by_op.get("u", [])] == [
        ("cA", 0, "reborn")
    ]


def test_changes_since_pure_rewrites_emit_nothing(spark, tmp_path):
    """A window containing only a compaction (pure rewrite) emits zero
    changes — the live-map churn is skipped via the commit kind."""
    from hierarchical_to_relational_spark.operators.merge import changes_since, compact

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none",
                       compact_every=10_000)
    pipe.apply_batch(_env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "v1", None)]),
        (2, "insert", "cB", [(0, "user", "v1", None)]),
    ]), "b0")
    v1 = pipe.table.current_version()
    compact(spark, pipe.table, batch_id="c0")
    assert changes_since(spark, pipe.table, v1).count() == 0


def test_changes_since_emits_through_rollback(spark, tmp_path):
    """Round-5: a rollback in the window EMITS an applicable diff —
    synthetic conversation deletes scanned from the dirs the rollback
    un-referenced (rolled-back rows vanish without tombstones, but their
    physical rows are still on disk, GC-protected by the pre-rollback
    snapshot) plus a superset re-add of the affected buckets' current
    rows. Applying the diff to the post-bad-batch checkpoint reproduces
    the post-rollback state exactly, including un-inserting cC and
    reverting cA."""
    from hierarchical_to_relational_spark.operators.merge import changes_since

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    pipe.apply_batch(_env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "keep", None)]),
    ]), "b0")
    v_good = pipe.table.current_version()
    pipe.apply_batch(_env_rows(spark, [
        (2, "insert", "cA", [(0, "user", "bad-data", None)]),
        (3, "insert", "cC", [(0, "user", "bad-row", None)]),
    ]), "b1")
    v_ckpt = pipe.table.current_version()
    state_ckpt = _final_state(spark, pipe.table)
    # consumer checkpointed AFTER the bad batch; operator rolls it back
    pipe.table.rollback(v_good, batch_id="rb0")
    changes = changes_since(spark, pipe.table, v_ckpt).collect()
    assert any(r["change_op"] == "d" and r["conv_id"] == "cC" for r in changes), \
        "the un-inserted conv must get a synthetic delete"
    got = _apply_diff(state_ckpt, changes)
    want = _final_state(spark, pipe.table)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # the retracted dirs expiring BEFORE consumption is the one remaining
    # resync case
    import shutil as _sh

    snap_mid = pipe.table.snapshot(v_ckpt)["live"]
    snap_now = pipe.table.snapshot()["live"]
    gone = ({d for ds in snap_mid.values() for d in ds}
            - {d for ds in snap_now.values() for d in ds})
    for d in gone:
        _sh.rmtree(str(tmp_path / "t" / d), ignore_errors=True)
    with pytest.raises(ValueError, match="resync"):
        changes_since(spark, pipe.table, v_ckpt).collect()


def _merge_branch_window(spark, pipe, branch_rows, main_rows=None) -> None:
    """Fork ``pipe.table``, apply ``branch_rows`` on the branch and merge
    it back. With ``main_rows`` main appends them after the fork, so the
    merge unions both sides' appended dirs; without, the branch is
    compacted first, so the merge adopts its rewritten buckets (a
    non-append change to main's live map)."""
    from hierarchical_to_relational_spark.operators.merge import apply_cdc_batch, compact
    from hierarchical_to_relational_spark.operators.normalize import normalize_envelopes_fused

    br = pipe.table.create_branch("fix")
    batch = normalize_envelopes_fused(_env_rows(spark, branch_rows), text_mode="none")
    assert apply_cdc_batch(spark, br, batch, "br-0")["committed"]
    if main_rows is None:
        assert compact(spark, br, "br-compact")
    else:
        pipe.apply_batch(_env_rows(spark, main_rows), "main-0")
    assert pipe.table.merge_branch("fix", "merge-fix")


@pytest.mark.parametrize("case", ["adopt", "union"])
def test_changes_since_over_branch_merge(spark, tmp_path, case):
    """A branch merge in the window: adopting a compacted branch's
    buckets is a non-append change, so those buckets re-emit whole; a
    merge of two appended sides unions their dirs, so only the appended
    dirs are scanned. Either way, applying the poll to the checkpointed
    state reproduces the current table state."""
    from hierarchical_to_relational_spark.operators.merge import _diff_live_dirs, changes_since

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    pipe.apply_batch(_env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "v1", None)]),
        (2, "insert", "cB", [(0, "user", "stays", None)]),
    ]), "b0")
    v1 = pipe.table.current_version()
    state1 = _final_state(spark, pipe.table)
    _merge_branch_window(spark, pipe, [
        (3, "update", "cA", [(0, "user", "v2", None)]),
        (4, "delete", "cB", None),
        (5, "insert", "cC", [(0, "user", "new", None)]),
    ], None if case == "adopt" else [
        (6, "update", "cA", [(0, "user", "v3", None)]),
        (7, "insert", "cD", [(0, "user", "main", None)]),
    ])
    added, superset, removed = _diff_live_dirs(pipe.table, v1, pipe.table.current_version())
    assert bool(superset) == (case == "adopt") and not removed
    assert case == "adopt" or added
    changes = changes_since(spark, pipe.table, v1).collect()
    got = _apply_diff(state1, changes)
    want = _final_state(spark, pipe.table)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def _rebucket_batch(i: int):
    """Append i over 12 conversations: every conversation gets turn i,
    every other one a patch, and every third (shifted by i) a delete,
    re-inserted above it when i is odd."""
    rows = []
    for c in range(12):
        lsn, cid = 100 * (i + 1) + 4 * c, f"c{c}"
        rows.append((lsn, "update", cid, [(i, "user", f"t{i}-{c}", None)]))
        if c % 2 == i % 2:
            rows.append((lsn + 1, "patch", cid, [(i, None, f"p{i}-{c}", None)]))
        if c % 3 == i % 3:
            rows.append((lsn + 2, "delete", cid, None))
            if i % 2:
                rows.append((lsn + 3, "insert", cid, [(0, "user", f"r{i}-{c}", None)]))
    return rows


def test_changes_since_across_rebucket(spark, tmp_path):
    """A rebucket inside the window makes bucket ids incomparable across
    it: the poll re-emits every bucket, and applying it to the
    checkpointed state still gives the current state."""
    from hierarchical_to_relational_spark.operators.merge import changes_since, evolve_buckets

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    for i in range(2):
        pipe.apply_batch(_env_rows(spark, _rebucket_batch(i)), f"b{i}")
    v1 = pipe.table.current_version()
    state1 = _final_state(spark, pipe.table)
    pipe.apply_batch(_env_rows(spark, _rebucket_batch(2)), "b2")
    assert evolve_buckets(spark, pipe.table, 4, "rebucket-0")
    pipe.apply_batch(_env_rows(spark, _rebucket_batch(3)), "b3")
    changes = changes_since(spark, pipe.table, v1).collect()
    got = _apply_diff(state1, changes)
    pd.testing.assert_frame_equal(got, _final_state(spark, pipe.table), check_dtype=False)


def test_changes_since_rollback_across_rebucket(spark, tmp_path):
    """A rollback to a version before a rebucket retracts dirs whose rows
    carry the new bucket ids, while the restored rows (tombstones
    included) carry the old ones. The poll still applies to the
    checkpointed state, and a conversation seen under both bucket ids
    gets exactly one 'd' row."""
    from hierarchical_to_relational_spark.operators.merge import changes_since, evolve_buckets

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none")
    for i in range(2):
        pipe.apply_batch(_env_rows(spark, _rebucket_batch(i)), f"b{i}")
    v_good = pipe.table.current_version()
    pipe.apply_batch(_env_rows(spark, _rebucket_batch(2)), "b2")
    assert evolve_buckets(spark, pipe.table, 4, "rebucket-0")
    pipe.apply_batch(_env_rows(spark, _rebucket_batch(3)), "b3")
    v_ckpt = pipe.table.current_version()
    state_ckpt = _final_state(spark, pipe.table)
    pipe.table.rollback(v_good, batch_id="rb0")
    changes = changes_since(spark, pipe.table, v_ckpt).collect()
    dels = [r["conv_id"] for r in changes if r["change_op"] == "d"]
    assert sorted(dels) == sorted(f"c{c}" for c in range(12))
    got = _apply_diff(state_ckpt, changes)
    pd.testing.assert_frame_equal(got, _final_state(spark, pipe.table), check_dtype=False)


def test_random_patch_stream_matches_oracle(spark, tmp_path):
    """Randomized merge-patch gate: a zipf-skewed, shuffled, duplicated
    stream with 25% patch events replayed through the engine equals the
    independent pandas per-column-fold oracle — and a second replay under
    a different batching converges to the same state."""
    spec = datagen.BinlogSpec(n_events=300, n_convs=20, seed=23, patch_rate=0.25)
    events = datagen.generate_events(spec)
    assert (events["op"] == "patch").sum() > 30
    d = str(tmp_path / "bl")
    paths = datagen.write_binlog(datagen.arrival_order(events, spec), d, n_segments=5)

    pipe = CdcPipeline(spark, d, str(tmp_path / "t"), str(tmp_path / "ck"),
                       n_buckets=8, text_mode="none")
    for i, p in enumerate(paths):
        pipe.replay_batch(p, f"seg-{i}")
    _assert_matches_oracle(spark, pipe, events)

    pipe2 = CdcPipeline(spark, d, str(tmp_path / "t2"), str(tmp_path / "ck2"),
                        n_buckets=8, text_mode="none")
    rev = list(reversed(paths))
    for i in range(0, len(rev), 2):
        pipe2.replay_batch(rev[i:i + 2], f"pair-{i}")
    _assert_matches_oracle(spark, pipe2, events)


def test_csv_binlog_embedded_newlines(spark, tmp_path):
    """RFC-4180 quoted fields with EMBEDDED NEWLINES (routine in chat
    transcript text) must round-trip through the CSV source — the
    multiLine reader parses them as one record, batch and stream."""
    events = pd.DataFrame({
        "lsn": [1, 2, 3],
        "commit_ts": pd.to_datetime(["2026-01-01"] * 3),
        "op": ["insert", "insert", "delete"],
        "conv_id": ["cA", "cB", "cC"],
        "turns": [
            [{"turn_idx": 0, "role": "user", "text": "line one\nline two", "tool": None,
              "ts": pd.Timestamp("2026-01-01").to_pydatetime()}],
            [{"turn_idx": 0, "role": "assistant", "text": 'quote " and,\ncomma', "tool": "bash",
              "ts": pd.Timestamp("2026-01-01").to_pydatetime()}],
            None,
        ],
    })
    d = str(tmp_path / "csvlog")
    datagen.write_binlog_csv(events, d, n_segments=1)
    pipe = CdcPipeline(spark, d, str(tmp_path / "t"), str(tmp_path / "ck"),
                       n_buckets=2, text_mode="none", source_format="csv")
    pipe.replay_batch(d, "all")
    got = {(r["conv_id"], r["text"]) for r in read_transcripts(spark, pipe.table).collect()}
    assert got == {("cA", "line one\nline two"), ("cB", 'quote " and,\ncomma')}

    pipe2 = CdcPipeline(spark, d, str(tmp_path / "t2"), str(tmp_path / "ck2"),
                        n_buckets=2, text_mode="none", source_format="csv")
    pipe2.run_stream(max_files_per_trigger=1)
    got2 = {(r["conv_id"], r["text"]) for r in read_transcripts(spark, pipe2.table).collect()}
    assert got2 == got


def test_fused_normalize_pinned_rows(spark, tmp_path):
    """The normalize stage's one frame (upserts + inline tombstone rows,
    _op ∈ u/p/d), pinned row for row to literal expected rows in every
    text mode, across the edge cases: a patch keeps _op='p', duplicate
    deletes stay two rows, an empty turn array drops, a delete carrying
    turns still yields exactly one all-null tombstone row with a null
    _commit_ts. Applied to a table, the stored state is pinned too."""
    from hierarchical_to_relational_spark.operators.merge import (
        apply_cdc_batch,
        table_schema_for,
    )
    from hierarchical_to_relational_spark.operators.normalize import (
        normalize_envelopes_fused,
        turn_fields,
    )
    from hierarchical_to_relational_spark.table.snapshot_table import SnapshotTable

    env = _env_rows(spark, [
        (1, "insert", "cA", [(0, "user", "  hello\t world ", None),
                             (1, "assistant", "hi", "bash")]),
        (2, "patch", "cA", [(0, None, "h\x01i", None)]),
        (3, "delete", "cB", None),
        (4, "delete", "cB", None),                  # duplicate delete
        (5, "insert", "cC", []),                    # empty turns → drops
        (6, "update", "cC", [(0, "user", None, None)]),
        (7, "delete", "cA", [(0, "x", "y", "z")]),  # delete carrying turns
    ])
    ts = pd.Timestamp("2026-01-01").to_pydatetime()
    # text of lsn 1 turn 0 and lsn 2, per mode: builtin collapses
    # whitespace and trims (Java \s leaves \x01); arrow also strips
    # control chars
    texts = {
        "none": ("  hello\t world ", "h\x01i"),
        "builtin": ("hello world", "h\x01i"),
        "arrow": ("hello world", "hi"),
    }
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts",
            "_lsn", "_commit_ts", "_op"]
    for mode, (t1, t2) in texts.items():
        fused = normalize_envelopes_fused(env, text_mode=mode)
        assert fused.columns == cols, mode
        want = [
            ("cA", 0, "user", t1, None, ts, 1, ts, "u"),
            ("cA", 1, "assistant", "hi", "bash", ts, 1, ts, "u"),
            ("cA", 0, None, t2, None, ts, 2, ts, "p"),
            ("cB", None, None, None, None, None, 3, None, "d"),
            ("cB", None, None, None, None, None, 4, None, "d"),
            ("cC", 0, "user", None, None, ts, 6, ts, "u"),
            ("cA", None, None, None, None, None, 7, None, "d"),
        ]
        got = sorted((tuple(r) for r in fused.collect()),
                     key=lambda r: (r[6], -1 if r[1] is None else r[1]))
        assert got == want, mode

    # end-to-end: cA and cB die by tombstone, cC's update survives
    base_cols = [T.StructField("conv_id", T.StringType(), False)] + turn_fields(env.schema)
    t = SnapshotTable.create(str(tmp_path / "t"), table_schema_for(base_cols), n_buckets=4)
    apply_cdc_batch(spark, t, normalize_envelopes_fused(env, text_mode="none"),
                    batch_id="b0")
    got = [tuple(r) for r in read_transcripts(spark, t)
           .select("conv_id", "turn_idx", "role", "text", "tool", "ts").collect()]
    assert got == [("cC", 0, "user", None, None, ts)]


def _file_scans(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("FileScan parquet")


def test_feed_binpack_and_rollback_share_one_scan(spark, tmp_path, monkeypatch):
    """The change feed, bin-packing and the rollback scan read commit dirs
    through the table's one shared reader: a wider feed window adds no
    scan nodes, a rollback window is built with no Spark job (no schema
    inference per retracted dir), and bin-packing reads its small dirs in
    one scan."""
    from hierarchical_to_relational_spark.operators.merge import binpack_deltas, changes_since

    pipe = CdcPipeline(spark, str(tmp_path / "bl"), str(tmp_path / "t"),
                       str(tmp_path / "ck"), n_buckets=2, text_mode="none",
                       compact_every=10_000)
    t = pipe.table
    versions = []
    for b in range(6):
        pipe.apply_batch(_env_rows(spark, [
            (10 * b + i, "insert", f"c{i}", [(b, "user", f"t{b}-{i}", None)])
            for i in range(4)
        ]), f"b{b}")
        versions.append(t.current_version())
    wide = changes_since(spark, t, versions[0])   # 5 appended dirs
    narrow = changes_since(spark, t, versions[4])  # 1 appended dir
    assert _file_scans(wide) == _file_scans(narrow)
    assert wide.where(F.col("change_op") == "u").count() == 4 * 5

    captured = []
    real = t.commit_data
    monkeypatch.setattr(t, "commit_data",
                        lambda df, *a, **k: captured.append(df) or real(df, *a, **k))
    assert binpack_deltas(spark, t, "bp0", target_bytes=10 << 20, min_dirs=3)
    assert len(captured) == 1 and _file_scans(captured[0]) == 1

    v_ckpt = t.current_version()
    pipe.apply_batch(_env_rows(spark, [(100, "insert", "cX", [(0, "user", "bad", None)])]), "bad")
    v_bad = t.current_version()
    state_bad = _final_state(spark, t)
    t.rollback(v_ckpt, batch_id="rb0")
    sc = spark.sparkContext
    sc.setJobGroup("feed-build", "building the feed frame must launch no job")
    try:
        changes = changes_since(spark, t, v_bad)
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup("feed-build")) == []
    got = _apply_diff(state_bad, changes.collect())
    pd.testing.assert_frame_equal(got, _final_state(spark, t), check_dtype=False)
