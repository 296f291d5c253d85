"""Unbounded-stream hygiene soaks (VERDICT r01 next-#3): over thousands of
micro-batches, `_snapshots/` file count, the ledger, and the in-memory
batch-id set must stay bounded while exactly-once idempotence and final
state stay correct.

Two tiers:
- metadata soak (always runs): 2000 pointer-swap commits through the real
  `_commit` path, no Spark jobs — the metadata scaling property is about
  snapshot files and id bookkeeping, not row payloads.
- live-stream soak (always runs, ~1 min): 40 real micro-batch applies with
  compaction + periodic expiration; final state equals the pandas oracle.
- full soak (opt-in, `H2R_SOAK=1`, ~30 min): 1000 real single-event
  micro-batch applies with expiration; state equals the pandas oracle.
"""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest
from pyspark.sql import types as T

from hierarchical_to_relational_spark import datagen
from hierarchical_to_relational_spark.operators.merge import read_transcripts
from hierarchical_to_relational_spark.streaming.driver import CdcPipeline
from hierarchical_to_relational_spark.table.snapshot_table import SnapshotTable

SCHEMA = T.StructType([T.StructField("k", T.StringType(), False)])


def _snap_count(root: str) -> int:
    return len(glob.glob(os.path.join(root, "_snapshots", "v*.json")))


def test_metadata_soak_2000_commits_bounded(tmp_path):
    """2000 commits with expiration every 100: snapshot files never exceed
    retain+period, the ledger collapses numeric ids to a floor, and every
    historical batch id still reads as committed from a cold handle."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=4)
    max_snaps = 0
    for i in range(2000):
        committed = t._commit(str(i), "append", lambda nxt: {})
        assert committed is True
        if (i + 1) % 100 == 0:
            t.expire_snapshots(retain_last=50, clean_orphans=False)
        max_snaps = max(max_snaps, _snap_count(t.root))
    assert max_snaps <= 50 + 100 + 1  # retained window + one expire period
    assert _snap_count(t.root) <= 151

    ids = t.committed_batch_ids()
    assert ids.numeric_floor >= 1900 - 1  # collapsed prefix, not 2000 strings
    assert len(ids.ids) <= 151

    cold = SnapshotTable(t.root)
    for i in (0, 1, 999, 1500, 1999):
        assert cold._commit(str(i), "append", lambda nxt: {}) is False
    assert cold._commit("2000", "append", lambda nxt: {}) is True


def _run_stream_soak(spark, tmp_path, n_events: int, n_batches: int, expire_every: int):
    spec = datagen.BinlogSpec(n_events=n_events, n_convs=max(6, n_events // 40), seed=17)
    events = datagen.generate_events(spec)
    stream = datagen.arrival_order(events, spec)
    binlog = str(tmp_path / "binlog")
    datagen.write_binlog(stream, binlog, n_segments=1)

    pipe = CdcPipeline(
        spark, binlog, str(tmp_path / "t"), str(tmp_path / "ck"),
        n_buckets=4, text_mode="none", compact_every=8,
        expire_every=expire_every, retain_snapshots=10, orphan_grace_seconds=0.0,
    )
    env = spark.read.schema(pipe.envelope_schema).parquet(binlog)
    rows = env.collect()
    # floor-split: AT LEAST n_batches micro-batches, and every row lands
    per = max(1, len(rows) // n_batches)
    n_applied = -(-len(rows) // per)
    max_snaps = 0
    for i in range(n_applied):
        chunk = rows[i * per: (i + 1) * per]
        pipe.apply_batch(spark.createDataFrame(chunk, pipe.envelope_schema), i)
        max_snaps = max(max_snaps, _snap_count(pipe.table.root))

    # bounded metadata: retained window + expire period + compact/evolve commits
    assert max_snaps <= 10 + 3 * expire_every
    got = (
        read_transcripts(spark, pipe.table)
        .orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    )
    want = datagen.expected_state(events)
    pd.testing.assert_frame_equal(
        got.astype({"turn_idx": "int64"}), want.astype({"turn_idx": "int64"}),
        check_dtype=False,
    )
    return pipe, n_applied


def test_live_stream_with_expiration_matches_oracle(spark, tmp_path):
    """40 real micro-batches with compaction + expiration interleaved:
    metadata bounded, final state equals the independent pandas oracle —
    GC must never change query results."""
    _run_stream_soak(spark, tmp_path, n_events=400, n_batches=40, expire_every=10)


@pytest.mark.skipif(not os.environ.get("H2R_SOAK"), reason="~30 min full soak; set H2R_SOAK=1")
def test_full_soak_1000_microbatches(spark, tmp_path):
    """The VERDICT-r01 acceptance soak: >=10^3 micro-batches replayed with
    snapshot expiration on; `_snapshots/` and the id set bounded; state
    equal to the pandas oracle."""
    pipe, n_applied = _run_stream_soak(spark, tmp_path, n_events=3000, n_batches=1000, expire_every=50)
    assert n_applied >= 1000
    ids = pipe.table.committed_batch_ids()
    # floor trails the last expiration (every 50 batches) by at most one period
    assert ids.numeric_floor >= n_applied - 2 * 50
    assert len(ids.ids) <= 200


def test_two_concurrent_writers_same_table(spark, tmp_path):
    """Two CdcPipeline writers (disjoint conversation shards, distinct
    batch-id namespaces) race appends AND auto-compactions into the SAME
    table. The round-2 commit validation must preserve every batch: unseen
    deltas merge into racing rewrites, conflicting rewrites re-read. Final
    state equals the union of both shards' pandas oracles."""
    import threading

    specs = {
        "a": datagen.BinlogSpec(n_events=300, n_convs=10, seed=41),
        "b": datagen.BinlogSpec(n_events=300, n_convs=10, seed=42),
    }
    events, streams = {}, {}
    for k, spec in specs.items():
        ev = datagen.generate_events(spec)
        # disjoint conv ids and LSN ranges per shard (two binlog partitions)
        ev["conv_id"] = k + ev["conv_id"]
        if k == "b":
            ev["lsn"] = ev["lsn"] + 1_000_000
        events[k] = ev
        streams[k] = datagen.arrival_order(ev, spec).copy()
        d = str(tmp_path / f"binlog-{k}")
        datagen.write_binlog(streams[k], d, n_segments=1)

    table_root = str(tmp_path / "t")
    pipes = {
        k: CdcPipeline(spark, str(tmp_path / f"binlog-{k}"), table_root,
                       str(tmp_path / f"ck-{k}"), n_buckets=4,
                       text_mode="none", compact_every=4)
        for k in specs
    }
    errors = []

    def run(k):
        try:
            pipe = pipes[k]
            env = spark.read.schema(pipe.envelope_schema).parquet(str(tmp_path / f"binlog-{k}"))
            rows = env.collect()
            per = max(1, len(rows) // 12)
            n = -(-len(rows) // per)
            for i in range(n):
                chunk = rows[i * per: (i + 1) * per]
                m = pipe.apply_batch(
                    spark.createDataFrame(chunk, pipe.envelope_schema), f"{k}-{i}")
                assert m["committed"], f"writer {k} batch {i} dropped"
        except Exception as e:  # surfaced after join
            errors.append((k, e))

    ths = [threading.Thread(target=run, args=(k,)) for k in specs]
    for t in ths:
        t.start()
    for t in ths:
        t.join()
    assert not errors, errors

    got = (read_transcripts(spark, pipes["a"].table)
           .orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True))
    want = (pd.concat([datagen.expected_state(events["a"]),
                       datagen.expected_state(events["b"])])
            .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got.astype({"turn_idx": "int64"}),
                                  want.astype({"turn_idx": "int64"}), check_dtype=False)
