"""Inter-PROCESS concurrency: independent spark-submit-equivalent
processes (separate JVMs, separate Python interpreters) race on one table
through the filesystem-level commit protocol. Complements the in-process
threaded soak — this exercises O_EXCL snapshot creation, the v0 create
race, and append/compaction/bin-packing interleaving with no shared state."""

from __future__ import annotations

import collections
import json
import subprocess
import sys
from pathlib import Path

import pandas as pd

from hierarchical_to_relational_spark import datagen
from hierarchical_to_relational_spark.operators.merge import read_transcripts
from hierarchical_to_relational_spark.table.snapshot_table import SnapshotTable

ROOT = str(Path(__file__).resolve().parents[1])

# argv: checkout root, shard, binlog, table, checkpoint, CdcPipeline options (JSON)
RUNNER = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from hierarchical_to_relational_spark.session import get_spark
from hierarchical_to_relational_spark.streaming.driver import CdcPipeline

shard, binlog, table, ck, opts = sys.argv[2:7]
spark = get_spark(app_name=f"writer-{shard}", master="local[2]", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
pipe = CdcPipeline(spark, binlog, table, ck, n_buckets=4, text_mode="none",
                   **json.loads(opts))
env = spark.read.schema(pipe.envelope_schema).parquet(binlog)
rows = env.collect()
per = max(1, len(rows) // 6)
committed = []
for i in range(-(-len(rows) // per)):
    m = pipe.apply_batch(spark.createDataFrame(rows[i*per:(i+1)*per], pipe.envelope_schema),
                         f"{shard}-{i}")
    committed.append(bool(m["committed"]))
print(json.dumps({"shard": shard, "committed": committed}))
spark.stop()
"""

# argv: checkout root, table, stop file. Runs maintain_cycle until the stop
# file exists; prints the buckets each cycle compacted and packed.
MAINTAINER = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
from hierarchical_to_relational_spark.operators.merge import maintain_cycle
from hierarchical_to_relational_spark.session import get_spark
from hierarchical_to_relational_spark.table.snapshot_table import SnapshotTable

table, stop = sys.argv[2:4]
spark = get_spark(app_name="maintainer", master="local[2]", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
while not SnapshotTable.exists(table) and not os.path.exists(stop):
    time.sleep(0.1)
t, cycles = SnapshotTable(table), []
while not os.path.exists(stop):
    rep = maintain_cycle(spark, t, f"m{len(cycles)}", compact_depth=2, binpack_min_dirs=2)
    cycles.append([rep["compacted_buckets"], rep["packed_buckets"]])
    time.sleep(0.05)
print(json.dumps({"cycles": cycles}))
spark.stop()
"""


def _spawn(script: str, *argv: str) -> subprocess.Popen:
    return subprocess.Popen([sys.executable, "-c", script, ROOT, *argv],
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def _finish(p: subprocess.Popen) -> dict:
    out, err = p.communicate(timeout=540)
    assert p.returncode == 0, err[-2000:]
    return json.loads(out.strip().splitlines()[-1])


def _binlog(tmp_path, k: str, seed: int, lsn_offset: int = 0):
    spec = datagen.BinlogSpec(n_events=200, n_convs=8, seed=seed)
    ev = datagen.generate_events(spec)
    ev["conv_id"] = k + ev["conv_id"]
    ev["lsn"] = ev["lsn"] + lsn_offset
    binlog = str(tmp_path / f"binlog-{k}")
    datagen.write_binlog(datagen.arrival_order(ev, spec), binlog, n_segments=1)
    return ev, binlog


def _assert_state(spark, root: str, *events) -> None:
    got = (read_transcripts(spark, SnapshotTable(root))
           .orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True))
    want = (pd.concat([datagen.expected_state(ev) for ev in events])
            .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got.astype({"turn_idx": "int64"}),
                                  want.astype({"turn_idx": "int64"}), check_dtype=False)


def test_two_processes_race_one_table(spark, tmp_path):
    events = {}
    procs = []
    for k, seed, offset in (("a", 61, 0), ("b", 62, 1_000_000)):
        events[k], binlog = _binlog(tmp_path, k, seed, offset)
        procs.append(_spawn(RUNNER, k, binlog, str(tmp_path / "t"),
                            str(tmp_path / f"ck-{k}"), json.dumps({"compact_every": 3})))

    results = {}
    for p in procs:
        r = _finish(p)
        results[r["shard"]] = r["committed"]
    assert all(all(c) for c in results.values()), results  # no batch dropped
    _assert_state(spark, str(tmp_path / "t"), events["a"], events["b"])


def test_ingest_beside_maintenance_process(spark, tmp_path):
    """An ingest process that compacts and bin-packs inline races a
    process running ``maintain_cycle`` in a loop: every rewrite that
    loses a race picks again instead of failing, both exit 0, each batch
    id is committed once, and the table equals the oracle."""
    ev, binlog = _binlog(tmp_path, "a", 63)
    root, stop = str(tmp_path / "t"), tmp_path / "stop"
    maintainer = _spawn(MAINTAINER, root, str(stop))
    try:
        ingest = _finish(_spawn(RUNNER, "a", binlog, root, str(tmp_path / "ck"),
                                json.dumps({"compact_every": 3, "binpack_every": 1,
                                            "binpack_min_dirs": 2})))
    finally:
        stop.touch()
    cycles = _finish(maintainer)["cycles"]
    assert ingest["committed"] and all(ingest["committed"]), ingest
    assert cycles, "the maintainer ran no cycle"

    ids = collections.Counter(h["batch_id"] for h in SnapshotTable(root).history())
    assert all(ids[f"a-{i}"] == 1 for i in range(len(ingest["committed"]))), ids
    assert max(ids.values()) == 1, ids
    _assert_state(spark, root, ev)
