"""Compaction-policy evidence: PARTIAL (pressure-driven) vs FULL vs NONE
on the zipf-skewed bench stream — quantifies the O(pressured buckets)
claim in operators.merge.compact_pressured.

Replays the identical cached bench binlog in N micro-batches three times:

- partial: every D batches (SAME cadence as full — an early variant that
  checked every batch showed per-commit job constants dominating at this
  toy scale), fold ONLY the buckets whose stacked delta bytes cross B:
  the zipf-hot buckets. (A depth trigger cannot discriminate on this
  stream: every batch touches every bucket, so depth pressure is
  uniform — BYTES pressure is what the skew concentrates.)
- binpack: merge small delta dirs VERBATIM on the same cadence (round-5
  operators.merge.binpack_deltas) — no resolve, no base rewrite: the
  cheap file-count lever, expected to rewrite far fewer bytes than even
  partial while keeping delta depth bounded;
- full:    compact() of EVERY live bucket on the same cadence;
- none:    pure merge-on-read appends (the read-latency price of never
           folding).

The headline metric is REWRITTEN BYTES — the cost that scales with data
volume. Read latency is also reported; at this toy scale the cold
buckets partial skips cost per-dir/file constants on read (tiny files),
which at 100 TB amortize while rewrite bytes do not.

Reports, per policy: ingest wall clock, number of compaction commits,
BUCKET-REWRITES (sum of buckets folded — the rewrite work measure),
bytes rewritten (from commit_bytes), final delta depth, and a timed
post-ingest full read. Prints one JSON line; paste into
BENCH/BASELINE.md.

Usage: python tools/compaction_bench.py [events] [batches] [depth]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench as B  # reuse the cached deterministic binlog
from hierarchical_to_relational_spark.operators.merge import (
    binpack_deltas,
    compact,
    compact_pressured,
)
from hierarchical_to_relational_spark.session import get_spark
from hierarchical_to_relational_spark.streaming.driver import CdcPipeline


def run_policy(spark, segs, binlog, policy: str, work: str, n_batches: int, depth: int,
               bytes_threshold: int = 2_000_000) -> dict:
    pipe = CdcPipeline(
        spark, binlog, os.path.join(work, f"t-{policy}"), os.path.join(work, f"ck-{policy}"),
        n_buckets=32, text_mode="none",
        compact_every=10**9,  # the pipeline's own trigger is disabled;
    )                         # this harness drives compaction explicitly
    per = max(len(segs) // n_batches, 1)
    rewrites = {"commits": 0, "buckets": 0, "bytes": 0}

    def _new_dir_bytes(before_dirs: set) -> int:
        cb = pipe.table.snapshot()["commit_bytes"]
        return sum(sum(bk.values()) for d, bk in cb.items() if d not in before_dirs)

    t0 = time.monotonic()
    for i, b in enumerate(range(0, len(segs), per)):
        pipe.replay_batch(segs[b: b + per], f"{policy}-{i}")
        if policy == "none" or (i + 1) % depth != 0:
            continue
        before = set(pipe.table.snapshot()["commit_bytes"])
        if policy == "partial":
            folded = compact_pressured(spark, pipe.table, f"{policy}-{i}::c",
                                       depth_threshold=10**9,
                                       bytes_threshold=bytes_threshold)
            if folded:
                rewrites["commits"] += 1
                rewrites["buckets"] += len(folded)
                rewrites["bytes"] += _new_dir_bytes(before)
        elif policy == "binpack":
            packed = binpack_deltas(spark, pipe.table, f"{policy}-{i}::c",
                                    target_bytes=64 << 20, min_dirs=3)
            if packed:
                rewrites["commits"] += 1
                rewrites["buckets"] += len(packed)
                rewrites["bytes"] += _new_dir_bytes(before)
        elif policy == "full":
            live = len(pipe.table.snapshot()["live"])
            if compact(spark, pipe.table, batch_id=f"{policy}-{i}::c"):
                rewrites["commits"] += 1
                rewrites["buckets"] += live
                rewrites["bytes"] += _new_dir_bytes(before)
    ingest_s = time.monotonic() - t0

    t1 = time.monotonic()
    from hierarchical_to_relational_spark.operators.merge import read_transcripts
    n_rows = read_transcripts(spark, pipe.table).count()
    read_s = time.monotonic() - t1
    return {
        "policy": policy,
        "ingest_seconds": round(ingest_s, 2),
        "compaction_commits": rewrites["commits"],
        "bucket_rewrites": rewrites["buckets"],
        "rewritten_mb": round(rewrites["bytes"] / 1e6, 1),
        "final_delta_depth": pipe.table.delta_depth(),
        "final_rows": n_rows,
        "full_read_seconds": round(read_s, 2),
    }


def main() -> None:
    events = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    depth = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    spark = get_spark(app_name="h2r-compaction-bench")
    binlog, physical = B._binlog_dir(events, max(events // 100, 10))
    segs = sorted(os.path.join(binlog, p) for p in os.listdir(binlog) if p.endswith(".parquet"))
    work = tempfile.mkdtemp(prefix="h2r-cb-")
    try:
        out = {
            "cdc_events": physical, "batches": n_batches, "depth_threshold": depth,
            "policies": [run_policy(spark, segs, binlog, p, work, n_batches, depth)
                         for p in ("partial", "binpack", "full", "none")],
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rows = {p["policy"]: p for p in out["policies"]}
    assert (rows["partial"]["final_rows"] == rows["full"]["final_rows"]
            == rows["none"]["final_rows"] == rows["binpack"]["final_rows"])
    print(json.dumps(out))


if __name__ == "__main__":
    main()
