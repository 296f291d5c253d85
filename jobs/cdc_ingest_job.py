"""spark-submit entry point for the CDC ingest pipeline (north_rule ships
the job via ``spark-submit --py-files``).

Package + submit:

    cd /root/repo && zip -qr /tmp/h2r.zip hierarchical_to_relational_spark
    spark-submit --master local[32] --py-files /tmp/h2r.zip \\
        jobs/cdc_ingest_job.py \\
        --binlog-dir /data/binlog --table /data/transcripts \\
        --checkpoint /data/ck --n-buckets 256 [--stream]

On a real cluster only ``--master``/resource flags change; the engine's
partitioning (hash buckets on conv_id, one LWW shuffle per batch, AQE skew
handling) is cluster-size agnostic.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="CDC binlog → transcripts table ingest")
    p.add_argument("--binlog-dir", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--n-buckets", type=int, default=256)
    p.add_argument("--compact-every", type=int, default=16,
                   help="fold a bucket at this many dirs; 2 = copy-on-write layout")
    p.add_argument("--compact-min-mb", type=float, default=None,
                   help="also compact when any bucket's stacked deltas exceed this "
                        "many MiB (manifest byte stats; no filesystem listing)")
    p.add_argument("--compact-zorder", default=None, metavar="COL[,COL...]",
                   help="cluster compaction rewrites by a Morton interleave of "
                        "these columns (e.g. conv_id,_lsn) instead of conv_id")
    p.add_argument("--expire-every", type=int, default=None,
                   help="expire old snapshots + collect orphans every N applied "
                        "batches (unbounded-stream metadata hygiene)")
    p.add_argument("--retain-snapshots", type=int, default=100)
    p.add_argument("--orphan-grace-s", type=float, default=3600.0)
    p.add_argument("--binpack-every", type=int, default=None,
                   help="every N batches, verbatim-merge small delta dirs "
                        "table-wide (cold-bucket file-count hygiene)")
    p.add_argument("--binpack-target-mb", type=float, default=64.0)
    p.add_argument("--mview-root", default=None,
                   help="co-maintain an incremental per-conversation "
                        "aggregate view (default profile) at this path")
    p.add_argument("--mview-every", type=int, default=1,
                   help="refresh the --mview-root view every N batches")
    p.add_argument("--text-mode", choices=["builtin", "arrow", "none"], default="builtin",
                   help="text cleanup: builtin = whitespace collapse + trim; arrow = "
                        "the full Unicode normalize (NFC, control strip, Unicode "
                        "whitespace collapse, trim); none = text as written")
    p.add_argument("--source-format", choices=["parquet", "json", "csv"], default="parquet")
    p.add_argument("--max-files-per-trigger", type=int, default=16)
    p.add_argument("--stream", action="store_true",
                   help="tail via Structured Streaming (availableNow, resumable); "
                        "default replays the directory as one batch")
    p.add_argument("--batch-id", default=None,
                   help="batch mode only: explicit idempotence key; default derives "
                        "one from the input segment listing so new segments re-apply")
    p.add_argument("--processing-time", default=None, metavar="INTERVAL",
                   help="with --stream: run a LIVE tail with this trigger interval "
                        "(e.g. '2 seconds') instead of availableNow drain-and-stop")
    p.add_argument("--timeout-s", type=float, default=None,
                   help="with --stream: stop the query after this many seconds if it "
                        "has not terminated on its own (live tail: the normal way to "
                        "end the run; availableNow: a safety bound on the drain)")
    p.add_argument("--record-progress", action="store_true",
                   help="with --stream: log per-trigger streaming progress telemetry "
                        "into the table's lineage (monitorable via maintenance 'status')")
    p.add_argument("--final-compact", action="store_true")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from hierarchical_to_relational_spark.operators.merge import compact
    from hierarchical_to_relational_spark.streaming.driver import CdcPipeline

    spark = SparkSession.builder.appName("h2r-cdc-ingest").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    pipe = CdcPipeline(
        spark,
        args.binlog_dir,
        args.table,
        args.checkpoint,
        n_buckets=args.n_buckets,
        text_mode=args.text_mode,
        compact_every=args.compact_every,
        compact_min_bytes=(int(args.compact_min_mb * 2**20)
                           if args.compact_min_mb is not None else None),
        expire_every=args.expire_every,
        retain_snapshots=args.retain_snapshots,
        orphan_grace_seconds=args.orphan_grace_s,
        source_format=args.source_format,
        compact_zorder=args.compact_zorder.split(",") if args.compact_zorder else None,
        binpack_every=args.binpack_every,
        binpack_target_bytes=int(args.binpack_target_mb * 2**20),
        mview_root=args.mview_root,
        mview_every=args.mview_every,
    )
    if args.stream:
        q = pipe.run_stream(
            max_files_per_trigger=args.max_files_per_trigger,
            processing_time=args.processing_time,
            timeout_s=args.timeout_s,
            record_progress=args.record_progress,
        )
        # stop unconditionally whenever the query may still be live:
        # processing-time tails never self-terminate, and a timed-out
        # availableNow drain can return from awaitTermination with
        # micro-batches still in flight — compacting or printing the
        # summary against an in-flight stream would misreport state.
        # stop() blocks until the current batch finishes; on an
        # already-terminated query it is a no-op.
        if args.processing_time is not None or args.timeout_s is not None:
            q.stop()
        pipe.detach_progress_listener()
    else:
        metrics = pipe.replay_batch(args.binlog_dir, batch_id=args.batch_id)
        if not metrics["committed"]:
            print(
                f"NOTE: batch {metrics['batch_id']!r} already applied — commit "
                "skipped (idempotent no-op); pass --batch-id to force a distinct key",
                file=sys.stderr,
            )
    if args.final_compact:
        compact(spark, pipe.table, batch_id=f"final-compact-v{pipe.table.current_version()}",
                zorder=args.compact_zorder.split(",") if args.compact_zorder else None)

    print(json.dumps({
        "table_version": pipe.table.current_version(),
        "applied_lsn_watermark": pipe.lineage.applied_lsn_watermark(),
        "batches": len(pipe.lineage.entries()),
    }))
    # explicit stop drains the async listener bus while the Python gateway
    # is still alive (otherwise a late streaming event logs a py4j error
    # during interpreter teardown)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
