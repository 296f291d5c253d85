"""Structured Streaming CDC driver: binlog tail → foreachBatch → merge.

The pipeline (north_rule core):

    readStream(binlog dir, bounded files/trigger)
      → foreachBatch: normalize (explode envelopes) → apply_cdc_batch
        (LWW merge, idempotent snapshot commit keyed by the streaming
        batch id) → lineage record

Exactly-once: Spark's streaming checkpoint gives at-least-once micro-batch
replay after a crash; the table commit is idempotent on batch_id, so a
replayed batch is a no-op — together, exactly-once table state. Resuming is
just restarting with the same checkpoint dir.

No event-time watermarking is needed: out-of-order and late events are
handled *inside the merge* by LWW-on-(lsn, commit_ts), which is
order-insensitive and convergent (SURVEY.md §2.2 streaming row).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession, types as T

from hierarchical_to_relational_spark.lineage import LineageStore
from hierarchical_to_relational_spark.operators.merge import (
    apply_cdc_batch,
    compact_pressured,
)
from hierarchical_to_relational_spark.operators.normalize import normalize_envelopes_fused
from hierarchical_to_relational_spark.plans import plan_cdc_table
from hierarchical_to_relational_spark.sources import binlog as binlog_source
from hierarchical_to_relational_spark.table.snapshot_table import (
    ConcurrentOverwriteError,
    SnapshotTable,
)

log = logging.getLogger(__name__)


def make_progress_listener(lineage: LineageStore, query_name: str):
    """StreamingQueryListener that records every micro-batch progress event
    into the table's lineage log (``type='progress'``): batch id, input
    rows, processing rate, per-phase durations. Together with the per-batch
    commit records this makes a live tail monitorable from the lineage
    JSONL alone — no Spark UI needed. The filter name is UNIQUE per
    run_stream invocation (uuid suffix), so listeners from earlier runs or
    other tables on the same session can never cross-log."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.name != query_name:
                return
            lineage.record(
                {
                    "type": "progress",
                    "query_name": p.name,
                    "stream_batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "processed_rows_per_second": p.processedRowsPerSecond,
                    "duration_ms": dict(p.durationMs or {}),
                    "event_ts": p.timestamp,
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _ProgressListener()


class CdcPipeline:
    def __init__(
        self,
        spark: SparkSession,
        binlog_dir: str,
        table_root: str,
        checkpoint_dir: str,
        n_buckets: int = 16,
        text_mode: str = "builtin",
        envelope_schema: T.StructType | None = None,
        compact_every: int = 16,
        compact_min_bytes: int | None = None,
        compact_zorder: list[str] | None = None,
        expire_every: int | None = None,
        retain_snapshots: int = 100,
        orphan_grace_seconds: float = 3600.0,
        source_format: str = "parquet",
        binpack_every: int | None = None,
        binpack_target_bytes: int = 64 << 20,
        binpack_min_dirs: int = 3,
        mview_root: str | None = None,
        mview_every: int = 1,
    ):
        self.spark = spark
        self.binlog_dir = binlog_dir
        self.checkpoint_dir = checkpoint_dir
        self.text_mode = text_mode
        self.compact_every = compact_every
        self.compact_min_bytes = compact_min_bytes
        self.compact_zorder = compact_zorder
        self.expire_every = expire_every
        self.retain_snapshots = retain_snapshots
        self.orphan_grace_seconds = orphan_grace_seconds
        self._batches_applied = 0
        self.source_format = source_format
        # cold-bucket file-count hygiene: every N batches, verbatim-merge
        # small delta dirs table-wide (no resolve shuffle, no base rewrite)
        # — the cheap lever pressure-compaction's depth trigger never
        # reaches on cold buckets
        self.binpack_every = binpack_every
        self.binpack_target_bytes = binpack_target_bytes
        self.binpack_min_dirs = binpack_min_dirs
        # co-maintained materialized view (default per-conversation
        # aggregate profile): refreshed inline every N batches so the MV
        # lags the table by at most N micro-batches
        self.mview_root = mview_root
        self.mview_every = mview_every
        self._mview = None
        self.envelope_schema = envelope_schema or binlog_source.envelope_schema()

        if SnapshotTable.exists(table_root):
            self.table = SnapshotTable(table_root)
        else:
            self.table = SnapshotTable.create(
                table_root, plan_cdc_table(self.envelope_schema), n_buckets)
        self.lineage = LineageStore(table_root)

    # -- one micro-batch (also usable standalone for pure batch ingest) --
    def apply_batch(self, envelopes: DataFrame, batch_id: int | str) -> dict:
        # fused single-scan normalize (r6): upsert + tombstone rows from
        # ONE pass over the segment files instead of two scan legs
        batch = normalize_envelopes_fused(envelopes, text_mode=self.text_mode)
        metrics = apply_cdc_batch(self.spark, self.table, batch, batch_id=str(batch_id))
        # fold deltas down once they stack too deep or grow too heavy —
        # PARTIAL: only the buckets over a threshold rewrite (manifest
        # stats pick them). A zipf-hot bucket folds often; cold buckets
        # with shallow stacks are never rewritten along for the ride.
        folded = self._inline_step(
            batch_id, "compact", compact_pressured,
            depth_threshold=self.compact_every,
            bytes_threshold=self.compact_min_bytes,
            zorder=self.compact_zorder,
        )
        if folded:
            metrics["compacted"] = True
            metrics["compacted_buckets"] = folded
        # unbounded-stream hygiene: expire old snapshots + orphan data dirs
        # every N applied batches so _snapshots/ and the id set stay bounded
        self._batches_applied += 1
        if (self.binpack_every is not None
                and self._batches_applied % self.binpack_every == 0):
            from hierarchical_to_relational_spark.operators.merge import binpack_deltas

            packed = self._inline_step(
                batch_id, "binpack", binpack_deltas,
                target_bytes=self.binpack_target_bytes,
                min_dirs=self.binpack_min_dirs,
            )
            if packed:
                metrics["packed_buckets"] = packed
        if (self.mview_root is not None
                and self._batches_applied % self.mview_every == 0):
            if self._mview is None:
                from hierarchical_to_relational_spark.operators.mview import (
                    ConvAggregateView,
                )

                self._mview = ConvAggregateView(self.spark, self.table,
                                                self.mview_root)
            mrep = self._mview.refresh()
            metrics["mview"] = {"mode": mrep["mode"], "to": mrep.get("to")}
        if self.expire_every is not None and self._batches_applied % self.expire_every == 0:
            metrics["expired"] = self.table.expire_snapshots(
                retain_last=self.retain_snapshots,
                orphan_grace_seconds=self.orphan_grace_seconds,
            )
        metrics["table_version"] = self.table.current_version()
        self.lineage.record(metrics)
        return metrics

    def _inline_step(self, batch_id, step: str, fn, **kw) -> list[int]:
        """One inline maintenance rewrite after ``batch_id`` committed;
        returns the buckets rewritten. A rewrite that loses every race to
        another writer is skipped with a warning (``[]``), so the committed
        batch still returns and gets its lineage line; the next batch picks
        again."""
        try:
            return fn(self.spark, self.table, batch_id=f"{batch_id}::{step}", **kw)
        except ConcurrentOverwriteError as e:
            log.warning("batch %s: inline %s skipped: %s", batch_id, step, e)
            return []

    # -- streaming entry point --
    def run_stream(
        self,
        max_files_per_trigger: int | None = 4,
        await_termination: bool = True,
        processing_time: str | None = None,
        timeout_s: float | None = None,
        record_progress: bool = False,
    ):
        """Tail the binlog as a checkpointed, resumable stream.

        Default trigger is ``availableNow`` — drain every currently-visible
        segment, then stop (batch-ish operation; call again after new
        segments land). Pass ``processing_time`` (e.g. ``"1 second"``) for
        the production live tail: the query keeps polling the directory and
        applies new segments as they arrive; ``max_files_per_trigger`` is
        the intake rate limit (bounds per-micro-batch work so one huge
        backlog can't produce an unbounded batch). Exactly-once and
        crash-resume semantics are identical under both triggers — they
        come from the checkpoint + idempotent batch-id commits, not the
        trigger. ``timeout_s`` bounds awaitTermination for soak tests."""
        stream = binlog_source.stream_binlog(
            self.spark, self.binlog_dir, self.envelope_schema, max_files_per_trigger,
            fmt=self.source_format,
        )
        import uuid

        # unique per invocation: Spark rejects duplicate ACTIVE query names,
        # and uniqueness also guarantees stale listeners never cross-log
        query_name = f"h2r-cdc-{uuid.uuid4().hex[:12]}"
        if record_progress:
            # drop this pipeline's previous listener (crash-resume loops
            # would otherwise accumulate one per run), then register BEFORE
            # start so the first micro-batch is captured
            if getattr(self, "_progress_listener", None) is not None:
                self.spark.streams.removeListener(self._progress_listener)
            self._progress_listener = make_progress_listener(self.lineage, query_name)
            self.spark.streams.addListener(self._progress_listener)
        writer = (
            stream.writeStream.foreachBatch(lambda df, bid: self.apply_batch(df, bid))
            .queryName(query_name)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if processing_time is None:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_time)
        query = writer.start()
        if await_termination:
            if timeout_s is not None:
                query.awaitTermination(timeout_s)
            else:
                query.awaitTermination()
        return query

    def detach_progress_listener(self) -> None:
        """Deregister this pipeline's progress listener (call once the
        stream is done, before tearing the session down — a late async
        event delivered after the Python gateway closes would otherwise
        log a py4j error at JVM shutdown)."""
        if getattr(self, "_progress_listener", None) is not None:
            self.spark.streams.removeListener(self._progress_listener)
            self._progress_listener = None

    # -- batch replay (bench path): same merge machinery, explicit batches --
    def replay_batch(self, paths_or_dir, batch_id: str | None = None) -> dict:
        """Replay the given segment files/dirs as one batch. With
        ``batch_id=None`` the id is derived from the input file listing
        (names + sizes), so re-running after NEW segments land is a new
        batch that gets applied, while re-running on identical input stays
        an idempotent no-op — a fixed id would silently skip new data."""
        paths = paths_or_dir if isinstance(paths_or_dir, list) else [paths_or_dir]
        if batch_id is None:
            batch_id = derive_replay_batch_id(paths)
        env = binlog_source.read_binlog(
            self.spark, paths, self.envelope_schema, fmt=self.source_format
        )
        return self.apply_batch(env, batch_id)


def derive_replay_batch_id(paths: list[str]) -> str:
    """Content-addressed batch id for a directory replay: sha256 over the
    sorted (relative-name, size) listing of every file under ``paths``.
    Segments are immutable and append-only, so the listing identifies the
    input set without reading data."""
    import hashlib
    import os

    entries: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                for f in files:
                    if f.startswith((".", "_")):
                        continue
                    full = os.path.join(root, f)
                    entries.append(f"{os.path.relpath(full, p)}:{os.path.getsize(full)}")
        elif os.path.exists(p):
            entries.append(f"{os.path.basename(p)}:{os.path.getsize(p)}")
    digest = hashlib.sha256("\n".join(sorted(entries)).encode()).hexdigest()[:16]
    return f"replay-{digest}"
