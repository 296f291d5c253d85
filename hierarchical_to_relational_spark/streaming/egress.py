"""Continuous CDC egress: a crash-resumable consumer loop over
``operators.merge.changes_since``.

``ChangeFollower`` is the downstream half of the CDC contract the ingest
side provides: it polls the table's commit log, emits each non-empty
window's net diff (materialized 'u' rows + conversation 'd' rows), and
persists its cursor — the last consumed snapshot VERSION — through a tiny
JSON file written with the same tmp+rename atomicity the table uses. A
crashed/restarted follower resumes from the cursor and re-polls the same
window; emissions are net state (idempotent upserts + re-droppable
deletes), so downstream replays converge exactly like the ingest side's
batch-id commits.

With ``out_dir`` set, every poll is exported as one parquet directory
``inc-<from>-<to>/`` (written atomically: stage + rename). That directory
stream IS a Structured Streaming source — a downstream pipeline tails it
with ``spark.readStream.schema(...).parquet(out_dir)`` and gets the
table's changelog with file-granularity exactly-once: published windows
never overlap (on startup the follower adopts the max published ``to`` as
its cursor when the exports ran ahead of the cursor file — the export IS
the durable cursor), so each version window appears in exactly one file
set. Consumers that merge increments into their own store should still
apply rows LWW by ``change_lsn`` — it is the defensive idempotent apply
order for any changelog.

Delivery channels: ``out_dir`` (durable parquet increments) and/or an
``on_changes`` callback. The two channels keep SEPARATE watermarks in the
cursor file — ``version`` (export cursor: never lags a published window,
so published exports can never overlap) and ``acked`` (callback cursor:
advanced only after the callback returns). A crash between export and
callback, or a callback error, leaves ``acked`` behind; the next poll
re-delivers the published-but-unacked windows FROM their exports (or one
recomputed catch-up window if an export was retired) before computing
anything new — the callback channel is at-least-once and the export
channel exactly-once, simultaneously. A follower with neither channel
only reports counts.

Published windows are additionally journaled to ``out_dir/_windows.jsonl``
(one tiny JSON line per window — bounded by window COUNT, not data). Each
line also records the window's AUDIT fingerprint: upsert/delete counts and
an order-insensitive content hash (exact decimal sum of per-row xxhash64)
computed over the PUBLISHED bytes in the same single-pass aggregate that
produces the poll's op counts — zero extra jobs. ``audit_exports()`` lets
any downstream verifier recompute live dirs against the journal and
pinpoint a corrupted/truncated export without consuming the stream. The
journal is the export stream's manifest: when retention has
deleted a published-but-unacked export dir, re-delivery consults the
journal and recomputes each ORIGINAL window (from, to] exactly via
``changes_since`` instead of collapsing the gap into one merged catch-up
window — downstream consumers that key their idempotence on window
boundaries (per-window staging tables, window-id dedup) see the same
window stream the original run delivered. The underscore prefix keeps it
invisible to the parquet streaming tail.

A rollback in a polled window emits THROUGH (round 5): changes_since
scans the dirs the rollback un-referenced (GC-protected while the
pre-rollback snapshot is retained) and emits synthetic conversation
deletes plus a superset re-add of the affected buckets' current rows —
the consumer's usual "apply 'd' then 'u'" converges, no resync. Only
when those dirs have already expired does changes_since raise
``ValueError`` and the follower surfaces ``needs_resync`` — a narrowed
form of the restriction Iceberg places on incremental reads across
history rewrites.
"""

from __future__ import annotations

import glob
import json
import logging
import os
import re
import shutil
import time
import uuid

from pyspark.sql import SparkSession

from hierarchical_to_relational_spark.operators.merge import changes_since
from hierarchical_to_relational_spark.table.snapshot_table import (
    SnapshotTable,
    write_json_atomic,
)

log = logging.getLogger(__name__)


class ChangeFollower:
    def __init__(
        self,
        spark: SparkSession,
        table: SnapshotTable,
        cursor_path: str,
        out_dir: str | None = None,
        since_ts: float | None = None,
    ):
        """``since_ts`` (epoch seconds): where a BRAND-NEW follower starts
        — the first poll emits everything committed after the latest
        snapshot at/before that wall-clock instant, instead of the default
        "pin at current, emit nothing". Ignored once a cursor exists (a
        resumed follower keeps its exact position; restarting from a
        timestamp would re-emit or skip windows)."""
        self.spark = spark
        self.table = table
        self.cursor_path = cursor_path
        self.out_dir = out_dir
        self.since_ts = since_ts
        if out_dir:
            os.makedirs(out_dir, exist_ok=True)
            # Crash recovery: a poll that published inc-A-B but died before
            # advancing the cursor file would otherwise re-poll from A after
            # new commits land and publish an OVERLAPPING inc-A-C — two
            # exports whose 'u' rows a file-order-agnostic streaming tail
            # could apply out of LSN order. The published exports ARE the
            # durable record of what was delivered, so adopt the max
            # published 'to' as the cursor whenever it is ahead of (or
            # missing from) the cursor file.
            published = self._published()
            published_to = max((t for _, t, _ in published), default=-1)
            if published_to >= 0 and (self.cursor() is None or published_to > self.cursor()):
                # Adopt the export cursor, but NOT the callback-ack cursor:
                # the crash may have happened after the export and before
                # the callback fired, and silently adopting 'to' for both
                # would turn the callback channel at-most-once. ``acked``
                # stays where deliveries verifiably reached (the old
                # cursor; for a follower with no cursor file at all, the
                # oldest published 'from' — full published replay is the
                # honest at-least-once recovery); poll_once re-delivers
                # published-but-unacked windows from their exports first.
                old_acked = self._acked()
                if old_acked is None:
                    old_cursor = self.cursor()
                    old_acked = old_cursor if old_cursor is not None else published[0][0]
                self._write_cursor(published_to, acked=old_acked)
            # journal backfill: exports published by a pre-journal follower
            # (or whose append was lost to a crash) get their boundaries
            # journaled now, while the dirs still exist — so retention can
            # later retire them without losing window-exact re-delivery
            jw = self._journal_windows()
            for f, t, _ in published:
                if f not in jw:
                    self._journal_append(f, t)
            # a crash between export and rename leaves _stage-* orphans
            # (readers only see inc-* dirs). Remove only STALE ones: a
            # supervisor may restart the follower while the old process is
            # still mid-export, and deleting its live stage dir would let
            # it publish a PARTIAL increment. An hour of no modification
            # means no write is in flight.
            now = time.time()
            for stale in glob.glob(os.path.join(out_dir, "_stage-*")):
                try:
                    if now - os.path.getmtime(stale) > 3600:
                        shutil.rmtree(stale, ignore_errors=True)
                except FileNotFoundError:
                    pass

    def _published(self) -> list[tuple[int, int, str]]:
        """Sorted ``(from, to, path)`` of every published export dir."""
        wins = []
        for d in glob.glob(os.path.join(self.out_dir, "inc-*-*")):
            m = re.fullmatch(r"inc-(\d+)-(\d+)", os.path.basename(d))
            if m:
                wins.append((int(m.group(1)), int(m.group(2)), d))
        return sorted(wins)

    # -- window journal --------------------------------------------------
    def _journal_path(self) -> str:
        return os.path.join(self.out_dir, "_windows.jsonl")

    def _journal_windows(self) -> dict[int, int]:
        """{from: to} of every journaled window."""
        return {int(w["from"]): int(w["to"]) for w in self._journal_lines()
                if "from" in w and "to" in w}

    def _journal_append(self, frm: int, to: int,
                        stats: dict | None = None) -> None:
        if frm in self._journal_windows():
            return  # crash re-poll of an already-published window
        line = {"from": frm, "to": to}
        if stats:
            line.update(stats)
        with open(self._journal_path(), "a") as f:
            f.write(json.dumps(line) + "\n")
            f.flush()
            os.fsync(f.fileno())

    def _journal_lines(self) -> list[dict]:
        """Every parsed journal line. Tolerates a torn final line (crash
        mid-append): malformed lines are skipped — the export dir listing
        is unioned in by callers, so a window whose append tore is still
        found while its dir lives."""
        out = []
        try:
            with open(self._journal_path()) as f:
                for line in f:
                    try:
                        out.append(json.loads(line))
                    except ValueError:
                        continue
        except FileNotFoundError:
            pass
        return out

    @staticmethod
    def _hashable_cols(df) -> list[str]:
        """Columns xxhash64 can digest: Spark's hash expressions reject
        MapType anywhere in the type (top-level or nested) unless a
        legacy flag is on. Fixed column ORDER (schema order) on purpose:
        write-side journal stats and audit recompute both go through
        this one helper, so the fingerprint stays comparable."""
        from pyspark.sql import types as T

        def has_map(dt) -> bool:
            if isinstance(dt, T.MapType):
                return True
            if isinstance(dt, T.ArrayType):
                return has_map(dt.elementType)
            if isinstance(dt, T.StructType):
                return any(has_map(f.dataType) for f in dt.fields)
            return False

        return [f.name for f in df.schema.fields if not has_map(f.dataType)]

    @staticmethod
    def _window_stats(df) -> dict:
        """Audit fingerprint of one change window: op counts plus an
        ORDER-INSENSITIVE content hash (exact decimal sum of per-row
        xxhash64 over every hashABLE column — commutative, so
        repartitioning or file order can't change it; decimal so ANSI
        sum can't overflow). Map-typed columns are excluded (xxhash64
        would fail analysis and take poll_once down with it); a schema
        with NO hashable columns degrades to counts-only stats. One
        single-pass aggregate — it replaces the old per-op groupBy."""
        from pyspark.sql import functions as F

        cols = ChangeFollower._hashable_cols(df)
        aggs = [
            F.sum(F.when(F.col("change_op") == "u", 1).otherwise(0)).alias("u"),
            F.sum(F.when(F.col("change_op") == "d", 1).otherwise(0)).alias("d"),
        ]
        if cols:
            aggs.append(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"))
        r = df.agg(*aggs).collect()[0]
        out = {"upserts": int(r["u"] or 0), "deletes": int(r["d"] or 0)}
        if cols:
            out["hash"] = str(r["h"]) if r["h"] is not None else None
        return out

    def audit_exports(self, recompute_retired: bool = False) -> list[dict]:
        """Downstream-audit pass over the export stream: for every
        journaled window whose stats were recorded, recompute the
        fingerprint from its LIVE export dir and report any divergence.
        Empty list == every published byte still matches what the
        follower delivered. O(live export dirs) single-pass aggregates,
        no state is mutated.

        ``recompute_retired=True`` extends the audit to windows retention
        already deleted: each is recomputed window-exact via
        ``changes_since`` (deterministic — every emitted column comes
        from stored data, no wall clock) and checked against its journal
        line, proving the journal itself wasn't tampered with and the
        table can still reproduce what was delivered. A retired window
        whose source versions have also expired is reported with
        ``"unverifiable": True`` rather than silently passed."""
        if not self.out_dir:
            return []
        bad = []
        for w in self._journal_lines():
            if "upserts" not in w:
                continue  # pre-stats journal line (backfill) — boundaries only
            # a counts-only line (no hashable column) still audits its counts
            want = {k: w[k] for k in ("upserts", "deletes", "hash") if k in w}
            d = os.path.join(self.out_dir, f"inc-{w['from']:010d}-{w['to']:010d}")
            if os.path.isdir(d):
                # an export left with no part file is an empty window
                parts = glob.glob(os.path.join(d, "*.parquet"))
                got = (self._window_stats(self.spark.read.parquet(*parts))
                       if parts else {"upserts": 0, "deletes": 0})
            elif recompute_retired:
                try:
                    df = changes_since(self.spark, self.table,
                                       w["from"], version=w["to"])
                except (ValueError, FileNotFoundError):
                    bad.append({"from": w["from"], "to": w["to"],
                                "expected": want, "found": None,
                                "path": None, "unverifiable": True})
                    continue
                got = self._window_stats(df)
                d = None
            else:
                continue  # retired; journal stays the durable record
            got = {k: got.get(k) for k in want}
            if got != want:
                bad.append({"from": w["from"], "to": w["to"],
                            "expected": want, "found": got, "path": d})
        return bad

    def retire_exports(self, keep_last: int, force: bool = False) -> list[str]:
        """Retention for the export stream: delete all but the newest
        ``keep_last`` published ``inc-*`` dirs (the journal keeps their
        boundaries, so later re-delivery recomputes them window-exact).
        Refuses to retire a published-but-UNACKED window — deleting it
        would force re-delivery onto the recompute path while the window
        is still owed to the callback — unless ``force=True`` (recompute
        from the journal still converges; it just costs a changes_since
        per window). Returns the removed paths."""
        wins = self._published()
        victims = wins[:-keep_last] if keep_last > 0 else wins
        acked = self._acked()
        removed = []
        for f, t, d in victims:
            if not force and (acked is None or t > acked):
                continue
            shutil.rmtree(d, ignore_errors=True)
            removed.append(d)
        return removed

    # -- cursor ----------------------------------------------------------
    # The cursor file holds TWO watermarks: ``version`` — the export/window
    # cursor (diffs are computed from here; with out_dir it never lags a
    # published export, so published windows can never overlap) — and
    # ``acked`` — the version through which the ``on_changes`` callback has
    # verifiably been delivered. They diverge exactly when a window was
    # exported but its callback didn't complete (crash or callback error):
    # the next poll re-delivers those windows FROM their published exports
    # before computing anything new. Old single-field cursor files load
    # with acked == version.
    def _state(self) -> dict | None:
        try:
            with open(self.cursor_path) as f:
                st = json.load(f)
                st.setdefault("acked", st["version"])
                return st
        except FileNotFoundError:
            return None

    def cursor(self) -> int | None:
        st = self._state()
        return None if st is None else st["version"]

    def _acked(self) -> int | None:
        st = self._state()
        return None if st is None else st["acked"]

    def _write_cursor(self, version: int, acked: int | None = None) -> None:
        write_json_atomic(self.cursor_path, {
            "version": version, "acked": version if acked is None else acked})

    def reset_cursor(self, version: int) -> None:
        """After a full resync: pin the cursor at the version the resync
        read (subsequent polls emit only what lands after it)."""
        self._write_cursor(version)

    # -- polling ---------------------------------------------------------
    def poll_once(self, on_changes=None) -> dict:
        """One poll: diff (cursor, current], export/emit, DELIVER, then
        advance the cursor. Returns {from, to, upserts, deletes, out_path,
        needs_resync, redelivered}. First poll with no cursor emits nothing
        and pins the cursor at the current version (a brand-new consumer
        starts from a full read it performs itself — emitting the whole
        table as a 'diff' would duplicate that read).

        ``on_changes(result)`` — invoked for a non-empty window BEFORE the
        cursor advances: if the callback raises, the cursor stays put and
        the next poll re-delivers the same window (at-least-once; emissions
        are net state, so a re-applied window converges). Without it and
        without ``out_dir`` the poll returns only counts — rows are never
        materialized anywhere, so consumers that need the data must use one
        of the two delivery channels."""
        v_now = self.table.current_version()
        st = self._state()
        since = st["version"] if st else None
        acked = st["acked"] if st else None
        redelivered = 0

        def result(to: int, needs_resync: bool = False, **window) -> dict:
            # every return reports this poll's start and re-deliveries
            return {"from": since, "to": to, "upserts": 0, "deletes": 0, "out_path": None,
                    "needs_resync": needs_resync, "redelivered": redelivered, **window}

        if since is None and self.since_ts is not None:
            # timestamp start point: resume as if a cursor had been pinned
            # at the snapshot current at since_ts — the first poll emits
            # the diff from there
            since = self.table.version_as_of(self.since_ts)
            acked = since
        if since is None:
            self._write_cursor(v_now)
            return result(v_now)
        if on_changes is not None and self.out_dir and acked is not None and acked < since:
            # published-but-unacked windows (crash between export and
            # callback, or a prior callback error): re-deliver them FROM
            # their durable exports before anything new — this is what
            # keeps the callback channel at-least-once while the export
            # cursor (which must never lag a published window, or a retry
            # would publish an overlapping export) runs ahead
            redelivered, ok = self._redeliver(acked, since, on_changes)
            if not ok:
                log.warning("feed resync v%s..v%s: unacked windows from v%s cannot be "
                            "re-delivered", since, v_now, acked)
                return result(v_now, needs_resync=True)
        if v_now <= since:
            return result(since)
        try:
            df = changes_since(self.spark, self.table, since, version=v_now)
        except ValueError as e:
            # a rollback whose retracted dirs already expired: full resync
            log.warning("feed resync v%s..v%s: %s", since, v_now, e)
            return result(v_now, needs_resync=True)
        except FileNotFoundError:
            # Resync ONLY if the cursor's snapshot really expired (offline
            # past the retention window); a transient FS blip on some other
            # snapshot file should propagate and be retried next poll — a
            # spurious resync is a full-table rebuild at scale.
            if not os.path.exists(self.table._snapshot_path(since)):
                log.warning("feed resync v%s..v%s: the cursor's snapshot expired", since, v_now)
                return result(v_now, needs_resync=True)
            raise
        out_path = None
        if self.out_dir:
            final = os.path.join(self.out_dir, f"inc-{since:010d}-{v_now:010d}")
            if not os.path.exists(final):
                stage = os.path.join(self.out_dir, f"_stage-{uuid.uuid4().hex}")
                df.write.mode("overwrite").parquet(stage)
                os.replace(stage, final)  # atomic: readers see whole dirs only
            # else: a previous poll exported this exact window but crashed
            # before advancing the cursor — the diff of (since, v_now] is
            # deterministic, so the existing export IS this poll's output
            df = self.spark.read.parquet(final)
            out_path = final
        # one single-pass aggregate: op counts + the audit fingerprint.
        # With an export it runs over the PUBLISHED bytes, so the journal
        # line certifies exactly what downstream consumers will read.
        stats = self._window_stats(df)
        if out_path is not None:
            self._journal_append(since, v_now, stats)  # outlives retention
        res = result(v_now, upserts=stats["upserts"], deletes=stats["deletes"],
                     out_path=out_path, changes=df)
        # deliver BEFORE advancing the ack: a crash (or callback error)
        # between delivery and cursor write re-delivers the same window —
        # at-least-once for callback consumers instead of the at-most-once
        # a cursor-first order would give
        if on_changes is not None and (res["upserts"] or res["deletes"]):
            if out_path is not None:
                try:
                    on_changes(res)
                except Exception:
                    # the export is already durable: advance the EXPORT
                    # cursor (a re-poll must diff from v_now, or it would
                    # publish an overlapping inc-since-*), keep ``acked``
                    # behind so the next poll re-delivers this window from
                    # its export, then surface the error
                    self._write_cursor(v_now, acked=since)
                    raise
            else:
                # no durable export: leave the cursor untouched so the next
                # poll recomputes and re-delivers the same window
                on_changes(res)
        # with out_dir but no callback this poll, preserve the ack lag —
        # advancing it would silently skip delivery for a consumer that
        # resumes passing on_changes later
        final_acked = v_now if (on_changes is not None or not self.out_dir) else acked
        self._write_cursor(v_now, acked=final_acked)
        res.pop("changes")
        return res

    def _redeliver(self, acked: int, upto: int, on_changes) -> tuple[int, bool]:
        """Re-deliver published-but-unacked windows (acked, upto] to the
        callback, preferring the durable exports (byte-identical to the
        original delivery). A window whose export dir was retired is
        looked up in the window journal and RECOMPUTED exactly — same
        (from, to] boundaries as the original delivery — via
        ``changes_since``; only a window absent from both (pre-journal
        follower, or its delta dirs expired) collapses the remainder into
        ONE recomputed catch-up window — still net state, so the consumer
        converges. Returns (windows delivered, ok); ok=False means the
        gap could not be recomputed either (rollback / expired snapshot)
        and the caller must surface ``needs_resync``. Advances ``acked``
        in the cursor file after each delivered window."""
        chain: dict[int, tuple[int, str | None]] = {}
        for f, t in self._journal_windows().items():
            if f >= acked and t > acked and t <= upto:
                chain[f] = (t, None)
        for f, t, d in self._published():
            if f >= acked and t > acked and t <= upto:
                chain[f] = (t, d)  # a live export beats its journal line
        n, pos = 0, acked
        while pos < upto:
            # past the chain's end: ONE recomputed catch-up window
            t, d = chain.get(pos, (upto, None))
            if d is not None:
                df = self.spark.read.parquet(d)
            else:
                # export retired → journal-exact recompute of (pos, t]
                try:
                    df = changes_since(self.spark, self.table, pos, version=t)
                except (ValueError, FileNotFoundError):
                    if t == upto:
                        return n, False  # rollback / expired — full resync needed
                    del chain[pos]  # its dirs expired too → merged catch-up
                    continue
            stats = self._window_stats(df)
            res = {"from": pos, "to": t,
                   "upserts": stats["upserts"], "deletes": stats["deletes"],
                   "out_path": d, "needs_resync": False, "redelivery": True,
                   "recomputed": d is None, "changes": df}
            if res["upserts"] or res["deletes"]:
                on_changes(res)  # error → propagate; acked stays at pos
                n += 1
            pos = t
            self._write_cursor(upto, acked=t)
        return n, True

    def run(
        self,
        poll_interval_s: float = 5.0,
        max_polls: int | None = None,
        on_changes=None,
    ) -> list[dict]:
        """Follow loop: poll every ``poll_interval_s``; call
        ``on_changes(poll_result)`` for every non-empty window BEFORE that
        window's cursor advance (see poll_once — at-least-once delivery);
        stop after ``max_polls`` (None = until needs_resync). Returns the
        polls."""
        polls: list[dict] = []
        while max_polls is None or len(polls) < max_polls:
            res = self.poll_once(on_changes=on_changes)
            polls.append(res)
            if res["needs_resync"]:
                break
            if max_polls is None or len(polls) < max_polls:
                time.sleep(poll_interval_s)
        return polls
