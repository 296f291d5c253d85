"""Incremental materialized views over a SnapshotTable's change stream.

``ConvAggregateView`` maintains a per-conversation aggregate table (any
``groupBy("conv_id").agg(...)`` the caller declares) INCREMENTALLY from
the source table's CDF: each refresh takes the conversations the window
``(cursor, now]`` touched, with their current resolved rows, from ONE
tagged scan of the window (``changed_conversations``), recomputes the
aggregate for ONLY those conversations, and LWW-upserts the results —
refresh cost is O(changed conversations), independent of table size.
This is the lakehouse "incremental view maintenance" story (the same
contract Materialize/DBSP-style engines and Databricks MVs provide)
built from parts the engine already has:

- the **view IS a SnapshotTable** (one row per conversation, the table's
  (conv_id, turn_idx) key satisfied with ``turn_idx=0``), so the MV gets
  atomic idempotent commits, time travel, expiration/GC, SQL views and
  snapshot export for free;
- refresh rows carry ``_lsn = source version`` — LWW makes refreshes
  commute exactly like CDC batches: a re-run of a crashed refresh
  resolves to the same state in any replay order, and the commit's
  ``batch_id`` (``mview::<from>-><to>``) makes the write itself
  idempotent;
- conversation-granularity recompute (not delta-apply) is what makes
  ARBITRARY aggregates correct: the CDF is net-state (no before-images),
  so decomposable-only delta maintenance would silently miscount
  replaced turns. Recomputing a changed conversation from its current
  resolved rows is exact for any aggregate, and the per-window changed
  set is the micro-batch's conversations — small by construction.

Scale shape at 100 TB: one scan of the window's delta dirs and the
affected buckets, on one ``conv_id`` exchange, yields both the changed
conversations and their resolved rows — no conversation id reaches the
driver and nothing is read twice; the MV write shuffles only O(changed
convs) rows. A full refresh happens exactly twice in a view's life:
first build, and disaster fallback when the cursor's snapshot expired
(same contract as every CDF follower).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hierarchical_to_relational_spark.operators.merge import (
    META_LSN,
    META_OP,
    META_TS,
    apply_cdc_batch,
    changed_conversations,
    read_transcripts,
    table_schema_for,
)
from hierarchical_to_relational_spark.table.snapshot_table import (
    SnapshotTable,
    write_json_atomic,
)

CURSOR_NAME = "_mview_cursor.json"


def default_aggs() -> dict[str, Column]:
    """A useful default profile over the transcript schema: turn count,
    latest activity, distinct roles, total text volume."""
    return {
        "n_turns": F.count(F.lit(1)),
        "last_ts": F.max("ts"),
        "n_roles": F.countDistinct("role"),
        "chars": F.sum(F.length("text")),
    }


class ConvAggregateView:
    def __init__(
        self,
        spark: SparkSession,
        source: "SnapshotTable | ConvAggregateView",
        root: str,
        aggs: dict[str, Column | str] | None = None,
        n_buckets: int = 16,
        window_col: Column | None = None,
    ):
        """``aggs``: output column name → aggregate expression over the
        source's RESOLVED user rows, grouped by ``conv_id`` — a Column or
        a SQL aggregate string (``"sum(length(text))"``, parsed with
        F.expr; what the CLI's ``--agg name=expr`` surfaces). Declared
        once at construction; the MV schema is derived from them on the
        first refresh.

        ``source`` may be ANOTHER ConvAggregateView (view chaining): the
        downstream view treats the upstream MV's own SnapshotTable as its
        source — the upstream's refresh commits are ordinary CDF windows,
        so the downstream refresh stays O(conversations the upstream
        window touched) and changes propagate level by level (refresh
        upstream, then downstream; ``refresh_many`` cannot mix levels
        because each level must see the previous one's commit first).
        Resolution is lazy: the upstream may be unbuilt at construction
        as long as it has refreshed before the downstream's first
        refresh. Since an MV root is just a table, the maintenance CLI
        chains with ``--table <upstream-mv-root> --root <downstream>``
        plus ``--agg`` declarations over the upstream's columns.

        ``window_col``: optional INT expression over the source rows
        (e.g. ``F.datediff(F.col("ts"), F.lit("1970-01-01"))`` for daily
        rollups) that turns the view into an EVENT-TIME WINDOWED
        aggregate: one MV row per (conv_id, window) instead of per
        conversation. Refresh granularity stays the conversation — a
        changed conversation's windows are rewritten delete-then-readd
        (a conversation-level tombstone at the refresh's odd LSN, the
        current windows re-added at the even LSN above it), so windows a
        change VACATED disappear exactly. The window value lands in the
        MV's ``turn_idx`` key column and is surfaced as ``window_id`` by
        ``read()``."""
        self.spark = spark
        self._source = source
        self.root = root
        aggs = aggs if aggs is not None else default_aggs()
        self.aggs = {n: (F.expr(c) if isinstance(c, str) else c)
                     for n, c in aggs.items()}
        self.n_buckets = n_buckets
        self.window_col = window_col
        self.table: SnapshotTable | None = (
            SnapshotTable(root) if SnapshotTable.exists(root) else None
        )

    @property
    def source(self) -> SnapshotTable:
        """The source TABLE — for a chained view, the upstream MV's table,
        resolved lazily (the upstream must have refreshed at least once
        before this view's first refresh needs it)."""
        if isinstance(self._source, ConvAggregateView):
            if self._source.table is None:
                raise ValueError(
                    "chained view's upstream MV has never been refreshed")
            return self._source.table
        return self._source

    # -- cursor (same tmp+rename discipline as the follower/table) -------
    def _cursor_path(self) -> str:
        return os.path.join(self.root, CURSOR_NAME)

    def cursor(self) -> int | None:
        try:
            with open(self._cursor_path()) as f:
                return json.load(f)["source_version"]
        except FileNotFoundError:
            return None

    def _write_cursor(self, v: int) -> None:
        write_json_atomic(self._cursor_path(), {"source_version": v})

    # -- refresh ---------------------------------------------------------
    def _agg_df(self, rows: DataFrame) -> DataFrame:
        keys = ["conv_id"]
        if self.window_col is not None:
            rows = rows.withColumn("_w", self.window_col.cast("int"))
            keys.append("_w")
        return rows.groupBy(*keys).agg(
            *[c.alias(n) for n, c in self.aggs.items()]
        )

    def _ensure_table(self, agg: DataFrame) -> SnapshotTable:
        if self.table is None:
            key_f = self.source.schema()["conv_id"]
            fields = [T.StructField("conv_id", key_f.dataType, False),
                      T.StructField("turn_idx", T.IntegerType(), True)]
            fields += [T.StructField(f.name, f.dataType, True)
                       for f in agg.schema.fields
                       if f.name not in ("conv_id", "_w")]  # _w IS turn_idx
            self.table = SnapshotTable.create(
                self.root, table_schema_for(fields), self.n_buckets
            )
        return self.table

    def _apply(self, agg: DataFrame, dead: DataFrame, v_now: int,
               batch_id: str) -> dict:
        """Commit one refresh: a conversation-level TOMBSTONE for every
        touched conversation at LSN ``2·v_now − 1``, its current
        aggregate rows re-added at ``2·v_now``. Delete-then-readd is
        what makes windowed views exact — a window the change vacated
        has no re-add and dies with the tombstone — and the odd/even
        LSN split keeps the same-refresh re-add strictly above its own
        tombstone while staying monotone across refreshes (LWW resolves
        any replay order to the same state)."""
        table = self._ensure_table(agg)
        win = self.window_col is not None
        ups = agg.select(
            "conv_id",
            (F.col("_w") if win else F.lit(0)).alias("turn_idx"),
            *[F.col(n) for n in self.aggs],
            F.lit(2 * v_now).alias(META_LSN),
            F.current_timestamp().alias(META_TS),
            F.lit("u").alias(META_OP),
        )
        # tombstone rows: every other column null (null _commit_ts too)
        tombs = dead.select("conv_id", F.lit(2 * v_now - 1).alias(META_LSN),
                            F.lit("d").alias(META_OP))
        batch = ups.unionByName(tombs, allowMissingColumns=True)
        rep = apply_cdc_batch(self.spark, table, batch, batch_id=batch_id)
        self._write_cursor(v_now)
        return rep

    def refresh(self) -> dict:
        """One maintenance step: advance the view to the source's current
        version. Returns the commit report plus {"mode": "noop" |
        "incremental" | "full", "from", "to", "changed_convs"} — its
        commit's tombstone count, one per touched conversation (None when
        the commit was a replay)."""
        return refresh_many([self])[0]

    def full_refresh(self) -> dict:
        """Aggregate the whole resolved source state (first build, or
        expired-cursor fallback) and reconcile the MV against it: every
        conversation currently IN the view is tombstoned and the fresh
        aggregates re-added above the tombstone — stale rows (vanished
        conversations, vacated windows) die, surviving ones are simply
        overwritten."""
        v_now = self.source.current_version()
        rows = read_transcripts(self.spark, self.source, version=v_now)
        agg = self._agg_df(rows)
        if self.table is not None:
            dead = read_transcripts(self.spark, self.table) \
                .select("conv_id").distinct()
        else:
            dead = agg.select("conv_id").limit(0)
        rep = self._apply(agg, dead, v_now, f"mview::full->{v_now}")
        return {"mode": "full", "from": None, "to": v_now,
                "changed_convs": None, **rep}

    # -- shared-scan internals (refresh_many) ----------------------------
    def _refresh_from(self, current: DataFrame, affected: DataFrame,
                      v_now: int, since) -> dict:
        """Incremental step against an already-materialized slice of the
        source (``current`` = resolved rows of every affected
        conversation, possibly a SUPERSET of this view's own window —
        recomputing an untouched conversation is idempotent under LWW,
        never wrong)."""
        agg = self._agg_df(current)
        rep = self._apply(agg, affected, v_now, f"mview::{since}->{v_now}")
        return {"mode": "incremental", "from": since, "to": v_now, **rep}

    # -- read ------------------------------------------------------------
    def read(self, version: int | None = None) -> DataFrame:
        """The materialized aggregate: one row per live conversation —
        or per (conversation, window) for windowed views, with the
        window surfaced as ``window_id`` (``version`` = MV time
        travel)."""
        if self.table is None:
            raise ValueError("view has never been refreshed")
        df = read_transcripts(self.spark, self.table, version=version)
        if self.window_col is not None:
            return df.withColumnRenamed("turn_idx", "window_id")
        return df.drop("turn_idx")


def refresh_dag(views: list[ConvAggregateView]) -> list[dict]:
    """Refresh a CHAINED view DAG in one call: views are topologically
    ordered (upstreams before the views that read them — chaining depth
    is discovered by following ``_source`` links), each LEVEL's
    same-source groups refresh through ``refresh_many``'s shared scan,
    and downstream levels run after their upstreams committed — so one
    call propagates a change wave through the whole DAG. Views whose
    source is an unrelated table simply land in level 0. Returns one
    report per view, in INPUT order (a view passed more than once
    refreshes ONCE and its report repeats at every position). Raises on
    a cycle (impossible to build with this API, but a hand-wired loop
    should fail loudly, not recurse forever)."""
    order: list[int] = []      # input position -> unique-view position
    uniq: list[ConvAggregateView] = []
    first_pos: dict[int, int] = {}
    for v in views:
        if id(v) not in first_pos:
            first_pos[id(v)] = len(uniq)
            uniq.append(v)
        order.append(first_pos[id(v)])
    views = uniq
    idx = {id(v): i for i, v in enumerate(views)}

    def depth(v: ConvAggregateView, seen: tuple = ()) -> int:
        if id(v) in seen:
            raise ValueError("refresh_dag: view dependency cycle")
        s = v._source
        if isinstance(s, ConvAggregateView):
            return 1 + depth(s, seen + (id(v),))
        return 0

    levels: dict[int, list[ConvAggregateView]] = {}
    for v in views:
        levels.setdefault(depth(v), []).append(v)
    reports: dict[int, dict] = {}
    for d in sorted(levels):
        # within a level, group by source table root for the shared scan
        groups: dict[str, list[ConvAggregateView]] = {}
        for v in levels[d]:
            groups.setdefault(v.source.root, []).append(v)
        for group in groups.values():
            for v, rep in zip(group, refresh_many(group)):
                reports[idx[id(v)]] = rep
    return [reports[j] for j in order]


def refresh_many(views: list[ConvAggregateView]) -> list[dict]:
    """Refresh SEVERAL views over the same source table from ONE scan of
    the change window: ``changed_conversations`` runs once (from the
    oldest cursor — a superset window for views that are further ahead,
    which is safe: recompute is idempotent), the touched conversations'
    current rows materialize once, and every view aggregates off that
    shared slice. N views cost one scan + N small aggregations instead of
    N scans — the natural shape when an ingest pipeline co-maintains a
    dashboard's worth of aggregate views at one cadence.

    A window that changed no data is a noop (the cursors advance, nothing
    commits). Views that have never been built (no cursor) or whose
    cursor's snapshot expired fall back to their own ``full_refresh``.
    Returns one report per view, in order."""
    if not views:
        return []
    src_roots = {v.source.root for v in views}
    if len(src_roots) != 1:
        raise ValueError("refresh_many: views span different source tables")
    source = views[0].source
    v_now = source.current_version()

    reports: dict[int, dict] = {}
    cursors: dict[int, int] = {}  # view position → cursor, refreshed below
    for i, v in enumerate(views):
        cur = v.cursor()
        if cur is None:
            reports[i] = v.full_refresh()
        elif v_now <= cur:
            reports[i] = {"mode": "noop", "from": cur, "to": v_now,
                          "changed_convs": 0, "committed": False}
        else:
            cursors[i] = cur
    if cursors:
        try:
            window = changed_conversations(views[0].spark, source, min(cursors.values()),
                                           version=v_now)
        except (FileNotFoundError, ValueError):
            # cursor's snapshot expired / rollback dirs gone — the one
            # case that costs a full recompute (same contract as any CDF
            # follower losing its window)
            for i in cursors:
                reports[i] = views[i].full_refresh()
            return [reports[i] for i in range(len(views))]
        if window is None:
            for i, cur in cursors.items():
                views[i]._write_cursor(v_now)
                reports[i] = {"mode": "noop", "from": cur, "to": v_now,
                              "changed_convs": 0, "committed": False}
            return [reports[i] for i in range(len(views))]
        current, affected = window
        # the slice is read once and served to every view's aggregation;
        # a single view reads it once anyway, so only a shared slice is cached
        shared = len(cursors) > 1
        if shared:
            current = current.persist()
            affected = affected.persist()
        try:
            for i, cur in cursors.items():
                rep = views[i]._refresh_from(current, affected, v_now, cur)
                rep["changed_convs"] = rep["deletes"]
                if shared:
                    rep["shared_scan"] = True
                reports[i] = rep
        finally:
            if shared:
                current.unpersist()
                affected.unpersist()
    return [reports[i] for i in range(len(views))]
