"""Key-partitioned MERGE: last-write-wins upsert + whole-key tombstone
deletes into a SnapshotTable, on one write path: ``apply_cdc_batch``
appends every batch as per-bucket delta files (merge-on-read) — O(batch)
write cost independent of table size; readers resolve LWW over
base+deltas. At 10^10-event scale with hot conversations spread across
all buckets, this keeps apply throughput linear (the Iceberg MoR MERGE
shape). ``compact`` folds deltas down copy-on-write, amortized over many
appends; pressure compaction at depth 2 rewrites every bucket a batch
touched right after that batch, which is the copy-on-write layout.

Resolution itself generalizes the reference's dedup idiom — its
groupBy(parent, child, level) + max/first aggregation
(HierarchyFlattener.java:322-342) — into the CDC core: group on the primary
key and keep the row with the maximum ``(lsn, commit_ts)`` via ``max_by``
(on a tie the later row: one event may write a turn twice), all on ONE
(_bucket, conv_id) exchange — each exchange is a Spark job, and at serve
sizes the job count sets read latency. Resolution is order-insensitive and
idempotent: replaying events in any order, with duplicates, in any
batching, converges to the same final state — this is how out-of-order and
late binlog data is handled without event-time watermarks (SURVEY.md §2.2).
"""

from __future__ import annotations

import logging
import os
import time

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F, types as T

from hierarchical_to_relational_spark.operators.normalize import META_BUCKET, META_LSN, META_OP, META_TS
from hierarchical_to_relational_spark.table.snapshot_table import (
    ConcurrentOverwriteError,
    SnapshotTable,
    bucket_expr,
    delta_stats_of,
    dirs_of,
    empty_frame,
    live_of,
    schema_of,
)

log = logging.getLogger(__name__)

# scan_range phase 2 collects the candidate keys (key-set regime) when
# they are at most this many distinct (bucket, key) pairs
SCAN_RANGE_KEY_SET_MAX = 8192


def lww_latest(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """Keep, per key, the row with the maximum (order_cols) — via
    ``max_by(struct(payload), struct(order))`` two-phase aggregation.

    Preferred over ``row_number() OVER (PARTITION BY keys ORDER BY ...)``
    at scale because of the map-side partial combine: hot keys collapse
    BEFORE the exchange, so only one partial row per (key, input partition)
    shuffles — a window shuffles every input row and has no combine.
    (Spark physically plans the struct-buffered max_by as SortAggregate;
    the partial/final split is what matters.)
    """
    payload = [c for c in df.columns if c not in keys]
    packed = df.groupBy(*keys).agg(
        F.max_by(F.struct(*payload), F.struct(*order_cols)).alias("_r")
    )
    return packed.select(*keys, *[F.col(f"_r.{c}").alias(c) for c in payload])


def merge_lww(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    order_cols: list[str],
) -> DataFrame:
    """Standalone relational MERGE (no table layer): rows from source
    replace target rows with the same key iff their order columns are
    higher. Both inputs must share a schema containing keys + order_cols."""
    return lww_latest(target.unionByName(source, allowMissingColumns=True), keys, order_cols)


def table_schema_for(upsert_cols: list[T.StructField]) -> T.StructType:
    """Target physical schema = user columns + merge metadata
    (_lsn, _commit_ts, _op)."""
    fields = list(upsert_cols)
    fields += [
        T.StructField(META_LSN, T.LongType(), False),
        T.StructField(META_TS, T.TimestampType(), True),
        T.StructField(META_OP, T.StringType(), False),
    ]
    return T.StructType(fields)


def resolve(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Collapse any pile of full-upsert rows (_op='u'), partial-upsert rows
    (_op='p', merge-patch: null column = keep previous) and tombstone rows
    (_op='d') to the canonical STORED state:

    - latest full upsert per (conv_id, turn_idx) — whole-row LWW;
    - every patch row NEWER than that full row, kept AS ROWS. Folding a
      patch into the full row would stamp its columns with one LSN and
      lose per-column provenance — a later-arriving patch with an
      in-between LSN would then resolve wrongly. Keeping (latest full +
      newer patches) is a join-semilattice: dominated patches (≤ the
      latest full, which resets every column) can never matter again, so
      dropping them is safe in ANY replay order;
    - one tombstone row per deleted conversation (kept to kill late
      arrivals); upserts AND patches below the delete LSN die.

    One hash exchange on (_bucket, conv_id) carries the whole rule: a
    window max of the delete LSN drops every other row at or below it; one
    ``max_by`` aggregation on (turn, _op, patch LSN) keeps the newest
    tombstone (its turn_idx is null), the newest full row per turn and one
    row per patch LSN; a window max of the full-row LSN drops the patches
    at or below it. ``collapse_patches`` groups on a finer key, so it
    reuses the exchange. ``max_by``, not ``row_number``: on equal (_lsn,
    _commit_ts) — one event writing a turn twice — it keeps the LAST row
    read, the later element; a window keeps the first.

    Idempotent and order-insensitive: resolve(resolve(x) ∪ y) ==
    resolve(x ∪ y). The per-column fold for USER-facing reads is
    ``collapse_patches``; ``compact(squash_patches_below=...)`` bounds the
    retained patch set under a binlog-retention watermark."""
    op, lsn = F.col(META_OP), F.col(META_LSN)
    keys = [META_BUCKET, "conv_id", "turn_idx", META_OP]
    payload = [c for c in schema.fieldNames() if c not in keys]
    dead = F.max(F.when(op == "d", lsn)).over(Window.partitionBy(META_BUCKET, "conv_id"))
    full = F.max(F.when(op == "u", lsn)).over(Window.partitionBy(META_BUCKET, "conv_id", "turn_idx"))
    return (
        df.withColumn("_del", dead)
        .where((op == "d") | F.col("_del").isNull() | (lsn > F.col("_del")))
        .groupBy(*keys, F.when(op == "p", lsn).alias("_p"))
        .agg(F.max_by(F.struct(*payload), F.struct(META_LSN, META_TS)).alias("_r"))
        .select(*keys, "_r.*")
        .withColumn("_full", full)
        .where((op != "p") | F.col("_full").isNull() | (lsn > F.col("_full")))
        .select(META_BUCKET, *schema.fieldNames())
    )


def collapse_patches(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Per-column LWW fold of resolved rows into ONE materialized row per
    (conv_id, turn_idx): each user column takes its value from the newest
    row that SET it — a full row ('u') sets every column (including to
    null), a patch row ('p') sets only its non-null columns. One hash
    aggregation (``max_by ... FILTER``, map-side combinable — no window);
    output rows carry _op='u' and _lsn/_commit_ts of the newest
    contributing row, so the fold composes with resolve. Tombstone rows
    are dropped."""
    keys = [META_BUCKET, "conv_id", "turn_idx"]
    order = f"struct(`{META_LSN}`, `{META_TS}`)"
    folded_cols = [
        c for c in schema.fieldNames() if c not in keys and c not in (META_OP,)
    ]
    aggs = []
    for c in folded_cols:
        if c in (META_LSN, META_TS):
            aggs.append(F.expr(f"max_by(`{c}`, {order})").alias(c))
        else:
            aggs.append(
                F.expr(
                    f"max_by(`{c}`, {order}) "
                    f"FILTER (WHERE `{META_OP}` = 'u' OR `{c}` IS NOT NULL)"
                ).alias(c)
            )
    out = (df.where(F.col(META_OP) != "d").groupBy(*keys).agg(*aggs)
           .withColumn(META_OP, F.lit("u")))
    return out.select(META_BUCKET, *schema.fieldNames())


def apply_cdc_batch(
    spark: SparkSession,
    table: SnapshotTable,
    batch: DataFrame,
    batch_id: str,
) -> dict:
    """Apply one normalized change batch to the table, exactly-once.

    batch: conv_id, <turn columns...>, _lsn, _commit_ts, _op — the one
           frame ``normalize_envelopes_fused`` emits: upsert ('u'), patch
           ('p') and tombstone ('d') rows together, the tombstones already
           in the stored shape (null payload, null _commit_ts).

    Widens the target schema first (``SnapshotTable.evolve_to``, a
    metadata commit ``<batch_id>::evolve``) when the batch has a new
    column or a losslessly wider type; a batch that lacks table columns
    lands with them null, a narrower type is cast up. The append commit
    is idempotent on ``batch_id``. Commit stats (rows, max applied LSN,
    tombstone/upsert counts) come from the written files' parquet
    footers — no extra Spark job.
    """
    t0 = time.monotonic()
    # widen the target before the merge under the table's one rule; a
    # steady-state batch costs a driver-side schema comparison — no Spark
    # job, no ::evolve commit
    incoming = [f for f in batch.schema.fields if f.name not in (META_LSN, META_TS, META_OP)]
    table.evolve_to(T.StructType(incoming), batch_id=f"{batch_id}::evolve")
    schema = table.schema()

    # single select (not chained withColumn — each one re-runs Catalyst
    # analysis and the sum is real per-micro-batch driver constant)
    have_cols = set(batch.columns)
    cols = [table.bucket_col()(F.col("conv_id")).alias(META_BUCKET)]
    for fld in schema.fields:
        if fld.name in have_cols:
            # cast to the (possibly wider) table type; no-op casts fold away
            cols.append(F.col(fld.name).cast(fld.dataType).alias(fld.name))
        else:  # older-schema batches: null-fill evolved cols
            cols.append(F.lit(None).cast(fld.dataType).alias(fld.name))
    committed = table.commit_data(batch.select(*cols), batch_id=batch_id)

    stats = table.last_commit_stats if committed else {
        "rows_written": None, "upserts": None, "deletes": None, "max_lsn": None,
        "bucket_max_lsn": {}}
    return {
        "batch_id": batch_id,
        "committed": committed,
        "duration_s": time.monotonic() - t0,
        **stats,
    }


REWRITE_ATTEMPTS = 5  # picks before a rewrite that keeps losing races gives up


def _rewrite(spark: SparkSession, table: SnapshotTable, batch_id: str, pick, fn,
             cluster_by=None, n_buckets: int | None = None) -> dict[str, list[str]]:
    """The one loop of every maintenance commit. Per attempt: read one
    snapshot ``snap``; ``pick(snap)`` names the live dirs to replace
    (``{bucket: [dirs]}``; empty: stop); commit ``fn(rows, schema)`` —
    those dirs' rows and the schema, both as of ``snap`` — replacing them
    (``SnapshotTable.commit_data``). A racing rewrite that replaced a
    picked dir makes the commit raise ``ConcurrentOverwriteError``, and
    the next attempt picks again. Returns the ``replace`` committed; ``{}``
    when the pick was empty or ``batch_id`` was already committed."""
    for attempt in range(1, REWRITE_ATTEMPTS + 1):
        snap = table.snapshot()
        replace = pick(snap)
        if not replace:
            return {}
        rows = table.scan_dirs(spark, dirs_of(replace), snap)
        try:
            committed = table.commit_data(fn(rows, schema_of(snap)), batch_id, replace=replace,
                                          cluster_by=cluster_by, n_buckets=n_buckets)
            return replace if committed else {}
        except ConcurrentOverwriteError as e:
            log.warning("rewrite %r: attempt %d of %d lost a race: %s",
                        batch_id, attempt, REWRITE_ATTEMPTS, e)
    raise ConcurrentOverwriteError(f"gave up rewriting {batch_id!r} after {REWRITE_ATTEMPTS} picks")


def compact(
    spark: SparkSession,
    table: SnapshotTable,
    batch_id: str,
    expire_tombstones_below: int | None = None,
    squash_patches_below: int | None = None,
    zorder: list[str] | None = None,
    buckets: list[int] | None = None,
) -> bool:
    """Fold merge-on-read deltas down: resolve every live dir of the
    wanted buckets and commit the result replacing them (``_rewrite``;
    False when none is live) — a delta appended meanwhile stays stacked on
    top. Amortized over many appends; idempotent on batch_id like any commit.

    ``buckets`` restricts the rewrite to a subset — PARTIAL compaction,
    the shape that matters at scale: zipf-hot buckets stack deltas far
    faster than cold ones, and folding every bucket on every trigger
    would be a full-table rewrite. ``compact_pressured`` picks the subset
    from manifest stats; default None folds everything (maintenance-job
    full compaction).

    ``expire_tombstones_below``: GC tombstone rows whose delete LSN is below
    this watermark — safe once the source guarantees no event with a lower
    LSN can still arrive (e.g. the binlog's retention horizon). Bounds the
    tombstone set over an unbounded stream; live rows are never touched.

    ``squash_patches_below``: fold patch rows with LSN below this watermark
    into their key's materialized full row (per-column LWW). Safe under the
    SAME retention contract — per-column provenance below the watermark can
    no longer matter because nothing older can arrive. Bounds the retained
    patch set for keys that receive patches forever without full rewrites.

    ``zorder``: cluster the rewrite by a Morton interleave of these columns
    instead of by ``conv_id`` alone (Delta/Iceberg OPTIMIZE ZORDER BY
    analog) — written files then carry tight-ish footer min-max bounds on
    EVERY listed column simultaneously, so the sidecar prunes point/range
    reads on any of them (e.g. ``["conv_id", "_lsn"]`` serves both key
    lookups and "changed since LSN" range scans from the same base)."""
    return bool(_fold(spark, table, batch_id, lambda snap: live_of(snap, buckets),
                      expire_tombstones_below, squash_patches_below, zorder))


def _fold(spark, table, batch_id, pick, expire_tombstones_below=None,
          squash_patches_below=None, zorder=None) -> dict[str, list[str]]:
    """``compact``'s rewrite of the dirs ``pick`` names (see there)."""

    def resolve_fn(rows: DataFrame, schema: T.StructType) -> DataFrame:
        resolved = resolve(rows, schema)
        if expire_tombstones_below is not None:
            resolved = resolved.where(
                (F.col(META_OP) != "d") | (F.col(META_LSN) >= F.lit(expire_tombstones_below))
            )
        if squash_patches_below is not None:
            is_young_patch = (F.col(META_OP) == "p") & (
                F.col(META_LSN) >= F.lit(squash_patches_below)
            )
            keep_raw = resolved.where((F.col(META_OP) == "d") | is_young_patch)
            foldable = resolved.where(~is_young_patch)
            resolved = collapse_patches(foldable, schema).unionByName(keep_raw)
        return resolved

    # range-cluster the rewrite by conv_id: tight per-file key min-max →
    # point lookups prune to ~one file per bucket in the compacted base
    if zorder is not None:
        from hierarchical_to_relational_spark.functions.zorder import zorder_expr

        cluster = lambda out: zorder_expr(out, zorder)
    else:
        cluster = "conv_id"
    return _rewrite(spark, table, batch_id, pick, resolve_fn, cluster_by=cluster)


def compact_pressured(
    spark: SparkSession,
    table: SnapshotTable,
    batch_id: str,
    depth_threshold: int,
    bytes_threshold: int | None = None,
    **compact_kwargs,
) -> list[int]:
    """Partial compaction driven by manifest pressure stats: fold ONLY the
    buckets whose delta stack is at least ``depth_threshold`` dirs deep
    (or ``bytes_threshold`` delta bytes heavy) in the snapshot each pick
    reads. Returns the buckets rewritten ([] = none). O(pressured buckets)
    rewrite cost instead of O(table) — on a zipf-skewed stream the hot
    buckets fold often while cold buckets keep shallow stacks untouched."""

    def pick(snap: dict) -> dict[str, list[str]]:
        return {str(b): snap["live"][str(b)] for b, s in delta_stats_of(snap).items()
                if s["depth"] >= depth_threshold
                or (bytes_threshold is not None and s["delta_bytes"] >= bytes_threshold)}

    return sorted(int(b) for b in _fold(spark, table, batch_id, pick, **compact_kwargs))


def binpack_deltas(
    spark: SparkSession,
    table: SnapshotTable,
    batch_id: str,
    target_bytes: int = 64 << 20,
    min_dirs: int = 3,
    buckets: list[int] | None = None,
) -> list[int]:
    """Size-aware delta BIN-PACKING (round 5): per bucket, merge the
    smallest delta dirs below ``target_bytes`` into one packed dir —
    verbatim rows, no resolution shuffle, no base rewrite: a ``_rewrite``
    whose pick names the chosen dirs, so the packed dir takes the first
    one's slot; a concurrent compaction that folded one away wins and the
    pack picks again. LWW resolution is order-insensitive, so
    concatenating delta files never changes the resolved state; tombstones
    and patches pass through untouched. This is the cheap first line of
    defense against the many-tiny-files problem a steady micro-batch
    stream creates: a real compaction folds state (resolve + rewrite of
    the whole bucket), bin-packing only reduces file/dir counts, so it
    can run far more often — the Iceberg rewrite_data_files bin-pack
    strategy vs its sort/cluster strategy, as two separate levers.

    Greedy per-bucket selection: smallest-first while the running sum
    stays under ``target_bytes`` (one packed output per bucket per call);
    buckets with fewer than ``min_dirs`` small dirs are left alone (the
    pack must actually reduce fan-in to pay for its write). Returns the
    buckets packed. Cold buckets — shallow stacks that never meet a
    compaction pressure threshold but accumulate dribble files forever —
    are exactly who this sweeps; schedule it wide (``buckets=None``) on a
    slow cadence beside pressure-driven partial compaction."""

    def pick(snap: dict) -> dict[str, list[str]]:
        cb, picked = snap["commit_bytes"], {}
        for b, ds in live_of(snap, buckets).items():
            chosen, acc = [], 0
            for sz, d in sorted((cb[d][b], d) for d in ds if cb[d][b] < target_bytes):
                if acc + sz > target_bytes and chosen:
                    break
                chosen.append(d)
                acc += sz
            if len(chosen) >= min_dirs:
                picked[b] = chosen
        return picked

    return sorted(int(b) for b in _rewrite(spark, table, batch_id, pick, lambda rows, _: rows))


def maintain_cycle(
    spark: SparkSession,
    table: SnapshotTable,
    batch_id: str,
    compact_depth: int = 16,
    compact_bytes: int | None = None,
    zorder: list[str] | None = None,
    expire_tombstones_below: int | None = None,
    binpack_target_bytes: int = 64 << 20,
    binpack_min_dirs: int = 3,
    expire_retain: int = 100,
    orphan_grace_seconds: float = 3600.0,
    expire_older_than_s: float | None = None,
) -> dict:
    """One scheduled maintenance pass combining the three background
    levers in their natural order (the single cadence policy a production
    stream runs from one cron/maintenance loop instead of three):

    1. **partial compaction** of pressure-exceeding buckets
       (``compact_pressured``) — hot, deep delta stacks fold first; their
       deltas vanish, so the next step never wastes a pack on them;
    2. **delta bin-packing** of everything still standing
       (``binpack_deltas``) — cold buckets' dribble files merge verbatim
       (no resolve shuffle), bounding file counts table-wide;
    3. **snapshot expiration + orphan GC** (``expire_snapshots``) —
       metadata and dead data dirs stay bounded for an unbounded stream.

    Each step is its own idempotent commit keyed off ``batch_id`` with a
    step suffix (``::compact`` / ``::binpack``), so a crashed cycle
    re-runs cleanly: finished steps no-op, the unfinished one retries —
    the same exactly-once contract as ingest; a race with another
    writer's rewrite makes a step pick again (``_rewrite``), not fail.
    Steps that find nothing to do are metadata-only (no Spark job).
    Returns a per-step report.

    Cadence guidance (compaction_bench evidence, BENCH/BASELINE.md):
    run the cycle every ~N micro-batches with ``compact_depth`` ≈ N so
    pressure-folds amortize, and let bin-packing sweep at the same
    cadence — it is cheap enough (verbatim copy of small dirs only) that
    over-calling it costs one no-op snapshot read."""
    report: dict = {"batch_id": batch_id}
    folded = compact_pressured(
        spark, table, batch_id=f"{batch_id}::compact",
        depth_threshold=compact_depth, bytes_threshold=compact_bytes,
        zorder=zorder, expire_tombstones_below=expire_tombstones_below,
    )
    report["compacted_buckets"] = folded
    report["packed_buckets"] = binpack_deltas(
        spark, table, batch_id=f"{batch_id}::binpack",
        target_bytes=binpack_target_bytes, min_dirs=binpack_min_dirs,
    )
    report["expired"] = table.expire_snapshots(
        retain_last=expire_retain,
        orphan_grace_seconds=orphan_grace_seconds,
        older_than_s=expire_older_than_s,
    )
    report["table_version"] = table.current_version()
    return report


def evolve_buckets(
    spark: SparkSession,
    table: SnapshotTable,
    new_n_buckets: int,
    batch_id: str,
) -> bool:
    """Re-bucketing migration: resolve every live dir (the rewrite doubles
    as a compaction), recompute ``_bucket`` under the new count, and commit
    the whole table with the flipped bucket spec — ``_rewrite`` with
    ``n_buckets``, which picks again when a dir lands after its read; a
    table with no live dir stays as it is (False). Subsequent writes and
    bucket-pruned reads use the new bucketing. One full-table
    shuffle+rewrite — the same cost Iceberg pays to rewrite into an
    evolved partition spec; amortized over the table's lifetime."""

    def rebucket(rows: DataFrame, schema: T.StructType) -> DataFrame:
        return resolve(rows, schema).withColumn(
            META_BUCKET, bucket_expr(F.col("conv_id"), new_n_buckets))

    return bool(_rewrite(spark, table, batch_id, live_of, rebucket, cluster_by="conv_id",
                         n_buckets=new_n_buckets))


def lookup_conversation(
    spark: SparkSession,
    table: SnapshotTable,
    conv_id: str,
    version: int | None = None,
) -> DataFrame:
    """Point lookup: the live turns of ONE conversation, touching the
    minimum of the table — bucket pruning (driver-side XXH64 of the key,
    NO Spark job) composed with file-level min-max pruning (per-commit
    sidecar stats), then LWW resolution over only the surviving files and
    an exact row filter on top (file pruning is superset semantics). At
    100 TB this reads ~one file from the range-clustered base plus only
    the delta files whose batches contained the key, instead of every
    file in the bucket."""
    return lookup_conversations(spark, table, [conv_id], version=version)


def lookup_conversations(
    spark: SparkSession,
    table: SnapshotTable,
    conv_ids: list[str],
    version: int | None = None,
) -> DataFrame:
    """Batched point lookup: live turns of MANY conversations in ONE plan.
    Buckets come from the driver-side XXH64 twin of the table's bucketing
    expression (functions.xxh64 — property-tested bit-equal to Spark's
    ``xxhash64``), so no per-key Spark job; files prune per key via the
    sidecar ``key_set`` bisect (a far-apart key pair keeps only its own
    files, not everything between); then one resolve over the survivors.
    Amortizes the whole lookup pipeline across keys — a 100-key lookup
    costs ~one pruned read, not 100 jobs."""
    from hierarchical_to_relational_spark.functions.xxh64 import bucket_of_key

    if not conv_ids:
        raise ValueError("lookup_conversations needs at least one conv_id")
    schema = table.schema(version)
    nb = table.snapshot(version)["n_buckets"]
    buckets = sorted({bucket_of_key(c, nb) for c in conv_ids})
    scan = table.read(
        spark, buckets=buckets, version=version, key_set=list(conv_ids)
    ).where(F.col("conv_id").isin(list(conv_ids)))
    folded = collapse_patches(resolve(scan, schema), schema)
    user_cols = [n for n in schema.fieldNames() if not n.startswith("_")]
    return folded.select(*user_cols)


def scan_range(
    spark: SparkSession,
    table: SnapshotTable,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> DataFrame:
    """Resolution-SAFE value-range query over any scalar user column
    (``ts`` windows, ``role`` equality via lo==hi, ``turn_idx`` bands —
    no secondary index): returns the CURRENT live rows whose ``col`` is in
    [lo, hi] (inclusive; None = open; SQL semantics — NULL never matches).

    Raw ``table.read(col_ranges=...)`` file pruning alone cannot answer
    this correctly: a pruned file may hold the tombstone or a NEWER
    version of a key whose stale in-range row survives in a kept file.
    Two phases close that hole at pruned-scan cost:

    1. candidate keys — scan ONLY the files whose sidecar ``col`` bounds
       overlap the range (plus files without bounds), row-filter exactly,
       and take the distinct key span. Every key whose CURRENT row matches
       is found here (its matching row physically lives in a kept file).
    2. resolution — read the candidates' keys back mask-completely
       (tombstones and patches carry conv_id/_lsn), resolve LWW +
       tombstones + patch folds, and re-apply the row filter so keys
       whose current value moved OUT of the range drop away. When the
       candidates are ≤ ``SCAN_RANGE_KEY_SET_MAX`` distinct (bucket, key)
       pairs, the keys themselves are collected and drive ``key_set``
       bisect file pruning — two far-apart candidate keys read only
       their OWN files, not everything between them, where the previous
       single global (min, max) envelope pruned nothing once candidates
       spanned the keyspace (e.g. a 30-day window touching most
       conversations). Above that, fall back to the ``conv_id`` envelope
       of the candidates (an unbounded key collect would be a driver-side
       data read).

    At 100 TB on a time-ordered ingest this touches the delta/base files
    of the queried window plus the candidates' key neighborhoods — not
    the table. Driver collect is bounded: ≤ ``SCAN_RANGE_KEY_SET_MAX``
    (bucket, key) pairs in the key-set regime, 2 scalars + ≤ n_buckets
    ints in the envelope regime."""
    schema = table.schema(version)
    pred = None
    if lo is not None:
        pred = F.col(col) >= F.lit(lo)
    if hi is not None:
        p2 = F.col(col) <= F.lit(hi)
        pred = p2 if pred is None else pred & p2
    if pred is None:
        raise ValueError("scan_range needs at least one bound")
    user_cols = [n for n in schema.fieldNames() if not n.startswith("_")]
    # equality probe (lo == hi) additionally consults the table's Bloom
    # sidecar when the column is indexed (SnapshotTable index_cols):
    # hash-like high-cardinality columns — where every file's [min, max]
    # spans the probe value and bounds prune nothing — then skip at file
    # granularity with ~1% false-keeps
    eq = {col: lo} if (lo is not None and lo == hi) else None
    cand = (
        table.read(spark, version=version, col_ranges={col: (lo, hi)}, col_eq=eq)
        .where(pred)
        .select(META_BUCKET, "conv_id", "turn_idx")
        .distinct()
    )
    # bounded probe: ≤ SCAN_RANGE_KEY_SET_MAX + 1 distinct (bucket, key) pairs
    probe = (cand.select(META_BUCKET, "conv_id").distinct()
             .limit(SCAN_RANGE_KEY_SET_MAX + 1).collect())
    if not probe:
        return empty_frame(spark, T.StructType([schema[c] for c in user_cols]))
    if len(probe) <= SCAN_RANGE_KEY_SET_MAX:
        # key-set regime: per-key bisect file pruning; the candidate-turn
        # semi-join is replaced by an isin filter (equivalent: any turn
        # whose CURRENT row matches pred is a phase-1 candidate, and
        # non-matching turns drop at the final .where(pred)) — one fewer
        # join and one fewer phase-1 recompute.
        keys = sorted({r["conv_id"] for r in probe})
        buckets = sorted({r[META_BUCKET] for r in probe})
        full = table.read(spark, version=version, buckets=buckets, key_set=keys)
        live = resolve(full, schema).where(F.col("conv_id").isin(keys))
        folded = collapse_patches(live, schema).where(pred)
        return folded.select(*user_cols)
    span = cand.agg(
        F.min("conv_id"), F.max("conv_id"), F.collect_set(META_BUCKET)
    ).first()  # 2 scalars + ≤ n_buckets ints — bounded driver collect
    full = table.read(spark, version=version, buckets=sorted(span[2]),
                      col_ranges={"conv_id": (span[0], span[1])})
    hits = resolve(full, schema).join(cand, [META_BUCKET, "conv_id", "turn_idx"], "left_semi")
    folded = collapse_patches(hits, schema).where(pred)
    return folded.select(*user_cols)


def _diff_live_dirs(
    table: SnapshotTable, since_version: int, version: int
) -> tuple[dict[str, list[str]], set[str], dict[str, set[str] | None]]:
    """Walk the snapshot log from ``since_version`` to ``version`` and
    classify what changed per bucket; returns ``(added, superset,
    removed)``:

    - ``added[bucket] = [commit dirs]`` — dirs APPENDED by logical-change
      commits (MoR deltas): scanning exactly these files surfaces every
      key that could have changed;
    - ``superset`` — buckets rewritten by a commit we cannot diff
      minimally (branch merge, rollback): every current key in them
      counts as changed. Safe because every commit kind except
      rollback preserves tombstones — rows never silently vanish, so
      re-emitting the bucket's current rows + tombstones is a correct
      (if non-minimal) net diff.

    Pure-rewrite commits (``kind`` compact / rebucket — and ``evolve``,
    whose live map is unchanged) are logical no-ops and are SKIPPED: their
    live-map churn folds rows that earlier appends already surfaced (or
    that predate ``since_version``). A bucket-count change makes bucket
    ids incomparable → everything is superset.

    A ``rollback`` in the window marks its changed buckets superset AND
    returns the dirs it un-referenced (``removed[dir] = buckets``, or None
    = every row when a rebucket is in the window): rolled-back rows
    vanish without tombstones, but they physically live in those dirs —
    still GC-protected while the pre-rollback snapshot is retained — so
    the caller scans them and emits SYNTHETIC conversation deletes,
    followed by the superset re-add of current rows. Only when a
    retracted dir has already expired does the diff become inexpressible
    (``ValueError`` from changes_since → full resync), the restriction
    Iceberg places on ALL incremental reads across history rewrites —
    this engine narrows it to the expired-journal case."""
    start = table.snapshot(since_version)  # raises if expired — by design
    added: dict[str, list[str]] = {}
    superset: set[str] = set()
    removed: dict[str, set[str] | None] = {}  # rollback-retracted dirs
    prev = start["live"]
    respec = False  # any rebucket → bucket labels incomparable across window
    for v in range(since_version + 1, version + 1):
        snap = table.snapshot(v)
        cur = snap["live"]
        kind = snap["kind"]
        if kind == "rebucket" or snap["n_buckets"] != start["n_buckets"]:
            respec = True
        if kind == "rollback":
            # Round-5: emit THROUGH a rollback. Rolled-back rows vanish
            # without tombstones, but every such row physically lives in a
            # dir the rollback un-referenced — and those dirs stay
            # GC-protected while the PRE-rollback snapshot is retained. So
            # record (dir, buckets) for each un-referenced dir: the caller
            # scans them for the affected conversations and emits
            # SYNTHETIC deletes, and the affected buckets degrade to
            # superset re-emission ('d' then 'u' re-add of the current
            # rows — the standard consumer apply order converges).
            for b in set(prev) | set(cur):
                a, c = prev.get(b, []), cur.get(b, [])
                if a != c:
                    superset.add(b)
                    for d in set(a) - set(c):
                        removed.setdefault(d, set()).add(b)
            prev = cur
            continue
        if kind in ("compact", "rebucket", "evolve"):
            prev = cur
            continue
        for b in set(prev) | set(cur):
            a, c = prev.get(b, []), cur.get(b, [])
            if c[: len(a)] == a:
                added.setdefault(b, []).extend(c[len(a):])
            else:
                superset.add(b)
        prev = cur
    if respec:
        # bucket labels incomparable across the window: every bucket is
        # superset, and retracted dirs scan WITHOUT a bucket restriction
        return ({}, set(table.snapshot(version)["live"].keys()),
                {d: None for d in removed})
    return added, superset, removed


def _window_rows(
    spark: SparkSession, table: SnapshotTable, since_version: int, v2: int
) -> tuple[DataFrame, Column, Column] | None:
    """The tagged scan of the window ``(since_version, v2]`` that
    ``changes_since`` and ``changed_conversations`` share: ``(rows, tomb,
    is_super)``, or None when only pure rewrites landed. ``rows`` unions
    the affected buckets' current rows (``_src=0``), the dirs appended in
    the window (1) and the dirs a rollback un-referenced (2); ``tomb``
    marks the rows that (re-)wrote a tombstone, ``is_super`` the rows of
    re-emitted (branch merge, rollback) buckets. Raises ``ValueError``,
    before any job runs, when a retracted dir already expired."""
    added, superset, removed = _diff_live_dirs(table, since_version, v2)
    added = {b: ds for b, ds in added.items() if b not in superset and ds}
    if not added and not superset and not removed:
        return None

    snap = table.snapshot(v2)
    for d in sorted(removed):
        if not os.path.isdir(os.path.join(table.root, d)):
            raise ValueError(
                f"rollback-retracted dir {d} expired before the window "
                f"({since_version}, {v2}] was consumed — the synthetic "
                "deletes are unrecoverable, full resync required"
            )
    buckets = sorted(int(b) for b in set(added) | superset)
    rows = (
        table.read(spark, buckets=buckets, version=v2).withColumn("_src", F.lit(0))
        .unionByName(table.scan_dirs(spark, dirs_of(added), snap).withColumn("_src", F.lit(1)))
        .unionByName(table.scan_dirs(spark, removed, snap).withColumn("_src", F.lit(2)))
    )
    src, op = F.col("_src"), F.col(META_OP)
    is_super = F.col(META_BUCKET).isin(sorted(int(b) for b in superset))
    tomb = (src == 2) | ((op == "d") & ((src == 1) | ((src == 0) & is_super)))
    return rows, tomb, is_super


def changes_since(
    spark: SparkSession,
    table: SnapshotTable,
    since_version: int,
    version: int | None = None,
) -> DataFrame:
    """Incremental CDC egress (the Iceberg incremental-read / changelog
    analog): the NET state changes between two snapshot VERSIONS, for a
    downstream consumer that checkpointed ``since_version``. The cursor is
    the snapshot version, not a data LSN — the stream is out-of-order, so
    a late event with a LOW LSN still changes state; only the commit log
    orders what a consumer has and hasn't seen.

    Emits, against the state at ``version`` (default current):

    - ``change_op='u'``: one MATERIALIZED row per (conv_id, turn_idx)
      whose current resolved state a commit in the window could have
      touched, with ``change_lsn`` = newest contributing LSN.
      Intermediate overwrites collapse to the final row (net semantics);
      a re-delivered duplicate re-emits the current row (idempotent for
      the consumer). Conversations whose tombstone advanced also re-emit
      their surviving rows, so "apply all 'd', then all 'u'" is always a
      correct consumer apply order (emitted 'u' rows are post-resolution
      live state and supersede every emitted tombstone).
    - ``change_op='d'``: one row per conversation whose tombstone was
      (re-)written in the window (null payload columns, ``change_lsn`` =
      delete LSN). A late upsert that was dead on arrival (below a
      tombstone the consumer already saw) nets to nothing.

    Scale shape: the snapshot-log walk is driver-side metadata (bounded by
    the retention window). The data side is ``_window_rows``' one tagged
    scan, shared with view refreshes. Buckets a merge or rollback rewrote
    degrade to whole-bucket re-emission; pure rewrites (compaction,
    re-bucketing) are skipped. A window max of the newest tombstone LSN
    per ``conv_id`` goes first, so every exchange in the plan is
    ``hash(conv_id)``, which ``resolve`` and ``collapse_patches`` reuse;
    the 'd' rows are one ``groupBy(conv_id)`` of those tombstone rows. No
    join, no ``distinct``. Not ``(_bucket, conv_id)``: retracted rows keep the
    bucket ids they were written with, so after a rebucket one
    conversation can carry two and would get two deletes. Raising
    ``FileNotFoundError`` when ``since_version`` fell out of the retained
    snapshot window — or ``ValueError`` when a rollback's retracted dirs
    already expired — tells the consumer to fall back to a full re-sync."""
    v2 = table.current_version() if version is None else version
    schema = table.schema(v2)
    user_cols = [n for n in schema.fieldNames() if not n.startswith("_")]
    out_schema = T.StructType(
        [schema[c] for c in user_cols]
        + [
            T.StructField("change_lsn", T.LongType(), True),
            T.StructField("change_op", T.StringType(), False),
        ]
    )
    window = _window_rows(spark, table, since_version, v2)
    if window is None:
        return empty_frame(spark, out_schema)
    rows, tomb, is_super = window
    src, op, lsn = F.col("_src"), F.col(META_OP), F.col(META_LSN)
    # every tombstone stays for resolve's delete rule; otherwise whole turns
    marked = (
        rows.withColumn("_mc", F.max(F.when(tomb, lsn)).over(Window.partitionBy("conv_id")))
        .withColumn("_mk", F.max(F.when((src == 1) & (op != "d"), 1)).over(
            Window.partitionBy(META_BUCKET, "conv_id", "turn_idx")))
        .where((src == 0) & ((op == "d") | F.col("_mk").isNotNull()
                             | F.col("_mc").isNotNull() | is_super))
    )
    ups_out = collapse_patches(resolve(marked, schema), schema).select(
        *user_cols, F.col(META_LSN).alias("change_lsn"), F.lit("u").alias("change_op")
    )
    dels_out = rows.where(tomb).groupBy("conv_id").agg(
        *[F.lit(None).cast(schema[c].dataType).alias(c) for c in user_cols if c != "conv_id"],
        F.max(lsn).cast("long").alias("change_lsn"),
        F.lit("d").alias("change_op"),
    )
    return ups_out.unionByName(dels_out)


def changed_conversations(
    spark: SparkSession,
    table: SnapshotTable,
    since_version: int,
    version: int | None = None,
) -> tuple[DataFrame, DataFrame] | None:
    """``(live, touched)`` for the window ``(since_version, version]``, or
    None when it changed no data: ``touched`` holds the ``conv_id`` of
    every conversation with a row in an appended dir, a rollback-retracted
    dir (a rolled-back conversation has no other) or a re-emitted bucket,
    ``live`` their resolved current user rows. One window over ``conv_id``
    marks them, on the exchange that ``resolve``, ``collapse_patches`` and
    a ``groupBy(conv_id)`` reuse. Raises like ``changes_since``."""
    v2 = table.current_version() if version is None else version
    window = _window_rows(spark, table, since_version, v2)
    if window is None:
        return None
    rows, _, is_super = window
    schema = table.schema(v2)
    user_cols = [n for n in schema.fieldNames() if not n.startswith("_")]
    src = F.col("_src")
    hit = rows.withColumn("_t", F.max(F.when((src != 0) | is_super, 1)).over(
        Window.partitionBy("conv_id"))).where(F.col("_t").isNotNull())
    live = collapse_patches(resolve(hit.where(src == 0), schema), schema).select(*user_cols)
    return live, hit.select("conv_id").distinct()


def changes_between_timestamps(
    spark: SparkSession,
    table: SnapshotTable,
    since_ts: float,
    until_ts: float | None = None,
) -> DataFrame:
    """Timestamp-cursor incremental read (Iceberg
    ``FOR TIMESTAMP AS OF``-style CDF): the net state diff between the
    table states AS OF two wall-clock instants — what a human operator
    actually types. Pure composition: each timestamp resolves to the
    latest retained snapshot committed at or before it
    (``version_as_of``), then ``changes_since`` diffs the two versions
    with all its guarantees (net semantics, rollback emit-through,
    expired window → FileNotFoundError = resync)."""
    v1 = table.version_as_of(since_ts)
    v2 = table.current_version() if until_ts is None else table.version_as_of(until_ts)
    if v2 < v1:
        raise ValueError(f"until_ts resolves to v{v2} before since_ts's v{v1}")
    return changes_since(spark, table, v1, version=v2)


def read_transcripts(
    spark: SparkSession,
    table: SnapshotTable,
    version: int | None = None,
) -> DataFrame:
    """User-facing read: resolve LWW+tombstones over base+deltas (a no-op
    reshuffle on freshly-compacted tables), keep live rows, drop metadata.
    Stable (conv_id, turn_idx) ordering is left to the caller."""
    schema = table.schema(version)
    folded = collapse_patches(resolve(table.read(spark, version=version), schema), schema)
    user_cols = [n for n in schema.fieldNames() if not n.startswith("_")]
    return folded.select(*user_cols)
