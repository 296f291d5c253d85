"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship CDC ingest on sf0.001 (envelopes derived from
the events table → normalize → LWW merge → snapshot-table read).

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 plus the training-data-pipeline ops; every query has a DuckDB
oracle unless marked rows-only. All float-producing queries are designed
for bit-identical results across engines: exact decimal sums cast to
double, integer-quantized vector arithmetic, division of exact integers.
Columns are aliased identically (lowercase) on both sides.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from hierarchical_to_relational_spark import FlattenConfig, flatten
from hierarchical_to_relational_spark.operators import dedup as dd
from hierarchical_to_relational_spark.operators.dedup import MINHASH_P, _minhash_perms
from hierarchical_to_relational_spark.operators import similarity as sim
from hierarchical_to_relational_spark.operators import text as tx
from hierarchical_to_relational_spark.operators.text import LANG_STOPWORDS
from hierarchical_to_relational_spark.operators.merge import (
    apply_cdc_batch,
    lww_latest,
    merge_lww,
    read_transcripts,
)
from hierarchical_to_relational_spark.operators.joins import asof_join, interval_join
from hierarchical_to_relational_spark.operators.normalize import normalize_envelopes_fused
from hierarchical_to_relational_spark.table import SnapshotTable
from hierarchical_to_relational_spark.operators.merge import table_schema_for


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Spread a low-split input across all cores before CPU-dense per-row
    work (hashing/regex). Small corpora arrive as one parquet row group →
    one input split → ONE task doing all the md5/regex CPU while every
    other core idles. The repartition shuffles only the raw text (KBs—MBs)
    to buy full-width parallelism; at 100 TB the input has orders of
    magnitude more splits than cores and callers would skip this (it's a
    bench/small-file artifact, which is why the operators themselves stay
    shuffle-free)."""
    return df.repartition(spark.sparkContext.defaultParallelism)


# ---------------------------------------------------------------------------
# hierarchy edges shared by the flatten queries: region→nation→supplier
# ---------------------------------------------------------------------------

def _hier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation, region, supplier = (_t(spark, sf_dir, n) for n in ("nation", "region", "supplier"))
    rn = nation.join(region, nation["n_regionkey"] == region["r_regionkey"]).select(
        F.concat(F.lit("R"), F.col("r_regionkey")).alias("parent"),
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("child"),
        F.col("n_name").alias("name"),
    )
    ns = supplier.select(
        F.concat(F.lit("N"), F.col("s_nationkey")).alias("parent"),
        F.concat(F.lit("S"), F.col("s_suppkey")).alias("child"),
        F.col("s_name").alias("name"),
    )
    return rn.unionByName(ns)


_HIER_EDGES_SQL = """
    SELECT 'R' || r_regionkey AS parent, 'N' || n_nationkey AS child, n_name AS name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    UNION ALL
    SELECT 'N' || s_nationkey, 'S' || s_suppkey, s_name FROM supplier
"""


def _flatten_oracle(seed_filter: str, sep: str) -> str:
    """WITH RECURSIVE DuckDB oracle replicating flatten semantics
    (HierarchyFlattener.java:127-351): every edge seeds (minus self-loops,
    optionally filtered), each edge re-emitted per distinct depth, bottom =
    child has no outgoing edges, min path + its root per group."""
    return f"""
    WITH RECURSIVE edges AS ({_HIER_EDGES_SQL}),
    walk AS (
        SELECT parent, child, 1 AS level, '{sep}' || name AS path, name AS root
        FROM edges WHERE parent <> child {seed_filter}
        UNION ALL
        SELECT e.parent, e.child, w.level + 1, w.path || '{sep}' || e.name, w.root
        FROM walk w JOIN edges e ON w.child = e.parent
    )
    SELECT w.parent, w.child, w.level,
           NOT EXISTS (SELECT 1 FROM edges e2 WHERE e2.parent = w.child) AS bottom,
           min(w.path) AS path,
           arg_min(w.root, w.path) AS root
    FROM walk w
    GROUP BY w.parent, w.child, w.level
    """


def q_flatten_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = FlattenConfig(
        parent_field="parent", child_field="child",
        level_field="level", bottom_field="bottom",
        path_field="name", path_alias_field="path",
        connect_by_root="name=root",
    )
    out = flatten(_hier_edges(spark, sf_dir), cfg)
    return out.select("parent", "child", "level", "bottom", "path", "root")


def q_flatten_startwith(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = FlattenConfig(
        parent_field="parent", child_field="child",
        level_field="level", bottom_field="bottom",
        path_field="name", path_alias_field="path", path_separator="|",
        start_with="parent IN ('R0', 'R2')",
        connect_by_root="name=root",
    )
    out = flatten(_hier_edges(spark, sf_dir), cfg)
    return out.select("parent", "child", "level", "bottom", "path", "root")


# ---------------------------------------------------------------------------
# CDC / merge family (events table as the change stream; event_id = LSN)
# ---------------------------------------------------------------------------

def q_lww_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LWW dedup: latest event per (user_id, event_type) by (ts, event_id) —
    the merge stage's core dedup (replaces reference O17's groupBy idiom)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id", "value")
    return lww_latest(ev, ["user_id", "event_type"], ["ts", "event_id"]).select(
        "user_id", "event_type", "event_id", "value"
    )


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational MERGE: source (late half) upserts over target (early half)
    keyed by user_id, LWW on (ts, event_id)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type", "value")
    target = lww_latest(ev.where(F.col("event_id") % 2 == 0), ["user_id"], ["ts", "event_id"])
    source = ev.where(F.col("event_id") % 2 == 1)
    return merge_lww(target, source, ["user_id"], ["ts", "event_id"]).select(
        "user_id", "event_id", "event_type", "value"
    )


def q_merge_patch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-column updates (merge-patch): per user, each column takes
    its value from the newest event that SET it — full rows (purchase)
    set every column, patch rows set only their non-null columns ('view'
    arrives without value, 'error' without props). One map-side-combining
    hash agg of filtered max_by — the same per-column LWW fold the table
    layer uses (operators.merge.collapse_patches)."""
    ev = _t(spark, sf_dir, "events")
    src = ev.select(
        "user_id", "event_id",
        (F.col("event_type") == "purchase").alias("_full"),
        F.when(F.col("event_type") == "view", F.lit(None).cast("double"))
         .otherwise(F.col("value")).alias("value"),
        F.when(F.col("event_type") == "error", F.lit(None).cast("string"))
         .otherwise(F.col("props")).alias("props"),
    )
    return src.groupBy("user_id").agg(
        F.expr("max_by(value, event_id) FILTER (WHERE _full OR value IS NOT NULL)").alias("last_value"),
        F.expr("max_by(props, event_id) FILTER (WHERE _full OR props IS NOT NULL)").alias("last_props"),
        F.max("event_id").alias("last_event_id"),
    )


def q_cdc_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone semantics relationally: 'error' events delete the whole
    user stream at their LSN; latest upsert per (user, type) survives only
    past the watermark."""
    ev = _t(spark, sf_dir, "events")
    ups = lww_latest(
        ev.where(F.col("event_type") != "error").select("user_id", "event_type", "event_id", "value"),
        ["user_id", "event_type"], ["event_id"],
    )
    dels = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id").agg(F.max("event_id").alias("del_lsn"))
    )
    return (
        ups.join(dels, "user_id", "left")
        .where(F.col("del_lsn").isNull() | (F.col("event_id") > F.col("del_lsn")))
        .select("user_id", "event_type", "event_id", "value")
    )


def q_normalize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-envelope → relational flattening: pack each user's events into
    one envelope (array of turn structs), explode back out. The engine's
    hierarchical→relational normalize in pure Column algebra."""
    ev = _t(spark, sf_dir, "events")
    packed = (
        ev.groupBy("user_id")
        .agg(F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type", "props"))).alias("turns"))
    )
    return (
        packed.select(
            F.col("user_id").cast("string").alias("conv_id"),
            F.posexplode("turns").alias("pos", "t"),
        )
        .select(
            "conv_id",
            (F.col("pos") + 1).cast("int").alias("turn_idx"),
            F.col("t.event_type").alias("role"),
            F.col("t.props").alias("text"),
        )
    )


def _mk_envelopes(ev: DataFrame) -> DataFrame:
    """events → CDC envelopes: one per event; 'error' → whole-user delete;
    turn_idx = event_id % 7 (forces LWW overwrites); lsn = event_id."""
    turn = F.struct(
        (F.col("event_id") % 7).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ts").alias("ts"),
    )
    return ev.select(
        F.col("event_id").alias("lsn"),
        F.col("ts").alias("commit_ts"),
        F.when(F.col("event_type") == "error", F.lit("delete")).otherwise(F.lit("insert")).alias("op"),
        F.concat(F.lit("u"), F.col("user_id")).alias("conv_id"),
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.struct(F.array(turn).alias("turns")))
        .alias("payload"),
    )


def _run_cdc(spark: SparkSession, sf_dir: str, n_batches: int = 3, n_buckets: int = 8) -> DataFrame:
    """Full engine path: envelopes → normalize → bucketed LWW merge with
    tombstones → idempotent snapshot commits → table read. Batches split by
    event_id % n (interleaved LSNs ⇒ every batch is out-of-order relative
    to the log — convergence is the point)."""
    env = _mk_envelopes(_t(spark, sf_dir, "events"))
    root = tempfile.mkdtemp(prefix="h2r-cdc-")
    turn_cols = [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
    table = SnapshotTable.create(os.path.join(root, "transcripts"), table_schema_for(turn_cols), n_buckets)
    for b in range(n_batches):
        batch = env.where(F.col("lsn") % n_batches == b)
        apply_cdc_batch(spark, table, normalize_envelopes_fused(batch, text_mode="none"),
                        batch_id=f"replay-{b}")
    return read_transcripts(spark, table).select("conv_id", "turn_idx", "role", "text", "ts")


def q_cdc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_cdc(spark, sf_dir)


def q_cdc_changes_since(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CDC egress (changes_since): replay the stream in 3
    out-of-order MoR batches, checkpoint the snapshot VERSION after batch
    1, apply batch 2, then poll the net diff — materialized 'u' rows for
    every key batch 2 could have touched (including keys whose LWW winner
    predates the checkpoint: re-emission is idempotent) plus 'd' rows for
    conversations whose tombstone advanced. The cursor is the snapshot
    version, not an LSN, so late low-LSN events are still surfaced."""
    from hierarchical_to_relational_spark.operators.merge import changes_since

    env = _mk_envelopes(_t(spark, sf_dir, "events"))
    root = tempfile.mkdtemp(prefix="h2r-cdc-egress-")
    turn_cols = [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
    table = SnapshotTable.create(os.path.join(root, "transcripts"), table_schema_for(turn_cols), 8)
    v1 = None
    for b in range(3):
        batch = env.where(F.col("lsn") % 3 == b)
        apply_cdc_batch(spark, table, normalize_envelopes_fused(batch, text_mode="none"),
                        batch_id=f"replay-{b}")
        if b == 1:
            v1 = table.current_version()
    return changes_since(spark, table, v1).select(
        "conv_id", "turn_idx", "role", "text", "ts", "change_lsn", "change_op"
    )


_CDC_CHANGES_ORACLE = """
    WITH ups AS (
        SELECT 'u' || user_id AS conv_id,
               CAST(event_id % 7 AS INTEGER) AS turn_idx,
               event_type AS role, props AS text, ts, event_id AS lsn,
               row_number() OVER (PARTITION BY user_id, event_id % 7
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type <> 'error'
    ),
    dels AS (
        SELECT 'u' || user_id AS conv_id, max(event_id) AS del_lsn
        FROM events WHERE event_type = 'error' GROUP BY user_id
    ),
    final AS (
        SELECT u.conv_id, u.turn_idx, u.role, u.text, u.ts, u.lsn
        FROM ups u LEFT JOIN dels d ON u.conv_id = d.conv_id
        WHERE u.rn = 1 AND (d.del_lsn IS NULL OR u.lsn > d.del_lsn)
    ),
    late_up_keys AS (
        SELECT DISTINCT 'u' || user_id AS conv_id,
               CAST(event_id % 7 AS INTEGER) AS turn_idx
        FROM events WHERE event_type <> 'error' AND event_id % 3 = 2
    ),
    late_del AS (
        SELECT 'u' || user_id AS conv_id, max(event_id) AS change_lsn
        FROM events WHERE event_type = 'error' AND event_id % 3 = 2
        GROUP BY user_id
    )
    SELECT f.conv_id, f.turn_idx, f.role, f.text, f.ts,
           f.lsn AS change_lsn, 'u' AS change_op
    FROM final f
    WHERE EXISTS (SELECT 1 FROM late_up_keys k
                  WHERE k.conv_id = f.conv_id AND k.turn_idx = f.turn_idx)
       OR EXISTS (SELECT 1 FROM late_del l WHERE l.conv_id = f.conv_id)
    UNION ALL
    SELECT conv_id, CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(NULL AS TIMESTAMP),
           change_lsn, 'd'
    FROM late_del
"""


def q_cdc_scan_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolution-safe value-range query (operators.merge.scan_range):
    replay the stream into the table, then ask for the CURRENT live rows
    whose ts falls in the last 30 days of the log — candidate files come
    from the per-file sidecar bounds on the NON-KEY ts column (no
    secondary index), then only the affected keys are fully LWW-resolved
    so superseded/deleted in-range rows cannot resurrect (the property
    the oracle's final-state filter checks exactly)."""
    from hierarchical_to_relational_spark.operators.merge import scan_range

    table = _cdc_table(spark, sf_dir)
    import datetime

    hi = _t(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
    lo = hi - datetime.timedelta(days=30)
    return scan_range(spark, table, "ts", lo=lo).select(
        "conv_id", "turn_idx", "role", "text", "ts"
    )


def q_cdc_lookup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched point lookup (operators.merge.lookup_conversations): 25
    conversations in ONE plan — buckets from the driver-side XXH64 twin
    (no Spark job), files pruned per key via the sidecar key-set bisect,
    one LWW resolution over the survivors."""
    from hierarchical_to_relational_spark.operators.merge import lookup_conversations

    table = _cdc_table(spark, sf_dir)
    keys = [f"u{i}" for i in range(1, 26)]
    return lookup_conversations(spark, table, keys).select(
        "conv_id", "turn_idx", "role", "text", "ts"
    )


def q_cdc_eq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality probe on a NON-KEY high-cardinality column through the
    round-5 Bloom-sidecar secondary index (SnapshotTable index_cols): the
    table is created with index_cols=["text"], so every commit writes a
    per-file Bloom over the text column into the manifest sidecar, and
    scan_range(text, v, v) prunes candidate files by bloom membership —
    where min-max bounds alone keep every file (hash-like values span
    every file's range). Resolution safety is scan_range's usual
    two-phase contract; the oracle filters the SQL final state by the
    same probe value (the first non-null text in (conv_id, turn_idx)
    order — guaranteed non-empty, so the row can't pass trivially)."""
    from hierarchical_to_relational_spark.operators.merge import scan_range

    from hierarchical_to_relational_spark.operators.merge import read_transcripts

    table = _cdc_table(spark, sf_dir, index_cols=["text"])
    probe = (read_transcripts(spark, table).where(F.col("text").isNotNull())
             .orderBy("conv_id", "turn_idx").select("text").first())[0]
    cols = ["conv_id", "turn_idx", "role", "text", "ts"]
    return scan_range(spark, table, "text", lo=probe, hi=probe).select(*cols)


def _cdc_table(spark: SparkSession, sf_dir: str, n_batches: int = 3,
               index_cols: list | None = None, after_batch=None,
               last_batch: str = "main"):
    """The _run_cdc replay, returning the TABLE (for queries that read it
    in a non-default way). ``after_batch(table, b)`` runs between batches
    — the hook incremental consumers (materialized views) use to observe
    every intermediate version. ``last_batch="split"`` stages the final
    batch's odd LSNs on a writable BRANCH (even LSNs stay on main) and
    merges it back — the branch delta-union merge path."""
    env = _mk_envelopes(_t(spark, sf_dir, "events"))
    root = tempfile.mkdtemp(prefix="h2r-cdc-t-")
    turn_cols = [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
    table = SnapshotTable.create(os.path.join(root, "transcripts"), table_schema_for(turn_cols), 8,
                                 index_cols=index_cols)
    for b in range(n_batches):
        batch = env.where(F.col("lsn") % n_batches == b)
        if last_batch == "split" and b == n_batches - 1:
            br = table.create_branch("stage")
            for ref, parity in ((table, 0), (br, 1)):
                if parity == 1:
                    v_main = table.current_version()
                rows = normalize_envelopes_fused(
                    batch.where(F.col("lsn") % 2 == parity), text_mode="none")
                apply_cdc_batch(spark, ref, rows,
                                batch_id=f"replay-{b}-p{parity}")
            # isolation: the branch commit never moved main's log
            assert table.current_version() == v_main
            assert table.merge_branch("stage", batch_id=f"merge-{b}") is True
            table.drop_branch("stage")
            continue
        apply_cdc_batch(spark, table, normalize_envelopes_fused(batch, text_mode="none"),
                        batch_id=f"replay-{b}")
        if after_batch is not None:
            after_batch(table, b)
    return table


def q_cdc_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The combined maintenance cycle is STATE-PRESERVING: replay the
    3-batch out-of-order stream, then run maintain_cycle (pressure-driven
    partial compaction at depth 2 → table-wide delta bin-packing →
    snapshot expiration down to 2 retained) and read the final state —
    which must still hash-match the independent DuckDB LWW oracle (the
    same oracle as cdc_replay: maintenance may rewrite files, never
    rows)."""
    from hierarchical_to_relational_spark.operators.merge import maintain_cycle

    table = _cdc_table(spark, sf_dir)
    rep = maintain_cycle(
        spark, table, batch_id="gate-maintain",
        compact_depth=2, binpack_min_dirs=2,
        expire_retain=2, orphan_grace_seconds=0.0,
    )
    assert rep["compacted_buckets"] or rep["packed_buckets"]
    return read_transcripts(spark, table).select(
        "conv_id", "turn_idx", "role", "text", "ts"
    )


def q_cdc_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writable branch refs (write-audit-publish), exercising the
    three-way DELTA-UNION merge: batches 0-1 apply to main, the table is
    forked, and batch 2 is SPLIT — even LSNs keep landing on main while
    odd LSNs are staged on the branch. ``merge_branch`` then folds the
    branch back in one atomic commit: both sides appended MoR deltas on
    the fork's bucket dirs, so the merge unions them, and because LWW
    resolution is order-insensitive the merged read must hash-match the
    same independent DuckDB oracle as cdc_replay — exactly the state of
    applying every event to one table. Branch isolation is asserted
    mid-flight (main's version is untouched by the branch commit)."""
    table = _cdc_table(spark, sf_dir, n_batches=3, last_batch="split")
    return read_transcripts(spark, table).select(
        "conv_id", "turn_idx", "role", "text", "ts"
    )


def q_cdc_mview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized view (operators.mview.ConvAggregateView):
    a per-conversation aggregate table maintained from the CDC change
    stream — refreshed after EVERY replay batch (first refresh is the
    full build, the rest are incremental: changes_since finds the touched
    conversations, a key-set-pruned lookup recomputes only them, LWW
    upserts land them). The final view must equal the DuckDB aggregate of
    the final LWW state — incremental maintenance may never drift from
    recompute-from-scratch."""
    from hierarchical_to_relational_spark.operators.mview import ConvAggregateView

    holder: dict = {}

    def _after(table, b):
        if "mv" not in holder:
            holder["mv"] = ConvAggregateView(
                spark, table, tempfile.mkdtemp(prefix="h2r-mv-"))
        rep = holder["mv"].refresh()
        holder.setdefault("modes", []).append(rep["mode"])

    _cdc_table(spark, sf_dir, after_batch=_after)
    assert holder["modes"][0] == "full" and "incremental" in holder["modes"][1:]
    return holder["mv"].read().select(
        "conv_id", "n_turns", "last_ts", "n_roles", "chars")


def q_cdc_windowed_mview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME WINDOWED materialized view: one row per (conv_id, day),
    maintained incrementally across the replay batches with
    delete-then-readd refreshes (a turn UPDATE that moves event time
    across a day boundary must vacate the old day's row — the hazard
    delta-apply schemes get wrong). Final view must hash-match the DuckDB
    GROUP BY (conv_id, day) of the final LWW state."""
    from hierarchical_to_relational_spark.operators.mview import ConvAggregateView

    holder: dict = {}

    def _after(table, b):
        if "mv" not in holder:
            holder["mv"] = ConvAggregateView(
                spark, table, tempfile.mkdtemp(prefix="h2r-wmv-"),
                aggs={"n_turns": F.count(F.lit(1)),
                      "chars": F.sum(F.length("text"))},
                window_col=F.datediff(F.col("ts"), F.lit("1970-01-01")),
            )
        holder["mv"].refresh()

    _cdc_table(spark, sf_dir, after_batch=_after)
    return holder["mv"].read().select("conv_id", "window_id", "n_turns", "chars")


def q_cdc_chained_mview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED materialized views maintained as a DAG: a per-(conv, day)
    windowed view over the CDC table feeds a per-conversation rollup view
    (its source is the UPSTREAM VIEW, not the table), and one
    ``refresh_dag`` call per replay batch propagates the change wave
    level by level (upstream commits first; the downstream's incremental
    window is the upstream's refresh commit). The final rollup must
    hash-match the independent DuckDB TWO-LEVEL aggregate of the final
    LWW state — chained incremental maintenance may never drift from a
    from-scratch recompute of the whole chain."""
    from hierarchical_to_relational_spark.operators.mview import (
        ConvAggregateView,
        refresh_dag,
    )

    holder: dict = {}

    def _after(table, b):
        if "daily" not in holder:
            holder["daily"] = ConvAggregateView(
                spark, table, tempfile.mkdtemp(prefix="h2r-cmv1-"),
                aggs={"n_turns": "count(*)",
                      "chars": "sum(length(text))"},
                window_col=F.datediff(F.col("ts"), F.lit("1970-01-01")),
            )
            holder["rollup"] = ConvAggregateView(
                spark, holder["daily"], tempfile.mkdtemp(prefix="h2r-cmv2-"),
                aggs={"n_days": "count(*)",
                      "total_turns": "sum(n_turns)",
                      "total_chars": "sum(chars)"},
            )
        reps = refresh_dag([holder["rollup"], holder["daily"]])
        holder.setdefault("modes", []).append(tuple(r["mode"] for r in reps))

    _cdc_table(spark, sf_dir, after_batch=_after)
    assert holder["modes"][0] == ("full", "full")
    assert ("incremental", "incremental") in holder["modes"][1:]
    return holder["rollup"].read().select(
        "conv_id", "n_days", "total_turns", "total_chars")


def q_cdc_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-stream int→long type widening: batches 0-1 carry a turn column
    ``score`` as INT (lsn % 100); batch 2 carries it as LONG with values
    past int32 (lsn + 5·10^9). The engine widens the table metadata-only
    at batch 2, casts the old narrow files up at read, and the final
    state equals the oracle's LWW fold computed wholly in BIGINT."""
    ev = _t(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="h2r-cdc-widen-")
    turn_cols = [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("score", T.IntegerType(), True),
    ]
    table = SnapshotTable.create(os.path.join(root, "transcripts"), table_schema_for(turn_cols), 8)

    def envs(batch_pred, score_col):
        turn = F.struct(
            (F.col("event_id") % 7).cast("int").alias("turn_idx"),
            F.col("event_type").alias("role"),
            F.col("props").alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.col("ts").alias("ts"),
            score_col.alias("score"),
        )
        return ev.where(batch_pred).select(
            F.col("event_id").alias("lsn"),
            F.col("ts").alias("commit_ts"),
            F.when(F.col("event_type") == "error", F.lit("delete")).otherwise(F.lit("insert")).alias("op"),
            F.concat(F.lit("u"), F.col("user_id")).alias("conv_id"),
            F.when(F.col("event_type") == "error", F.lit(None))
            .otherwise(F.struct(F.array(turn).alias("turns")))
            .alias("payload"),
        )

    for b in (0, 1):  # narrow int batches
        rows = normalize_envelopes_fused(
            envs(F.col("event_id") % 3 == b, (F.col("event_id") % 100).cast("int")),
            text_mode="none")
        apply_cdc_batch(spark, table, rows, batch_id=f"w-{b}")
    rows = normalize_envelopes_fused(  # wide long batch: values > int32
        envs(F.col("event_id") % 3 == 2, (F.col("event_id") + F.lit(5_000_000_000)).cast("long")),
        text_mode="none")
    apply_cdc_batch(spark, table, rows, batch_id="w-2")
    assert table.schema()["score"].dataType == T.LongType()
    return read_transcripts(spark, table).select(
        "conv_id", "turn_idx", "role", "text", "score"
    )


_CDC_FINAL_STATE_CTE = """
    WITH ups AS (
        SELECT 'u' || user_id AS conv_id,
               CAST(event_id % 7 AS INTEGER) AS turn_idx,
               event_type AS role, props AS text, ts, event_id AS lsn,
               row_number() OVER (PARTITION BY user_id, event_id % 7
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type <> 'error'
    ),
    dels AS (
        SELECT 'u' || user_id AS conv_id, max(event_id) AS del_lsn
        FROM events WHERE event_type = 'error' GROUP BY user_id
    ),
    final AS (
        SELECT u.conv_id, u.turn_idx, u.role, u.text, u.ts, u.lsn
        FROM ups u LEFT JOIN dels d ON u.conv_id = d.conv_id
        WHERE u.rn = 1 AND (d.del_lsn IS NULL OR u.lsn > d.del_lsn)
    )
"""

_CDC_SCAN_RANGE_ORACLE = _CDC_FINAL_STATE_CTE + """
    SELECT conv_id, turn_idx, role, text, ts FROM final
    WHERE ts >= (SELECT max(ts) - INTERVAL 30 DAY FROM events)
"""

_CDC_LOOKUP_BATCH_ORACLE = _CDC_FINAL_STATE_CTE + """
    SELECT conv_id, turn_idx, role, text, ts FROM final
    WHERE conv_id IN (SELECT 'u' || CAST(i AS VARCHAR) FROM range(1, 26) t(i))
"""

_CDC_EQ_PROBE_ORACLE = _CDC_FINAL_STATE_CTE + """
    SELECT conv_id, turn_idx, role, text, ts FROM final
    WHERE text = (SELECT text FROM final WHERE text IS NOT NULL
                  ORDER BY conv_id, turn_idx LIMIT 1)
"""

_CDC_WIDENING_ORACLE = """
    WITH ups AS (
        SELECT 'u' || user_id AS conv_id,
               CAST(event_id % 7 AS INTEGER) AS turn_idx,
               event_type AS role, props AS text,
               CAST(CASE WHEN event_id % 3 = 2 THEN event_id + 5000000000
                         ELSE event_id % 100 END AS BIGINT) AS score,
               event_id AS lsn,
               row_number() OVER (PARTITION BY user_id, event_id % 7
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type <> 'error'
    ),
    dels AS (
        SELECT 'u' || user_id AS conv_id, max(event_id) AS del_lsn
        FROM events WHERE event_type = 'error' GROUP BY user_id
    )
    SELECT u.conv_id, u.turn_idx, u.role, u.text, u.score
    FROM ups u LEFT JOIN dels d ON u.conv_id = d.conv_id
    WHERE u.rn = 1 AND (d.del_lsn IS NULL OR u.lsn > d.del_lsn)
"""


_CDC_REPLAY_ORACLE = """
    WITH ups AS (
        SELECT 'u' || user_id AS conv_id,
               CAST(event_id % 7 AS INTEGER) AS turn_idx,
               event_type AS role, props AS text, ts, event_id AS lsn,
               row_number() OVER (PARTITION BY user_id, event_id % 7
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type <> 'error'
    ),
    dels AS (
        SELECT 'u' || user_id AS conv_id, max(event_id) AS del_lsn
        FROM events WHERE event_type = 'error' GROUP BY user_id
    )
    SELECT u.conv_id, u.turn_idx, u.role, u.text, u.ts
    FROM ups u LEFT JOIN dels d ON u.conv_id = d.conv_id
    WHERE u.rn = 1 AND (d.del_lsn IS NULL OR u.lsn > d.del_lsn)
"""

_CDC_MVIEW_ORACLE = f"""
    WITH state AS ({_CDC_REPLAY_ORACLE})
    SELECT conv_id,
           count(*) AS n_turns,
           max(ts) AS last_ts,
           count(DISTINCT "role") AS n_roles,
           CAST(sum(length("text")) AS BIGINT) AS chars
    FROM state GROUP BY conv_id
"""

_CDC_WINDOWED_MVIEW_ORACLE = f"""
    WITH state AS ({_CDC_REPLAY_ORACLE})
    SELECT conv_id,
           CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                AS INTEGER) AS window_id,
           count(*) AS n_turns,
           CAST(sum(length("text")) AS BIGINT) AS chars
    FROM state GROUP BY conv_id, window_id
"""

_CDC_CHAINED_MVIEW_ORACLE = f"""
    WITH daily AS ({_CDC_WINDOWED_MVIEW_ORACLE})
    SELECT conv_id,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(n_turns) AS BIGINT) AS total_turns,
           CAST(sum(chars) AS BIGINT) AS total_chars
    FROM daily GROUP BY conv_id
"""


# ---------------------------------------------------------------------------
# relational coverage: aggregation, joins, windows, set ops, strings/dates
# ---------------------------------------------------------------------------

def q_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape; exact decimal sums cast to double (bit-identical
    across engines, unlike float accumulation order).

    Physical shape (r6): two-level aggregation — partial sums per
    (flag, status, ORDERKEY), then re-aggregate per (flag, status) with
    n_orders = count of inner groups. Value-identical to the single
    groupBy with countDistinct (decimal sums are exact ⇒ associative;
    count_order = sum of per-order counts; a distinct orderkey under a
    (flag, status) pair is exactly one inner group), but avoids Catalyst's
    mixed distinct/non-distinct rewrite, which dragged every decimal sum
    through the 1.5M-row distinct regroup (measured 9.5s -> 2.4s at
    sf1.0; the same two-phase shape is how distinct aggs scale at 100 TB)."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    # project-then-spread: the sf tables arrive as ONE parquet row group,
    # so the partial aggregation otherwise runs inside a single-task scan
    # stage (31 cores idle); the repartition ships only the 6 needed
    # columns (guide §2.3) and is a small-file artifact exactly like
    # _spread's docstring says (measured 5.9s -> 3.5s cold, r6)
    pre = (
        _spread(
            li.where(F.col("l_shipdate") <= F.lit("1998-09-02")).select(
                "l_returnflag", "l_linestatus", "l_orderkey",
                "l_quantity", "l_extendedprice", "l_discount"),
            spark,
        )
        .groupBy("l_returnflag", "l_linestatus", "l_orderkey")
        .agg(
            F.sum(dec("l_quantity")).alias("_q"),
            F.sum(dec("l_extendedprice")).alias("_e"),
            F.sum((dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))).alias("_d"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    return (
        pre.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("_q").cast("double").alias("sum_qty"),
            F.sum("_e").cast("double").alias("sum_base_price"),
            F.sum("_d").cast("double").alias("sum_disc_price"),
            F.sum("_n").alias("count_order"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price", "sum_disc_price", "count_order", "n_orders")
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped-order revenue per (order, date, priority)
    for one market segment, top 10 by revenue."""
    customer, orders, lineitem = (_t(spark, sf_dir, n) for n in ("customer", "orders", "lineitem"))
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        customer.where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("o_orderdate") < F.lit("1995-03-15"))
        .where(F.col("l_shipdate") > F.lit("1995-03-15"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join: clicks landing within 1 hour after each error,
    per user — bucketized into hour-wide equi-join buckets + exact range
    filter (no nested-loop range join; plan-asserted in test_joins)."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id"))
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("err_ts"), F.col("event_id").alias("err_id"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("err_end"))
    out = interval_join(clicks, errors, on=["user_id"], point_ts="click_ts",
                        start_ts="err_ts", end_ts="err_end", bucket_seconds=3600)
    return out.select("user_id", "err_id", "click_id")


def q_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-function round-trip (the map analogue of normalize_roundtrip's
    array proof): per-user event_type counts packed into a MAP via
    map_from_entries(sort_array(collect_list(struct))), then exploded back
    to rows with the map's cardinality attached. Equal to the plain
    groupBy — which is exactly what the SQL oracle computes."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 100)
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    packed = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    return packed.select(
        "user_id",
        F.size("m").alias("n_types"),
        F.explode("m").alias("event_type", "n"),
    ).select("user_id", "event_type", "n", "n_types")


def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping-sets: order counts + decimal-exact totals over every
    combination of (order status, priority) including both marginals and
    the grand total (completes the rollup/pivot/grouping-sets family)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"))
    )


def q_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregations per event_type: HLL++ approximate distinct users
    (rsd 2%) and approximate value quantiles (p50/p95). The sketches are
    engine-specific, so the driver checks what IS exact: n_events/n_users
    are value-hashed cross-engine, and the sketch outputs are asserted
    in-Spark against their error contracts — HLL within 3×rsd of the exact
    distinct count, each approx quantile's exact rank within ±0.01 of its
    target — with the booleans hash-checked against the oracle's TRUE.
    (tests/test_sketches.py holds the tighter measured bounds.) At 100 TB
    the sketches replace exact count-distinct/percentile shuffles with
    constant-size state; the exact twins here exist to judge them."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("_au"),
        F.percentile_approx("value", [0.5, 0.95], 10000).alias("_vq"),
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
    ranks = (
        ev.join(F.broadcast(agg.select("event_type", "_vq")), "event_type")
        .groupBy("event_type")
        .agg(
            (F.sum(F.when(F.col("value") <= F.col("_vq")[0], 1).otherwise(0))
             / F.count(F.lit(1))).alias("_r50"),
            (F.sum(F.when(F.col("value") <= F.col("_vq")[1], 1).otherwise(0))
             / F.count(F.lit(1))).alias("_r95"),
        )
    )
    return agg.join(ranks, "event_type").select(
        "event_type", "n_events", "n_users",
        (F.abs(F.col("_au") - F.col("n_users")) <= 0.06 * F.col("n_users")).alias("hll_ok"),
        ((F.col("_r50") >= 0.49) & (F.col("_r50") <= 0.51)).alias("p50_ok"),
        ((F.col("_r95") >= 0.94) & (F.col("_r95") <= 0.96)).alias("p95_ok"),
    )


def q_asof_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event picks up the latest preceding view
    event per user (state-at-event-time lookup). One union + one window —
    no range-join explosion. Right side deduped per (user, ts) so both
    engines resolve ties identically; DuckDB oracle uses native ASOF JOIN."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts").agg(F.max("event_id").alias("view_id"))
    )
    out = asof_join(purchases, views, on=["user_id"], left_ts="ts", right_ts="ts",
                    right_payload=["view_id"])
    return out.select("user_id", "event_id", "view_id_asof")


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer over
    one quarter, top 20 by revenue (decimal-exact, double-cast at the end)."""
    customer, orders, lineitem, nation = (
        _t(spark, sf_dir, n) for n in ("customer", "orders", "lineitem", "nation")
    )
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .where((F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1996-04-01")))
        .where(F.col("l_returnflag") == "R")
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue per nation where supplier and customer share
    the nation, one region, one year."""
    customer, orders, lineitem, supplier, nation, region = (
        _t(spark, sf_dir, n) for n in ("customer", "orders", "lineitem", "supplier", "nation", "region")
    )
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        region.where(F.col("r_name") == "ASIA")
        .join(nation, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(customer, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supplier, (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("s_nationkey") == F.col("c_nationkey")))
        .where(F.year("o_orderdate") == 1995)
        .groupBy("n_name")
        .agg(F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))).cast("double").alias("revenue"))
    )


def q_join_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join with broadcast dims: revenue + customers per region."""
    orders, customer, nation, region = (
        _t(spark, sf_dir, n) for n in ("orders", "customer", "nation", "region")
    )
    return (
        orders.join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti joins: per nation, customers with vs without orders."""
    customer, orders, nation = (_t(spark, sf_dir, n) for n in ("customer", "orders", "nation"))
    with_orders = customer.join(orders, customer["c_custkey"] == orders["o_custkey"], "left_semi")
    without = customer.join(orders, customer["c_custkey"] == orders["o_custkey"], "left_anti")
    agg_w = with_orders.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_with")).withColumnRenamed("c_nationkey", "k_w")
    agg_wo = without.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_without")).withColumnRenamed("c_nationkey", "k_wo")
    return (
        nation.join(agg_w, nation["n_nationkey"] == agg_w["k_w"], "left")
        .join(agg_wo, nation["n_nationkey"] == agg_wo["k_wo"], "left")
        .select(
            "n_name",
            F.coalesce("n_with", F.lit(0)).alias("n_with"),
            F.coalesce("n_without", F.lit(0)).alias("n_without"),
        )
    )


def q_window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (row_number window, deterministic ties)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank", "o_totalprice")
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) — the batch equivalent of a
    session window, exact-integer time arithmetic (unix micros)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # parquet reads ts as NTZ; session TZ is UTC
    gap = us(F.col("ts")) - us(F.lag("ts").over(w))
    marked = ev.withColumn(
        "new_s", F.when(gap.isNull() | (gap > 1800 * 1_000_000), F.lit(1)).otherwise(F.lit(0))
    )
    sid = F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        marked.withColumn("session_id", sid)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
        )
    )


def q_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h windows: event counts + distinct users per type."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.countDistinct("user_id").alias("n_users"))
    )


def q_rollup_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (region, nation) customer counts — hierarchical aggregates."""
    customer, nation, region = (_t(spark, sf_dir, n) for n in ("customer", "nation", "region"))
    joined = (
        customer.join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    return joined.rollup("r_name", "n_name").agg(F.count(F.lit(1)).alias("n_customers"))


def q_setops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops: EXCEPT + INTERSECT over early-window click/purchase users."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 1000)
    clicks = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    buys = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    return (
        clicks.exceptAll(buys).distinct().withColumn("op", F.lit("except"))
        .unionByName(clicks.intersect(buys).withColumn("op", F.lit("intersect")))
        .select("user_id", "op")
    )


def q_pivot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: orders per (year × status) as columns."""
    orders = _t(spark, sf_dir, "orders")
    piv = (
        orders.select(F.year("o_orderdate").alias("o_year"), "o_orderstatus")
        .groupBy("o_year")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
    )
    return piv.select(
        "o_year",
        F.coalesce("O", F.lit(0)).alias("n_open"),
        F.coalesce("F", F.lit(0)).alias("n_filled"),
        F.coalesce("P", F.lit(0)).alias("n_pending"),
    )


def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON function coverage: parse the props JSON payload, bucket the
    extracted value, aggregate counts per (event_type, k-bucket)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", (k - F.pmod(k, F.lit(10))).alias("k_bucket"))
        .groupBy("event_type", "k_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_string_date_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date function coverage: extraction, parsing, formatting."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.expr("CAST(split_part(o_orderpriority, '-', 1) AS INT)").alias("priority_code"),
        F.concat_ws("#", F.col("o_orderstatus"), F.col("o_orderpriority")).alias("status_key"),
        F.length("o_orderpriority").alias("prio_len"),
    )


# ---------------------------------------------------------------------------
# training-data pipeline: dedup / similarity / text / multimodal
# ---------------------------------------------------------------------------

def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.dedup_exact(_t(spark, sf_dir, "documents"), "doc_id", ["text"])


def q_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # doc_id < 200 includes known near-dup pairs (e.g. jaccard ~0.96-0.99 at
    # sf0.01), so the oracle gate is non-vacuous: both engines must return the
    # same >0 pair set, not trivially-equal empty results.
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return dd.ngram_jaccard_pairs(docs, "doc_id", "text", k=5, threshold=0.4)


def q_minhash_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"), spark)  # md5-per-posting is CPU-dense
    return dd.minhash_lsh_pairs(docs, "doc_id", "text", n_hashes=16, bands=4, k=5)


def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"), spark)  # md5-per-token is CPU-dense
    return dd.simhash_fingerprint(docs, "doc_id", "text")


def _quantized(df: DataFrame, scale: int = 10000, dim: int | None = None) -> DataFrame:
    """float vectors → exact integer vectors (floor(x*scale)): integer dot
    products are order-independent ⇒ bit-identical across engines. With
    ``dim`` the per-element transform unrolls into a codegen-able array
    constructor (identical values; size-guarded fallback)."""
    dyn = F.transform(F.col("embedding"), lambda x: F.floor(x.cast("double") * scale).cast("long"))
    q = dyn
    if dim is not None:
        flat = F.array(*[
            F.floor(F.col("embedding")[i].cast("double") * scale).cast("long")
            for i in range(dim)
        ])
        q = F.when(F.size("embedding") == dim, flat).otherwise(dyn)
    return df.select("vec_id", q.alias("q"))


def _int_cosine(a, b, dim: int | None = None):
    # flat codegen-able sums when dim is known (functions.vecalg): same
    # left-assoc fold order as the HOF form ⇒ identical long arithmetic
    from hierarchical_to_relational_spark.functions import vecalg

    dot = vecalg.dot(a, b, dim=dim, acc="long")
    na = vecalg.sq_norm(a, dim=dim, acc="long")
    nb = vecalg.sq_norm(b, dim=dim, acc="long")
    return dot.cast("double") / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double")))


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine near-dup on a vec_id-sampled subset (quantized)."""
    from hierarchical_to_relational_spark.functions import vecalg

    emb = _t(spark, sf_dir, "embeddings")
    dim = vecalg.vec_dim(emb, "embedding")
    v = _quantized(emb.where(F.col("vec_id") % 5 == 0), dim=dim)
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id1"),
            F.col("b.vec_id").alias("id2"),
            _int_cosine(F.col("a.q"), F.col("b.q"), dim=dim).alias("cos"),
        )
        .where(F.col("cos") >= 0.4)
        .select("id1", "id2", F.round("cos", 6).alias("cos"))
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors vec_id < 5 (exact ANN
    baseline; quantized for cross-engine determinism)."""
    from hierarchical_to_relational_spark.functions import vecalg

    emb = _t(spark, sf_dir, "embeddings")
    dim = vecalg.vec_dim(emb, "embedding")
    v = _quantized(emb, dim=dim)
    # stage each side's norm in its projection so it computes once per ROW
    # instead of once per PAIR inside the cosine (r6: ~20% off the join
    # stage; sqrt(sq_norm) is the same expression, values bit-identical)
    nrm = F.sqrt(vecalg.sq_norm(F.col("q"), dim=dim, acc="long").cast("double"))
    q = v.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv"), nrm.alias("_qn"))
    c = v.select(F.col("vec_id").alias("neighbor_id"), F.col("q").alias("cv"), nrm.alias("_cn"))
    dot = vecalg.dot(F.col("qv"), F.col("cv"), dim=dim, acc="long")
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id",
        (dot.cast("double") / (F.col("_qn") * F.col("_cn"))).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("query_id", "neighbor_id", "rank")
    )


def q_simhash_docs_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production SimHash: xxhash64 token hashes + shift/mask nibbles —
    same output shape as the md5 contract form, ~10x cheaper. The integer
    hash is not SQL-portable, so the driver checks the exact invariants
    instead: fingerprint shape (16 chars, all 0/1) and content-determinism
    (identical texts MUST get identical fingerprints), value-hashed
    against the oracle's constants. The md5 twin (simhash_docs) stays
    fully value-checked; a pytest asserts the two variants' structural
    equivalence."""
    docs = _spread(_t(spark, sf_dir, "documents"), spark)
    sh = dd.simhash_fingerprint(docs, "doc_id", "text", hash_fn="xxhash64")
    joined = sh.join(docs.select("doc_id", "text"), "doc_id")
    w = Window.partitionBy(F.md5("text"))
    return joined.select(
        "doc_id",
        F.length("simhash").alias("sim_len"),
        F.col("simhash").rlike("^[01]{16}$").alias("bits_ok"),
        (F.col("simhash") == F.first("simhash").over(w)).alias("dup_consistent"),
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 (16 cells, probe 6/16; centroids trained on
    a deterministic sample with driver-local Lloyd). The neighbor set is
    approximate by design, so the driver value-checks what IS exact:
    every query returns exactly k results, and the measured recall@10 vs
    in-Spark brute force clears the 0.6 contract bound (deterministic —
    seeded sample, id tiebreaks; measured 0.66/0.74/0.72 at
    sf0.001/0.01/0.1). tests/test_dedup_similarity.py holds the full
    recall contract including the probes→1.0 limit."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    approx = sim.ivf_topk(q, emb, k=10, n_cells=16, n_probe=6).localCheckpoint()
    exact = sim.brute_force_topk(q, emb, k=10).localCheckpoint()
    hits = approx.join(
        exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi"
    )
    tot = hits.agg(F.count(F.lit(1)).alias("_h")).crossJoin(
        exact.agg(F.count(F.lit(1)).alias("_e"))
    )
    per_q = approx.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_results"))
    return per_q.crossJoin(F.broadcast(tot)).select(
        "query_id", "n_results", (F.col("_h") / F.col("_e") >= 0.6).alias("recall_ok")
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH top-10 with Hamming-1 multi-probe (the candidate
    generator at corpus scale). The candidate set is approximate by
    design, so the driver value-checks the exact verify stage: every
    returned pair's cosine equals an independently recomputed exact
    cosine for that pair (the bucket-join → scoring path is sound), ranks
    per query are contiguous from 1, and every query row is present.
    tests/test_dedup_similarity.py holds the subset-of-brute and
    multi-probe-raises-recall contracts."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    res = sim.lsh_topk(q, emb, k=10, n_planes=4, probe_hamming=1).localCheckpoint()
    vq = emb.select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").cast("array<double>").alias("_qv"))
    vc = emb.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").cast("array<double>").alias("_cv"))
    checked = (
        res.join(vq, "query_id").join(vc, "neighbor_id")
        .select(
            "query_id", "rank",
            (F.col("cos") == F.round(dd.cosine(F.col("_qv"), F.col("_cv")), 6)).alias("_cos_ok"),
        )
    )
    per_q = checked.groupBy("query_id").agg(
        F.min("_cos_ok").alias("cos_exact_ok"),
        ((F.min("rank") == 1) & (F.max("rank") == F.count(F.lit(1)))).alias("ranks_ok"),
    )
    qs = q.select(F.col("vec_id").alias("query_id"))
    return qs.join(per_q, "query_id", "left").select(
        "query_id",
        F.coalesce("cos_exact_ok", F.lit(True)).alias("cos_exact_ok"),
        F.coalesce("ranks_ok", F.lit(True)).alias("ranks_ok"),
    )


def q_text_profile_docs_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production corpus profile: identical computation to
    text_profile_docs except the fingerprint is the xxhash64 integer min
    (~10x cheaper than the md5 contract form). The six profile columns are
    engine-independent and stay fully value-hashed against the SAME oracle
    as the md5 twin; only the fingerprint value is non-portable, so it is
    presence-checked (fp_ok) instead — the md5 twin keeps the fingerprint
    value under hash check."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    return tx.profile_documents(docs).select(
        "doc_id", "n_tokens_ws", "n_tokens_bpe", "punct_ratio", "stopword_ratio",
        "lang_guess", "quality", F.col("fingerprint").isNotNull().alias("fp_ok"),
    )


def q_text_profile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # md5 fingerprint here ONLY: this is the oracle-checked contract form
    # (DuckDB replays md5 bit-for-bit). Production profiling defaults to
    # the ~10x cheaper xxhash64 fingerprint (q_text_profile_docs_fast).
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    return tx.profile_documents(docs, fingerprint_hash="md5").select(
        "doc_id", "n_tokens_ws", "n_tokens_bpe", "punct_ratio", "stopword_ratio", "lang_guess", "quality", "fingerprint"
    )


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping character-window chunking (context-window prep)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.chunk_documents(docs, chunk_chars=200, overlap=50)


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing over synthesized blobs (text bytes stand in
    for media content): byte length + sha256, all JVM-side."""
    docs = _t(spark, sf_dir, "documents")
    blobs = docs.select("doc_id", F.encode("text", "UTF-8").alias("content"))
    return blobs.select(
        "doc_id",
        F.octet_length("content").alias("n_bytes"),
        F.sha2("content", 256).alias("sha"),
    )


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full CDC replay (normalize → merge → snapshot table) over
    envelopes derived from sf0.001 events."""
    return _run_cdc(spark, "/root/testdata/sf0.001", n_batches=3, n_buckets=4)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "flatten_hier": q_flatten_hier,
        "flatten_startwith": q_flatten_startwith,
        "lww_latest": q_lww_latest,
        "merge_upsert": q_merge_upsert,
        "merge_patch": q_merge_patch,
        "cdc_deletes": q_cdc_deletes,
        "normalize_roundtrip": q_normalize_roundtrip,
        "cdc_replay": q_cdc_replay,
        "cdc_changes_since": q_cdc_changes_since,
        "cdc_scan_range": q_cdc_scan_range,
        "cdc_lookup_batch": q_cdc_lookup_batch,
        "cdc_eq_probe": q_cdc_eq_probe,
        "cdc_maintain": q_cdc_maintain,
        "cdc_branch_merge": q_cdc_branch_merge,
        "cdc_mview": q_cdc_mview,
        "cdc_chained_mview": q_cdc_chained_mview,
        "cdc_windowed_mview": q_cdc_windowed_mview,
        "cdc_widening": q_cdc_widening,
        "agg_pricing": q_agg_pricing,
        "shipping_priority": q_shipping_priority,
        "local_supplier_volume": q_local_supplier_volume,
        "returned_items": q_returned_items,
        "asof_state": q_asof_state,
        "interval_join": q_interval_join,
        "cube_orders": q_cube_orders,
        "map_roundtrip": q_map_roundtrip,
        "sketch_stats": q_sketch_stats,
        "join_region_revenue": q_join_region_revenue,
        "semi_anti_customers": q_semi_anti_customers,
        "window_top_orders": q_window_top_orders,
        "sessionize": q_sessionize,
        "tumbling_counts": q_tumbling_counts,
        "rollup_customers": q_rollup_customers,
        "setops_users": q_setops_users,
        "pivot_orders": q_pivot_orders,
        "json_props_stats": q_json_props_stats,
        "string_date_orders": q_string_date_orders,
        "dedup_exact_docs": q_dedup_exact_docs,
        "jaccard_docs": q_jaccard_docs,
        "minhash_lsh_docs": q_minhash_lsh_docs,
        "simhash_docs": q_simhash_docs,
        "simhash_docs_fast": q_simhash_docs_fast,
        "embed_near_dup": q_embed_near_dup,
        "ann_topk": q_ann_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "text_profile_docs": q_text_profile_docs,
        "text_profile_docs_fast": q_text_profile_docs_fast,
        "chunk_docs": q_chunk_docs,
        "multimodal_meta": q_multimodal_meta,
    }


def _tp_oracle(fp_col: str) -> str:
    """Shared DuckDB body for the two text-profile contract rows: the md5
    contract twin selects the portable ``fingerprint``; the xxhash64
    production twin selects ``TRUE AS fp_ok`` (the integer hash is not
    SQL-portable, so only presence is driver-checked — the six profile
    columns stay fully value-hashed on BOTH rows)."""
    lang_pats = {lg: r"\b(" + "|".join(ws) + r")\b" for lg, ws in LANG_STOPWORDS.items()}
    bpe = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    return f"""
        WITH base AS (
          SELECT doc_id, text,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END n_tokens_ws,
            len(regexp_extract_all(text, '{bpe}')) n_tokens_bpe,
            length(regexp_replace(text, '\\s', '', 'g')) nonspace,
            length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) punct,
            len(regexp_extract_all(lower(text), '{lang_pats["en"]}')) hits_en,
            len(regexp_extract_all(lower(text), '{lang_pats["de"]}')) hits_de,
            len(regexp_extract_all(lower(text), '{lang_pats["es"]}')) hits_es,
            len(regexp_extract_all(lower(text), '{lang_pats["fr"]}')) hits_fr
          FROM documents),
        derived AS (
          SELECT doc_id, text, n_tokens_ws, n_tokens_bpe,
            CASE WHEN nonspace = 0 THEN 0.0 ELSE punct * 1.0 / nonspace END punct_ratio,
            CASE WHEN n_tokens_ws = 0 THEN 0.0 ELSE hits_en * 1.0 / n_tokens_ws END stopword_ratio,
            greatest(hits_de, hits_en, hits_es, hits_fr) best,
            hits_de, hits_en, hits_es, hits_fr
          FROM base),
        langd AS (
          SELECT *,
            CASE WHEN best = 0 THEN 'und'
                 WHEN hits_de = best THEN 'de'
                 WHEN hits_en = best THEN 'en'
                 WHEN hits_es = best THEN 'es'
                 WHEN hits_fr = best THEN 'fr'
                 ELSE 'und' END lang_guess,
            least(n_tokens_ws / 100.0, 1.0) * 0.3 +
            least(stopword_ratio * 2.5, 1.0) * 0.4 +
            greatest(0.0, 1.0 - punct_ratio * 2.0) * 0.3 AS quality,
            coalesce(
              list_aggregate(list_transform(range(1, greatest(length(l.text) - 7, 0) + 1),
                             i -> md5(substr(l.text, CAST(i AS INT), 8))), 'min'),
              md5(l.text)) fingerprint
          FROM derived l)
        SELECT doc_id, n_tokens_ws, n_tokens_bpe,
               round(punct_ratio, 6) punct_ratio,
               round(stopword_ratio, 6) stopword_ratio,
               lang_guess, round(quality, 6) quality, {fp_col}
        FROM langd
    """


def oracle_sql() -> dict[str, str]:
    lang_pats = {lg: r"\b(" + "|".join(ws) + r")\b" for lg, ws in LANG_STOPWORDS.items()}
    bpe = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    nib = "0123456789abcdef"
    sim_nibs = ",\n".join(
        f"avg(strpos('{nib}', substr(h, {i + 1}, 1)) - 1) AS n{i}" for i in range(16)
    )
    sim_bits = " || ".join(f"(CASE WHEN n{i} > 7.5 THEN '1' ELSE '0' END)" for i in range(16))
    minhash_mins = ",\n".join(
        f"min(({a} * hx + {b}) % {MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(_minhash_perms(16))
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(m{b*4} || '|' || m{b*4+1} || '|' || m{b*4+2} || '|' || m{b*4+3}) AS bucket FROM sig"
        for b in range(4)
    )
    return {
        "flatten_hier": _flatten_oracle(seed_filter="", sep="/"),
        "flatten_startwith": _flatten_oracle(seed_filter="AND parent IN ('R0','R2')", sep="|"),
        "lww_latest": """
            SELECT user_id, event_type, event_id, value FROM (
                SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                             ORDER BY ts DESC, event_id DESC) rn
                FROM events) WHERE rn = 1
        """,
        "merge_upsert": """
            SELECT user_id, event_id, event_type, value FROM (
                SELECT *, row_number() OVER (PARTITION BY user_id
                                             ORDER BY ts DESC, event_id DESC) rn
                FROM events) WHERE rn = 1
        """,
        "merge_patch": """
            WITH src AS (
                SELECT user_id, event_id,
                       event_type = 'purchase' AS _full,
                       CASE WHEN event_type = 'view' THEN NULL ELSE value END AS value,
                       CASE WHEN event_type = 'error' THEN NULL ELSE props END AS props
                FROM events)
            SELECT user_id,
                   arg_max(value, event_id) FILTER (WHERE _full OR value IS NOT NULL) AS last_value,
                   arg_max(props, event_id) FILTER (WHERE _full OR props IS NOT NULL) AS last_props,
                   max(event_id) AS last_event_id
            FROM src GROUP BY user_id
        """,
        "cdc_deletes": """
            WITH ups AS (
                SELECT user_id, event_type, event_id, value,
                       row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY event_id DESC) rn
                FROM events WHERE event_type <> 'error'),
            dels AS (SELECT user_id, max(event_id) del_lsn FROM events
                     WHERE event_type = 'error' GROUP BY user_id)
            SELECT u.user_id, u.event_type, u.event_id, u.value
            FROM ups u LEFT JOIN dels d ON u.user_id = d.user_id
            WHERE u.rn = 1 AND (d.del_lsn IS NULL OR u.event_id > d.del_lsn)
        """,
        "normalize_roundtrip": """
            SELECT CAST(user_id AS VARCHAR) conv_id,
                   CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) turn_idx,
                   event_type AS "role", props AS "text"
            FROM events
        """,
        "cdc_replay": _CDC_REPLAY_ORACLE,
        "cdc_changes_since": _CDC_CHANGES_ORACLE,
        "cdc_scan_range": _CDC_SCAN_RANGE_ORACLE,
        "cdc_lookup_batch": _CDC_LOOKUP_BATCH_ORACLE,
        "cdc_eq_probe": _CDC_EQ_PROBE_ORACLE,
        # maintenance is state-preserving ⇒ same oracle as cdc_replay
        "cdc_maintain": _CDC_REPLAY_ORACLE,
        # branch staging + delta-union merge is state-equivalent to
        # applying every batch to one table (LWW is order-insensitive)
        "cdc_branch_merge": _CDC_REPLAY_ORACLE,
        "cdc_mview": _CDC_MVIEW_ORACLE,
        "cdc_chained_mview": _CDC_CHAINED_MVIEW_ORACLE,
        "cdc_windowed_mview": _CDC_WINDOWED_MVIEW_ORACLE,
        "cdc_widening": _CDC_WIDENING_ORACLE,
        "agg_pricing": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) sum_base_price,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                            (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) sum_disc_price,
                   count(*) count_order,
                   count(DISTINCT l_orderkey) n_orders
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "asof_state": """
            WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
                 v AS (SELECT user_id, ts, max(event_id) view_id FROM events
                       WHERE event_type = 'view' GROUP BY user_id, ts)
            SELECT p.user_id, p.event_id, v.view_id AS view_id_asof
            FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
        """,
        "map_roundtrip": """
            WITH c AS (SELECT user_id, event_type, count(*) n FROM events
                       WHERE user_id < 100 GROUP BY user_id, event_type)
            SELECT user_id, event_type, n,
                   count(*) OVER (PARTITION BY user_id) AS n_types
            FROM c
        """,
        "cube_orders": """
            SELECT o_orderstatus, o_orderpriority, count(*) n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) total_price
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "interval_join": """
            WITH c AS (SELECT user_id, ts AS click_ts, event_id AS click_id
                       FROM events WHERE event_type = 'click'),
                 e AS (SELECT user_id, ts AS err_ts, ts + INTERVAL 1 HOUR AS err_end,
                              event_id AS err_id
                       FROM events WHERE event_type = 'error')
            SELECT c.user_id, e.err_id, c.click_id
            FROM c JOIN e ON c.user_id = e.user_id
                         AND c.click_ts >= e.err_ts AND c.click_ts <= e.err_end
        """,
        "returned_items": """
            SELECT c_custkey, c_name, n_name,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                            (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) revenue
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON o_orderkey = l_orderkey
                          JOIN nation ON c_nationkey = n_nationkey
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
              AND l_returnflag = 'R'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """,
        "shipping_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                            (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) revenue
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
              AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """,
        "local_supplier_volume": """
            SELECT n_name,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                            (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) revenue
            FROM region JOIN nation ON n_regionkey = r_regionkey
                        JOIN customer ON c_nationkey = n_nationkey
                        JOIN orders ON o_custkey = c_custkey
                        JOIN lineitem ON l_orderkey = o_orderkey
                        JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
            WHERE r_name = 'ASIA' AND year(o_orderdate) = 1995
            GROUP BY n_name
        """,
        "join_region_revenue": """
            SELECT r_name AS region,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) revenue,
                   count(DISTINCT o_custkey) n_customers,
                   count(*) n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
                        JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "semi_anti_customers": """
            WITH w AS (SELECT c_nationkey, count(*) n_with FROM customer
                       WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
                       GROUP BY c_nationkey),
                 wo AS (SELECT c_nationkey, count(*) n_without FROM customer
                        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
                        GROUP BY c_nationkey)
            SELECT n_name, coalesce(w.n_with, 0) n_with, coalesce(wo.n_without, 0) n_without
            FROM nation LEFT JOIN w ON n_nationkey = w.c_nationkey
                        LEFT JOIN wo ON n_nationkey = wo.c_nationkey
        """,
        "window_top_orders": """
            SELECT o_custkey, o_orderkey, rank, o_totalprice FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY o_totalprice DESC, o_orderkey) rank
                FROM orders) WHERE rank <= 3
        """,
        "sessionize": """
            WITH g AS (
                SELECT user_id, ts, event_id,
                       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap
                FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            m AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN gap IS NULL OR gap > 1800 * 1000000 THEN 1 ELSE 0 END new_s
                FROM g),
            s AS (
                SELECT user_id, ts,
                       -- CAST: DuckDB windowed sum yields HUGEINT -> Arrow decimal128,
                       -- which the driver value-hash sees as a different type than
                       -- Spark's BIGINT even when values are equal.
                       CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                             ROWS UNBOUNDED PRECEDING) AS BIGINT) session_id
                FROM m)
            SELECT user_id, session_id, count(*) n_events, min(ts) start_ts, max(ts) end_ts
            FROM s GROUP BY user_id, session_id
        """,
        "tumbling_counts": """
            SELECT date_trunc('hour', ts) window_start, event_type,
                   count(*) n_events, count(DISTINCT user_id) n_users
            FROM events GROUP BY 1, 2
        """,
        "rollup_customers": """
            SELECT r_name, n_name, count(*) n_customers
            FROM customer JOIN nation ON c_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
        """,
        "setops_users": """
            WITH clicks AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click' AND event_id < 1000),
                 buys AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND event_id < 1000)
            SELECT user_id, 'except' AS op FROM (SELECT user_id FROM clicks EXCEPT SELECT user_id FROM buys)
            UNION ALL
            SELECT user_id, 'intersect' AS op FROM (SELECT user_id FROM clicks INTERSECT SELECT user_id FROM buys)
        """,
        "pivot_orders": """
            SELECT CAST(year(o_orderdate) AS INT) o_year,
                   count(*) FILTER (o_orderstatus = 'O') n_open,
                   count(*) FILTER (o_orderstatus = 'F') n_filled,
                   count(*) FILTER (o_orderstatus = 'P') n_pending
            FROM orders GROUP BY 1
        """,
        "json_props_stats": """
            SELECT event_type,
                   k - (k % 10) AS k_bucket,
                   count(*) n
            FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) k FROM events)
            GROUP BY 1, 2
        """,
        "string_date_orders": """
            SELECT o_orderkey,
                   CAST(year(o_orderdate) AS INT) o_year,
                   CAST(month(o_orderdate) AS INT) o_month,
                   CAST(split_part(o_orderpriority, '-', 1) AS INT) priority_code,
                   o_orderstatus || '#' || o_orderpriority status_key,
                   CAST(length(o_orderpriority) AS INT) prio_len
            FROM orders
        """,
        "dedup_exact_docs": """
            SELECT min(doc_id) doc_id, count(*) dup_count
            FROM documents GROUP BY md5(CAST(text AS VARCHAR))
        """,
        "jaccard_docs": """
            WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
            post AS (SELECT DISTINCT doc_id, shingle FROM (
                     SELECT doc_id, unnest(list_transform(range(1, greatest(length(text) - 4, 0) + 1),
                                           i -> substr(text, CAST(i AS INT), 5))) AS shingle
                     FROM d)),
            sizes AS (SELECT doc_id, count(*) sz FROM post GROUP BY doc_id),
            inter AS (SELECT a.doc_id id1, b.doc_id id2, count(*) inter
                      FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id)
            SELECT id1, id2, round(inter * 1.0 / (s1.sz + s2.sz - inter), 6) jaccard
            FROM inter JOIN sizes s1 ON id1 = s1.doc_id JOIN sizes s2 ON id2 = s2.doc_id
            WHERE inter * 1.0 / (s1.sz + s2.sz - inter) >= 0.4
        """,
        "minhash_lsh_docs": f"""
            WITH post AS (SELECT doc_id, shingle FROM (
                          SELECT doc_id, unnest(list_transform(range(1, greatest(length(text) - 4, 0) + 1),
                                                i -> substr(text, CAST(i AS INT), 5))) AS shingle
                          FROM documents)),
            hashed AS (SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 7) AS BIGINT) hx FROM post),
            sig AS (SELECT doc_id, {minhash_mins} FROM hashed GROUP BY doc_id),
            bands AS ({band_rows})
            SELECT DISTINCT a.doc_id id1, b.doc_id id2
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        """,
        "simhash_docs": f"""
            WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) tok
                          FROM documents),
            hs AS (SELECT doc_id, md5(tok) h FROM toks WHERE length(tok) > 0),
            votes AS (SELECT doc_id, {sim_nibs} FROM hs GROUP BY doc_id)
            SELECT doc_id, {sim_bits} AS simhash FROM votes
        """,
        "embed_near_dup": """
            WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) q
                       FROM embeddings WHERE vec_id % 5 = 0),
            pairs AS (SELECT a.vec_id id1, b.vec_id id2, a.q qa, b.q qb
                      FROM v a JOIN v b ON a.vec_id < b.vec_id),
            scored AS (
                SELECT id1, id2,
                       CAST(list_sum(list_transform(list_zip(qa, qb), p -> p[1] * p[2])) AS DOUBLE) /
                       (sqrt(CAST(list_sum(list_transform(qa, x -> x * x)) AS DOUBLE)) *
                        sqrt(CAST(list_sum(list_transform(qb, x -> x * x)) AS DOUBLE))) cos
                FROM pairs)
            SELECT id1, id2, round(cos, 6) cos FROM scored WHERE cos >= 0.4
        """,
        "ann_topk": """
            WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) q
                       FROM embeddings),
            q AS (SELECT vec_id query_id, q qv FROM v WHERE vec_id < 5),
            scored AS (
                SELECT query_id, v.vec_id neighbor_id,
                       CAST(list_sum(list_transform(list_zip(qv, v.q), p -> p[1] * p[2])) AS DOUBLE) /
                       (sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) *
                        sqrt(CAST(list_sum(list_transform(v.q, x -> x * x)) AS DOUBLE))) cos
                FROM q JOIN v ON v.vec_id <> q.query_id)
            SELECT query_id, neighbor_id, rank FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rank
                FROM scored) WHERE rank <= 10
        """,
        "sketch_stats": """
            SELECT event_type, count(*) n_events, count(DISTINCT user_id) n_users,
                   TRUE AS hll_ok, TRUE AS p50_ok, TRUE AS p95_ok
            FROM events GROUP BY event_type
        """,
        "simhash_docs_fast": """
            SELECT doc_id, CAST(16 AS INT) sim_len,
                   TRUE AS bits_ok, TRUE AS dup_consistent
            FROM documents
        """,
        "ann_ivf_topk": """
            SELECT vec_id AS query_id, CAST(10 AS BIGINT) n_results, TRUE AS recall_ok
            FROM embeddings WHERE vec_id < 5
        """,
        "ann_lsh_topk": """
            SELECT vec_id AS query_id, TRUE AS cos_exact_ok, TRUE AS ranks_ok
            FROM embeddings WHERE vec_id < 5
        """,
        "text_profile_docs": _tp_oracle("fingerprint"),
        "text_profile_docs_fast": _tp_oracle("TRUE AS fp_ok"),
        "chunk_docs": """
            SELECT doc_id, CAST(i AS INT) chunk_idx,
                   substr(text, CAST(i AS INT) * 150 + 1, 200) chunk
            FROM (
              SELECT doc_id, text,
                     unnest(range(0, greatest(CAST(ceil((length(text) - 50) / 150.0) AS INT), 1))) i
              FROM documents)
        """,
        "multimodal_meta": """
            SELECT doc_id, CAST(octet_length(encode(text)) AS INT) n_bytes, sha256(text) sha
            FROM documents
        """,
    }
