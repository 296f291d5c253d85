""""Icelite": a snapshot-log parquet table with Iceberg-equivalent semantics.

No Iceberg/Delta jars exist in this sandbox (SURVEY.md §7.0), so the engine
ships its own minimal table format providing exactly the guarantees the
north rule needs:

- **Atomic commits**: a commit is one JSON snapshot file created with
  ``O_CREAT|O_EXCL`` (atomic on POSIX) after all data files are fully
  written. Readers see the pre- or post-commit snapshot, never a partial
  write. A crash after data write but before snapshot create leaves orphan
  files that no snapshot references (ignored, GC-able).
- **Idempotent commits keyed by batch_id** (the exactly-once primitive):
  re-committing an already-applied batch_id is a no-op — replays after
  failure/restart converge instead of duplicating.
- **One snapshot commit** (``_commit``, Iceberg's ``TableOperations.commit``):
  every commit — data, evolution, index, merge, rollback — states its
  change against the snapshot it lands on, and restates it on the new one
  after losing the version race.
- **One data commit** (``commit_data``): rows are hash-bucketed on the
  merge key (``conv_id``); a data batch appends a delta dir to the buckets
  it touches (merge-on-read), and compaction, bin-packing and re-bucketing
  write a dir that REPLACES named live dirs (copy-on-write), conflicting
  only when one of those is no longer live — Iceberg's ``RewriteFiles``
  rule. Readers prune to the buckets they need.
- **Additive schema evolution**: one rule, ``_union_schema`` — new
  columns append nullable and existing columns may only widen losslessly
  (mirroring the reference's additive output-schema generation,
  HierarchyConfig.java:239-253). Evolution is its own metadata commit
  (``evolve_to``, kind ``evolve``); data commits never change the schema.
  Readers project old files up to the current schema, null-filling added
  columns and casting widened ones up.
- **Time travel**: every retained snapshot serves ``read(version=n)``
  (the lineage store records batch→version); ``expire_snapshots`` drops
  old ones under a retention policy.

Layout (one format: FLAT commit dirs)::

    <root>/data/c-<commit-uuid>/part-*.parquet   # _bucket is a DATA column
    <root>/data/c-<commit-uuid>/_file_stats.json # per-file bucket/key/lsn
                                                 # bounds (manifest stats)
    <root>/_snapshots/v<10-digit>.json   # {version, batch_id, kind, schema, live:
                                          #  {bucket: [dirs]}, commit_bytes, ...}

This is the only format: an older table (no sidecar, no ``kind``), or a
snapshot whose ``commit_bytes`` misses a live dir, raises ``TableFormatError``
instead of being read; a rollback from such a snapshot still works.

Bucket membership is tracked in metadata (sidecar per-file bucket ranges +
exact per-bucket accounting computed at write time), not in physical
per-bucket partition subdirectories — the same move Iceberg makes by tracking
files in manifests instead of Hive-style partition dirs. Measured round 4:
Spark's dynamic-partition write machinery costs ~0.5-0.7 s near-constant
per commit at 32 buckets (per-dir writer churn + committer dir moves) vs
~0.2 s for the flat write — pure per-micro-batch driver/FS tax, and on a
real object store the per-dir renames are the classic commit bottleneck.

At 100 TB scale the JSON manifest holds a few directory pointers per
bucket (thousands, not millions, of entries) and commits touch only
affected buckets — manifest size and commit cost stay O(buckets),
independent of table size.
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

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

log = logging.getLogger(__name__)

SNAPSHOT_DIR = "_snapshots"
DATA_DIR = "data"
FILE_STATS_NAME = "_file_stats.json"  # per-commit-dir file min-max sidecar
# sidecar layout: these columns' bounds sit at a file entry's top level,
# every other column's under its "cols" (read and written by _sidecar_bound
# and _footer_stats only)
_TOP_BOUND_COLS = ("conv_id", "_lsn", "_bucket")
_WRITE_SALT = 8  # salt domain of the append write shuffle (_write_commit_data)
COMMIT_ATTEMPTS = 20  # tries of one optimistic snapshot or ledger write

# Parquet bloom filters on the merge key, for point lookups on files the
# min-max sidecar CANNOT prune (hash-ordered delta appends span the full
# key range). parquet-mr only materializes the bloom when the column's
# dictionary overflows (~1 MB): small delta files stay dictionary-encoded
# and get EXACT row-group skipping from parquet's dictionary filter for
# free, while production-scale files (dict fallback) get the bloom —
# ~128 KB per file at ndv=10^5/fpp=0.01. Read-side row-group filtering
# applies automatically under spark.sql.parquet.filterPushdown.
PARQUET_BLOOM_OPTS = {
    "parquet.bloom.filter.enabled#conv_id": "true",
    "parquet.bloom.filter.expected.ndv#conv_id": "100000",
}


class CommitConflictError(RuntimeError):
    pass


class TableFormatError(RuntimeError):
    """A snapshot or commit dir not in the one table format. Not a
    ValueError, which feed followers take as a resync signal."""


def write_json_atomic(path: str, obj, exclusive: bool = False) -> None:
    """Write ``obj`` as JSON to ``path`` via an fsynced temp file: a crash
    leaves the old file or the new one, never a torn one. ``exclusive``
    creates ``path`` instead of replacing it, raising FileExistsError
    when it exists (a concurrent writer took that version)."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    if exclusive:
        try:
            os.link(tmp, path)
        finally:
            os.unlink(tmp)
    else:
        os.replace(tmp, path)


# Lossless type widenings accepted by schema evolution (the Iceberg v2
# promotion set): smaller int → bigger int, float → double, decimal
# precision up at the SAME scale. Everything else (narrowing, string↔int,
# scale changes) is rejected — a CDC feed that "widens" lossily is a bug
# upstream, not something to paper over.
_INT_ORDER = {"byte": 0, "short": 1, "integer": 2, "long": 3}


def _bound_to_json(v):
    """Parquet stat value → JSON-storable, ORDER-PRESERVING bound, or None
    when the type has no safe total order for pruning. Timestamps → epoch
    micros (UTC; naive values are treated as UTC — the engine writes with
    session timezone UTC), dates → ordinal day. Decimals/bytes/bools are
    not recorded (no safe lexicographic order / no pruning value)."""
    import datetime

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, float):
        import math

        # a NaN bound would make every overlap comparison False and
        # wrongly prune the file (writers normally exclude NaN from
        # min/max, but never trust a bound NaN can poison)
        return None if math.isnan(v) else v
    if isinstance(v, (int, str)):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, datetime.date):
        return v.toordinal()
    return None


def _sidecar_bound(file_stat: dict, col: str) -> list | None:
    """``col``'s recorded [min, max] in one sidecar file entry, or None."""
    if col in _TOP_BOUND_COLS:
        return file_stat.get(col)
    return file_stat.get("cols", {}).get(col)


def _query_bound_to_json(v):
    """USER-SUPPLIED bound (``col_ranges`` / ``scan_range``) → the same
    JSON-orderable form ``_bound_to_json`` stores in the sidecar — with one
    deliberate difference: a NAIVE datetime is interpreted in the driver's
    LOCAL timezone, because that is what PySpark's own driver-side literal
    conversion does (``TimestampType.toInternal`` uses ``time.mktime`` for
    naive values; the UTC session timezone only governs the SQL side). The
    sidecar's write-side bounds come from parquet footer stats, which
    pyarrow surfaces tz-aware-UTC — so write-side stays UTC while QUERY
    bounds must match the row filter the same naive datetime produces, or
    pruning drifts from the filter by the driver's TZ offset and silently
    drops matching rows on a non-UTC driver. Property-tested against
    ``TimestampType.toInternal`` under non-UTC TZ in test_table."""
    import datetime

    if isinstance(v, datetime.datetime) and v.tzinfo is None:
        import time as _time

        seconds = _time.mktime(v.timetuple())
        return int(seconds) * 1_000_000 + v.microsecond
    return _bound_to_json(v)


def _index_bytes(v) -> bytes:
    """Canonical byte form of an indexable value (string / int families
    only — floats and timestamps have no stable text form and belong to
    range pruning, not equality blooms)."""
    if isinstance(v, str):
        return v.encode("utf-8")
    if isinstance(v, bool) or not isinstance(v, int):
        raise TypeError(f"bloom index supports string/int values, got {type(v)}")
    return str(v).encode("ascii")


_BLOOM_K = 7  # ~9.6 bits/value → ~1% fpp at k=7 (standard Bloom sizing)


def _bloom_build(values, xxh64) -> dict:
    """Bloom filter over a distinct-value set → JSON-storable sidecar
    entry. Double hashing (Kirsch-Mitzenmacher): idx_i = h1 + i·h2 mod m
    from two XXH64 seeds — the same public xxHash the engine's jobless
    bucket hashing uses."""
    import base64

    m = max(64, ((int(len(values) * 9.6) + 7) // 8) * 8)
    bits = bytearray(m // 8)
    for v in values:
        b = _index_bytes(v)
        h1, h2 = xxh64(b, 42), xxh64(b, 1337) | 1
        for i in range(_BLOOM_K):
            j = (h1 + i * h2) % m
            bits[j >> 3] |= 1 << (j & 7)
    return {"m": m, "k": _BLOOM_K, "b64": base64.b64encode(bytes(bits)).decode()}


def _bloom_maybe(bloom: dict, v, xxh64) -> bool:
    """False ⇒ the value is DEFINITELY absent from the file (safe to
    prune); True ⇒ maybe present (keep)."""
    import base64

    try:
        b = _index_bytes(v)
    except TypeError:
        return True  # unindexable probe value → never prune on it
    m, k = bloom["m"], bloom["k"]
    bits = base64.b64decode(bloom["b64"])
    h1, h2 = xxh64(b, 42), xxh64(b, 1337) | 1
    for i in range(k):
        j = (h1 + i * h2) % m
        if not (bits[j >> 3] >> (j & 7)) & 1:
            return False
    return True


class _ListAccumulatorParam(AccumulatorParam):
    """Accumulator param collecting lists of small tuples (the fold
    build's bloom payloads: (partition_id, col, m, k, b64) — a few hundred
    bytes per written file). Module-level so executors can unpickle it."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


def _widens(frm: T.DataType, to: T.DataType) -> bool:
    """True iff ``to`` is a STRICT lossless widening of ``frm``."""
    if frm == to:
        return False
    f, t = frm.typeName(), to.typeName()
    if f in _INT_ORDER and t in _INT_ORDER:
        return _INT_ORDER[f] < _INT_ORDER[t]
    if f == "float" and t == "double":
        return True
    if isinstance(frm, T.DecimalType) and isinstance(to, T.DecimalType):
        return to.scale == frm.scale and to.precision > frm.precision
    return False


def scan_schema(schema: T.StructType) -> T.StructType:
    """Read schema of a table's data files: ``_bucket`` plus the snapshot
    schema. Passed to ``spark.read.schema`` so scans skip schema inference;
    Parquet's reader null-fills missing columns and casts widened ones up."""
    return T.StructType([T.StructField("_bucket", T.IntegerType(), True)] + list(schema.fields))


def bucket_expr(key, n_buckets: int):
    """The bucketing expression: ``_bucket = pmod(xxhash64(key), n_buckets)``
    (``functions.xxh64.bucket_of_key`` is its driver-side twin)."""
    return F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")


def live_of(snap: dict, buckets: list[int] | None = None) -> dict[str, list[str]]:
    """``snap``'s live dirs of ``buckets`` (None: every bucket)."""
    want = None if buckets is None else {str(b) for b in buckets}
    return {b: ds for b, ds in snap["live"].items() if want is None or b in want}


def schema_of(snap: dict) -> T.StructType:
    """``snap``'s table schema."""
    return T.StructType.fromJson(json.loads(snap["schema"]))


def dirs_of(live: dict[str, list[str]]) -> dict[str, list[str]]:
    """``{bucket: [dirs]}`` → ``{dir: [buckets it serves]}``, the map
    ``SnapshotTable.scan_dirs`` reads: each dir returns exactly those."""
    out: dict[str, list[str]] = {}
    for b, ds in live.items():
        for d in ds:
            out.setdefault(d, []).append(b)
    return out


def delta_stats_of(snap: dict) -> dict[int, dict]:
    """Per-bucket compaction pressure of ``snap`` from its commit_bytes
    stats alone: ``{bucket: {"depth": dirs stacked, "delta_bytes": bytes
    beyond the base dir}}``. Partial compaction picks by it, so only the
    buckets worth rewriting fold (zipf-hot buckets stack deltas far faster
    than cold ones)."""
    cb = snap["commit_bytes"]
    return {int(b): {"depth": len(dirs), "delta_bytes": sum(cb[d][b] for d in dirs[1:])}
            for b, dirs in snap["live"].items()}


def empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """A frame of ``schema`` with no rows, as an empty local relation that
    unions prune; a frame made from a Python list starts Python workers."""
    return spark.range(0).where(F.lit(False)).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields])


def _cast_equivalent(a: T.DataType, b: T.DataType) -> bool:
    """Types that are interchangeable by a value-preserving cast under the
    engine's UTC session timezone (parquet sources surface TIMESTAMP_NTZ
    for what the table models as TIMESTAMP): no evolution, no error — the
    table keeps its type and batches cast at write."""
    pair = {a.typeName(), b.typeName()}
    return pair == {"timestamp", "timestamp_ntz"}


class BranchDivergedError(RuntimeError):
    """A bucket (or the bucket spec / schema) changed incompatibly on BOTH
    main and a branch since the fork — the bucket-granular three-way merge
    cannot combine them without a re-resolve. Re-branch from current main
    and re-apply, or resolve manually."""


def _union_schema(cur: T.StructType, incoming: T.StructType) -> T.StructType:
    """The engine's one schema-evolution rule: the table schema ``cur``
    widened to admit ``incoming`` (a batch's schema, a target schema or a
    branch's schema). The table keeps its columns, their order and their
    nullability. A common column takes the incoming type only when that is
    a lossless widening (``_widens``); a narrower or cast-equivalent
    incoming type keeps the table's type (batches are cast up at write).
    A column only ``incoming`` has is appended nullable — every existing
    row reads null for it. Any other type change raises."""
    inc_by = {f.name: f for f in incoming.fields}
    out: list[T.StructField] = []
    for f in cur.fields:
        g = inc_by.get(f.name)
        if g is None or g.dataType == f.dataType:
            out.append(f)
        elif _widens(f.dataType, g.dataType):
            out.append(T.StructField(f.name, g.dataType, f.nullable))
        elif _widens(g.dataType, f.dataType) or _cast_equivalent(g.dataType, f.dataType):
            out.append(f)
        else:
            raise ValueError(
                f"incompatible type change for {f.name!r}: "
                f"{f.dataType.simpleString()} -> {g.dataType.simpleString()}"
            )
    have = set(cur.fieldNames())
    out += [T.StructField(g.name, g.dataType, True)
            for g in incoming.fields if g.name not in have]
    return T.StructType(out)


class ConcurrentOverwriteError(RuntimeError):
    """A dir this rewrite replaces is no longer live (another rewrite
    folded it away since the read), or a re-bucketing missed a dir
    committed after its read. The caller must re-read and re-resolve —
    retrying the pointer swap alone would drop the other writer's data."""


class CommittedIds:
    """Set-like view of every batch id ever committed, bounded for
    unbounded streams: an explicit id set PLUS a numeric floor — any id
    whose numeric part is ≤ the floor is committed. Streaming epoch ids are
    monotonic integers, so snapshot expiration collapses the (unbounded)
    prefix of them into one integer instead of keeping 10^6 strings."""

    __slots__ = ("ids", "numeric_floor")

    # Floor credit applies ONLY to pure numeric epoch ids and the engine's
    # own derived suffixes (``N::compact``, ``N::binpack``, ``N::evolve``).
    # A caller-chosen
    # id that merely LOOKS numeric-prefixed ("7::manual") gets no credit:
    # the floor proves epoch 7 committed, not that every string starting
    # with "7::" did — crediting it would silently no-op a batch that never
    # ran. Such ids live in the explicit set forever, so callers picking
    # their own batch ids should avoid unbounded numeric-prefixed families.
    #
    # Migration hazard (round-3 narrowing): ledgers written when the floor
    # credited ANY "N::suffix" may have compacted a caller-chosen id like
    # "7::manual" out of the explicit set; under the narrowed rule that id
    # no longer reads as committed, so replaying it re-applies the batch —
    # one redundant append commit (state still converges via LWW; commit
    # history/stats gain a duplicate). Acceptable because no table written
    # by this engine ever used such ids (the pipeline derives only
    # ::compact/::binpack/::evolve); foreign tables migrating in should
    # re-commit under pure ids or accept the one-time replay.
    _NUM = re.compile(r"^(\d+)(?:::(?:compact|binpack|evolve))?$")

    def __init__(self, ids: set[str] | None = None, numeric_floor: int = -1):
        self.ids = ids if ids is not None else set()
        self.numeric_floor = numeric_floor

    def __contains__(self, batch_id: str) -> bool:
        if batch_id in self.ids:
            return True
        m = self._NUM.match(batch_id)
        return m is not None and int(m.group(1)) <= self.numeric_floor

    def add(self, batch_id: str) -> None:
        if batch_id not in self:
            self.ids.add(batch_id)

    def update(self, other: "CommittedIds") -> None:
        self.ids |= other.ids
        self.numeric_floor = max(self.numeric_floor, other.numeric_floor)
        self.compact()

    def to_json(self) -> dict:
        return {"ids": sorted(self.ids), "numeric_floor": self.numeric_floor}

    @staticmethod
    def from_json(d: dict) -> "CommittedIds":
        return CommittedIds(set(d["ids"]), d["numeric_floor"])

    def compact(self) -> None:
        """Advance the floor over a contiguous run of PURE numeric ids and
        drop every id the floor now covers. Only bare epoch ids ("7") move
        the floor — a derived or caller-chosen id like "7::manual" proves
        nothing about epoch 7 having committed, and letting it advance the
        floor would silently no-op epoch 7 when it later arrives (data
        loss). Derived ids (``N::compact``, ``N::binpack``, ``N::evolve``)
        are still DROPPED once the floor covers N: they can only re-fire
        when batch N itself replays, which the floor suppresses — and a
        spurious re-compaction is merely redundant work, never incorrect."""
        present = {int(i) for i in self.ids if i.isdigit()}
        while self.numeric_floor + 1 in present:
            self.numeric_floor += 1
        self.ids = {
            i for i in self.ids
            if not ((m := self._NUM.match(i)) and int(m.group(1)) <= self.numeric_floor)
        }


BRANCHES_DIR = "branches"


class SnapshotTable:
    def __init__(self, root: str, branch: str | None = None):
        """``branch``: attach to a named WRITABLE branch of the table —
        its snapshot log lives under ``_snapshots/branches/<name>/`` while
        DATA dirs are shared with main (commit dirs are uuid-named, so
        writers on different refs never collide). Create branches with
        ``create_branch``; a plain ``SnapshotTable(root)`` is the main
        ref."""
        self.root = root
        self.branch = branch
        main_snap = os.path.join(root, SNAPSHOT_DIR)
        self._snap_dir = (
            main_snap if branch is None
            else os.path.join(main_snap, BRANCHES_DIR, branch)
        )
        self._data_dir = os.path.join(root, DATA_DIR)
        # incremental batch-id cache: (last version scanned, ids seen so far)
        self._ids_scanned_to: int = -1
        self._ids_cache = CommittedIds()
        self._ledger_stamp: int | None = None  # version of the ledger folded in
        # per-commit-dir min-max sidecar memo (dirs are immutable)
        self._file_stats_cache: dict[str, dict] = {}

    # ---------- snapshot log ----------

    @staticmethod
    def create(root: str, schema: T.StructType, n_buckets: int = 16,
               index_cols: list[str] | None = None) -> "SnapshotTable":
        """``index_cols``: non-key string/int columns to cover with a
        per-file Bloom sidecar at every commit — equality probes on
        hash-like high-cardinality columns (where min-max bounds span
        everything) then prune at FILE granularity. Opt-in: the bloom is
        built inside every commit's write job (``_attach_bloom_fold``)."""
        t = SnapshotTable(root)
        os.makedirs(t._snap_dir, exist_ok=True)
        os.makedirs(t._data_dir, exist_ok=True)
        if t.current_version() is None:
            try:
                t._write_snapshot(
                    {
                        "version": 0,
                        "batch_id": "__create__",
                        "kind": "create",
                        "committed_at": time.time(),
                        "schema": schema.json(),
                        "n_buckets": n_buckets,
                        "index_cols": list(index_cols or []),
                        "live": {},
                        "commit_bytes": {},
                    }
                )
            except CommitConflictError:
                pass  # a concurrent creator won the v0 race — attach to it
        return t

    @staticmethod
    def exists(root: str) -> bool:
        return os.path.isdir(os.path.join(root, SNAPSHOT_DIR))

    def _snapshot_path(self, version: int) -> str:
        return os.path.join(self._snap_dir, f"v{version:010d}.json")

    def _versions(self) -> list[int]:
        return sorted(
            int(os.path.basename(p)[1:-5]) for p in glob.glob(os.path.join(self._snap_dir, "v*.json"))
        )

    def current_version(self) -> int | None:
        vs = self._versions()
        return vs[-1] if vs else None

    def version_as_of(self, ts: float) -> int:
        """Timestamp time travel (Iceberg ``FOR TIMESTAMP AS OF``): the
        latest RETAINED version committed at or before epoch-seconds
        ``ts``. Raises if every retained snapshot is newer (the history
        before the retention window is gone — same failure mode as
        reading an expired version)."""
        best = None
        for v in self._versions():
            try:
                at = self._snapshot_log_entry(v)["committed_at"]
            except FileNotFoundError:
                continue  # racing expiration
            if at <= ts:
                best = v
        if best is None:
            raise ValueError(
                f"no retained snapshot at or before ts={ts}; earliest retained "
                f"version is {(self._versions() or [None])[0]}"
            )
        return best

    def snapshot(self, version: int | str | None = None) -> dict:
        snap = self._snapshot_log_entry(version)
        lost = sorted(f"{d}[{b}]" for b, ds in snap["live"].items()
                      for d in ds if b not in snap["commit_bytes"].get(d, ()))
        if lost:
            raise TableFormatError(f"{self.root} v{snap['version']}: no commit_bytes for {lost}; "
                                   f"roll back to a version that has them, expire this one")
        return snap

    def _snapshot_log_entry(self, version: int | str | None = None) -> dict:
        """``snapshot`` without its ``commit_bytes`` check, for the paths
        that only walk the log (batch ids, expiration, history, time
        travel, a rollback's base): a bad snapshot can still be left."""
        # a str version is a named ref: every version-taking surface
        # (read, schema, read_transcripts, time travel) accepts a tag
        # name through this one resolver
        v = self.ref(version) if isinstance(version, str) else version
        if v is None:
            v = self.current_version()
        if v is None:
            raise FileNotFoundError(f"table {self.root} has no snapshots")
        with open(self._snapshot_path(v)) as f:
            snap = json.load(f)
        snap.setdefault("commit_bytes", {})  # create once wrote v0 without it
        missing = {"kind", "committed_at", "index_cols"} - snap.keys()
        if missing:
            raise TableFormatError(f"{self.root} v{v}: older table format, no {sorted(missing)}")
        return snap

    def _write_snapshot(self, snap: dict) -> None:
        """Atomic create: write tmp, then exclusive-create the final name.
        Failure of the exclusive create means a concurrent writer won —
        surfaced as a conflict for the caller to retry on a fresh version."""
        try:
            write_json_atomic(self._snapshot_path(snap["version"]), snap, exclusive=True)
        except FileExistsError as e:
            raise CommitConflictError(f"snapshot v{snap['version']} already exists") from e

    # ---------- named refs (Iceberg-style tags) ----------

    def _refs_path(self) -> str:
        return os.path.join(self._snap_dir, "refs.json")

    def refs(self) -> dict[str, int]:
        """{name: version} of every named snapshot ref (tag)."""
        try:
            with open(self._refs_path()) as f:
                return {k: int(v) for k, v in json.load(f).items()}
        except FileNotFoundError:
            return {}

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin a NAME to a snapshot version (Iceberg tag): ``expire_
        snapshots`` never expires a tagged version, so the name stays
        time-travelable forever — the audit/compliance/"prod release"
        pointer a retention window would otherwise age out. Re-tagging
        an existing name moves it (the previous target re-enters the
        normal retention stream). Tags are maintenance metadata: like
        the ledger, prefer a single maintenance writer (two concurrent
        taggers last-write-win the whole file)."""
        v = self.current_version() if version is None else version
        if v is None or not os.path.exists(self._snapshot_path(v)):
            raise FileNotFoundError(f"cannot tag {name!r}: no retained snapshot v{v}")
        refs = self.refs()
        refs[name] = v
        write_json_atomic(self._refs_path(), refs)
        return v

    def drop_tag(self, name: str) -> bool:
        refs = self.refs()
        if name not in refs:
            return False
        del refs[name]
        write_json_atomic(self._refs_path(), refs)
        return True

    def ref(self, name: str) -> int:
        """Resolve a tag to its version (compose with ``read(version=
        table.ref("prod"))`` / ``read_transcripts(..., version=...)``)."""
        refs = self.refs()
        if name not in refs:
            raise KeyError(f"unknown ref {name!r}; known: {sorted(refs)}")
        return refs[name]

    # ---------- writable branches (Iceberg-style branch refs) ----------
    #
    # A branch is an independent snapshot LOG (own versions, own ledger,
    # own tags) forked from a main snapshot, sharing the data directory.
    # Writes through a branch handle commit to the branch log only — main
    # readers never see them — and ``merge_branch`` folds the branch back
    # into main with a bucket-granular three-way merge:
    #
    # - bucket untouched on the branch → main's entry wins;
    # - bucket untouched on main      → branch's entry adopted;
    # - both sides APPENDED MoR deltas on the fork's dirs → the deltas
    #   union (fork + main's + branch's): LWW resolution is
    #   order-insensitive, so the union resolves to exactly the state of
    #   applying both sides' batches to one table;
    # - either side REWROTE the bucket (compaction/rollback) while
    #   the other changed it at all → ``BranchDivergedError``: a rewrite
    #   bakes one side's resolution in, the other side's rows cannot be
    #   grafted under it without a re-resolve. Caller re-branches or
    #   compacts after merging instead.
    #
    # This is the "write-audit-publish" workflow (Iceberg branch commits /
    # Delta "shadow" tables): stage risky ingest on a branch, validate,
    # merge atomically — with the merge itself an ordinary idempotent
    # commit on main (kind="merge", diffable by changes_since like any
    # append).

    def _branches_root(self) -> str:
        return os.path.join(os.path.join(self.root, SNAPSHOT_DIR), BRANCHES_DIR)

    def _branch_meta_path(self) -> str:
        return os.path.join(self._snap_dir, "_branch.json")

    def branches(self) -> list[str]:
        try:
            return sorted(
                d for d in os.listdir(self._branches_root())
                if os.path.isdir(os.path.join(self._branches_root(), d))
            )
        except FileNotFoundError:
            return []

    def create_branch(self, name: str, from_version: int | str | None = None
                      ) -> "SnapshotTable":
        """Fork a writable branch at ``from_version`` (default: current;
        tag names accepted). The fork snapshot is COPIED into the branch
        log (so the branch's history starts retained even after main
        expires that version — its data dirs stay GC-referenced through
        the branch log), the fork's live map is pinned in ``_branch.json``
        (the merge base), and the copy's ``inherited_ids`` holds main's
        ids AS OF the fork version (``_committed_as_of``): a batch in the
        branch's lineage replays as a no-op, one main committed only
        AFTER the fork point still applies. A fork at a tag older than
        main's last expiration inherits no expired ids (logged as a
        warning); replaying one re-applies it, and LWW resolves that to
        the same state."""
        if self.branch is not None:
            raise ValueError("branch-off-branch is not supported; fork from main")
        if not re.fullmatch(r"[A-Za-z0-9._-]{1,64}", name):
            raise ValueError(f"invalid branch name {name!r}")
        v = self.ref(from_version) if isinstance(from_version, str) else from_version
        if v is None:
            v = self.current_version()
        fork = self.snapshot(v)  # raises if expired/unknown
        bdir = os.path.join(self._branches_root(), name)
        try:
            os.makedirs(bdir, exist_ok=False)
        except FileExistsError:
            raise ValueError(f"branch {name!r} already exists") from None
        br = SnapshotTable(self.root, branch=name)
        write_json_atomic(br._branch_meta_path(),
                          {"name": name, "forked_from": v,
                           "fork_live": fork["live"],
                           "fork_n_buckets": fork["n_buckets"],
                           "created_at": time.time()})
        br._write_snapshot({**fork, "branch": name,
                            "inherited_ids": self._committed_as_of(v).to_json()})
        return br

    def branch_table(self, name: str) -> "SnapshotTable":
        bdir = os.path.join(self._branches_root(), name)
        if not os.path.isdir(bdir):
            raise KeyError(f"unknown branch {name!r}; known: {self.branches()}")
        return SnapshotTable(self.root, branch=name)

    def drop_branch(self, name: str) -> bool:
        """Delete a branch's snapshot log (metadata only). Data dirs only
        the branch referenced become orphans and are collected by the next
        ``expire_snapshots`` run after the grace window."""
        bdir = os.path.join(self._branches_root(), name)
        if not os.path.isdir(bdir):
            return False
        shutil.rmtree(bdir)
        return True

    def branch_meta(self, name: str | None = None) -> dict:
        path = (self._branch_meta_path() if name is None
                else os.path.join(self._branches_root(), name, "_branch.json"))
        with open(path) as f:
            return json.load(f)

    def merge_branch(self, name: str, batch_id: str) -> bool:
        """Fold branch ``name`` into main (see the section comment for the
        three-way rule). One atomic idempotent commit on main; the branch
        log is left intact (drop it separately once merged); the merge
        snapshot's ``inherited_ids`` holds the branch's ids as of the
        merged branch snapshot. Schemas merge by field-wise union under
        the evolution rules — either side may have added/widened columns.
        Bucket-spec divergence (a rebucket on either side) is rejected."""
        if self.branch is not None:
            raise ValueError("merge_branch must be called on the main table")
        if batch_id in self.committed_batch_ids():
            return False
        br = self.branch_table(name)
        meta = br.branch_meta()
        fork_live: dict[str, list[str]] = meta["fork_live"]
        br_snap = br.snapshot()
        br_schema = schema_of(br_snap)
        if br_snap["n_buckets"] != meta["fork_n_buckets"]:
            raise BranchDivergedError(
                f"branch {name!r} was rebucketed since fork; merge manually")
        br_live = br_snap["live"]
        inherited = br._committed_as_of(br_snap["version"]).to_json()

        def change(nxt: dict) -> dict:
            if nxt["n_buckets"] != meta["fork_n_buckets"]:
                raise BranchDivergedError(
                    f"main was rebucketed since branch {name!r} forked")
            live = nxt["live"]
            for b in set(live) | set(br_live):
                fork_d = fork_live.get(b, [])
                main_d = live.get(b, [])
                bd = br_live.get(b, [])
                if bd == fork_d:
                    continue  # branch untouched → main wins
                if main_d == fork_d:
                    new = list(bd)  # main untouched → adopt branch
                elif (main_d[: len(fork_d)] == fork_d
                      and bd[: len(fork_d)] == fork_d):
                    # both appended deltas: union them (LWW-commutative)
                    new = main_d + bd[len(fork_d):]
                else:
                    raise BranchDivergedError(
                        f"bucket {b} diverged non-append-wise between main "
                        f"and branch {name!r}; re-branch or resolve manually")
                if new:
                    live[b] = new
                else:
                    live.pop(b, None)
            # the union is over the schema this attempt lands on: a lost
            # race to an evolution on main keeps the winner's columns
            return {"schema": _union_schema(schema_of(nxt), br_schema).json(),
                    "live": live, "commit_bytes": br_snap["commit_bytes"],
                    "inherited_ids": inherited}

        return self._commit(batch_id, "merge", change)

    # ---------- metadata ----------

    def schema(self, version: int | None = None) -> T.StructType:
        return schema_of(self.snapshot(version))

    @property
    def n_buckets(self) -> int:
        return self.snapshot()["n_buckets"]

    def _ledger_versions(self) -> list[int]:
        return sorted(
            int(os.path.basename(p)[len("ledger-v"):-5])
            for p in glob.glob(os.path.join(self._snap_dir, "ledger-v*.json"))
        )

    def _ledger_file(self, version: int) -> str:
        return os.path.join(self._snap_dir, f"ledger-v{version:010d}.json")

    def _latest_ledger(self, seen: int | None = None) -> tuple[int, dict] | None:
        """(version, payload) of the newest expiration ledger; None when
        there is none or it is version ``seen``. Ledger files are
        immutable (O_EXCL), so their version tells a reader whether it
        has already folded one in."""
        while vs := self._ledger_versions():
            if vs[-1] == seen:
                return None
            try:
                with open(self._ledger_file(vs[-1])) as f:
                    return vs[-1], json.load(f)
            except FileNotFoundError:
                continue  # pruned after a newer write: re-glob

    def _load_ledger(self) -> None:
        """Fold a ledger version this handle has not seen into the cache."""
        if got := self._latest_ledger(seen=self._ledger_stamp):
            self._ledger_stamp, led = got
            self._ids_cache.update(CommittedIds.from_json(led))

    def _write_ledger(self, ids: "CommittedIds", expired_through: int) -> None:
        """Versioned O_EXCL ledger write (same protocol as snapshots),
        merged with the newest ledger on disk: a losing concurrent
        expiration re-merges (set union, order-free) and retries. Older
        ledger versions are pruned after the win."""
        for _ in range(COMMIT_ATTEMPTS):
            next_v, through = 1, expired_through
            if got := self._latest_ledger():
                next_v = got[0] + 1
                ids.update(CommittedIds.from_json(got[1]))
                through = max(through, got[1].get("expired_through") or -1)
            try:
                write_json_atomic(self._ledger_file(next_v),
                                  {**ids.to_json(), "expired_through": through},
                                  exclusive=True)
            except FileExistsError:
                continue  # lost the race; re-merge against the winner
            for v in self._ledger_versions()[:-1]:
                try:
                    os.unlink(self._ledger_file(v))
                except FileNotFoundError:
                    pass
            return
        raise CommitConflictError(
            f"gave up writing the batch-id ledger after {COMMIT_ATTEMPTS} attempts")

    @staticmethod
    def _fold_snapshot_ids(ids: CommittedIds, snap: dict) -> None:
        """A snapshot's committed ids: its own batch id plus, on a fork or
        merge snapshot, the ids it inherited from the other log."""
        ids.add(snap["batch_id"])
        if "inherited_ids" in snap:
            ids.update(CommittedIds.from_json(snap["inherited_ids"]))

    def committed_batch_ids(self) -> CommittedIds:
        """Every batch_id ever committed (set-like; bounded — see
        CommittedIds). Incremental: only snapshot files newer than the last
        scan are read (commit cost stays O(1) amortized over a long stream
        instead of O(versions)); ids of expired snapshots come from the
        ledger."""
        self._load_ledger()
        for v in self._versions():
            if v > self._ids_scanned_to:
                try:
                    self._fold_snapshot_ids(self._ids_cache, self._snapshot_log_entry(v))
                except FileNotFoundError:
                    # a racing expiration unlinked v between our glob and
                    # open. Its id is NOT lost: expiration writes the
                    # ledger (containing every expired id) BEFORE deleting
                    # snapshot files, so re-loading the ledger recovers it.
                    self._load_ledger()
                self._ids_scanned_to = v
        return self._ids_cache

    def _committed_as_of(self, v: int) -> CommittedIds:
        """The batch ids this log had committed as of version ``v``: the
        retained snapshots up to ``v``, then the latest ledger (read last:
        expiration writes it before it unlinks snapshots), which counts
        only if it cannot be newer than ``v``, minus the own ids of the
        snapshots after ``v`` (a log commits an id once; older ledgers hold
        them). A dropped numeric id lowers the floor below it: a replayed
        batch re-applies (LWW-safe) rather than being skipped."""
        ids, newer = CommittedIds(), []
        for ver in self._versions():
            try:
                snap = self._snapshot_log_entry(ver)
            except FileNotFoundError:
                continue  # racing expiration: its ids are in the ledger
            if ver <= v:
                self._fold_snapshot_ids(ids, snap)
            else:
                newer.append(snap["batch_id"])
        if got := self._latest_ledger():
            through = got[1].get("expired_through")
            if through is None or through <= v:
                ids.update(CommittedIds.from_json(got[1]))
            else:
                log.warning("%s: ids expired through v%d are not inherited at v%d; "
                            "replaying one re-applies it", self._snap_dir, through, v)
        for batch_id in newer:
            ids.ids.discard(batch_id)
            if batch_id.isdigit():
                ids.numeric_floor = min(ids.numeric_floor, int(batch_id) - 1)
        ids.compact()
        return ids

    @property
    def index_cols(self) -> list[str]:
        return list(self.snapshot()["index_cols"])

    def enable_index(self, cols: list[str], batch_id: str) -> bool:
        """Turn on the Bloom sidecar for ``cols`` from the NEXT commit on
        (an atomic metadata commit, idempotent on batch_id). Files written
        before enablement carry no bloom and are simply never pruned by it
        — superset-safe, no rewrite required; a later compaction rewrites
        them WITH blooms."""
        schema = self.schema()
        for c in cols:
            f = schema[c]  # KeyError for unknown columns — deliberate
            if f.dataType.typeName() not in ("string", "byte", "short", "integer", "long"):
                raise ValueError(f"bloom index needs a string/int column, {c} is {f.dataType}")
        return self._commit(batch_id, "evolve", lambda nxt: {"index_cols": list(cols)})

    def bucket_col(self):
        """``bucket_expr`` factory for the table's current bucket count."""
        nb = self.n_buckets
        return lambda key_col: bucket_expr(key_col, nb)

    # ---------- read ----------

    def read(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        version: int | None = None,
        col_ranges: dict | None = None,
        key_set: list | None = None,
        col_eq: dict | None = None,
    ) -> DataFrame:
        """Scan the live table state (or a historical version), optionally
        pruned to a bucket subset. Old files read up to the current schema
        (additive evolution → missing columns read as null, widened
        columns read cast-up).

        A bucket may map to several commit dirs (merge-on-read appends);
        the dirs are read by ``scan_dirs``, each for exactly the wanted
        buckets whose live entry lists it — LWW resolution happens in the
        caller (operators.merge.resolve) where required.

        ``col_ranges={col: (lo, hi)}`` (inclusive; either end None = open)
        additionally skips FILES whose recorded bounds of ``col`` cannot
        intersect the range — manifest-level pruning from the per-commit
        sidecar, no footer reads, no Spark job, on any scalar column
        (conv_id, _lsn, ts, role, turn_idx, ...; timestamps/dates compare
        as epoch micros / ordinal days, see _bound_to_json). This is a
        SUPERSET file selection: surviving files may still hold
        out-of-range rows, so callers apply the row filter on top (point
        lookups should use ``operators.merge.lookup_conversation``). Files
        without a recorded bound for a column are never pruned on it.
        Ranges on ``conv_id`` / ``_lsn`` are resolution-safe (tombstones
        and patches carry both). Ranges on any other column are NOT: a
        pruned file may hold the tombstone or the NEWER version of a key
        whose older in-range row survives in a kept file, so resolving
        only the kept files could resurrect dead/stale rows. Use
        ``operators.merge.scan_range`` (two-phase: pruned candidate scan →
        full resolution of only the affected keys) for user-facing range
        queries.

        ``key_set=[k1, k2, ...]`` prunes files against a SET of point keys
        (batched lookups): a file survives only if some key falls inside
        its recorded conv_id bounds (bisect per file — tighter than the
        single (min,max) envelope of the set, which would keep every file
        between two far-apart keys). Resolution-safe like a ``conv_id``
        range.

        Bucket pruning is sidecar-driven too: files are skipped when their
        recorded ``_bucket`` range cannot contain a wanted bucket —
        file-granular on range-clustered bases, superset on hash-scattered
        deltas — and ``scan_dirs`` filters ``_bucket`` per dir where a dir
        also holds other rows, which parquet row-group stats serve cheaply
        because writes sort within partitions by ``_bucket``. The returned
        rows are therefore EXACTLY the wanted buckets' live rows."""
        snap = self.snapshot(version)
        return self.scan_dirs(spark, dirs_of(live_of(snap, buckets)), snap,
                              col_ranges, key_set, col_eq)

    def scan_dirs(
        self,
        spark: SparkSession,
        dirs: dict,
        snap: dict,
        col_ranges: dict | None = None,
        key_set: list | None = None,
        col_eq: dict | None = None,
    ) -> DataFrame:
        """The one reader of table data files: the rows of the commit dirs
        in ``dirs`` ({commit dir: buckets whose rows it returns, or None =
        every row}), read with the schema of ``snap`` and pruned like
        ``read``. Each dir returns exactly its own buckets' rows.

        Flat dirs whose written buckets (``snap``'s ``commit_bytes`` keys)
        inside the union *U* of all bucket sets lie within their own set
        share ONE Parquet scan with the snapshot schema — no
        schema-inference job, no per-dir union; Parquet's reader
        null-fills columns a file predates and reads every ``_widens``
        type up. That scan is filtered ``_bucket IN U`` only when a member
        also holds rows outside *U*. Every other dir — one holding STALE
        rows of a bucket it no longer serves (a partial compaction folded
        that bucket away), or with no ``commit_bytes`` entry in ``snap``
        (dirs compacted away before ``snap``, rollback-retracted dirs) —
        is read by one scan per distinct bucket set, filtered by that set
        (None: unfiltered)."""
        read_schema = scan_schema(schema_of(snap))
        written = snap["commit_bytes"]
        # an equality probe also implies a [v, v] bounds check for free
        eff_ranges = dict(col_ranges or {})
        for c, v in (col_eq or {}).items():
            eff_ranges.setdefault(c, (v, v))
        sets = {d: None if bs is None else frozenset(int(b) for b in bs)
                for d, bs in dirs.items()}
        union = frozenset().union(*(bs for bs in sets.values() if bs is not None))
        shared: list[str] = []
        shared_exact = True  # no shared member holds rows outside ``union``
        by_set: dict[frozenset | None, list[str]] = {}

        def only(df: DataFrame, bs: frozenset | None) -> DataFrame:
            return df if bs is None else df.where(F.col("_bucket").isin(sorted(bs)))

        for d in sorted(sets):
            bs = sets[d]
            paths = self._pruned_paths(d, bs, eff_ranges, key_set, col_eq)
            if not paths:
                continue  # every file in this commit dir pruned
            held = {int(b) for b in written[d]} if d in written else None
            if bs is not None and held is not None and held & union <= bs:
                shared += paths
                shared_exact = shared_exact and held <= union
            else:
                by_set.setdefault(bs, []).extend(paths)
        parts = [only(spark.read.schema(read_schema).parquet(*shared),
                      None if shared_exact else union)] if shared else []
        parts += [only(spark.read.schema(read_schema).parquet(*files), bs)
                  for bs, files in by_set.items()]
        if not parts:
            return empty_frame(spark, read_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _file_stats(self, commit_dir: str) -> dict:
        """Load (and memoize) a commit dir's per-file min-max sidecar.
        Commit dirs are immutable once written, so the cache never goes
        stale. Every commit writes one, so a missing or torn sidecar, or
        one listing files under subdirs, raises ``TableFormatError``."""
        if commit_dir in self._file_stats_cache:
            return self._file_stats_cache[commit_dir]
        path = os.path.join(self.root, commit_dir, FILE_STATS_NAME)
        try:
            with open(path) as f:
                stats = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError) as e:
            if not os.path.isdir(os.path.dirname(path)):
                raise  # the dir itself is gone: expired data, not an old format
            raise TableFormatError(f"commit dir {commit_dir}: no readable {FILE_STATS_NAME} ({e})") from e
        if any(os.sep in rel for rel in stats):
            raise TableFormatError(f"commit dir {commit_dir}: files under subdirs (older table format)")
        self._file_stats_cache[commit_dir] = stats
        return stats

    def _pruned_paths(
        self,
        commit_dir: str,
        wanted_buckets: set | None,
        col_ranges: dict | None = None,
        key_set: list | None = None,
        col_eq: dict | None = None,
    ) -> list[str]:
        """File list for a commit dir after sidecar pruning: bucket bounds
        ∩ wanted buckets (None: no bucket pruning), then each
        ``col_ranges`` range against its column's bounds (``conv_id`` and
        ``_lsn`` included), the key-set bisect and ``col_eq`` blooms."""
        stats = self._file_stats(commit_dir)
        wanted_ints = None if wanted_buckets is None else {int(b) for b in wanted_buckets}
        sorted_keys = sorted(key_set) if key_set else None
        ranges = {c: (_query_bound_to_json(lo), _query_bound_to_json(hi))
                  for c, (lo, hi) in (col_ranges or {}).items()}

        def overlaps(mm: list | None, rng: tuple) -> bool:
            if mm is None:
                return True  # no recorded bounds → keep
            lo, hi = rng
            try:
                return (lo is None or mm[1] >= lo) and (hi is None or mm[0] <= hi)
            except TypeError:
                # cross-type comparison (e.g. a string CLI bound vs an
                # epoch-micros sidecar bound): pruning must stay
                # SUPERSET-safe, so an incomparable pair keeps the file —
                # the exact row filter on top decides.
                return True

        keep = []
        for rel, st in sorted(stats.items()):
            bmm = _sidecar_bound(st, "_bucket")
            if (bmm is not None and wanted_ints is not None
                    and not any(bmm[0] <= b <= bmm[1] for b in wanted_ints)):
                continue
            if not all(overlaps(_sidecar_bound(st, c), rng) for c, rng in ranges.items()):
                continue
            if sorted_keys is not None:
                kmm = _sidecar_bound(st, "conv_id")
                if kmm is not None:
                    import bisect

                    i = bisect.bisect_left(sorted_keys, kmm[0])
                    if i >= len(sorted_keys) or sorted_keys[i] > kmm[1]:
                        continue  # no key of the set falls in this file's span
            if col_eq:
                from hierarchical_to_relational_spark.functions.xxh64 import xxh64

                blooms = st.get("bloom", {})
                if not all(_bloom_maybe(blooms[c], v, xxh64)
                           for c, v in col_eq.items() if c in blooms):
                    continue  # bloom says definitely-absent → skip file
            keep.append(os.path.join(self.root, commit_dir, rel))
        return keep

    # ---------- write ----------

    def _write_commit_data(
        self,
        df: DataFrame,
        cluster_by: str | None = None,
    ) -> tuple[str, set[str]]:
        """Write one FLAT commit dir (``data/c-<uuid>/part-*.parquet``) in
        the current snapshot's schema, with ``_bucket`` stored as a data
        column; per-file bucket membership and stats go to the sidecar
        instead of physical per-bucket subdirs (why: the module docstring).
        Bucket pruning reads the sidecar's file-level bucket ranges and the
        row-group ``_bucket`` min-max that the in-partition sort below
        produces — FILE granularity."""
        snap = self.snapshot()
        schema = schema_of(snap)
        commit_rel = os.path.join(DATA_DIR, f"c-{uuid.uuid4().hex}")
        commit_abs = os.path.join(self.root, commit_rel)
        ordered = ["_bucket"] + [n for n in schema.fieldNames()]
        # cast to the manifest schema (no-op casts are optimized away):
        # guarantees the files' physical types never drift from the
        # snapshot schema, e.g. a narrow batch landing after a widening;
        # a column the frame predates is written null
        have = set(df.columns)
        out = df.select(
            F.col("_bucket").cast("int").alias("_bucket"),
            *[(F.col(n) if n in have else F.lit(None)).cast(schema[n].dataType).alias(n)
              for n in schema.fieldNames()],
        )
        persisted = None
        if cluster_by is not None:
            # EVERY range-clustered rewrite gets persisted: z-order
            # factories sample `out` for boundaries (one count + one
            # collect per column) AND repartitionByRange itself runs a
            # sampling pass — without a persist each of those jobs
            # re-runs the FULL upstream DAG (for compaction: the whole
            # multi-bucket read + LWW resolve, i.e. the rewrite's input
            # scan executes twice). The try/finally starts immediately:
            # the sampling jobs are the first to populate the cache and
            # must not leak it on failure.
            persisted = out = out.persist()
        try:
            if cluster_by is not None:
                # range-cluster (background rewrites: compact / rebucket):
                # each shuffle partition covers a contiguous (_bucket, key)
                # range, so every written file gets a TIGHT per-file
                # bucket range and key min-max — that's what makes
                # file-level pruning effective on the base (salted hash
                # writes give each file a near-full key range). A zipf-hot
                # key can fatten one range partition, but this is the
                # amortized background path, not the per-batch hot path.
                # ``cluster_by`` may be a column name or a
                # DataFrame→Column factory (e.g. functions.zorder.
                # zorder_expr for multi-column z-order).
                cluster_col = cluster_by(out) if callable(cluster_by) else F.col(cluster_by)
                out = out.repartitionByRange(F.col("_bucket"), cluster_col)
            else:
                # one shuffle so the commit gets few files (not
                # tasks×buckets). Salted: a zipf-hot conversation can own
                # >15% of a batch, and repartition on _bucket alone would
                # write that bucket's rows in ONE task — a serial tail
                # that caps scaling. The in-partition sort makes rows
                # bucket- then key-contiguous, so parquet row-group stats
                # on (_bucket, conv_id) prune bucket- and key-filtered
                # reads inside these otherwise hash-scattered delta files.
                # salt domain (r6): A/B'd 8 vs 64 on the CDC bench — no
                # measurable throughput difference (178-212k ev/s both
                # ways, host noise dominates the Poisson-tail theory), and
                # a larger domain has a real cost: more distinct buckets
                # per written file (8 -> ~all at domain 64), which defeats
                # per-file bucket-set pruning on uncompacted deltas for
                # single-key lookups. So the domain stays _WRITE_SALT = 8.
                salt = F.pmod(F.xxhash64(*[c for c in ordered if c != "_bucket"][:2]), F.lit(_WRITE_SALT))
                sort_cols = ["_bucket"] + (["conv_id"] if "conv_id" in ordered else [])
                out = out.repartition(F.col("_bucket"), salt).sortWithinPartitions(*sort_cols)
            # secondary-index blooms, resolved BEFORE the write so the
            # build rides the write job itself (ONE pass over the batch)
            index_cols = [c for c in snap["index_cols"] if c in schema.fieldNames()]
            if index_cols:
                out, bloom_acc = self._attach_bloom_fold(out, index_cols)
            writer = out.write.mode("overwrite")
            if cluster_by is None:
                # hash-ordered writes (appends, unclustered rewrites): key bloom
                # filters cover what min-max pruning can't (see
                # PARQUET_BLOOM_OPTS); range-clustered rewrites already
                # yield tight min-max bounds
                for k, v in PARQUET_BLOOM_OPTS.items():
                    writer = writer.option(k, v)
            writer.parquet(commit_abs)
        finally:
            if persisted is not None:
                persisted.unpersist()
        self.last_commit_stats, file_stats, written = self._footer_stats(commit_abs)
        # per-file min-max sidecar (Iceberg manifest-entry stats analog):
        # read-side file pruning reads this tiny JSON instead of footers.
        # Lives inside the commit dir ("_"-prefixed → invisible to Spark
        # scans) so snapshot expiration GCs it with the data.
        if index_cols:
            self._attach_fold_blooms(bloom_acc, file_stats)
        with open(os.path.join(commit_abs, FILE_STATS_NAME), "w") as f:
            json.dump(file_stats, f)
        return commit_rel, written

    @staticmethod
    def _attach_bloom_fold(out: DataFrame, index_cols: list[str]):
        """The secondary-index bloom build (r6 "fold", VERDICT r5 next-round
        #2): wrap the write input in a mapInArrow PASS-THROUGH that
        accumulates each partition's distinct indexed values while the
        batch streams to the parquet writer in the SAME task — the indexed
        commit makes ONE pass over the batch, nothing is re-read
        afterwards. 10^6-row commit, 10^6-distinct index column, local[32]:
        2.4 s, against 4.4-4.7 s for an executor-side re-read of the commit
        and 18.5-20.3 s for a driver-side pyarrow build. The finished
        blooms (a few hundred bytes per file) travel to the driver through
        an accumulator, not the filesystem, so the path works unchanged on
        object-store roots. Write partitions map 1:1 to ``part-NNNNN-*``
        files, which is how the driver attaches each bloom to its file;
        a partition split by maxRecordsPerFile attaches its (superset)
        bloom to every piece — pruning stays superset-correct. Task
        retries/speculation re-add identical payloads (partition content
        is deterministic under sort-before-repartition); the driver
        dedupes by (partition, column)."""
        from hierarchical_to_relational_spark.functions.xxh64 import xxh64

        sc = out.sparkSession.sparkContext
        acc = sc.accumulator([], _ListAccumulatorParam())
        present = list(index_cols)

        def fold(batches):
            import pyarrow.compute as pc
            from pyspark import TaskContext

            sets = {c: set() for c in present}
            for b in batches:
                for c in present:
                    sets[c].update(pc.unique(b.column(c)).to_pylist())
                yield b
            pid = TaskContext.get().partitionId()
            payload = []
            for c, vals in sets.items():
                vals.discard(None)
                if vals:
                    bb = _bloom_build(vals, xxh64)
                    payload.append((pid, c, bb["m"], bb["k"], bb["b64"]))
            if payload:
                acc.add(payload)

        return out.mapInArrow(fold, out.schema), acc

    @staticmethod
    def _attach_fold_blooms(acc, file_stats: dict) -> None:
        """Driver half of the fold build: match each accumulated bloom to
        its written file by the ``part-NNNNN`` partition-id prefix. A
        bloom whose partition matches no file is dropped with a warning;
        pruning stays correct (a file without a bloom is never pruned by
        one), only the index loses its reach."""
        by_pid: dict[tuple[int, str], dict] = {}
        for pid, col, m, k, b64 in (acc.value or []):
            by_pid.setdefault((int(pid), col), {"m": int(m), "k": int(k), "b64": b64})
        if not by_pid:
            return
        matched: set[int] = set()
        for rel, st in file_stats.items():
            try:
                pid = int(rel.split("-")[1])
            except (IndexError, ValueError):
                continue
            blooms = {col: bloom for (p, col), bloom in by_pid.items() if p == pid}
            if blooms:
                st["bloom"] = blooms
                matched.add(pid)
        unmatched = sorted({p for p, _ in by_pid} - matched)
        if unmatched:
            log.warning("bloom index: blooms of write partitions %s match no "
                        "written file and are dropped", unmatched)

    @staticmethod
    def _footer_stats(commit_abs: str) -> tuple[dict, dict, dict]:
        """Commit metrics + per-file pruning stats + per-bucket accounting,
        driver-side with NO Spark job. Returns ``(metrics, file_stats,
        written)``:

        metrics — row count, max applied LSN (global AND per bucket — the
        north rule's per-partition applied-LSN watermark, EXACT: see
        below; the global one is the max of the per-bucket ones),
        tombstone count (null-count of ``turn_idx``, which is null
        exactly on tombstone rows).

        file_stats — {relative file path: bounds} for read-side file
        skipping, one fold for every scalar leaf column: a column's
        ``[min, max]`` is the union of its row groups' bounds (``_bound``),
        or None once ANY row group lacks one — each column on its own, so
        one column's missing stats never drop another's bound. Bounds need
        only be VALID, not exact: the parquet spec requires
        min_value/max_value to remain true lower/upper bounds even when
        truncated, and superset pruning can never wrongly skip a file on a
        bound interval that contains the true value interval. A None bound
        is never pruned on. The ``_TOP_BOUND_COLS`` sit at the top level,
        always present; every other column's non-None bound sits under
        ``cols``.

        written — {bucket: bytes} manifest accounting, from ONE pyarrow
        read of the (bucket, lsn) integer columns of the just-written
        files: numpy group-by gives exact per-bucket row counts and
        max-LSN; bytes are attributed rows-proportionally within each
        file. The files were written this instant (page-cached) and two
        int64 columns of even a 10^7-row production batch are ~160 MB of
        vectorized C scanning — cheap, exact, and no Spark job (round 5,
        3.4M-row commit: ~150 ms, against ~1.2 s of executor time for the
        same aggregates piggybacked on the write job), where
        footer row-group stats alone could not attribute LSN watermarks to
        buckets inside hash-scattered delta files."""
        import numpy as np
        import pyarrow.parquet as papq

        lsn_col, bucket_col = "_lsn", "_bucket"
        tombstone_null_col = "turn_idx"
        rows, nulls = 0, 0
        bucket_max_lsn: dict[str, int] = {}
        bucket_rows: dict[int, int] = {}
        written: dict[str, float] = {}
        file_stats: dict[str, dict] = {}

        def _bound(st) -> list | None:
            # A row group's valid [min, max] as JSON-orderable values, or
            # None. Writers that cannot produce a valid bound (e.g.
            # parquet-mr drops >4 KB binary stats) omit the stats →
            # has_min_max False (pyarrow also hides legacy min/max written
            # under the broken pre-PARQUET-686 binary sort order).
            if st is None or not st.has_min_max:
                return None
            try:
                mm = [_bound_to_json(st.min), _bound_to_json(st.max)]
            except NotImplementedError:
                # pyarrow cannot decode stats of INT32/INT64-backed
                # decimals (precision <= 18)
                return None
            return None if mm[0] is None or mm[1] is None else mm

        # per-file work is independent (footer parse + two-column pyarrow
        # read, both GIL-releasing C++); a small thread pool cuts the
        # per-commit driver constant ~3x at 32 files/commit (r6). Results
        # are merged deterministically below (sums/max/dict-by-file).
        def _one_file(f: str) -> dict:
            nulls = 0
            bucket_max_lsn: dict[str, int] = {}
            bucket_rows: dict[int, int] = {}
            written: dict[str, float] = {}
            pf = papq.ParquetFile(f)
            md = pf.metadata
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            leaves = {c: i for c, i in names.items() if "." not in c}
            bounds: dict[str, list | None] = {}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                if tombstone_null_col in names:
                    st = g.column(names[tombstone_null_col]).statistics
                    if st is not None and st.null_count is not None:
                        nulls += st.null_count
                for c, i in leaves.items():
                    if c in bounds and bounds[c] is None:
                        continue  # an earlier row group had no valid bound
                    mm, prev = _bound(g.column(i).statistics), bounds.get(c)
                    bounds[c] = (mm if mm is None or prev is None
                                 else [min(prev[0], mm[0]), max(prev[1], mm[1])])
            file_stat = {c: bounds.get(c) for c in _TOP_BOUND_COLS}
            file_stat["cols"] = {c: mm for c, mm in bounds.items()
                                 if c not in _TOP_BOUND_COLS and mm is not None}
            # exact per-bucket rows + max-LSN from the data columns
            if bucket_col in names and md.num_rows > 0:
                cols = [bucket_col] + ([lsn_col] if lsn_col in names else [])
                tbl = pf.read(columns=cols)
                b = tbl.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
                order = np.argsort(b, kind="stable")  # near-O(n): files sorted by bucket
                bs = b[order]
                starts = np.flatnonzero(np.r_[True, bs[1:] != bs[:-1]])
                uniq = bs[starts]
                counts = np.diff(np.r_[starts, len(bs)])
                fsize = os.path.getsize(f)
                for bk, cnt in zip(uniq.tolist(), counts.tolist()):
                    bucket_rows[bk] = bucket_rows.get(bk, 0) + cnt
                    written[str(bk)] = written.get(str(bk), 0.0) + fsize * cnt / md.num_rows
                if len(cols) == 2:
                    lsn = tbl.column(1).to_numpy(zero_copy_only=False)
                    lsn = np.where(np.isnan(lsn), -(2**62), lsn) if lsn.dtype.kind == "f" else lsn
                    gmax = np.maximum.reduceat(lsn[order], starts)
                    for bk, mx in zip(uniq.tolist(), gmax.tolist()):
                        key = str(bk)
                        prev = bucket_max_lsn.get(key)
                        bucket_max_lsn[key] = int(mx) if prev is None else max(prev, int(mx))
            return {
                "rows": md.num_rows, "nulls": nulls,
                "rel": os.path.relpath(f, commit_abs), "file_stat": file_stat,
                "bucket_rows": bucket_rows, "written": written,
                "bucket_max_lsn": bucket_max_lsn,
            }

        files = sorted(glob.glob(os.path.join(commit_abs, "*.parquet")))
        if len(files) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(8, len(files))) as pool:
                results = list(pool.map(_one_file, files))
        else:
            results = [_one_file(f) for f in files]
        for r in results:
            rows += r["rows"]
            nulls += r["nulls"]
            file_stats[r["rel"]] = r["file_stat"]
            for bk, cnt in r["bucket_rows"].items():
                bucket_rows[bk] = bucket_rows.get(bk, 0) + cnt
            for bk, v in r["written"].items():
                written[bk] = written.get(bk, 0.0) + v
            for bk, mx in r["bucket_max_lsn"].items():
                prev = bucket_max_lsn.get(bk)
                bucket_max_lsn[bk] = mx if prev is None else max(prev, mx)
        metrics = {
            "rows_written": rows,
            "max_lsn": max(bucket_max_lsn.values(), default=None),
            "deletes": nulls,
            "upserts": rows - nulls,
            "bucket_max_lsn": bucket_max_lsn,
            "bucket_rows": {str(k): v for k, v in bucket_rows.items()},
        }
        return metrics, file_stats, {b: int(round(v)) for b, v in written.items()}

    def _commit(self, batch_id: str, kind: str, change) -> bool:
        """The one snapshot commit (optimistic concurrency, Iceberg's
        ``TableOperations.commit(base, updated)``). Each attempt reads the
        snapshot it lands on, ``cur`` (a rollback reads it unchecked, so it
        can leave a bad one), and starts the next snapshot ``nxt`` from
        ``cur``'s ``schema``, ``n_buckets`` and ``index_cols`` and a copy of
        its ``live`` — nothing else carries forward, so a merge's
        ``inherited_ids`` stays on the merge snapshot. ``change(nxt)``
        returns the fields it sets: ``schema`` (JSON), ``n_buckets``,
        ``index_cols``, ``live``, ``commit_bytes`` (stats of the dirs the
        new ``live`` brings in; ``cur``'s own stats win) and
        ``inherited_ids`` (another log's ids a merge brings in). The
        snapshot's ``commit_bytes`` is pruned to the dirs ``live``
        references (a KeyError beats publishing a bad snapshot), so the
        manifest stays O(live dirs). Losing the version race re-reads
        ``cur`` and calls ``change`` again — data files are already on
        disk, only the pointer swap repeats — up to ``COMMIT_ATTEMPTS``
        times; idempotence on ``batch_id`` is re-checked every attempt.

        ``kind`` labels the commit's LOGICAL effect: ``append``,
        ``compact``, ``rebucket`` (``commit_data``), ``evolve``
        (``evolve_to``, ``enable_index``), ``merge`` and ``rollback``.
        Incremental readers (``operators.merge.changes_since``) skip the
        pure rewrites (compact, rebucket) and treat a non-append live diff
        of the other kinds as whole-bucket changes."""
        for _ in range(COMMIT_ATTEMPTS):
            if batch_id in self.committed_batch_ids():
                return False
            cur = self._snapshot_log_entry() if kind == "rollback" else self.snapshot()
            nxt = {"version": cur["version"] + 1, "batch_id": batch_id, "kind": kind,
                   "committed_at": time.time(), "schema": cur["schema"],
                   "n_buckets": cur["n_buckets"], "index_cols": cur["index_cols"],
                   "live": {b: list(ds) for b, ds in cur["live"].items()},
                   "commit_bytes": {}}
            nxt.update(change(nxt))
            known = {**nxt["commit_bytes"], **cur["commit_bytes"]}
            nxt["commit_bytes"] = {d: known[d] for ds in nxt["live"].values() for d in ds}
            try:
                self._write_snapshot(nxt)
                return True
            except CommitConflictError:
                continue
        raise CommitConflictError(
            f"gave up committing {batch_id!r} after {COMMIT_ATTEMPTS} attempts")

    def commit_data(
        self,
        df: DataFrame,
        batch_id: str,
        replace: dict[str, list[str]] | None = None,
        cluster_by=None,
        n_buckets: int | None = None,
    ) -> bool:
        """The one data commit: write ``df`` (with a ``_bucket`` column) as
        ONE commit dir and publish it. Returns False (no-op) if
        ``batch_id`` was already committed — the exactly-once primitive.

        ``replace`` maps bucket → the live dirs whose rows ``df`` carries
        for that bucket (None: an append). Per bucket the new dir takes the
        slot of the first dir it replaces, or goes last when it replaces
        none; the rest of the list is kept, so a delta appended after the
        rewrite read its input stays stacked on the new dir — correct
        because readers LWW-resolve: resolve(rewrite ∪ delta) ==
        resolve(replaced ∪ delta). A bucket left with no dir is dropped.
        The one conflict rule (Iceberg ``RewriteFiles``): a replaced dir
        that is no longer live for its bucket raises
        ``ConcurrentOverwriteError`` — the caller re-reads and retries.

        ``n_buckets`` re-buckets: ``df`` is the whole table under the new
        count, flipped in the same atomic snapshot (Iceberg bucket-spec
        evolution); ``replace`` names every live dir, and a live dir it
        does not name (committed after the read) conflicts.

        The snapshot's kind follows: ``append`` without ``replace``,
        ``rebucket`` with ``n_buckets``, else ``compact`` — a pure rewrite
        that feeds and view refreshes skip, so a replacing commit must hold
        the same logical rows as the dirs it replaces."""
        if batch_id in self.committed_batch_ids():
            return False
        replace = replace or {}
        commit_rel, written = self._write_commit_data(df, cluster_by=cluster_by)

        def change(nxt: dict) -> dict:
            live = nxt["live"]
            for b, olds in replace.items():
                if not set(olds) <= set(live.get(b, [])):
                    raise ConcurrentOverwriteError(
                        f"bucket {b}: a replaced dir is no longer live; re-read and retry")
            if n_buckets is not None:
                if any(set(ds) - set(replace.get(b, [])) for b, ds in live.items()):
                    raise ConcurrentOverwriteError(
                        "a dir was committed after the rebucket read; re-read and retry")
                return {"n_buckets": n_buckets, "live": {b: [commit_rel] for b in written},
                        "commit_bytes": {commit_rel: written}}
            for b in dict.fromkeys([*written, *replace]):
                cur, olds = live.get(b, []), replace.get(b, [])
                new = [d for d in cur if d not in olds]
                if b in written:
                    new.insert(min((cur.index(d) for d in olds), default=len(new)), commit_rel)
                if new:
                    live[b] = new
                else:
                    live.pop(b, None)
            return {"live": live, "commit_bytes": {commit_rel: written}}

        kind = "rebucket" if n_buckets is not None else "compact" if replace else "append"
        return self._commit(batch_id, kind, change)

    def delta_depth(self) -> int:
        """Max commit dirs stacked on any bucket (compaction trigger)."""
        live = self.snapshot()["live"]
        return max((len(ds) for ds in live.values()), default=0)

    def delta_stats(self) -> dict[int, dict]:
        """``delta_stats_of`` the current snapshot."""
        return delta_stats_of(self.snapshot())

    def delta_bytes(self) -> int:
        """Max per-bucket bytes of stacked delta dirs (every dir beyond the
        base) — the size-based compaction trigger. One shared stats walk
        with ``delta_stats``."""
        return max(
            (s["delta_bytes"] for s in self.delta_stats().values()), default=0
        )

    def total_bytes(self) -> int:
        """Live table size from the manifest's commit_bytes stats (no
        filesystem listing) — the input to statistics-driven join planning
        (operators.joins.read_with_stats)."""
        snap = self.snapshot()
        cb = snap["commit_bytes"]
        # (dir, bucket) pairs are unique
        return sum(cb[d][b] for b, dirs in snap["live"].items() for d in dirs)

    def history(self) -> list[dict]:
        """Snapshot log audit view (Iceberg ``table.history()``): one entry
        per retained version — version, batch_id, n_buckets, live dir count,
        rows written (from commit_bytes presence)."""
        out = []
        for v in self._versions():
            s = self._snapshot_log_entry(v)
            out.append(
                {
                    "version": v,
                    "batch_id": s["batch_id"],
                    "kind": s["kind"],
                    "committed_at": s["committed_at"],
                    "n_buckets": s["n_buckets"],
                    "live_buckets": len(s["live"]),
                    "data_dirs": len({d for ds in s["live"].values() for d in ds}),
                }
            )
        return out

    def rollback(self, version: int, batch_id: str) -> bool:
        """Roll the table back to a retained historical version (Iceberg
        ``rollback_to_snapshot``): a NEW commit whose live map (and bucket
        spec) is copied from the target version — history is preserved, no
        data files move, and the rollback itself is idempotent on
        batch_id. Fails if the target snapshot was expired."""
        target = self.snapshot(version)  # raises if expired/unknown
        # Freshen the mtime of every data dir the rollback re-references
        # BEFORE committing: those dirs may be old enough to look like
        # orphans to a concurrent expire_snapshots whose retained window no
        # longer includes `version` — the bump puts them back inside the
        # orphan grace window so the GC leaves them alone.
        now = time.time()
        for ds in target["live"].values():
            for d in ds:
                try:
                    os.utime(os.path.join(self.root, d), (now, now))
                except FileNotFoundError:
                    pass  # already expired: the commit below still records it;
                    # reads will surface the missing dir rather than hide it
        return self._commit(batch_id, "rollback", lambda nxt: {
            "schema": target["schema"], "n_buckets": target["n_buckets"],
            "live": target["live"], "commit_bytes": target["commit_bytes"]})

    # ---------- maintenance: snapshot expiration + orphan GC ----------

    def _other_logs_referenced(self) -> set[str]:
        """Data dirs referenced by ANY snapshot of every OTHER ref's log
        (main + all branches except the one running the GC): the data dir
        is shared across refs, so orphan cleanup from one ref must treat
        another ref's references as live. O(total retained snapshots)
        JSON reads — bounded by each ref's own expiration policy."""
        refs: set[str] = set()
        main_dir = os.path.join(self.root, SNAPSHOT_DIR)
        logs = [main_dir] if self.branch is not None else []
        for b in glob.glob(os.path.join(main_dir, BRANCHES_DIR, "*")):
            if self.branch is not None and os.path.basename(b) == self.branch:
                continue
            logs.append(b)
        for log in logs:
            for p in glob.glob(os.path.join(log, "v*.json")):
                try:
                    with open(p) as f:
                        snap = json.load(f)
                except (FileNotFoundError, json.JSONDecodeError):
                    continue  # racing expiration / torn write: next run
                for ds in snap["live"].values():
                    refs.update(ds)
        return refs

    def expire_snapshots(
        self,
        retain_last: int = 100,
        clean_orphans: bool = True,
        orphan_grace_seconds: float = 3600.0,
        older_than_s: float | None = None,
    ) -> dict:
        """Expire old snapshots (Iceberg expire_snapshots + orphan cleanup):
        keeps the table's metadata bounded over an unbounded stream.

        1. Fold the ids of every snapshot up to the newest one expiring
           (tagged ones included, so a tag never stops the floor) into a
           new ``ledger-v<N>.json`` — this method is its only writer, and
           writes none when nothing expires — collapsing the contiguous
           numeric prefix into a floor: idempotence survives snapshot
           deletion with O(1) memory for streaming epoch ids.
        2. Delete all but the last ``retain_last`` snapshot files (time
           travel remains available within the retained window).
        3. Drop data dirs referenced by NO retained snapshot and older than
           ``orphan_grace_seconds`` — the grace period protects a
           concurrent writer that has written data but not yet swapped its
           snapshot pointer (crash leftovers are collected on a later run).

        Safe against concurrent forward COMMITS (data commits only
        reference their own freshly-written dirs, which the grace window
        protects). ``rollback`` is the one commit that re-references OLD
        dirs: it bumps their mtimes before committing, the orphan loop
        re-reads the CURRENT snapshot before each delete, and the dir's
        mtime is re-checked IMMEDIATELY before rmtree — the bump therefore
        acts as a happens-before barrier: once rollback's utime lands, no
        delete can follow within the grace window. The narrow residue is a
        rollback whose utime has NOT yet executed when GC does its final
        re-stat (both checks then pass on stale state); its window is the
        utime→commit gap, microseconds, and any rollback older than
        ``orphan_grace_seconds`` mid-flight is disallowed by contract: do
        not run expiration with a zero/short grace window beside live
        rollbacks, and prefer a single maintenance writer. Ledger writes use the same versioned O_EXCL protocol as
        snapshots, so two racing expirations cannot lose each other's ids
        (the loser re-merges and retries); still prefer one maintenance
        writer — racing expirations do redundant work."""
        if retain_last < 1:
            raise ValueError("retain_last must be >= 1")
        versions = self._versions()
        to_expire = versions[:-retain_last]
        # named refs (tags) are retention-exempt: a tagged version's
        # snapshot survives ANY count/age window, and because it stays in
        # `survivors` its data dirs stay referenced — the orphan sweep
        # below never touches them
        tagged = set(self.refs().values())
        if tagged:
            to_expire = [v for v in to_expire if v not in tagged]
        if older_than_s is not None:
            # Iceberg expire_snapshots(older_than=...): age is a further
            # RESTRICTION on what the count window would expire — young
            # snapshots survive even beyond retain_last, so time travel
            # keeps a wall-clock horizon regardless of commit rate.
            now = time.time()
            aged = []
            for v in to_expire:
                try:
                    at = self._snapshot_log_entry(v)["committed_at"]
                except FileNotFoundError:
                    continue  # racing expiration already removed it
                if now - at > older_than_s:
                    aged.append(v)
            to_expire = aged
        survivors = [v for v in versions if v not in set(to_expire)]

        if to_expire:
            # ledger BEFORE deleting snapshots: a crash in between merely
            # re-merges ids next run (set union, order-free)
            self._write_ledger(self._committed_as_of(to_expire[-1]),
                               expired_through=to_expire[-1])

        for v in to_expire:
            try:
                os.unlink(self._snapshot_path(v))
            except FileNotFoundError:
                pass  # a racing expiration already removed it — same outcome

        removed_dirs = 0
        if clean_orphans:
            # data dirs are SHARED across refs: dirs referenced by any
            # other ref's log (main + every branch) are never orphans,
            # whichever ref runs the GC
            referenced: set[str] = self._other_logs_referenced()
            for v in survivors:
                try:
                    snap_v = self._snapshot_log_entry(v)
                except FileNotFoundError:
                    continue  # a racing expiration (smaller retain window)
                    # removed it; any dirs only it referenced are protected
                    # by the orphan grace window until a later run
                for ds in snap_v["live"].values():
                    referenced.update(ds)
            now = time.time()
            for p in glob.glob(os.path.join(self._data_dir, "c-*")):
                rel = os.path.join(DATA_DIR, os.path.basename(p))
                if rel in referenced or now - os.path.getmtime(p) < orphan_grace_seconds:
                    continue
                # last-second recheck against the CURRENT snapshot: a
                # rollback that committed after `versions` was listed may
                # have just re-referenced this dir (its mtime bump may also
                # have raced past the check above)
                try:
                    cur_live = self._snapshot_log_entry()["live"]
                except FileNotFoundError:
                    cur_live = {}
                if rel in {d for ds in cur_live.values() for d in ds}:
                    continue
                # Re-stat IMMEDIATELY before deleting (after the snapshot
                # recheck): rollback bumps the dir's mtime BEFORE it
                # commits, so a fresh in-grace mtime here means a rollback
                # is in flight re-referencing this dir — skip it; the bump
                # acts as the happens-before barrier between the two.
                try:
                    if time.time() - os.path.getmtime(p) < orphan_grace_seconds:
                        continue
                except FileNotFoundError:
                    continue  # another GC removed it
                shutil.rmtree(p)
                removed_dirs += 1
        ids = self.committed_batch_ids()
        return {
            "expired_snapshots": len(to_expire),
            "removed_data_dirs": removed_dirs,
            "numeric_floor": ids.numeric_floor,
            "ledger_ids": len(ids.ids),
        }

    def evolve_to(self, target: T.StructType, batch_id: str) -> bool:
        """Metadata-only schema evolution: widen the table to admit
        ``target`` under the one rule, ``_union_schema`` — new columns
        append nullable, existing columns widen losslessly (int→long,
        float→double, decimal precision up), columns ``target`` lacks are
        kept. No data rewrite: old files keep their narrow physical types
        and every read null-fills and casts them up to the current schema,
        exactly how Iceberg serves promoted columns. Returns False, with
        no commit, when the rule leaves the schema as it is or
        ``batch_id`` was already committed."""
        cur = self.schema()
        if _union_schema(cur, target) == cur:
            return False  # nothing to evolve; checked before the ledger
        # the union is over the schema each attempt lands on, so losing the
        # race to another evolution folds the winner's columns in
        return self._commit(batch_id, "evolve", lambda nxt: {
            "schema": _union_schema(schema_of(nxt), target).json()})
