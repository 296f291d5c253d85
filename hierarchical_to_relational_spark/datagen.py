"""Deterministic synthetic binlog generator + pure-pandas replay oracle.

Generates the change-event stream of FIXTURES.md F6 with controllable skew
(zipf-hot conversations), duplicate events, and out-of-order arrival, then
writes parquet segments with pyarrow (no Spark dependency, byte-stable for a
given seed). ``expected_state`` replays the same events in pandas — the
independent oracle the engine's final table state must equal row-for-row
(per-turn text equality under stable (conv_id, turn_idx) ordering,
BASELINE.json:input_hint).

Event semantics:
- ``insert``/``update``: upsert every turn in ``payload.turns`` for the
  conversation; last write wins per ``(conv_id, turn_idx)`` ordered by
  ``(lsn, commit_ts)``.
- ``delete``: tombstone the whole conversation — every turn whose effective
  lsn is below the delete's lsn is removed; turns written with a higher lsn
  (re-insert after delete) survive.
- ``patch`` (``patch_rate > 0``): partial-column upsert — each turn sets
  only its non-null columns, null means "keep the previous value"; a later
  full row resets every column (merge-patch, operators.merge.resolve).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = pd.Timestamp("2026-01-01 00:00:00")
ROLES = ["user", "assistant", "system", "tool"]
TOOLS = [None, "bash", "search", "python", None, None]
WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu data spark merge stream shuffle partition broadcast"
).split()


@dataclass
class BinlogSpec:
    n_events: int = 1000
    n_convs: int = 50
    seed: int = 42
    max_turns_per_event: int = 8
    zipf_a: float = 1.3          # conv popularity skew (lower = more skew)
    delete_rate: float = 0.03
    update_rate: float = 0.45    # rest are inserts
    patch_rate: float = 0.0      # partial-column upserts (merge-patch)
    dup_rate: float = 0.05       # fraction of events re-emitted verbatim
    shuffle: bool = True         # out-of-order arrival
    evolve_after: int | None = None  # event index after which turns carry 'model'


def _texts(rng: np.random.Generator, n: int) -> np.ndarray:
    idx = rng.integers(0, len(WORDS), size=(n, 6))
    return np.array([" ".join(WORDS[j] for j in row) for row in idx])


def generate_events(spec: BinlogSpec) -> pd.DataFrame:
    """Logical event list (pre-duplication, pre-shuffle), one row per event:
    columns lsn, commit_ts, op, conv_id, turns (list[dict] or None)."""
    rng = np.random.default_rng(spec.seed)
    n = spec.n_events
    conv_ranks = (rng.zipf(spec.zipf_a, size=n) - 1) % spec.n_convs
    conv_ids = np.array([f"c{r:05d}" for r in conv_ranks])
    u = rng.random(n)
    b1 = spec.delete_rate
    b2 = b1 + spec.update_rate
    b3 = b2 + spec.patch_rate
    ops = np.where(u < b1, "delete",
                   np.where(u < b2, "update", np.where(u < b3, "patch", "insert")))
    lsns = np.arange(1, n + 1, dtype=np.int64)
    # commit_ts mostly follows lsn order but with jitter (ties + small inversions)
    commit_ts = EPOCH + pd.to_timedelta(lsns * 1000 + rng.integers(-500, 500, size=n), unit="ms")

    turns_col: list[list[dict] | None] = []
    next_turn = {f"c{i:05d}": 0 for i in range(spec.n_convs)}
    for i in range(n):
        cid = conv_ids[i]
        if ops[i] == "delete":
            turns_col.append(None)
            continue
        k = int(rng.integers(1, spec.max_turns_per_event + 1))
        if ops[i] == "insert" or next_turn[cid] == 0:
            start = next_turn[cid]
            next_turn[cid] = start + k
            idxs = list(range(start, start + k))
        else:  # update/patch: rewrite k existing turn slots
            hi = max(next_turn[cid], 1)
            idxs = sorted(set(int(x) for x in rng.integers(0, hi, size=k)))
        texts = _texts(rng, len(idxs))
        turns = []
        for j, tix in enumerate(idxs):
            t = {
                "turn_idx": int(tix),
                "role": ROLES[int(rng.integers(0, len(ROLES)))],
                "text": f"{texts[j]} [e{i}]",
                "tool": TOOLS[int(rng.integers(0, len(TOOLS)))],
                "ts": (EPOCH + pd.to_timedelta(int(lsns[i]), unit="s")).to_pydatetime(),
            }
            if spec.evolve_after is not None and i >= spec.evolve_after:
                t["model"] = f"m{int(rng.integers(0, 3))}"
            if ops[i] == "patch":
                # partial-column upsert: null = keep previous. Each payload
                # column is independently unset w.p. 1/2 (text kept set so
                # every patch visibly changes something).
                for col in ("role", "tool", "ts") + (
                    ("model",) if "model" in t else ()
                ):
                    if rng.random() < 0.5:
                        t[col] = None
            turns.append(t)
        turns_col.append(turns)

    return pd.DataFrame(
        {"lsn": lsns, "commit_ts": commit_ts, "op": ops, "conv_id": conv_ids, "turns": turns_col}
    )


def arrival_order(events: pd.DataFrame, spec: BinlogSpec) -> pd.DataFrame:
    """Physical arrival stream: duplicates injected, order shuffled."""
    rng = np.random.default_rng(spec.seed + 1)
    n = len(events)
    dup_idx = rng.choice(n, size=int(n * spec.dup_rate), replace=False)
    stream = pd.concat([events, events.iloc[dup_idx]], ignore_index=True)
    if spec.shuffle:
        stream = stream.iloc[rng.permutation(len(stream))].reset_index(drop=True)
    return stream


def _turn_type(evolved: bool) -> pa.StructType:
    fields = [
        pa.field("turn_idx", pa.int32(), nullable=False),
        # payload columns are nullable: a patch turn leaves unset columns
        # null ("keep previous value") — matches the engine envelope schema
        pa.field("role", pa.string(), nullable=True),
        pa.field("text", pa.string(), nullable=True),
        pa.field("tool", pa.string(), nullable=True),
        pa.field("ts", pa.timestamp("us"), nullable=True),
    ]
    if evolved:
        fields.append(pa.field("model", pa.string(), nullable=True))
    return pa.struct(fields)


def write_binlog(
    stream: pd.DataFrame,
    out_dir: str,
    n_segments: int = 8,
    evolved: bool = False,
    start_segment: int = 0,
) -> list[str]:
    """Write the arrival stream as parquet WAL segments (envelope schema).
    ``start_segment`` offsets the file numbering so late segments can be
    appended to an existing binlog directory without clobbering."""
    os.makedirs(out_dir, exist_ok=True)
    payload_type = pa.struct([pa.field("turns", pa.list_(_turn_type(evolved)), nullable=True)])
    schema = pa.schema(
        [
            pa.field("lsn", pa.int64(), nullable=False),
            pa.field("commit_ts", pa.timestamp("us"), nullable=False),
            pa.field("op", pa.string(), nullable=False),
            pa.field("conv_id", pa.string(), nullable=False),
            pa.field("payload", payload_type, nullable=True),
        ]
    )
    paths = []
    bounds = np.linspace(0, len(stream), n_segments + 1, dtype=int)
    for s in range(n_segments):
        seg = stream.iloc[bounds[s] : bounds[s + 1]]
        if seg.empty:
            continue
        payload = [None if t is None else {"turns": t} for t in seg["turns"]]
        tbl = pa.Table.from_pydict(
            {
                "lsn": pa.array(seg["lsn"], pa.int64()),
                "commit_ts": pa.array(seg["commit_ts"], pa.timestamp("us")),
                "op": pa.array(seg["op"], pa.string()),
                "conv_id": pa.array(seg["conv_id"], pa.string()),
                "payload": pa.array(payload, payload_type),
            },
            schema=schema,
        )
        path = os.path.join(out_dir, f"segment-{start_segment + s:05d}.parquet")
        pq.write_table(tbl, path)
        paths.append(path)
    return paths


def write_binlog_csv(
    stream: pd.DataFrame,
    out_dir: str,
    n_segments: int = 8,
    evolved: bool = False,
    start_segment: int = 0,
) -> list[str]:
    """Write the arrival stream as CSV WAL segments (flat envelope: one row
    per (event, turn), delete events as one row with null turn fields) —
    the export shape the reference's example pipelines ingest (File source
    ``format: csv``). Segment boundaries follow the same event split as
    ``write_binlog`` so a CSV replay sees the same batching. Timestamps are
    microsecond ISO; quoting is RFC-4180 (matches
    sources.binlog._CSV_OPTIONS)."""
    os.makedirs(out_dir, exist_ok=True)
    turn_keys = ["turn_idx", "role", "text", "tool", "ts"] + (["model"] if evolved else [])
    cols = ["lsn", "commit_ts", "op", "conv_id"] + turn_keys
    paths = []
    bounds = np.linspace(0, len(stream), n_segments + 1, dtype=int)
    for s in range(n_segments):
        seg = stream.iloc[bounds[s] : bounds[s + 1]]
        if seg.empty:
            continue
        rows = []
        for r in seg.itertuples(index=False):
            base = {"lsn": r.lsn, "commit_ts": r.commit_ts.strftime("%Y-%m-%dT%H:%M:%S.%f"),
                    "op": r.op, "conv_id": r.conv_id}
            if r.turns is None:
                rows.append(base)
            else:
                for t in r.turns:
                    row = {**base, **{k: t.get(k) for k in turn_keys}}
                    if row.get("ts") is not None:
                        row["ts"] = pd.Timestamp(row["ts"]).strftime("%Y-%m-%dT%H:%M:%S.%f")
                    rows.append(row)
        path = os.path.join(out_dir, f"segment-{start_segment + s:05d}.csv")
        # nullable Int64: delete rows leave turn_idx NA, and a plain int
        # column would float-ify ("3.0") and break IntegerType parsing
        pd.DataFrame(rows, columns=cols).astype({"turn_idx": "Int64"}).to_csv(path, index=False)
        paths.append(path)
    return paths


def generate_binlog_fast(spec: BinlogSpec, out_dir: str, n_segments: int = 32) -> tuple[list[str], int]:
    """Fully-vectorized binlog generation for bench-scale inputs (millions
    of events): numpy for all columns, pyarrow ListArray.from_arrays for
    the nested turns — no per-event Python. Same envelope schema and event
    semantics as the loop generator (insert/update upsert turns, delete
    tombstones whole conversations; duplicates + shuffled arrival); exact
    turn-id sequences differ, which is irrelevant to the engine and to the
    pandas oracle (tests use the loop generator).

    Returns (segment paths, physical event count including duplicates)."""
    rng = np.random.default_rng(spec.seed)
    n = spec.n_events
    conv_ranks = (rng.zipf(spec.zipf_a, size=n) - 1) % spec.n_convs
    u = rng.random(n)
    is_del = u < spec.delete_rate
    is_upd = (~is_del) & (u < spec.delete_rate + spec.update_rate)
    lsns = np.arange(1, n + 1, dtype=np.int64)
    epoch_us = np.datetime64(EPOCH.to_datetime64(), "us")
    commit_us = epoch_us + ((lsns * 1000 + rng.integers(-500, 500, size=n)) * 1000).astype("timedelta64[us]")

    k = rng.integers(1, spec.max_turns_per_event + 1, size=n)
    k[is_del] = 0
    total = int(k.sum())
    ev_of_row = np.repeat(np.arange(n), k)
    starts = np.concatenate(([0], np.cumsum(k)[:-1]))
    off = np.arange(total) - np.repeat(starts, k)

    # per-conversation running turn total before each insert event
    ins_k = np.where(is_upd | is_del, 0, k)
    df_ev = pd.DataFrame({"conv": conv_ranks, "ins_k": ins_k})
    prev_total = (df_ev.groupby("conv")["ins_k"].cumsum() - ins_k).to_numpy()
    base = prev_total[ev_of_row]
    kk = k[ev_of_row]
    m = np.maximum(base, 1)
    upd_r = rng.integers(0, 2**31, size=total)
    # updates: k slots in [0, max(prev_total, k)), each from its own upd_r, so
    # one event may write a slot twice (the later element wins); inserts: append
    upd_mod = np.maximum(m, kk)
    turn_idx = np.where(
        is_upd[ev_of_row],
        (upd_r % upd_mod + off) % upd_mod,
        base + off,
    ).astype(np.int32)

    words = np.array(WORDS)
    texts = np.char.add(
        np.char.add(words[rng.integers(0, len(words), size=total)], " "),
        np.char.add(words[rng.integers(0, len(words), size=total)],
                    np.char.add(" [e", np.char.add(ev_of_row.astype("U10"), "]"))),
    )
    roles = np.array(ROLES)[rng.integers(0, len(ROLES), size=total)]
    tool_pool = np.array([t if t is not None else "" for t in TOOLS])
    tools_raw = tool_pool[rng.integers(0, len(TOOLS), size=total)]
    turn_ts = epoch_us + (lsns[ev_of_row] * 1_000_000).astype("timedelta64[us]")

    def _arr(x) -> pa.Array:
        return x.combine_chunks() if isinstance(x, pa.ChunkedArray) else x

    turn_type = _turn_type(False)
    tools_pa = pa.array(tools_raw, pa.string())
    tools_pa = pa.compute.if_else(pa.compute.equal(tools_pa, ""), pa.scalar(None, pa.string()), tools_pa)
    turns_flat = pa.StructArray.from_arrays(
        [
            _arr(pa.array(turn_idx, pa.int32())),
            _arr(pa.array(roles, pa.string())),
            _arr(pa.array(texts, pa.string())),
            _arr(tools_pa),
            _arr(pa.array(turn_ts, pa.timestamp("us"))),
        ],
        fields=list(turn_type),
    )
    offsets = pa.array(np.concatenate(([0], np.cumsum(k))).astype(np.int32))
    turns_list = pa.ListArray.from_arrays(offsets, turns_flat)
    payload_type = pa.struct([pa.field("turns", pa.list_(turn_type), nullable=True)])
    payload = pa.StructArray.from_arrays(
        [turns_list], fields=list(payload_type), mask=pa.array(is_del)  # delete ⇒ null payload
    )

    ops = np.where(is_del, "delete", np.where(is_upd, "update", "insert"))
    tbl = pa.table(
        {
            "lsn": pa.array(lsns, pa.int64()),
            "commit_ts": pa.array(commit_us, pa.timestamp("us")),
            "op": pa.array(ops, pa.string()),
            "conv_id": pa.array(np.char.add("c", conv_ranks.astype("U10")), pa.string()),
            "payload": payload,
        }
    )

    # duplicates + shuffled arrival (vectorized take)
    rng2 = np.random.default_rng(spec.seed + 1)
    dup_idx = rng2.choice(n, size=int(n * spec.dup_rate), replace=False)
    order = np.concatenate([np.arange(n), dup_idx])
    if spec.shuffle:
        order = order[rng2.permutation(len(order))]
    physical = len(order)

    os.makedirs(out_dir, exist_ok=True)
    paths = []
    bounds = np.linspace(0, physical, n_segments + 1, dtype=int)
    for s in range(n_segments):
        sel = order[bounds[s]: bounds[s + 1]]
        if len(sel) == 0:
            continue
        seg = tbl.take(pa.array(sel))
        path = os.path.join(out_dir, f"segment-{s:05d}.parquet")
        pq.write_table(seg, path)
        paths.append(path)
    return paths, physical


def expected_state(events: pd.DataFrame) -> pd.DataFrame:
    """Pure-pandas replay oracle → final transcripts table, sorted by
    (conv_id, turn_idx). Independent of the Spark engine (set-based LWW +
    tombstone-watermark + merge-patch per-column-fold semantics)."""
    deletes = events[events["op"] == "delete"].groupby("conv_id")["lsn"].max()
    rows = []
    ups = events[events["op"] != "delete"]
    payload_cols = ["role", "text", "tool", "ts"]
    for _, ev in ups.iterrows():
        for t in ev["turns"]:
            rows.append(
                {
                    "conv_id": ev["conv_id"],
                    "turn_idx": t["turn_idx"],
                    **{c: t.get(c) for c in payload_cols},
                    "lsn": ev["lsn"],
                    "commit_ts": ev["commit_ts"],
                    "op": "p" if ev["op"] == "patch" else "u",
                }
            )
    if not rows:
        return pd.DataFrame(columns=["conv_id", "turn_idx"] + payload_cols)
    df = pd.DataFrame(rows)
    df["del_lsn"] = df["conv_id"].map(deletes).fillna(-1).astype(np.int64)
    df = df[df["lsn"] > df["del_lsn"]]
    if (df["op"] == "p").any():
        # merge-patch fold: latest full row resets every column; each
        # strictly-newer patch overwrites only its non-null columns,
        # applied in (lsn, commit_ts) order
        out_rows = []
        for (cid, tix), g in df.groupby(["conv_id", "turn_idx"], sort=False):
            g = g.sort_values(["lsn", "commit_ts"])
            fulls = g[g["op"] == "u"]
            if len(fulls):
                base = fulls.iloc[-1]
                vals = {c: base[c] for c in payload_cols}
                newer = g[(g["op"] == "p") & (g["lsn"] > base["lsn"])]
            else:
                vals = {c: None for c in payload_cols}
                newer = g[g["op"] == "p"]
            for _, p in newer.iterrows():
                for c in payload_cols:
                    if pd.notna(p[c]):  # None and NaT both mean "unset"
                        vals[c] = p[c]
            out_rows.append({"conv_id": cid, "turn_idx": tix, **vals})
        df = pd.DataFrame(out_rows)
    else:
        # whole-row last-write-wins fast path (groupby().last() would skip
        # nulls per column)
        df = df.sort_values(["lsn", "commit_ts"]).drop_duplicates(
            subset=["conv_id", "turn_idx"], keep="last"
        )
    return (
        df[["conv_id", "turn_idx"] + payload_cols]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
