"""Property-based tests (hypothesis): the judged invariants must hold for
ARBITRARY inputs, not just the fixtures.

- flatten: engine output == a pure-Python reference walker on random DAGs
  (edges only i→j with i<j ⇒ acyclic by construction).
- CDC merge: final state is invariant under arbitrary permutation,
  duplication, and batching of the same event set (order-insensitive
  exactly-once convergence); stored-state ``resolve`` equals a pandas
  statement of its rule.

Example counts are small: every example spins real Spark jobs.
"""

from __future__ import annotations

import datetime

import pandas as pd
from hypothesis import HealthCheck, example, given, settings, strategies as st

from hierarchical_to_relational_spark import FlattenConfig, flatten
from hierarchical_to_relational_spark.operators.merge import (
    lww_latest,
    merge_lww,
    resolve,
    table_schema_for,
)

from pyspark.sql import functions as F, types as T


# ---------- flatten vs pure-python reference ----------

def _reference_flatten(edges: list[tuple[int, int]], max_depth: int = 50):
    """Independent reimplementation of the reference semantics
    (HierarchyFlattener.java:127-351): BFS from every non-self-loop seed
    edge; emit (parent, child, level) per distinct depth; bottom = child
    has no outgoing edges; dedup on the triple."""
    out = set()
    children_of: dict[int, list[tuple[int, int]]] = {}
    for p, c in edges:
        children_of.setdefault(p, []).append((p, c))
    has_out = set(children_of.keys())
    frontier = [(p, c, 1) for (p, c) in edges if p != c]
    while frontier:
        nxt = []
        for p, c, lvl in frontier:
            if lvl > max_depth:
                raise RuntimeError("depth")
            out.add((p, c, lvl, c not in has_out))
            for (p2, c2) in children_of.get(c, []):
                nxt.append((p2, c2, lvl + 1))
        frontier = nxt
    return out


# i<j strictly ⇒ acyclic; mid-tree self-loops legitimately exceed max_depth
# in BOTH the engine and the reference (SURVEY.md §5.3) — covered by
# test_flatten.test_cycle_raises_max_depth, excluded here.
edges_strategy = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7))
    .filter(lambda t: t[0] != t[1])
    .map(lambda t: (min(t), max(t))),
    min_size=1,
    max_size=12,
).map(lambda es: sorted(set(es)))


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=edges_strategy)
def test_flatten_matches_reference_walker(spark, edges):
    df = spark.createDataFrame(edges, "parent int, child int")
    got = {
        (r["parent"], r["child"], r["Level"], r["Bottom"])
        for r in flatten(df, FlattenConfig(parent_field="parent", child_field="child")).collect()
    }
    want = _reference_flatten(edges)
    assert got == want


# ---------- merge convergence under permutation/duplication/batching ----------

events_strategy = st.lists(
    st.tuples(
        st.integers(1, 40),          # lsn
        st.integers(0, 3),           # conv
        st.integers(0, 3),           # turn
        st.sampled_from(["u", "d"]),
    ),
    min_size=1,
    max_size=25,
)


def _oracle_state(events):
    """Set-based LWW + tombstone oracle over (lsn, conv, turn, op)."""
    by_key: dict[tuple[int, int], tuple[int, str]] = {}
    del_lsn: dict[int, int] = {}
    for lsn, conv, turn, op in events:
        if op == "d":
            del_lsn[conv] = max(del_lsn.get(conv, 0), lsn)
        else:
            k = (conv, turn)
            if k not in by_key or lsn > by_key[k][0]:
                by_key[k] = (lsn, f"t{lsn}")
    return {
        (c, t, txt)
        for (c, t), (lsn, txt) in by_key.items()
        if lsn > del_lsn.get(c, -1)
    }


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=events_strategy, seed=st.integers(0, 10_000))
def test_merge_converges_under_any_ordering(spark, events, seed):
    """Shuffle + duplicate the event set, split into arbitrary batches,
    apply via merge_lww incrementally → same final live rows as the
    oracle, regardless of ordering."""
    import random

    rng = random.Random(seed)
    stream = list(events) + [events[i] for i in range(0, len(events), 3)]  # duplicates
    rng.shuffle(stream)
    cut = rng.randint(0, len(stream))
    batches = [stream[:cut], stream[cut:]]

    def to_df(evs):
        rows = [
            (lsn, conv, turn if op == "u" else None, f"t{lsn}" if op == "u" else None, op)
            for (lsn, conv, turn, op) in evs
        ]
        return spark.createDataFrame(rows, "lsn long, conv int, turn int, text string, op string")

    state = to_df([]).limit(0)
    for b in batches:
        if not b:
            continue
        state = merge_lww(state, to_df(b), ["conv", "turn", "op"], ["lsn"])
    # resolve deletes: keep upserts newer than their conv's max delete lsn
    dels = state.where(F.col("op") == "d").groupBy("conv").agg(F.max("lsn").alias("dl"))
    live = (
        state.where(F.col("op") == "u")
        .join(dels, "conv", "left")
        .where(F.col("dl").isNull() | (F.col("lsn") > F.col("dl")))
    )
    got = {(r["conv"], r["turn"], r["text"]) for r in live.collect()}
    assert got == _oracle_state(events)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=events_strategy)
def test_lww_latest_is_permutation_invariant(spark, events):
    rows = [(lsn, conv, turn, f"v{lsn}") for (lsn, conv, turn, _) in events]
    df = spark.createDataFrame(rows, "lsn long, conv int, turn int, v string")
    a = {tuple(r) for r in lww_latest(df, ["conv", "turn"], ["lsn"]).collect()}
    b = {tuple(r) for r in lww_latest(df.orderBy(F.rand(7)), ["conv", "turn"], ["lsn"]).collect()}
    assert a == b


# ---------- stored-state resolve vs a pandas statement of the rule ----------

_T0 = datetime.datetime(2026, 1, 1)
_RESOLVE_SCHEMA = table_schema_for([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), True),
    T.StructField("a", T.StringType(), True),
    T.StructField("b", T.StringType(), True),
])
_STORED = T.StructType([T.StructField("_bucket", T.IntegerType(), False),
                        *_RESOLVE_SCHEMA.fields])


def _stored_row(conv, turn, op, lsn):
    """One stored row. The payload is a function of (conv, turn, op, lsn),
    so a repeated tuple is a verbatim re-emit and no two rows conflict at
    one (key, _lsn, _commit_ts); tombstones have normalize's stored shape."""
    if op == "d":
        return (conv % 2, f"c{conv}", None, None, None, lsn, None, "d")
    a, b = f"a{conv}.{turn}.{lsn}{op}", f"b{conv}.{turn}.{lsn}{op}"
    if op == "p":  # merge-patch: a null column keeps the previous value
        a, b = (a if lsn % 2 else None), (b if lsn % 3 else None)
    return (conv % 2, f"c{conv}", turn, a, b, lsn, _T0 + datetime.timedelta(seconds=lsn), op)


def _resolve_reference(rows):
    """The stored-state rule: drop every non-tombstone row at or below its
    conversation's newest delete; keep that delete, the newest full row per
    turn, and one row per distinct patch LSN above the turn's full row."""
    pdf = pd.DataFrame(rows, columns=_STORED.fieldNames(), dtype=object)
    is_d = pdf["_op"] == "d"
    del_lsn = pdf["conv_id"].map(pdf[is_d].groupby("conv_id")["_lsn"].max())
    alive = pdf[~is_d & ~(pdf["_lsn"] <= del_lsn)]
    tombs = pdf[is_d].sort_values("_lsn").drop_duplicates("conv_id", keep="last")
    fulls = (alive[alive["_op"] == "u"].sort_values("_lsn")
             .drop_duplicates(["conv_id", "turn_idx"], keep="last"))
    patches = (alive[alive["_op"] == "p"].drop_duplicates(["conv_id", "turn_idx", "_lsn"])
               .merge(fulls[["conv_id", "turn_idx", "_lsn"]], on=["conv_id", "turn_idx"],
                      how="left", suffixes=("", "_full")))
    patches = patches[~(patches["_lsn"] <= patches["_lsn_full"])].drop(columns="_lsn_full")
    out = pd.concat([tombs, fulls, patches])
    return _sorted(tuple(None if v is None or v != v else v for v in r)
                   for r in out.itertuples(index=False))


def _sorted(rows):
    return sorted(rows, key=repr)


def _resolved(df):
    return _sorted(tuple(r) for r in resolve(df, _RESOLVE_SCHEMA).collect())


resolve_inputs = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 1), st.sampled_from("uupd"),
              st.integers(1, 8)),
    min_size=1, max_size=24,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=resolve_inputs, cut=st.integers(0, 24), seed=st.integers(0, 10_000))
@example(events=[(0, 0, "u", 3), (0, 0, "u", 3), (0, 0, "p", 5), (0, 0, "p", 5)],
         cut=1, seed=0)  # verbatim re-emits collapse
@example(events=[(0, 0, "u", 4), (0, 0, "p", 4), (0, 1, "p", 4)],
         cut=1, seed=0)  # a patch at its full row's LSN is dropped
@example(events=[(1, 1, "p", 3), (1, 1, "p", 5), (1, 0, "p", 2)],
         cut=2, seed=0)  # patches with no full row stay
@example(events=[(0, 0, "u", 2), (0, 0, "d", 4), (0, 0, "u", 6), (0, 1, "p", 3),
                 (0, 1, "p", 7)],
         cut=2, seed=0)  # re-insert after a delete
@example(events=[(2, 0, "d", 7), (2, 0, "d", 3), (2, 0, "u", 5), (2, 0, "u", 8),
                 (2, 0, "d", 5)],
         cut=3, seed=1)  # deletes in any order
def test_resolve_matches_reference_and_laws(spark, events, cut, seed):
    """``resolve`` equals the pandas statement of the stored-state rule,
    and obeys resolve(resolve(x) ∪ y) == resolve(x ∪ y) and permutation
    invariance."""
    import random

    rows = [_stored_row(*e) for e in events]
    frame = lambda rs: spark.createDataFrame(rs, _STORED)  # noqa: E731
    got = _resolved(frame(rows))
    assert got == _resolve_reference(rows)

    x, y = rows[:cut], rows[cut:]
    assert _resolved(resolve(frame(x), _RESOLVE_SCHEMA).unionByName(frame(y))) == got

    shuffled = list(rows)
    random.Random(seed).shuffle(shuffled)
    assert _resolved(frame(shuffled)) == got


# ---------- temporal joins vs pandas oracles ----------

@given(
    lrows=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)),
                   min_size=1, max_size=25, unique=True),
    rrows=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 99)),
                   min_size=0, max_size=25, unique_by=lambda t: (t[0], t[1])),
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_asof_join_matches_pandas(spark, lrows, rrows):
    """asof_join == pandas.merge_asof(direction='backward') on arbitrary
    (key, ts) data with unique right (key, ts)."""
    import pandas as pd
    from hierarchical_to_relational_spark.operators.joins import asof_join

    l = (pd.DataFrame(lrows, columns=["k", "ts"]).astype("int64")
         .sort_values("ts").reset_index(drop=True))
    r = (pd.DataFrame(rrows, columns=["k", "ts", "v"]).astype("int64")
         .sort_values("ts").reset_index(drop=True))
    want = pd.merge_asof(l, r, on="ts", by="k", direction="backward")

    left = spark.createDataFrame(l.astype({"k": "int64", "ts": "int64"}))
    right = (spark.createDataFrame(r.astype("int64")) if len(r)
             else spark.createDataFrame([], "k long, ts long, v long"))
    got = (asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts")
           .toPandas().sort_values(["k", "ts"]).reset_index(drop=True))
    want = want.sort_values(["k", "ts"]).reset_index(drop=True)
    assert list(got["v_asof"].fillna(-1).astype("int64")) == \
        list(want["v"].fillna(-1).astype("int64"))


@given(
    pts=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 400)),
                 min_size=1, max_size=20, unique=True),
    ivs=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 400), st.integers(0, 120)),
                 min_size=0, max_size=10),
    bucket=st.sampled_from([7, 60, 150]),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_interval_join_matches_naive(spark, pts, ivs, bucket):
    """Bucketized interval join == naive inequality join for arbitrary
    points/intervals and bucket widths (incl. widths much smaller and much
    larger than intervals)."""
    from pyspark.sql import functions as F
    from hierarchical_to_relational_spark.operators.joins import interval_join

    p = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(pts)], "k long, ts long, pid long")
    iv = spark.createDataFrame(
        [(k, s, s + d, i) for i, (k, s, d) in enumerate(ivs)],
        "k long, s long, e long, iid long") if ivs else spark.createDataFrame(
        [], "k long, s long, e long, iid long")
    got = {(r["pid"], r["iid"]) for r in
           interval_join(p, iv, on=["k"], point_ts="ts", start_ts="s",
                         end_ts="e", bucket_seconds=bucket).collect()}
    want = {(r["pid"], r["iid"]) for r in
            p.join(iv, "k").where((F.col("ts") >= F.col("s")) & (F.col("ts") <= F.col("e"))).collect()}
    assert got == want


# ---------- changes_since net diff & merge-patch fold (randomized) ----------

@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(seed=st.integers(0, 10_000), split=st.floats(0.2, 0.8),
       patch_rate=st.sampled_from([0.0, 0.3]))
def test_changes_since_net_diff_property(spark, tmp_path_factory, seed, split, patch_rate):
    """For ARBITRARY streams (random seed, random checkpoint position,
    with and without patch events): applying a changes_since poll to the
    checkpointed state reproduces the current table state, and the
    current state matches the independent pandas oracle."""
    import pandas as pd
    from hierarchical_to_relational_spark import datagen
    from hierarchical_to_relational_spark.operators.merge import (
        changes_since, read_transcripts,
    )
    from hierarchical_to_relational_spark.streaming.driver import CdcPipeline
    from tests.test_cdc import _apply_diff

    tmp = tmp_path_factory.mktemp(f"csp-{seed}-{int(split*100)}-{int(patch_rate*10)}")
    spec = datagen.BinlogSpec(n_events=120, n_convs=10, seed=seed,
                              patch_rate=patch_rate)
    events = datagen.generate_events(spec)
    stream = datagen.arrival_order(events, spec)
    paths = datagen.write_binlog(stream, str(tmp / "bl"), n_segments=4)

    pipe = CdcPipeline(spark, str(tmp / "bl"), str(tmp / "t"), str(tmp / "ck"),
                       n_buckets=4, text_mode="none", compact_every=10_000)
    cut = max(1, min(len(paths) - 1, int(len(paths) * split)))
    for i, p in enumerate(paths[:cut]):
        pipe.replay_batch(p, f"a{i}")
    state1 = (read_transcripts(spark, pipe.table)
              .orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True))
    v1 = pipe.table.current_version()
    for i, p in enumerate(paths[cut:]):
        pipe.replay_batch(p, f"b{i}")

    got = _apply_diff(state1, changes_since(spark, pipe.table, v1).collect())
    want_now = (read_transcripts(spark, pipe.table)
                .orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True))
    pd.testing.assert_frame_equal(
        got.astype({"turn_idx": "int64"}), want_now.astype({"turn_idx": "int64"}),
        check_dtype=False,
    )
    oracle = datagen.expected_state(events)
    pd.testing.assert_frame_equal(
        want_now.astype({"turn_idx": "int64"}), oracle.astype({"turn_idx": "int64"}),
        check_dtype=False,
    )


@settings(max_examples=300, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.one_of(
    st.none(),
    st.text(
        alphabet=st.one_of(
            # anything, combining marks included — but no lone surrogates
            # (category Cs): a Spark string is valid UTF-8, and
            # characters() includes them by default; and nothing this
            # Python's Unicode data leaves unassigned (category Cn), where
            # the reference's NFC is undefined (see normalize_text)
            st.characters(exclude_categories=("Cs", "Cn")),
            # over-weight the hazard classes: control chars, every Unicode
            # White_Space member, and NFC-sensitive combining sequences
            st.sampled_from(list("\x00\x01\x08\x0b\x0c\x0e\x1f\x7f")
                            + list("\t\n\r \x85\xa0    "
                                   "    　")
                            + list("éàñ")),
        ),
        max_size=40,
    ),
), max_size=30))
def test_normalize_text_matches_pandas_reference(spark, texts):
    """The JVM normalize (ICU NFC, control strip, Unicode whitespace
    collapse, trim) is BIT-IDENTICAL to the pure-pandas reference body on
    adversarial input: control chars, the full Unicode White_Space set,
    combining sequences, Nones. Each example is one Spark job over a
    literal array."""
    import pandas as pd

    from hierarchical_to_relational_spark.operators.normalize import (
        _normalize_series_pandas,
        normalize_text,
    )

    arr = F.array(*map(F.lit, texts)).cast("array<string>")
    (row,) = spark.range(1).select(F.transform(arr, normalize_text).alias("n")).collect()
    want = _normalize_series_pandas(pd.Series(texts, dtype=object)).tolist()
    assert row["n"] == want


def test_normalize_text_icu_unicode_gap(spark):
    """Pins the ICU NFC behind ``normalize_text``: ICU 77 (Unicode 16)
    composes U+16D63 U+16D67 to U+16D69, which Unicode 14's
    ``unicodedata`` leaves unassigned and unchanged; null text stays null.
    Fails if ``Normalizer.compose(String, boolean)`` goes away or NFC
    switches to ``java.text.Normalizer``."""
    import pandas as pd

    from hierarchical_to_relational_spark.operators.normalize import (
        _normalize_series_pandas,
        normalize_text,
    )

    pair = "\U00016D63\U00016D67"
    (row,) = spark.range(1).select(
        normalize_text(F.lit(pair)).alias("gap"),
        normalize_text(F.lit(None).cast("string")).alias("null"),
    ).collect()
    assert row["gap"] == "\U00016D69"
    assert row["null"] is None
    assert _normalize_series_pandas(pd.Series([pair], dtype=object)).tolist() == [pair]
