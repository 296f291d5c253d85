"""Similarity search over embedding columns: brute-force cosine top-k
(exact baseline) and an LSH-bucketed approximate variant (the scale path).

Brute force is a blocked cross join + per-query top-k — exact, O(Q×N),
fine when Q is small (re-ranking, evaluation). The scale path hashes
vectors into random-hyperplane sign buckets (hyperplanes derived
deterministically from xxhash64 of (plane, dim) — replay-stable, no RNG
state) and only scores within matching buckets: with p planes the
candidate set shrinks ~2^p while preserving high-cosine neighbors with
known probability. All arithmetic is JVM higher-order functions; no
Python on the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from hierarchical_to_relational_spark.functions import vecalg


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors per query (query_id, neighbor_id, rank).

    Deterministic: ties broken by neighbor id. The corpus side is the big
    side; queries are broadcast (small dim table pattern)."""
    dim = vecalg.vec_dim(corpus, vec_col)
    # norms staged per SIDE so each computes once per row, not once per
    # pair inside the cosine (r6); when-guard keeps cosine's NULL-for-
    # zero-norm semantics and the double math is the identical
    # sqrt(sq_norm)·sqrt(sq_norm) product — values bit-equal to cosine()
    def _side(df, out_id):
        v = F.col(vec_col).cast("array<double>")
        return df.select(
            F.col(id_col).alias(out_id), v.alias(f"_{out_id}_v"),
            F.sqrt(vecalg.sq_norm(v, dim)).alias(f"_{out_id}_n"),
        )
    q = _side(queries, "query_id")
    c = _side(corpus, "neighbor_id")
    denom = F.col("_query_id_n") * F.col("_neighbor_id_n")
    dot = vecalg.dot(F.col("_query_id_v"), F.col("_neighbor_id_v"), dim=dim)
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.when(denom > 0, dot / denom).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))
    )


def hyperplane_bucket(vec_col, n_planes: int = 8, seed: int = 0, dim: int | None = None):
    """Sign-bucket id in [0, 2^n_planes): bit j = sign of <v, h_j>, where
    h_j[d] = ±1 from xxhash64(seed, j, d) — deterministic pseudo-random
    hyperplanes, identical across runs and cluster sizes.

    With ``dim`` the per-plane dot unrolls into a flat codegen-able sum
    whose ±1 signs are literal-folded by Catalyst (xxhash64 of literals);
    rows of any other size fall back to the dynamic HOF fold — identical
    values either way (same fold order, same per-dim sign formula)."""
    v = vec_col

    def _plane_dot(j: int):
        dyn = F.aggregate(
            F.zip_with(
                v,
                F.transform(F.sequence(F.lit(0), F.size(v) - 1),
                            lambda d: (F.pmod(F.xxhash64(F.lit(seed), F.lit(j), d), F.lit(2)) * 2 - 1).cast("double")),
                lambda x, s: x * s,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        if dim is None:
            return dyn
        flat = F.lit(0.0)
        for d in range(dim):
            sign = (F.pmod(F.xxhash64(F.lit(seed), F.lit(j), F.lit(d)), F.lit(2)) * 2 - 1).cast("double")
            flat = flat + v[d] * sign
        return F.when(F.size(v) == dim, flat).otherwise(dyn)

    bits = []
    for j in range(n_planes):
        # ±1 per dimension via parity of a per-(plane, dim) hash
        dot = _plane_dot(j)
        bits.append(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(2 ** j))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    seed: int = 0,
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's
    hyperplane sign bucket. Recall < 1.0 by construction; used as the
    candidate generator at scale.

    ``probe_hamming`` is the recall/cost knob (multi-probe LSH): 0 probes
    the exact bucket only; 1 additionally probes every bucket one bit-flip
    away (n_planes+1 buckets per query — candidates grow ~linearly in
    n_planes while recall recovers the neighbors that fell just across one
    hyperplane, the dominant LSH failure mode)."""
    dim = vecalg.vec_dim(corpus, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        F.sqrt(vecalg.sq_norm(F.col(vec_col).cast("array<double>"), dim)).alias("_qn"),
    ).withColumn("bucket", hyperplane_bucket(F.col("qv"), n_planes, seed, dim=dim))
    if probe_hamming >= 1:
        probes = F.array(F.col("bucket"), *[
            F.col("bucket").bitwiseXOR(F.lit(2 ** j)) for j in range(n_planes)
        ])
        q = q.withColumn("bucket", F.explode(probes))
    # norm staged per corpus row (not per candidate pair inside cosine);
    # same sqrt(sq_norm) product ⇒ values bit-equal to cosine() (r6)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        F.sqrt(vecalg.sq_norm(F.col(vec_col).cast("array<double>"), dim)).alias("_cn"),
    ).withColumn("bucket", hyperplane_bucket(F.col("cv"), n_planes, seed, dim=dim))
    denom = F.col("_qn") * F.col("_cn")
    dot = vecalg.dot(F.col("qv"), F.col("cv"), dim=dim)
    scored = (
        c.join(F.broadcast(q), (F.col("query_id") != F.col("neighbor_id")) & (q["bucket"] == c["bucket"]))
        .select("query_id", "neighbor_id", F.when(denom > 0, dot / denom).alias("cos"))
    )
    if probe_hamming >= 1:
        # a neighbor can match several probe buckets; single-probe pairs
        # are already unique — don't pay the dedup exchange there
        scored = scored.distinct()
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))
    )


# ---------- IVF (inverted-file) ANN ----------

def _unit(v, dim: int | None = None):
    """Unit-normalized copy of an array column (null for zero/NULL vectors).

    NOTE (perf): as a single inline expression the norm subtree is embedded
    inside the division lambda, and the interpreted HOF path re-evaluates
    it per ELEMENT — O(d²) per row (measured 345 µs/row at d=64, the
    round-6 ivf_topk wall-clock sink). Hot paths use ``_unit_select``,
    which stages the norm as a column so it computes once per row and the
    division unrolls into codegen-able arithmetic."""
    n = F.sqrt(vecalg.sq_norm(v, dim))
    if dim is None:
        return F.when(n > 0, F.transform(v, lambda x: x / n))
    flat = F.array(*[v[i] / n for i in range(dim)])
    div = F.when(F.size(v) == dim, flat).otherwise(F.transform(v, lambda x: x / n))
    return F.when(n > 0, div)


def _unit_select(df: DataFrame, id_col: str, id_alias: str, vec_col: str,
                 v_alias: str, dim: int | None = None) -> DataFrame:
    """``(id_alias, v_alias)`` projection with unit-normalized vectors;
    NULL and zero-norm vectors are DROPPED (the rows ``_unit(...)`` would
    have mapped to NULL — callers must not re-filter on ``v IS NOT NULL``:
    a filter over the normalized column gets pushdown-inlined through both
    projections into one giant interpreted per-row predicate, the exact
    explosion this helper exists to avoid).

    The norm is materialized as an intermediate column between two stacked
    projections (Catalyst keeps them separate — the norm alias is non-cheap
    and referenced d times), so it is computed ONCE per row; with ``dim``
    the square-sum and the division both unroll into flat codegen-able
    arithmetic. Values are bit-identical to ``_unit`` (same fold order,
    same per-element division). The null/zero filter sits BELOW the
    normalization on the raw column (cheap O(d) dynamic fold — exactly the
    rows where sum(x²) > 0 fails, including NULL and NaN, match the old
    ``v IS NOT NULL`` post-filter)."""
    raw = df.select(F.col(id_col).alias(id_alias),
                    F.col(vec_col).cast("array<double>").alias("_raw"))
    raw = raw.where(vecalg.sq_norm(F.col("_raw")) > 0)
    staged = raw.select(
        id_alias, "_raw",
        F.sqrt(vecalg.sq_norm(F.col("_raw"), dim)).alias("_n"),
    )
    n = F.col("_n")
    dyn = F.transform(F.col("_raw"), lambda x: x / n)
    if dim is None:
        div = dyn
    else:
        flat = F.array(*[F.col("_raw")[i] / n for i in range(dim)])
        div = F.when(F.size(F.col("_raw")) == dim, flat).otherwise(dyn)
    return staged.select(id_alias, F.when(n > 0, div).alias(v_alias))


def ivf_centroid_list(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_iters: int = 4,
    seed: int = 0,
    train_sample: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Deterministic spherical k-means centroids as a driver-local list
    ``[(cell, unit_vector), ...]``.

    **Training scans a sample, not the corpus.** Lloyd iterations run over
    the ``train_sample`` (default ``100 × n_cells``) corpus vectors with
    the smallest ``xxhash64(seed, id)`` — a replay-stable pseudo-random
    sample (no RNG state, same result at any parallelism; per-partition
    top-N + merge, so selecting it is one cheap corpus pass). At
    10^10-vector scale the alternative — n_iters full-corpus
    assignment+recompute shuffles before the index exists — would dominate
    the build, while centroid quality from a ~100×n_cells sample is
    statistically indistinguishable (standard k-means subsampling). The
    ONE full-corpus pass is the inverted-file assignment the caller
    (``ivf_topk``) performs with the finished centroids.

    Init: the ``n_cells`` smallest-hash vectors — the head of the same
    sample.

    Lloyd itself runs DRIVER-LOCAL on the collected sample (numpy):
    centroids are metadata, and the sample is metadata-scale
    (train_sample × dim doubles — e.g. 4096 cells × 100 × 1024 dims ≈
    3 GB worst case, tune ``train_sample`` down if that pinches). One
    Spark action selects the sample; zero cluster actions per iteration —
    the previous all-Spark Lloyd paid one assignment shuffle + one
    (cell, dim) aggregation + one centroid collect per iteration, pure
    driver-constant overhead at any scale since iteration input is the
    bounded sample either way. (Spark ML's KMeans and FAISS train the
    same way: sample → local Lloyd → broadcast centroids.)"""
    import numpy as np

    if train_sample is None:
        train_sample = 100 * n_cells
    if train_sample < n_cells:
        raise ValueError(f"train_sample ({train_sample}) must be >= n_cells ({n_cells})")
    dim0 = vecalg.vec_dim(corpus, vec_col)  # picks the codegen unroll; guarded
    sample = (
        _unit_select(corpus, id_col, "_id", vec_col, "v", dim=dim0)
        .withColumn("_h", F.xxhash64(F.lit(seed), F.col("_id")))
        .orderBy("_h", "_id")  # _id tiebreak: stable under hash collisions
        .limit(train_sample)
        .select("v")
        .collect()  # the ONE training-stage corpus pass (per-partition top-N + merge)
    )
    X = np.array([r["v"] for r in sample], dtype=np.float64)  # unit rows, hash-sorted
    # (cell_id, vector) pairs; ids stay stable as empty/degenerate cells drop
    cents: list[tuple[int, np.ndarray]] = [(i, X[i].copy()) for i in range(min(n_cells, len(X)))]
    for _ in range(n_iters):
        if not cents:
            break
        C = np.stack([c for _, c in cents])
        # nearest cell by max dot (unit vectors ⇒ max cosine); np.argmax
        # takes the FIRST max — the lowest cell id, matching assign_cell's
        # struct-max (d, -cell) tiebreak
        assign = np.argmax(X @ C.T, axis=1)
        nxt: list[tuple[int, np.ndarray]] = []
        for pos, (cell_id, _) in enumerate(cents):
            members = X[assign == pos]
            if len(members) == 0:
                continue  # empty cell: k-means proceeds with fewer cells
            m = members.mean(axis=0)
            n = float(np.sqrt((m * m).sum()))
            if n > 0:  # antipodal members can cancel to a zero-norm mean
                nxt.append((cell_id, m / n))
        cents = nxt
    return [(cell_id, [float(x) for x in vec]) for cell_id, vec in cents]


def _assign_cells(v: DataFrame, cent: DataFrame, dim: int | None = None) -> DataFrame:
    """(id, v) × broadcast(centroids) → nearest cell per vector (max dot on
    unit vectors == max cosine), pure JVM: map-side broadcast join + one
    max_by hash agg (partial combine before the exchange). The contract
    path — plan stays 100 % whole-stage-codegen-able, no Python.

    (A literal-centroid argmax expression was tried and rejected: baking
    n_cells × dim literals into the plan makes Catalyst compile time, not
    execution, the bottleneck — interpreted higher-order funcs over a
    multi-thousand-node tree.)"""
    j = v.crossJoin(F.broadcast(cent)).withColumn("_d", vecalg.dot(F.col("v"), F.col("cvec"), dim=dim))
    packed = j.groupBy("_id").agg(
        F.max_by(F.struct("cell", "v"), F.struct(F.col("_d"), (-F.col("cell")).alias("_t"))).alias("_r")
    )
    return packed.select("_id", F.col("_r.cell").alias("cell"), F.col("_r.v").alias("v"))


def _assign_cells_arrow(corpus: DataFrame, cents: list[tuple[int, list[float]]],
                        id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """MAP-ONLY unit-normalization + cell assignment over RAW vectors:
    vectorized Arrow batches × one numpy dgemm per batch (argmax of
    V @ Cᵀ). Zero shuffle — at 10^10-corpus scale this removes the
    full-corpus exchange `_assign_cells` pays for its hash agg, at the
    cost of an ArrowEvalPython stage (vectorized, no per-row Python).

    Takes the raw corpus (not pre-normalized vectors) and returns
    (_id, cell, v): round-6 change — a JVM-side normalized input column
    gets pushdown/collapse-inlined into the Python-input projection as one
    giant per-row expression with the norm re-evaluated per element
    (O(d²), measured 224 s on a 20k corpus), while computing the norm in
    numpy with an explicit per-dimension left-assoc fold is bit-identical
    to the JVM fold and one dgemm away from the cell id. Null/zero-norm
    rows are dropped below the UDF by the same cheap raw-column filter
    ``_unit_select`` uses. Tiebreak matches _assign_cells: np.argmax takes
    the first max = lowest cell id (cents are in ascending cell order)."""
    import numpy as np
    import pandas as pd

    C = np.array([c for _, c in cents], dtype=np.float64)
    ids = np.array([i for i, _ in cents], dtype=np.int32)

    def _norm_assign(vs):
        if len(vs) == 0:
            return pd.DataFrame({"cell": pd.Series([], dtype="int32"),
                                 "v": pd.Series([], dtype="object")})
        X = np.array(vs.tolist(), dtype=np.float64)
        # exact left-assoc fold across dims — bit-identical to the JVM
        # sum-of-squares fold ((0+x0²)+x1²)+... (each IEEE op is exact-
        # ordered; no pairwise-summation reordering)
        acc = np.zeros(len(X), dtype=np.float64)
        for d in range(X.shape[1]):
            acc = acc + X[:, d] * X[:, d]
        n = np.sqrt(acc)
        V = X / n[:, None]
        cells = ids[np.argmax(V @ C.T, axis=1)]
        return pd.DataFrame({"cell": cells, "v": list(V)})

    _norm_assign.__annotations__ = {"vs": pd.Series, "return": pd.DataFrame}
    norm_assign = F.pandas_udf(_norm_assign, "cell int, v array<double>")
    raw = corpus.select(F.col(id_col).alias("_id"),
                        F.col(vec_col).cast("array<double>").alias("_raw"))
    raw = raw.where(vecalg.sq_norm(F.col("_raw")) > 0)
    out = raw.select("_id", norm_assign(F.col("_raw")).alias("_r"))
    return out.select("_id", F.col("_r.cell").alias("cell"), F.col("_r.v").alias("v"))


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    n_iters: int = 4,
    seed: int = 0,
    train_sample: int | None = None,
    assign: str = "join",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are indexed into ``n_cells``
    k-means cells (centroids trained on a deterministic sample — see
    ivf_centroid_list); each query scores only the ``n_probe`` nearest
    cells. Candidate work drops ~n_probe/n_cells vs brute force with a
    measured recall/cost knob (raise n_probe → recall→1, cost→brute
    force). Cosine on unit vectors, ties broken by neighbor id.

    ``assign``: the corpus indexing strategy — ``"join"`` (default,
    100 % JVM: broadcast join + max_by, one corpus exchange) or
    ``"arrow"`` (map-only vectorized numpy argmax, ZERO corpus shuffle —
    the 10^10-scale path; same result — ``test_ivf_recall_contract``
    pins the two equal)."""
    if assign not in ("join", "arrow"):  # before any expensive work
        raise ValueError(f"unknown assign strategy {assign!r} (join | arrow)")
    cents = ivf_centroid_list(corpus, id_col, vec_col, n_cells, n_iters, seed, train_sample)
    if not cents:  # empty/degenerate corpus: exact empty result, same schema
        return brute_force_topk(queries, corpus, id_col, vec_col, k)
    dim = len(cents[0][1])
    cent = corpus.sparkSession.createDataFrame(cents, "cell int, cvec array<double>")
    if assign == "join":
        c = _unit_select(corpus, id_col, "_id", vec_col, "v", dim=dim)
        c_cells = _assign_cells(c, cent, dim=dim)
    else:
        c_cells = _assign_cells_arrow(corpus, cents, id_col, vec_col)
    c_cells = c_cells.select(F.col("_id").alias("neighbor_id"), "cell", F.col("v").alias("cv"))
    q = _unit_select(queries, id_col, "query_id", vec_col, "qv", dim=dim)
    qc = q.crossJoin(F.broadcast(cent)).withColumn("_d", vecalg.dot(F.col("qv"), F.col("cvec"), dim=dim))
    wq = Window.partitionBy("query_id").orderBy(F.col("_d").desc(), F.col("cell"))
    probes = (
        qc.withColumn("_r", F.row_number().over(wq))
        .where(F.col("_r") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    scored = (
        c_cells.join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", vecalg.dot(F.col("qv"), F.col("cv"), dim=dim).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))
    )


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int) -> float:
    """Measured recall@k: |approx∩exact| / |exact| over (query_id,
    neighbor_id) pairs with rank ≤ k. The contract number an ANN variant
    must publish against brute_force_topk."""
    a = approx.where(F.col("rank") <= k).select("query_id", "neighbor_id")
    e = exact.where(F.col("rank") <= k).select("query_id", "neighbor_id")
    denom = e.count()
    return (a.intersect(e).count() / denom) if denom else 1.0
