"""Extra micro-benchmarks for the optimization round (guide §1.4): isolate
expensive queries / operator stages with the noop sink so computation is
timed without the bench harness around it. NOT part of the frozen bench.py
contract — numbers here feed OPTIMIZATION_r06.md only.

Usage: python bench_extra.py [target ...]
Targets: ivf_stages lsh_stages queries cdc_batch
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

import bench as B
import __spark_entry__ as E
from hierarchical_to_relational_spark.session import get_spark


def _noop(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def _t2(build):
    """min-of-2 with fresh plan per pass (bench.py methodology)."""
    best = None
    for _ in range(2):
        df = build()
        dt = _noop(df)
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def ivf_stages(spark, sf_dir) -> dict:
    from hierarchical_to_relational_spark.operators import similarity as sim

    emb = E._t(spark, sf_dir, "embeddings")
    out = {}
    # stage A: corpus scan + unit-normalization only
    def unit_only():
        return emb.select(
            F.col("vec_id").alias("_id"),
            sim._unit(F.col("embedding").cast("array<double>")).alias("v"),
        ).where(F.col("v").isNotNull())
    out["unit_only"] = _t2(unit_only)

    # stage B: + cell assignment (join strategy)
    cents = sim.ivf_centroid_list(emb, "vec_id", "embedding", 16, 4, 0, None)
    cent = spark.createDataFrame(cents, "cell int, cvec array<double>")
    def assign_join():
        return sim._assign_cells(unit_only(), cent)
    out["assign_join"] = _t2(assign_join)

    def assign_arrow():
        return sim._assign_cells_arrow(unit_only(), cents)
    out["assign_arrow"] = _t2(assign_arrow)

    # full operator
    q = emb.where(F.col("vec_id") < 5)
    out["full_join"] = _t2(lambda: sim.ivf_topk(q, emb, k=10, n_cells=16, n_probe=6))
    out["full_arrow"] = _t2(lambda: sim.ivf_topk(q, emb, k=10, n_cells=16, n_probe=6, assign="arrow"))
    # training time (driver-side, runs at construction in bench)
    t0 = time.monotonic()
    sim.ivf_centroid_list(emb, "vec_id", "embedding", 16, 4, 0, None)
    out["centroid_train_s"] = round(time.monotonic() - t0, 3)
    return out


def lsh_stages(spark, sf_dir) -> dict:
    from hierarchical_to_relational_spark.operators import similarity as sim

    emb = E._t(spark, sf_dir, "embeddings")
    out = {}
    def bucket_only():
        return emb.select(
            "vec_id",
            sim.hyperplane_bucket(F.col("embedding").cast("array<double>"), 4, 0).alias("b"),
        )
    out["bucket_only"] = _t2(bucket_only)
    q = emb.where(F.col("vec_id") < 5)
    out["full"] = _t2(lambda: sim.lsh_topk(q, emb, k=10, n_planes=4, probe_hamming=1))
    return out


def queries(spark, sf_dir, names) -> dict:
    qs = {**E.queries(), **B._pure_ops()}
    return {n: _t2(lambda n=n: qs[n](spark, sf_dir)) for n in names}


def cdc_batch(spark, sf_dir) -> dict:
    """Split one replay batch into normalize vs full-apply cost."""
    import tempfile
    from hierarchical_to_relational_spark.streaming.driver import CdcPipeline

    n_events = int(os.environ.get("BENCH_CDC_EVENTS", "2000000"))
    binlog, physical = B._binlog_dir(n_events, max(n_events // 100, 10))
    segs = sorted(os.path.join(binlog, p) for p in os.listdir(binlog) if p.endswith(".parquet"))
    work = tempfile.mkdtemp(prefix="h2r-bx-")
    from hierarchical_to_relational_spark.sources import binlog as binlog_source
    from hierarchical_to_relational_spark.operators.normalize import normalize_envelopes_fused

    pipe = CdcPipeline(spark, binlog, os.path.join(work, "t"), os.path.join(work, "ck"),
                       n_buckets=32, text_mode="arrow")
    per = max(len(segs) // 8, 1)
    # warmup
    pipe.replay_batch(segs[:per], "w1")
    pipe.replay_batch(segs[per:2 * per], "w2")
    env = binlog_source.read_binlog(spark, segs[2 * per:3 * per], pipe.envelope_schema)
    out = {}
    for mode in ("none", "arrow"):
        rows = normalize_envelopes_fused(env, text_mode=mode)
        out[f"normalize_{mode}"] = _t2(lambda r=rows: r)
    t0 = time.monotonic()
    pipe.replay_batch(segs[2 * per:3 * per], "b3")
    out["full_batch_s"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    pipe.replay_batch(segs[3 * per:4 * per], "b4")
    out["full_batch_s_2"] = round(time.monotonic() - t0, 3)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="h2r-bench-extra", master=f"local[{cpus}]")
    targets = sys.argv[1:] or ["ivf_stages"]
    res: dict = {"sf_dir": sf_dir}
    for t in targets:
        if t == "ivf_stages":
            res["ivf_stages"] = ivf_stages(spark, sf_dir)
        elif t == "lsh_stages":
            res["lsh_stages"] = lsh_stages(spark, sf_dir)
        elif t == "cdc_batch":
            res["cdc_batch"] = cdc_batch(spark, sf_dir)
        elif t.startswith("q:"):
            res.setdefault("queries", {}).update(queries(spark, sf_dir, t[2:].split(",")))
        else:
            raise SystemExit(f"unknown target {t}")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
