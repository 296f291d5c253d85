"""Local stand-in for the driver's correctness gate: run each
__spark_entry__.queries() entry on Spark and its oracle_sql() on DuckDB at
a given sf dir, compare row count, schema width, and order-insensitive
values (exact for ints/strings/bools/timestamps, exact-or-1e-12 for floats,
reported separately).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Python workers start from the environment, not from this sys.path: give
# them the repo too, before the session starts, so the gate runs from any cwd
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, float):
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def rows_normalized(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(repr(x) for x in t))


def compare(name, spark_df, con, sql):
    t0 = time.time()
    s_rows = spark_df.collect()
    s_cols = [c.lower() for c in spark_df.columns]
    t_spark = time.time() - t0
    t0 = time.time()
    rel = con.sql(sql)
    d_cols = [c.lower() for c in rel.columns]
    # Fetch via Arrow, not fetchall(): the driver's gate serializes DuckDB
    # results through Arrow, where e.g. a windowed SUM's HUGEINT surfaces as
    # decimal128 (not a Python int). fetchall() hides that type drift; this
    # path reproduces it so a local OK implies a driver hash_match.
    tbl = rel.arrow()
    d_rows = [tuple(d[c] for c in tbl.column_names) for d in tbl.to_pylist()]
    t_duck = time.time() - t0

    issues = []
    if sorted(s_cols) != sorted(d_cols):
        issues.append(f"schema: spark={sorted(s_cols)} duck={sorted(d_cols)}")
    if len(s_rows) != len(d_rows):
        issues.append(f"rowcount: spark={len(s_rows)} duck={len(d_rows)}")
    if not issues:
        sc, sv = rows_normalized(s_cols, s_rows)
        dc, dv = rows_normalized(d_cols, d_rows)
        n_exact = n_close = n_diff = 0
        first_diff = None
        for a, b in zip(sv, dv):
            if a == b:
                n_exact += 1
                continue
            close = len(a) == len(b) and all(
                (x == y)
                or (
                    isinstance(x, float)
                    and isinstance(y, float)
                    and (math.isclose(x, y, rel_tol=1e-12, abs_tol=1e-12))
                )
                for x, y in zip(a, b)
            )
            if close:
                n_close += 1
            else:
                n_diff += 1
                if first_diff is None:
                    first_diff = (a, b)
        if n_diff:
            issues.append(f"values: {n_diff} rows differ; first: {first_diff}")
        elif n_close:
            issues.append(f"FLOAT-ONLY: {n_close} rows differ within 1e-12 (hash would MISMATCH)")
    status = "OK" if not issues else "FAIL"
    print(f"{status:5s} {name:24s} rows={len(s_rows):7d} spark={t_spark:6.1f}s duck={t_duck:5.1f}s "
          + ("" if not issues else " | ".join(issues)[:400]))
    return not issues


def connect(sf_dir):
    """DuckDB connection with one view per sf table present in ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as E
    from hierarchical_to_relational_spark.session import get_spark

    spark = get_spark(master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
                      extra_conf={"spark.driver.memory": "16g"})
    con = connect(sf_dir)

    qs, os_ = E.queries(), E.oracle_sql()
    ok = bad = no_oracle = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in os_:
            df = fn(spark, sf_dir)
            n = df.count()
            print(f"ROWS  {name:24s} rows={n:7d} (no oracle — rows-only check)")
            no_oracle += 1
            continue
        try:
            if compare(name, fn(spark, sf_dir), con, os_[name]):
                ok += 1
            else:
                bad += 1
        except Exception as e:
            bad += 1
            print(f"ERROR {name:24s} {type(e).__name__}: {str(e)[:300]}")
    print(f"\n{ok} ok, {bad} failing, {no_oracle} rows-only")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
