"""Physical-plan assertions: the plans Catalyst produces for our operators
must have the properties the 100 TB design depends on — filter/column
pushdown into the parquet scan, broadcast joins for dimension tables,
partial (map-side) aggregation for the LWW core, and no Python (BatchEval)
on any hot path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import __spark_entry__ as E
from hierarchical_to_relational_spark.operators.merge import lww_latest

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_and_column_pushdown(spark):
    """A filtered 2-column projection must push both the predicate and the
    read schema into the parquet scan."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.where(F.col("l_shipdate") < "1996-01-01").select("l_orderkey", "l_quantity")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double" in plan


def test_dimension_joins_are_broadcast(spark):
    plan = plan_of(E.queries()["join_region_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lww_uses_two_phase_aggregation(spark):
    """The LWW core must be a two-phase aggregation with map-side partial
    combine (the skew/shuffle-volume defence): a partial_max_by BEFORE the
    exchange, exactly one exchange, and no Window operator. (Spark plans
    max_by with a struct buffer as SortAggregate — the partial combine is
    the property that matters, not the agg's internal sort.)"""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    df = lww_latest(ev, ["user_id", "event_type"], ["ts", "event_id"])
    plan = plan_of(df)
    assert "partial_max_by" in plan  # map-side combine before the shuffle
    assert plan.count("Exchange") == 1  # one shuffle, of partials only
    assert "Window" not in plan


def test_no_python_eval_on_hot_paths(spark):
    """Every contract query must stay JVM-side: no row-at-a-time Python
    (BatchEvalPython) anywhere; Arrow stages (ArrowEvalPython) only where
    a vectorized UDF is deliberate (none in the contract queries)."""
    for name, fn in E.queries().items():
        plan = plan_of(fn(spark, SF))
        assert "BatchEvalPython" not in plan, f"{name} has row-at-a-time Python"
        assert "ArrowEvalPython" not in plan, f"{name} unexpectedly uses a Python UDF"


def test_flatten_level_join_is_broadcast_when_hinted(spark):
    """With broadcast_input, every per-level expansion join is a broadcast
    hash join (no shuffle per level). checkpoint_every is raised so the
    join survives in the returned plan instead of being truncated by the
    per-level localCheckpoint."""
    from hierarchical_to_relational_spark import FlattenConfig, flatten

    df = spark.createDataFrame([(1, 2), (2, 3)], "parent int, child int")
    out = flatten(
        df,
        FlattenConfig(parent_field="parent", child_field="child",
                      broadcast_input=True, checkpoint_every=1000),
    )
    out.collect()  # finalize the adaptive plan
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_whole_stage_codegen_on_scan_pipeline(spark):
    """The scan→project→aggregate pipeline runs inside whole-stage codegen
    stages (rendered as '*(n)' markers in the final adaptive plan)."""
    df = E.queries()["agg_pricing"](spark, SF)
    df.collect()  # finalize the adaptive plan
    plan = plan_of(df)
    assert "*(" in plan and "isFinalPlan=true" in plan


PY_WORKER_CALLS = ("pandas_udf", "udtf", "mapInPandas", "mapInArrow",
                   "applyInPandas", "applyInArrow")


def test_python_worker_call_sites_are_pinned():
    """Every use in the package of an API that starts Python workers
    (vectorized UDFs, UDTFs, map/apply-in-Pandas/Arrow, their stateful
    forms; called or as a bare decorator) is one of three known sites. A
    new one must be added here on purpose; the plan check above only sees
    the contract queries."""
    import ast

    sites = set()

    def visit(node, scope):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            scope = scope + (node.name,)
        name = getattr(node, "attr", None) or getattr(node, "id", None)
        if isinstance(node, (ast.Name, ast.Attribute)) and name.startswith(PY_WORKER_CALLS):
            sites.add(".".join(scope))
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    pkg = Path(__file__).resolve().parents[1] / "hierarchical_to_relational_spark"
    for path in sorted(pkg.rglob("*.py")):
        visit(ast.parse(path.read_text()), (path.stem,))
    assert sites == {
        "similarity._assign_cells_arrow",
        "multimodal.decode_and_featurize",
        "snapshot_table.SnapshotTable._attach_bloom_fold",
    }


def test_snapshot_log_writers_are_pinned():
    """Only the one snapshot commit (``_commit``) and the two writers with
    no base snapshot to state a change against (``create``: v0;
    ``create_branch``: a copy into another log) write a snapshot, so no
    commit path can bypass the rule ``_commit`` keeps."""
    import ast

    sites = set()

    def visit(node, scope):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            scope = scope + (node.name,)
        if isinstance(node, ast.Attribute) and node.attr == "_write_snapshot":
            sites.add(".".join(scope))
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    pkg = Path(__file__).resolve().parents[1] / "hierarchical_to_relational_spark"
    for path in sorted(pkg.rglob("*.py")):
        visit(ast.parse(path.read_text()), (path.stem,))
    assert sites == {
        "snapshot_table.SnapshotTable._commit",
        "snapshot_table.SnapshotTable.create",
        "snapshot_table.SnapshotTable.create_branch",
    }
