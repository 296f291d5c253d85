"""Design-time schema propagation (dry run, reference O25): schemas derived
without executing must equal what the runtime stages actually produce."""

from __future__ import annotations

from pyspark.sql import types as T

from hierarchical_to_relational_spark import FlattenConfig, flatten
from hierarchical_to_relational_spark.plans import (
    plan_cdc_table,
    plan_flatten,
    plan_normalize,
    plan_pipeline,
)
from hierarchical_to_relational_spark.operators.normalize import normalize_envelopes_fused
from hierarchical_to_relational_spark.sources.binlog import envelope_schema


def _nullable(schema: T.StructType) -> list[str]:
    return schema.fieldNames()


def test_plan_flatten_matches_runtime(spark):
    df = spark.createDataFrame([(1, 2, "x")], "parent int, child int, category string")
    cfg = FlattenConfig(parent_field="parent", child_field="child",
                        path_field="category", path_alias_field="path",
                        connect_by_root="category=root")
    planned = plan_flatten(df.schema, cfg)
    actual = flatten(df, cfg).schema
    assert planned.fieldNames() == actual.fieldNames()
    assert [f.dataType for f in planned.fields] == [f.dataType for f in actual.fields]


def test_plan_normalize_matches_runtime(spark):
    env_schema = envelope_schema([T.StructField("model", T.StringType(), True)])
    env = spark.createDataFrame([], env_schema)
    rows = normalize_envelopes_fused(env, text_mode="none")
    planned = plan_normalize(env_schema)
    assert rows.schema.fieldNames() == planned.fieldNames()
    assert [f.dataType for f in rows.schema.fields] == [f.dataType for f in planned.fields]
    # tombstone rows carry a null _commit_ts
    assert rows.schema["_commit_ts"].nullable and planned["_commit_ts"].nullable


def test_plan_pipeline_surface():
    plans = plan_pipeline(envelope_schema())
    assert set(plans) == {"batch", "table", "read"}
    assert plans["read"].fieldNames() == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert plans["table"].fieldNames()[-3:] == ["_lsn", "_commit_ts", "_op"]
    assert plan_cdc_table(envelope_schema()).fieldNames() == plans["table"].fieldNames()


def test_macro_deferred_validation():
    """Reference @Macro semantics (HierarchyConfig.java:121-125): at design
    time, validation of macro-valued fields is deferred; at runtime an
    unresolved macro is a failure; resolve_macros substitutes and the
    resolved config validates normally."""
    import pytest
    from pyspark.sql import types as T
    from hierarchical_to_relational_spark.config import ConfigValidationError, FlattenConfig

    schema = T.StructType([
        T.StructField("p", T.StringType(), True),
        T.StructField("c", T.StringType(), True),
    ])
    cfg = FlattenConfig(parent_field="${parentCol}", child_field="c",
                        connect_by_root="${rootSpec}")
    assert set(cfg.macro_fields) == {"parent_field", "connect_by_root"}

    # design time: macro fields deferred, macro-free fields still checked
    cfg.validate(schema, runtime=False)
    bad = FlattenConfig(parent_field="${parentCol}", child_field="missing")
    with pytest.raises(ConfigValidationError, match="child_field 'missing'"):
        bad.validate(schema, runtime=False)

    # design-time output schema is unknown with macros
    assert cfg.output_schema(schema) is None

    # runtime: unresolved macros are a hard failure
    with pytest.raises(ConfigValidationError, match="unresolved runtime macros"):
        cfg.validate(schema)

    # substitution resolves; normal validation applies afterwards
    resolved = cfg.resolve_macros({"parentCol": "p", "rootSpec": "p=RootP"})
    resolved.validate(schema)
    assert resolved.connect_by_root_map == {"p": "RootP"}
    assert resolved.output_schema(schema).fieldNames()[-1] == "RootP"
