"""Schema-only dry runs for each engine stage (no Spark jobs)."""

from __future__ import annotations

from pyspark.sql import types as T

from hierarchical_to_relational_spark.config import FlattenConfig
from hierarchical_to_relational_spark.operators.merge import table_schema_for
from hierarchical_to_relational_spark.operators.normalize import META_LSN, META_OP, META_TS, turn_fields


def plan_flatten(input_schema: T.StructType, cfg: FlattenConfig) -> T.StructType | None:
    """Validate + derive the flatten stage's output schema
    (reference O21/O25: input + level/bottom/path/root columns).

    This is the DESIGN-TIME analyze (reference configurePipeline):
    validation of ``${...}`` macro-valued fields is deferred, and with
    macros pending the output schema is unknown → None (the reference
    returns a null schema). flatten() itself validates with runtime=True
    and rejects unresolved macros at execution."""
    cfg.validate(input_schema, runtime=False)
    return cfg.output_schema(input_schema)


def plan_normalize(envelope_schema: T.StructType) -> T.StructType:
    """Schema of the one frame ``normalize_envelopes_fused`` emits for a
    given envelope schema: upsert, patch and tombstone rows together —
    additive turn fields flow through. ``_commit_ts`` is nullable because
    tombstone rows carry null."""
    return T.StructType(
        [T.StructField("conv_id", T.StringType(), False)]
        + turn_fields(envelope_schema)
        + [
            T.StructField(META_LSN, T.LongType(), False),
            T.StructField(META_TS, T.TimestampType(), True),
            T.StructField(META_OP, T.StringType(), False),
        ]
    )


def plan_cdc_table(envelope_schema: T.StructType) -> T.StructType:
    """Physical target-table schema for a given envelope schema (user
    columns + merge metadata), as the streaming driver will create it."""
    user_fields = [f for f in plan_normalize(envelope_schema).fields
                   if f.name not in (META_LSN, META_TS, META_OP)]
    return table_schema_for(user_fields)


def plan_pipeline(envelope_schema: T.StructType) -> dict[str, T.StructType]:
    """End-to-end schema propagation for the CDC pipeline: every stage
    boundary, resolvable before any data moves."""
    table = plan_cdc_table(envelope_schema)
    read = T.StructType([f for f in table.fields if not f.name.startswith("_")])
    return {"batch": plan_normalize(envelope_schema), "table": table, "read": read}
