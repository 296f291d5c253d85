"""Normalize stage: nested CDC envelopes → flat relational turn rows.

This is the engine's echo of the reference's hierarchical→relational
flattening (HierarchyFlattener.java:127-351): a nested structure (change
envelopes carrying arrays of turn structs) becomes flat relational rows,
purely via Column algebra — ``explode`` + struct projection, zero per-row
Python (the reference's zero-UDF discipline, SURVEY.md §2.1). There is one
form, ``normalize_envelopes_fused``: upsert, patch and tombstone rows come
out of a single projection over one scan of the envelopes. The optional
text-normalization step is a JVM Column expression too, so the CDC write
path runs no Python at all.

Turn-struct columns are discovered from the schema, so additively-evolved
envelopes (extra turn fields, FIXTURES.md F6b) flow through without code
changes — the schema-evolution path (operators.merge) widens the target
before applying them.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

META_LSN = "_lsn"
META_TS = "_commit_ts"
META_OP = "_op"
META_BUCKET = "_bucket"

# the C0 controls other than \t \n \r, deleted by one translate() pass
_C0_STRIP = "".join(chr(c) for c in range(0x20) if chr(c) not in "\t\n\r")


def _normalize_series_pandas(texts: pd.Series) -> pd.Series:
    """Pure-pandas reference body (the pre-round-5 implementation), kept
    as the parity oracle for the fuzz test."""
    import unicodedata

    s = texts.map(lambda t: unicodedata.normalize("NFC", t) if t is not None else None)
    s = s.str.replace(r"[\x00-\x08\x0b\x0c\x0e-\x1f]", "", regex=True)
    return s.str.replace(r"\s+", " ", regex=True).str.strip()


def normalize_text(col):
    r"""Full text cleanup as one JVM Column expression: Unicode NFC, strip
    control chars, collapse whitespace, trim. Equal to
    ``_normalize_series_pandas`` (fuzz-tested in test_property_based).

    NFC comes from ICU4J, which Spark ships, through ``reflect``; the null
    guard keeps tombstone rows' null text null (ICU throws on null). ICU
    77 implements Unicode 16, while Python's ``unicodedata`` may be older
    (Python 3.11: Unicode 14). The two can differ on sequences of code
    points the older version leaves unassigned: U+16D63 U+16D67 composes
    to U+16D69 under ICU only. Java's ``(?U)\s`` is the Unicode
    White_Space set, which equals Python's ``str`` ``\s`` once the control
    strip has removed ``\x1c-\x1f``."""
    nfc = F.when(col.isNotNull(), F.call_function(
        "reflect", F.lit("com.ibm.icu.text.Normalizer"), F.lit("compose"),
        col, F.lit(False)))
    stripped = F.translate(nfc, _C0_STRIP, "")
    return F.trim(F.regexp_replace(stripped, r"(?U)\s+", " "))


def normalize_text_builtin(col):
    """Whitespace-collapse + trim via JVM-side regexp (whole-stage codegen);
    the default hot path when full Unicode normalization isn't required."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def turn_fields(envelope_schema: T.StructType) -> list[T.StructField]:
    payload = envelope_schema["payload"].dataType
    return list(payload["turns"].dataType.elementType.fields)


def normalize_envelopes_fused(
    envelopes: DataFrame,
    text_mode: str = "builtin",  # "builtin" | "arrow" | "none"
) -> DataFrame:
    """Flatten an envelope batch into ONE frame of turn rows (r6):
    ``conv_id``, every turn-struct column, then ``_lsn``/``_commit_ts``/
    ``_op``, from a single projection over a single pass of the envelope
    source.

    ``_op`` is 'u' for full-row upserts (op insert/update), 'p' for
    PARTIAL upserts (op ``patch``: only non-null columns are set, null
    means "keep the previous value" — merge-patch, the shape real CDC
    feeds send for column-subset updates) and 'd' for whole-conversation
    tombstones. Upserts explode per turn (events with empty/null turn
    arrays drop). A delete event explodes a one-element null-turn array,
    so it yields exactly one row with every turn column null, null
    ``_commit_ts`` and ``_lsn`` = the delete LSN — the stored tombstone
    shape (``resolve`` groups tombstones on that null ``turn_idx``).
    Delete rows are not pre-aggregated: duplicate deletes stay duplicate
    rows and ``resolve`` keeps the newest (order-insensitive), so no
    per-batch ``groupBy`` adds an exchange to the write job. Resolution semantics live in
    operators.merge.resolve / collapse_patches.

    ``text_mode`` "arrow" (the historical name of the full Unicode
    normalize) applies ``normalize_text``; "builtin" applies
    ``normalize_text_builtin``; "none" leaves text as it is.

    Feed the result to ``apply_cdc_batch``."""
    tfields = turn_fields(envelopes.schema)
    turn_elem = envelopes.schema["payload"].dataType["turns"].dataType.elementType
    ts_type = envelopes.schema["commit_ts"].dataType
    one_null_turn = F.array(F.lit(None).cast(turn_elem))
    rows = (
        envelopes.select(
            F.col("conv_id"),
            F.col("lsn").alias(META_LSN),
            F.when(F.col("op") == "delete", F.lit(None).cast(ts_type))
            .otherwise(F.col("commit_ts")).alias(META_TS),
            F.when(F.col("op") == "delete", F.lit("d"))
            .when(F.col("op") == "patch", F.lit("p"))
            .otherwise(F.lit("u")).alias(META_OP),
            F.explode(
                F.when(F.col("op") == "delete", one_null_turn)
                .otherwise(F.col("payload.turns"))
            ).alias("t"),
        )
        .select("conv_id", META_LSN, META_TS, META_OP, "t.*")
    )
    if text_mode == "arrow":
        # null text on tombstone rows stays null (every step is
        # null-propagating), so one expression covers all ops
        rows = rows.withColumn("text", normalize_text(F.col("text")))
    elif text_mode == "builtin":
        rows = rows.withColumn("text", normalize_text_builtin(F.col("text")))
    elif text_mode != "none":
        raise ValueError(f"unknown text_mode {text_mode!r}")
    out_cols = ["conv_id"] + [f.name for f in tfields] + [META_LSN, META_TS, META_OP]
    return rows.select(*out_cols)
