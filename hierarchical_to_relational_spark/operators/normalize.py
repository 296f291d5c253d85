"""Normalize stage: nested CDC envelopes → flat relational turn rows.

This is the engine's echo of the reference's hierarchical→relational
flattening (HierarchyFlattener.java:127-351): a nested structure (change
envelopes carrying arrays of turn structs) becomes flat relational rows,
purely via Column algebra — ``explode`` + struct projection, zero per-row
Python (the reference's zero-UDF discipline, SURVEY.md §2.1). There is one
form, ``normalize_envelopes_fused``: upsert, patch and tombstone rows come
out of a single projection over one scan of the envelopes. The optional
text-normalization step is a **vectorized Arrow-native UDF** (batch
transfer, no per-row Python), the only permitted Python on the hot path.

Turn-struct columns are discovered from the schema, so additively-evolved
envelopes (extra turn fields, FIXTURES.md F6b) flow through without code
changes — the schema-evolution path (operators.merge) widens the target
before applying them.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.functions import arrow_udf

META_LSN = "_lsn"
META_TS = "_commit_ts"
META_OP = "_op"
META_BUCKET = "_bucket"


# Python re's ``\s`` on str is ASCII whitespace PLUS the Unicode
# White_Space set; RE2 (pyarrow.compute) ``\s`` is ASCII-only. This class
# spells out the remainder so the C++ pass is bit-identical to the
# reference semantics (the \x0b\x0c\x1c-\x1f members of White_Space cannot
# appear here — the control-strip pass removes them first). Fuzz-proven
# equal to the pure-pandas body in test_property_based.
_WS_CLASS = (r"[\s\x{0085}\x{00a0}\x{1680}\x{2000}-\x{200a}"
             r"\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]+")


def _normalize_array(arr):
    """Arrow-native normalize body (r6): Unicode NFC, strip control chars,
    collapse whitespace, trim; the batch stays a pyarrow Array end to end.

    The regex passes dominate NFC ~20× (round-5 split on 645k corpus
    texts), so they run in pyarrow's RE2 (C++) and only NFC stays
    Python-side. This pyarrow's ``utf8_normalize`` returns decomposed
    output for every form (re-verified on pyarrow 16.1.0), else NFC would
    be C++ too. The ascii gate is vectorized — the old per-row
    ``texts.map(...isascii...)`` lambda was a Python loop over EVERY row
    even when the whole batch is ASCII (the common corpus case);
    string_is_ascii is one C++ pass and the NFC map runs only on the
    non-ASCII remainder (bit-equal: NFC is the identity on ASCII; the
    fuzz parity test covers the gate)."""
    import unicodedata

    import pyarrow as pa
    import pyarrow.compute as pc

    ascii_mask = pc.string_is_ascii(arr)
    if not pc.min(ascii_mask).as_py():
        vals = arr.to_pylist()
        for i, ok in enumerate(ascii_mask.to_pylist()):
            if ok is False and vals[i] is not None:
                vals[i] = unicodedata.normalize("NFC", vals[i])
        arr = pa.array(vals, pa.string())
    arr = pc.replace_substring_regex(
        arr, pattern=r"[\x00-\x08\x0b\x0c\x0e-\x1f]", replacement=""
    )
    arr = pc.replace_substring_regex(arr, pattern=_WS_CLASS, replacement=" ")
    return pc.utf8_trim(arr, " ")


def _normalize_series_pandas(texts: pd.Series) -> pd.Series:
    """Pure-pandas reference body (the pre-round-5 implementation), kept
    as the parity oracle for the fuzz test."""
    import unicodedata

    s = texts.map(lambda t: unicodedata.normalize("NFC", t) if t is not None else None)
    s = s.str.replace(r"[\x00-\x08\x0b\x0c\x0e-\x1f]", "", regex=True)
    return s.str.replace(r"\s+", " ", regex=True).str.strip()


@arrow_udf(T.StringType())
def normalize_text_arrow(texts: pa.Array) -> pa.Array:
    """Vectorized text cleanup: Unicode NFC, strip control chars, collapse
    whitespace. Arrow-NATIVE UDF (r6, Spark 4.1 ``arrow_udf``): batches
    arrive and leave as pyarrow Arrays, skipping the pandas object-array
    round-trip the pandas_udf form paid on BOTH sides of a body that is
    pyarrow.compute anyway. Input from Spark's Arrow transfer is valid
    UTF-8 by construction, so no lone surrogate can reach the body."""
    import pyarrow as pa

    if isinstance(texts, pa.ChunkedArray):  # defensive: combine chunks
        texts = texts.combine_chunks()
    return _normalize_array(texts)


def normalize_text_builtin(col):
    """Whitespace-collapse + trim via JVM-side regexp (whole-stage codegen);
    the default hot path when full Unicode normalization isn't required."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def turn_fields(envelope_df: DataFrame) -> list[T.StructField]:
    payload = envelope_df.schema["payload"].dataType
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
    ``_commit_ts`` and ``_lsn`` = the delete LSN — ``_tombstone_rows``'s
    stored shape. Delete rows are not pre-aggregated: duplicate deletes
    stay duplicate rows and ``resolve``'s tombstone max folds them
    (associative, order-insensitive), so no per-batch ``groupBy`` adds an
    exchange to the write job. Resolution semantics live in
    operators.merge.resolve / collapse_patches.

    Feed the result to ``apply_cdc_batch``."""
    tfields = turn_fields(envelopes)
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
        # null text on tombstone rows passes through as null (RE2 kernels
        # and the NFC gate are null-propagating), so one UDF covers all ops
        rows = rows.withColumn("text", normalize_text_arrow(F.col("text")))
    elif text_mode == "builtin":
        rows = rows.withColumn("text", normalize_text_builtin(F.col("text")))
    elif text_mode != "none":
        raise ValueError(f"unknown text_mode {text_mode!r}")
    out_cols = ["conv_id"] + [f.name for f in tfields] + [META_LSN, META_TS, META_OP]
    return rows.select(*out_cols)
