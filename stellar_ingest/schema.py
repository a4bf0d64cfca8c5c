"""Binding schemas (BASELINE.json:15 verbatim; FIXTURES.md §B/§C).

The stored table row = user columns + engine meta columns:

- ``_ts``/``_lsn``/``_src_part`` — the last-writer-wins ordering triple
  of the mutation that produced the row.  (ts, lsn) is the BASELINE
  order; ``_src_part`` is appended as the final tiebreak because only
  (src_part, lsn) is globally unique, making resolution deterministic.
- ``_op`` — 'U' (upsert) or 'D' (tombstone).  Tombstones are KEPT in the
  table: without them, replaying the same ledger under a different batch
  split could let an older-timestamp update resurrect a deleted key,
  breaking byte-identical replay.  The user-facing view filters them.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

KEY_COLS = ("conv_id", "turn_idx")
ORDER_COLS = ("_ts", "_lsn", "_src_part")  # LWW ordering, descending

TRANSCRIPT_FIELDS = [
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
]
TRANSCRIPT_SCHEMA = T.StructType(TRANSCRIPT_FIELDS)

META_FIELDS = [
    T.StructField("_ts", T.TimestampType(), True),
    T.StructField("_lsn", T.LongType(), False),
    T.StructField("_src_part", T.IntegerType(), False),
    T.StructField("_op", T.StringType(), False),
]

#: stored-table schema = user columns + meta columns
TABLE_SCHEMA = T.StructType(TRANSCRIPT_FIELDS + META_FIELDS)

CHANGELOG_FIELDS = [
    T.StructField("lsn", T.LongType(), False),
    T.StructField("src_part", T.IntegerType(), False),
    T.StructField("op", T.StringType(), False),
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), False),
]
CHANGELOG_SCHEMA = T.StructType(CHANGELOG_FIELDS)

#: changelog columns that are engine envelope, not payload
ENVELOPE_COLS = ("lsn", "src_part", "op")


def table_schema_for(changelog_schema: T.StructType) -> T.StructType:
    """Stored-table schema induced by a (possibly evolved) changelog
    schema: payload columns in ledger order, then meta columns."""
    payload = [f for f in changelog_schema.fields if f.name not in ENVELOPE_COLS]
    return T.StructType(payload + META_FIELDS)


def align_renames(table, df):
    """Map incoming changelog columns through the table's rename history
    (lake/core.py::rename_map) so that renaming a column the source
    keeps sending does NOT split data: the old wire name keeps feeding
    the renamed column instead of being re-added under a fresh id with
    the stored values forever half-populated.  ``df`` is a Spark
    DataFrame or a pyarrow table (the driver-side apply).  Raises when
    the batch carries BOTH the old and the new name (the source itself
    evolved — which of the two is the renamed column is ambiguous and
    must be an operator decision, not a silent merge)."""
    columns = df.column_names if isinstance(df, pa.Table) else df.columns
    rmap = table.rename_map()
    hits = {old: new for old, new in rmap.items() if old in columns}
    if not hits:
        return df
    clash = sorted(old for old, new in hits.items() if new in columns)
    if clash:
        raise ValueError(
            f"batch carries both the pre-rename and post-rename name for "
            f"column(s) {clash}; drop or rename one side in the source "
            f"before ingesting"
        )
    # rename CHAIN ambiguity (round-5 ADVICE): A→B→C yields
    # rename_map {A: C, B: C}, so a batch carrying both A and B maps two
    # distinct incoming columns onto one target — withColumnsRenamed
    # would mint duplicate columns and fail downstream with an opaque
    # ambiguous-column error; raise the operator-facing message here.
    by_target: dict[str, list[str]] = {}
    for old, new in sorted(hits.items()):
        by_target.setdefault(new, []).append(old)
    chain_clash = {new: olds for new, olds in by_target.items() if len(olds) > 1}
    if chain_clash:
        raise ValueError(
            f"batch carries multiple historical names mapping to the same "
            f"renamed column: {chain_clash}; drop or rename all but one "
            f"side in the source before ingesting"
        )
    if isinstance(df, pa.Table):
        return df.rename_columns([hits.get(c, c) for c in columns])
    return df.withColumnsRenamed(hits)


def ensure_table_schema(table, batch_table_schema, *, hook=None):
    """Additive evolution rule shared by the batch runner and the
    streaming adapter: commit (metadata-only) any column the batch
    carries that the table lacks, BEFORE the data write
    (BASELINE.json ordering requirement).  Returns the new columns.

    Batches must be passed through ``align_renames`` first; a batch
    still carrying a renamed column's OLD name here would silently
    re-add it under a fresh column id (splitting the data), so that
    case raises instead."""
    table = table.pinned()
    stale = sorted(
        set(table.rename_map()) & {f.name for f in batch_table_schema.fields}
    )
    if stale:
        raise ValueError(
            f"batch columns {stale} are pre-rename names of existing table "
            f"columns; pass the batch through schema.align_renames first"
        )
    known = {f["name"] for f in table.schema_fields()}
    new_cols = T.StructType(
        [f for f in batch_table_schema.fields if f.name not in known]
    )
    if len(new_cols.fields) > 0:
        if hook is not None:
            hook("pre_evolve")
        table.evolve_schema(new_cols)
    return new_cols
