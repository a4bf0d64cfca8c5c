"""Schema-driven row validation (SURVEY.md §2 op 15).

Capability lineage: schema validation against a declared mapping is core
upstream stellar-ingest behavior [PK-high, SURVEY.md §1.1] — rows that
violate the declared schema are quarantined, never silently dropped.

One predicate, evaluated once per row: ``observe_valid`` flags each row
with it, and the lineage counters and the valid filter read the flag.
Dead-letter rows are filtered with the same predicate, and only on
batches that have any.

``split_valid_arrow`` evaluates the same predicate over a pyarrow batch
on the driver (the small-epoch path, cdc/runner.py) and counts the same
lineage numbers.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .lineage import observed_stats

VALID_OPS = ("I", "U", "D")
VALID_ROLES = ("user", "assistant", "system", "tool")

#: the predicate as ONE SQL string, parsed in a single py4j call:
#: composing it through Column operators costs ~25 py4j round-trips
#: (~55 ms of driver time) and the CDC loop builds it every epoch
#: (round-6 profile).  Same Catalyst expressions, same null-safety:
#: a NULL op makes IN evaluate to SQL NULL, which both filter(pred) and
#: filter(NOT pred) would drop — COALESCE to false lands such rows in
#: (and counts them toward) the quarantine branch.  Payload rules apply
#: to upserts only; deletes carry just the key.
VALIDITY_SQL = (
    "COALESCE("
    "conv_id IS NOT NULL AND length(conv_id) > 0 "
    "AND turn_idx IS NOT NULL AND turn_idx >= 0 "
    "AND lsn IS NOT NULL AND src_part IS NOT NULL "
    f"AND op IN ({', '.join(repr(o) for o in VALID_OPS)}) AND ts IS NOT NULL "
    f"AND (op = 'D' OR role IS NULL OR role IN ({', '.join(repr(r) for r in VALID_ROLES)})) "
    "AND (op = 'D' OR text IS NOT NULL)"
    ", false)"
)


def validity_predicate():
    return F.expr(VALIDITY_SQL)


def observe_valid(df: DataFrame, parts: list[int]) -> tuple[DataFrame, Observation]:
    """(valid rows, lineage observation) of a changelog batch.

    ``VALIDITY_SQL`` is evaluated ONCE per row as a ``__valid`` column;
    the per-partition lineage aggregates and the quarantine count
    (lineage.py::observed_stats) and the valid filter all read that
    column instead of inlining the predicate into each of them
    (three aggregates per source partition, plus the count).
    The observation fills when an action consumes the valid rows;
    ``lineage.collect_observed_stats`` reads it.  Quarantined rows are
    not built here: a caller filters ``df`` with ``NOT
    validity_predicate()`` only when the observation counted some."""
    flagged = df.withColumn("__valid", validity_predicate())
    observed, obs = observed_stats(flagged, "`__valid`", parts)
    return observed.filter("`__valid`").drop("__valid"), obs


def _valid_arrow(tbl: pa.Table) -> pa.ChunkedArray:
    """``VALIDITY_SQL`` with ``pyarrow.compute``: the same terms under
    SQL's three-valued AND/OR (Kleene), and a NULL result counts as
    false, as the COALESCE does."""
    col = tbl.column
    op = col("op")
    deleted = pc.equal(op, "D")

    def unless_delete(term):
        return pc.or_kleene(deleted, term)

    role = col("role")
    terms = [
        pc.is_valid(col("conv_id")),
        pc.greater(pc.binary_length(col("conv_id")), 0),
        pc.is_valid(col("turn_idx")),
        pc.greater_equal(col("turn_idx"), 0),
        pc.is_valid(col("lsn")),
        pc.is_valid(col("src_part")),
        pc.is_in(op, value_set=pa.array(VALID_OPS)),
        pc.is_valid(col("ts")),
        unless_delete(
            pc.or_kleene(pc.is_null(role), pc.is_in(role, value_set=pa.array(VALID_ROLES)))
        ),
        unless_delete(pc.is_valid(col("text"))),
    ]
    valid = terms[0]
    for term in terms[1:]:
        valid = pc.and_kleene(valid, term)
    return pc.fill_null(valid, False)


def split_valid_arrow(
    tbl: pa.Table, parts: list[int]
) -> tuple[pa.Table, list[dict], int]:
    """(valid rows, partition_stats, quarantined) of a changelog batch
    held in a pyarrow table — what ``observe_valid``'s observation
    reports through ``lineage.collect_observed_stats``: per source
    partition with valid rows, its (lsn_from, lsn_to, rows)."""
    ok = _valid_arrow(tbl)
    valid = tbl.filter(ok)
    lsn = valid.column("lsn").to_numpy(zero_copy_only=False)
    part = valid.column("src_part").to_numpy(zero_copy_only=False)
    stats = []
    for p in sorted(parts):
        sel = lsn[part == p]
        if len(sel):
            stats.append(
                {
                    "src_part": int(p),
                    "lsn_from": int(sel.min()),
                    "lsn_to": int(sel.max()),
                    "rows": len(sel),
                }
            )
    return valid, stats, tbl.num_rows - valid.num_rows
