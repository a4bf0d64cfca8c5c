"""Schema-driven row validation (SURVEY.md §2 op 15).

Capability lineage: schema validation against a declared mapping is core
upstream stellar-ingest behavior [PK-high, SURVEY.md §1.1] — rows that
violate the declared schema are quarantined, never silently dropped.

One predicate, evaluated once per row: ``observe_valid`` flags each row
with it, and the lineage counters and the valid filter read the flag.
Dead-letter rows are filtered with the same predicate, and only on
batches that have any.
"""

from __future__ import annotations

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
