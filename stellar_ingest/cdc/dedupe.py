"""LSN/offset dedupe + per-partition high-watermark (SURVEY.md §2 op 66).

At-least-once ledger delivery re-emits rows with the same
``(src_part, lsn)`` in later segments (FIXTURES.md §C).  Exactly-once at
the source = two filters:

1. **HWM filter** — drop anything at-or-below the checkpointed
   high-watermark for its source partition.  The predicate is a literal
   per-partition OR-chain, so it pushes down to parquet footers (ledger
   segments are lsn-sorted → already-consumed segments are skipped
   without reading a row).
2. **in-batch dedupe** — absorbed by the MERGE's LWW window
   (lake/merge.py:13-17): duplicate (src_part, lsn) deliveries carry
   identical payloads, so whichever copy the total ordering
   (ts, lsn, src_part) ranks first IS the same row — no separate
   dropDuplicates shuffle on the hot path.

Scale: the HWM map is O(source partitions) — driver-side literals, no
join, no shuffle, pushes to parquet footer stats.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def hwm_sql(
    offsets: dict[int, int], *, part_col: str = "src_part", lsn_col: str = "lsn"
) -> str:
    """SQL text: keep rows with lsn strictly above their source
    partition's high-watermark (unknown partitions pass).  Column names
    are parameterized so the same predicate serves the ledger tail
    (src_part/lsn) and the stored-table incremental read
    (_src_part/_lsn, lake/read.py::read_changes)."""
    if not offsets:
        return "true"
    # one-parse SQL text: the Column-operator chain costs ~6 py4j
    # round-trips per partition, per epoch (round-6 driver profile)
    clauses = " OR ".join(
        f"(`{part_col}` = {int(part)} AND `{lsn_col}` > {int(hwm)})"
        for part, hwm in sorted(offsets.items())
    )
    known = ", ".join(str(int(p)) for p in sorted(offsets))
    return f"({clauses}) OR NOT (`{part_col}` IN ({known}))"


def hwm_predicate(
    offsets: dict[int, int], *, part_col: str = "src_part", lsn_col: str = "lsn"
):
    """``hwm_sql`` as a Column predicate."""
    return F.expr(hwm_sql(offsets, part_col=part_col, lsn_col=lsn_col))
