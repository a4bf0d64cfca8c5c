"""Idempotent MERGE upsert — one apply job, two commit modes (SURVEY.md
§2 ops 7/68/69/78; BASELINE.json:6 "idempotent MERGE upserts,
key-partitioned").

Every epoch runs the same body (``_resolve_and_write``), parameterized
by the buckets it rewrites:

1. **Raw read** of the rewritten buckets' stored files only (manifest
   prune; every other file carries into the new snapshot unread).
2. **Single-window resolve**: the stored rows are re-expressed as
   changelog rows and unioned with the batch; ONE ranking window
   computes last-writer-wins across stored and incoming versions at
   once.  This absorbs in-batch LSN dedupe too (duplicate
   (src_part, lsn) deliveries carry identical payloads, so whichever
   copy ranks first is the same row) — no separate dropDuplicates
   shuffle on the hot path.
3. **Write** the winners bucketed (fused single exchange, or the salted
   two-exchange plan for skew), then commit one snapshot that replaces
   the rewritten buckets (``IceboxTable.commit(replaced_buckets=...)``).

The two modes differ only in what they rewrite:

- ``merge_apply`` — **copy-on-write**: rewrite = the batch's touched
  buckets (a tiny distinct collect, bounded by num_buckets); every
  output is a base file.  Epoch cost Θ(touched table data); best for
  backfill and read-heavy tables.
- ``delta_apply`` — **merge-on-read**: rewrite = the fold buckets the
  policy picks (lake/maintain.py::fold_targets), the rest of the
  batch's winners as delta files that readers resolve at scan time
  (lake/read.py).  Epoch cost Θ(batch + folded buckets), flat in table
  size — the steady-state choice (measured at a 13.9M-row table: 5.7×
  COW throughput, BENCH/BASELINE.md §r3).

Deletes: the winning mutation may be a delete → kept as a tombstone row
(_op='D', NULL payload).  Tombstones must persist: dropping them would
let an older-ts update resurrect the key under a different replay batch
split, breaking byte-identical reconvergence (schema.py rationale).

Idempotence: re-applying any batch reproduces the same winners (the
ordering (ts, lsn, src_part) is total), so table state is a pure
function of the set of applied mutations — the replay guarantee.

Scale: unsalted batches take ONE shuffle on ``__slot`` (bucket mod P,
one task per core or per bucket, _fused_winner_rows); salted ones hash
(conv_id, turn_idx)[+salt] for the window and (bucket, write-salt) for
the write.  A 1000-executor run changes only partition counts, not the
plan.

Two data paths, one tail.  The batch arrives either as a Spark
DataFrame (the Spark job above) or as a pyarrow table: a small
unsalted epoch, which cdc/runner.py reads and validates on the driver
when the batch plus the stored data it rewrites are at most
``DRIVER_APPLY_MAX_ROWS`` rows and ``DRIVER_APPLY_MAX_BYTES`` bytes
(lake/write.py).  The driver path
(``_driver_winner_rows``) does the same steps in pyarrow and numpy
with no Spark job: the rewritten buckets' files read raw, one sort for
LWW, the numpy XXH64 for buckets, one file per bucket.  It gives the
fused Spark path's rows, row order, manifest entries and ``max_rn``
(tests/test_driver_apply.py runs both on the same events).  Summary,
no-op rule and commit are shared.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cdc.resolve import (
    _desc_order,
    lww_arrow,
    lww_winners,
    to_table_rows,
    to_table_rows_arrow,
)
from .core import IceboxTable, commit_tag, type_to_arrow
from .read import read_files_arrow, scan
from .write import (
    bucket_expr,
    fused_partitions,
    fused_slot_expr,
    write_arrow_files,
    write_data_files,
    write_salt,
)
from .xxh import bucket_ids


class DriverObservation:
    """The driver path's counterpart of the ``pyspark.sql.Observation``
    the Spark path puts on its LWW window: once the apply ran, ``get``
    holds ``{"max_rn": ...}``, the most rows any key had."""

    def __init__(self) -> None:
        self.get: dict = {}


def _existing_as_changelog(existing: DataFrame) -> DataFrame:
    """Stored-table rows → changelog shape so they can compete in the
    same LWW window as incoming mutations."""
    payload = [c for c in existing.columns if not c.startswith("_")]
    cols = [
        F.col("_lsn").alias("lsn"),
        F.col("_src_part").alias("src_part"),
        F.when(F.col("_op") == "D", F.lit("D")).otherwise(F.lit("U")).alias("op"),
    ]
    cols += [F.col(c) for c in payload if c != "ts"]
    # envelope ts is the LWW key; tombstones have NULL payload ts but a real _ts
    cols.append(F.col("_ts").alias("ts"))
    return existing.select(*cols)


def _existing_as_changelog_arrow(stored: pa.Table) -> pa.Table:
    """``_existing_as_changelog`` for stored rows held in pyarrow."""
    payload = [c for c in stored.column_names if not c.startswith("_") and c != "ts"]
    deleted = pc.fill_null(pc.equal(stored.column("_op"), "D"), False)
    return pa.Table.from_arrays(
        [
            stored.column("_lsn"),
            stored.column("_src_part"),
            pc.if_else(deleted, "D", "U"),
            *[stored.column(c) for c in payload],
            stored.column("_ts"),
        ],
        names=["lsn", "src_part", "op", *payload, "ts"],
    )


def _batch_buckets(table: IceboxTable, rows: pa.Table) -> np.ndarray:
    """Bucket id of every row, as ``bucket_expr`` assigns it."""
    return bucket_ids(
        rows.column(table.bucket_column), table.num_buckets, table.bucket_key_type()
    )


def _driver_winner_rows(
    table: IceboxTable, batch: pa.Table, rewrite: list[int]
) -> tuple[pa.Table, int]:
    """``_fused_winner_rows`` on the driver: (the stored-table rows to
    write plus ``__bucket``, sorted by bucket then (conv_id, turn_idx);
    the most rows any key had — the window's ``max_rn``).  The
    ``rewrite`` buckets' files join the batch as changelog rows, one
    sort resolves LWW (cdc/resolve.py::lww_arrow), and the winners take
    the table's layout (to_table_rows_arrow: ``_op`` is the one
    non-NULL column, as in the Spark projection)."""
    fields = table.schema_fields()
    union = batch
    if rewrite:
        stored = read_files_arrow(table, table.files(buckets=rewrite), fields)
        union = pa.concat_tables(
            [batch, _existing_as_changelog_arrow(stored)], promote_options="default"
        )
    union = union.append_column("__bucket", pa.array(_batch_buckets(table, union)))
    winners, max_rn = lww_arrow(union, lead="__bucket")
    schema = pa.schema(
        [pa.field(f["name"], type_to_arrow(f["type"]), f["name"] != "_op") for f in fields]
    )
    return to_table_rows_arrow(winners, schema, carry_cols=("__bucket",)), max_rn


def _observed_quarantined(summary: dict) -> int:
    """Quarantine count bound into the summary by summary_fn (0 when no
    lineage stats ride the commit)."""
    return int((summary.get("lineage") or {}).get("quarantined", 0))


def _observed_rows(summary: dict) -> int:
    """Valid batch rows bound into the summary by summary_fn."""
    return sum(
        int(p["rows"]) for p in (summary.get("lineage") or {}).get("partition_stats", ())
    )


def _fused_winner_rows(
    union: DataFrame,
    bexpr,
    num_buckets: int,
    *,
    rn_observation=None,
    batch_rows: int | None = None,
    fields=None,
) -> DataFrame:
    """Single-exchange LWW resolve + write layout (guide §2.4: two
    operations keyed the same way share one exchange).  ``__bucket`` is
    a deterministic function of ``conv_id``, so hash-partitioning the
    batch ONCE on a function of __bucket both (a) co-locates every
    (conv_id, turn_idx) group — the ranking window's clustering
    requirement is satisfied by this exchange, Catalyst inserts no
    second one — and (b) keeps every bucket inside one task, which is
    what the bucketed writer needs.  The window's required sort
    (__slot, __bucket, conv_id, turn_idx, ts/lsn/src_part desc) is a
    superset of the writer's (__slot, __bucket, conv_id, turn_idx), so
    the writer's in-partition sort is elided too: one exchange + one
    sort where the unfused path paid two of each (plan-asserted in
    tests/test_fused_merge.py).

    Winners are IDENTICAL to resolve(): the window groups are the same
    (adding a function of the key to partitionBy changes nothing) and
    the order inside each group is the same total order.  Only valid
    when LWW salting and write salting are both off — those split keys
    across partitions, which the shared exchange cannot express.

    The exchange hashes ``__slot`` into P partitions, bucket b going to
    partition b mod P, so each task carries num_buckets/P buckets (±1).
    P = min(num_buckets, cores), one wave of write tasks, unless
    ``batch_rows`` marks a large batch, which gets one task per bucket
    (lake/write.py::fused_partitions).  ``__slot`` is constant inside a
    partition, so each task sees its rows sorted by __bucket and writes
    its buckets one after another — still exactly one file per bucket
    per commit.  ``__slot`` is a pure function of ``__bucket``, so
    adding it to the window key changes no groups, and it leads the
    writer's sort (then is dropped) so the single-Sort elision holds.

    The winners go to the stored-table shape, plus ``__bucket`` and
    ``__slot``, in one projection (cdc/resolve.py::to_table_rows);
    ``fields``, the table's schema fields, fixes its column order."""
    parts = fused_partitions(union, num_buckets, batch_rows)
    pre = (
        union.withColumn("__bucket", bexpr)
        .withColumn("__slot", fused_slot_expr(parts))
        .repartition(parts, F.col("__slot"))
    )
    w = Window.partitionBy("__slot", "__bucket", "conv_id", "turn_idx").orderBy(
        *_desc_order()
    )
    ranked = pre.withColumn("__rn", F.row_number().over(w))
    if rn_observation is not None:
        ranked = ranked.observe(rn_observation, F.max("__rn").alias("max_rn"))
    return to_table_rows(
        ranked.filter("__rn = 1"), carry_cols=("__bucket", "__slot"), fields=fields
    )


def _resolve_and_write(
    spark: SparkSession,
    table: IceboxTable,
    batch: DataFrame | pa.Table,
    rewrite: list[int],
    operation: str,
    *,
    salts: int | None,
    summary: dict | None,
    summary_fn,
    rn_observation,
    skip_if_noop: bool,
    batch_rows: int | None,
) -> int | None:
    """The one apply job (module docstring): the ``rewrite`` buckets'
    stored rows, read raw, join the batch in one LWW window; every
    output file is a base file except, in a merge-on-read (``delta``)
    epoch, those of buckets outside ``rewrite``; the commit drops every
    stored file of the ``rewrite`` buckets (``replaced_buckets``).

    A pyarrow ``batch`` takes the driver path (module docstring); its
    ``rn_observation`` is a ``DriverObservation``, and it is never
    salted (the runner sends one only with salting off).  ``table`` is
    pinned: the epoch reads and commits on one metadata version."""
    nbuckets = table.num_buckets
    delta_buckets = (
        set(range(nbuckets)).difference(rewrite) if operation == "delta" else ()
    )
    if isinstance(batch, pa.Table):
        rows, max_rn = _driver_winner_rows(table, batch, rewrite)
        if rn_observation is not None:
            rn_observation.get["max_rn"] = max_rn
        new_files = write_arrow_files(rows, table, delta_buckets)
    else:
        new_files = _spark_write(
            spark, table, batch, rewrite, delta_buckets,
            salts=salts, rn_observation=rn_observation, batch_rows=batch_rows,
        )
    summary = dict(summary or {})
    if summary_fn is not None:
        # the write above was the batch's action — observations attached
        # upstream are filled, so summary_fn is safe to call
        summary.update(summary_fn())
    if rewrite and "lineage" in summary:
        empty = not _observed_rows(summary)  # new_files hold rewritten rows too
    else:
        empty = not new_files
    if skip_if_noop and empty and not _observed_quarantined(summary):
        # an empty batch mints no snapshot and no rewrite: the rewritten
        # buckets' files are deleted before anything references them
        for tag in {commit_tag(e["path"]) for e in new_files}:
            shutil.rmtree(os.path.join(table.data_dir, tag), ignore_errors=True)
        return None
    if rewrite and operation == "delta":
        summary["compacted_buckets"] = rewrite
    return table.commit(
        added_files=new_files,
        replaced_buckets=rewrite,
        summary=summary,
        operation=operation,
    )


def _spark_write(
    spark: SparkSession,
    table: IceboxTable,
    batch: DataFrame,
    rewrite: list[int],
    delta_buckets,
    *,
    salts: int | None,
    rn_observation,
    batch_rows: int | None,
) -> list[dict]:
    """The Spark data path of ``_resolve_and_write``: the rewritten
    buckets read raw, one LWW window over them and the batch, the
    bucketed write (fused or salted); returns the manifest entries."""
    nbuckets = table.num_buckets
    bexpr = bucket_expr(table.bucket_column, nbuckets)
    union = batch
    if rewrite:
        stored = scan(spark, table, buckets=rewrite, resolve=False)
        union = batch.unionByName(
            _existing_as_changelog(stored), allowMissingColumns=True
        )
    fields = table.schema_struct().fields
    if (not salts or int(salts) <= 1) and write_salt(spark, nbuckets) == 1:
        rows = _fused_winner_rows(
            union,
            bexpr,
            nbuckets,
            rn_observation=rn_observation,
            batch_rows=batch_rows,
            fields=fields,
        )
        layout = {"pre_partitioned": True, "sort_prefix": ("__slot",)}
    else:
        winners = lww_winners(union, salts=salts, rn_observation=rn_observation)
        rows = to_table_rows(winners, fields=fields).withColumn("__bucket", bexpr)
        layout = {}
    return write_data_files(rows, table, delta_buckets=delta_buckets, **layout)


def merge_apply(
    spark: SparkSession,
    table: IceboxTable,
    batch: DataFrame | pa.Table,
    *,
    salts: int | None = None,
    summary: dict | None = None,
    summary_fn=None,
    rn_observation=None,
    skip_if_noop: bool = False,
    batch_rows: int | None = None,
) -> int | None:
    """Apply one changelog batch (validated + HWM-filtered) as a
    copy-on-write MERGE; returns the committed snapshot id.  ``batch``
    is a Spark DataFrame, or a pyarrow table for the driver path
    (module docstring).

    ``summary_fn``: optional callable evaluated AFTER the batch's action
    ran but BEFORE the commit; its dict is merged into the snapshot
    summary.  The runner uses it to bind the epoch's observed lineage
    stats into the same atomic commit (so a torn commit can re-emit
    lineage from the snapshot alone).

    ``skip_if_noop``: return None WITHOUT committing when the batch
    produced no rows and no quarantine (summary_fn-reported) — the
    streaming adapter uses this for availableNow's trailing empty flush
    batch, whose plan must still execute (state-store contract) but must
    not mint an empty snapshot.

    ``batch_rows``: the batch's row count when the caller knows it
    before the job (it sizes the write's task count,
    lake/write.py::fused_partitions)."""
    table = table.pinned()
    touched: list[int] = []
    head = table.current_snapshot()
    if head is not None and head["total_files"]:
        # an empty table (backfill epoch 1) has nothing to rewrite: the
        # touched-bucket pass is skipped (one full traversal saved on
        # the largest batch of the run)
        if isinstance(batch, pa.Table):
            touched = sorted(set(_batch_buckets(table, batch).tolist()))
        else:
            bexpr = bucket_expr(table.bucket_column, table.num_buckets)
            touched = sorted(
                r[0] for r in batch.select(bexpr.alias("__b")).distinct().collect()
            )
        if not touched:
            # the distinct() above was this batch's action — observations
            # attached upstream are filled, so summary_fn is safe to call
            summary = dict(summary or {})
            if summary_fn is not None:
                summary.update(summary_fn())
            if skip_if_noop and not _observed_quarantined(summary):
                return None
            return table.commit(added_files=[], summary=summary, operation="merge")
    return _resolve_and_write(
        spark, table, batch, touched, "merge",
        salts=salts, summary=summary, summary_fn=summary_fn,
        rn_observation=rn_observation, skip_if_noop=skip_if_noop, batch_rows=batch_rows,
    )


def delta_apply(
    spark: SparkSession,
    table: IceboxTable,
    batch: DataFrame | pa.Table,
    *,
    salts: int | None = None,
    summary: dict | None = None,
    summary_fn=None,
    rn_observation=None,
    skip_if_noop: bool = False,
    batch_rows: int | None = None,
    fold_buckets: list[int] | None = None,
) -> int | None:
    """Merge-on-read commit: resolve the batch WITHIN itself and append
    the winners as *delta* files — no touched-bucket discovery, and no
    table read or bucket rewrite beyond ``fold_buckets``.  Epoch cost is Θ(batch) regardless of
    table size, which is what sustained apply into a 10^10-event table
    needs (copy-on-write rewrites every touched bucket, i.e. Θ(table)
    per epoch once batches span all buckets).  Readers resolve LWW
    across base+delta files at scan time (lake/read.py::resolve_stored).

    ``fold_buckets``: buckets to fold back to one version per key in
    this same job and snapshot (Iceberg's MoR + rewrite_data_files,
    without the second job) — the rewritten buckets of the shared
    apply, written as base files.  The snapshot summary records them as
    ``compacted_buckets``.  The rows of an old-spec file that also
    covers a sibling bucket ride along and land in the sibling's delta
    file (the same migration compact() does).  ``summary_fn``,
    ``skip_if_noop``, ``batch_rows``: as in merge_apply.

    Correctness is the same associativity argument as copy-on-write:
    stored rows are per-batch winners under the total order
    (ts, lsn, src_part), and the read-time window takes the max of the
    per-batch maxes.  Re-applying a batch is logically idempotent too —
    duplicate winner rows are bit-identical, so whichever copy the
    read-time window keeps, the resolved state is unchanged."""
    return _resolve_and_write(
        spark, table.pinned(), batch, sorted(fold_buckets or ()), "delta",
        salts=salts, summary=summary, summary_fn=summary_fn,
        rn_observation=rn_observation, skip_if_noop=skip_if_noop, batch_rows=batch_rows,
    )
