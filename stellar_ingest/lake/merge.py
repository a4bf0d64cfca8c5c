"""Idempotent MERGE upsert — two commit modes (SURVEY.md §2 ops
7/68/69/78; BASELINE.json:6 "idempotent MERGE upserts,
key-partitioned"):

- ``merge_apply`` — **copy-on-write**: rewrite touched buckets; epoch
  cost Θ(touched table data).  Best for backfill and read-heavy tables.
- ``delta_apply`` — **merge-on-read**: append the batch's winners as
  delta files; epoch cost Θ(batch).  The steady-state choice — readers
  resolve at scan time (lake/read.py).  Folds ride the same apply: the
  stored rows of the buckets the fold policy picks
  (lake/maintain.py::fold_targets) join the batch in its one LWW
  window, and those buckets are written back as base files in the same
  job and snapshot.  Measured at a 13.9M-row table: 5.7× COW
  throughput, flat in table size (BENCH/BASELINE.md §r3).

The copy-on-write batch = one plan, two shuffles, one snapshot commit:

1. **Touched buckets** from the batch's keys (tiny distinct collect,
   bounded by num_buckets, never by data size).
2. **Manifest prune**: read only the table files of touched buckets
   (metadata-level partition pruning; untouched files carry into the
   new snapshot unread).
3. **Single-window resolve**: existing rows are re-expressed as
   changelog rows and unioned with the batch; ONE ranking window
   computes last-writer-wins across both at once.  This absorbs
   in-batch LSN dedupe too (duplicate (src_part, lsn) deliveries carry
   identical payloads, so whichever copy ranks first is the same row) —
   saving the separate dropDuplicates shuffle on the hot path.
4. **Rewrite** touched buckets (write-salted for hot buckets), commit.

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
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cdc.resolve import _desc_order, resolve, to_table_rows
from .core import IceboxTable, commit_tag, fields_to_struct
from .read import scan
from .write import (
    bucket_expr,
    fused_partitions,
    fused_slot_expr,
    write_data_files,
    write_salt,
)


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


def _observed_quarantined(summary: dict) -> int:
    """Quarantine count bound into the summary by summary_fn (0 when no
    lineage stats ride the commit)."""
    return int((summary.get("lineage") or {}).get("quarantined", 0))


def _observed_rows(summary: dict) -> int:
    """Valid batch rows bound into the summary by summary_fn."""
    return sum(
        int(p["rows"]) for p in (summary.get("lineage") or {}).get("partition_stats", ())
    )


def _project_to_table(
    winners: DataFrame, table: IceboxTable, extra: tuple[str, ...] = ()
) -> DataFrame:
    """Resolved winner rows → the committed table schema (column order +
    NULL-fill for columns evolved after this batch's payload).
    ``extra``: layout columns (__bucket) appended as-is — passing the
    SAME attribute through (rather than recomputing the expression)
    keeps the upstream exchange/sort properties visible to the writer
    in the fused path."""
    struct = fields_to_struct(table.schema_fields())
    return winners.select(
        *[
            F.col(f.name)
            if f.name in winners.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in struct.fields
        ],
        *[F.col(c) for c in extra],
    )


def _fused_winner_rows(
    union: DataFrame,
    bexpr,
    num_buckets: int,
    *,
    rn_observation=None,
    batch_rows: int | None = None,
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
    tests/test_round6_fused.py).

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
    writer's sort (then is dropped) so the single-Sort elision holds."""
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
    winners = ranked.filter(F.col("__rn") == 1).drop("__rn")
    return to_table_rows(winners, carry_cols=("__bucket", "__slot"))


def merge_apply(
    spark: SparkSession,
    table: IceboxTable,
    batch: DataFrame,
    *,
    salts: int | None = None,
    summary: dict | None = None,
    summary_fn=None,
    rn_observation=None,
    skip_if_noop: bool = False,
    batch_rows: int | None = None,
) -> int | None:
    """Apply one changelog batch (validated + HWM-filtered) as a
    copy-on-write MERGE; returns the committed snapshot id.

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
    meta = table.metadata()
    bcol, nbuckets = meta["bucket_column"], meta["num_buckets"]
    bexpr = bucket_expr(bcol, nbuckets)

    if not table.files():
        # empty table (backfill epoch 1): nothing to prune or carry —
        # skip the touched-bucket discovery pass entirely (one full
        # batch traversal saved on the largest batch of the run)
        touched = None
    else:
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

    existing = scan(spark, table, buckets=touched or [])
    union = batch.unionByName(
        _existing_as_changelog(existing), allowMissingColumns=True
    )
    if (not salts or int(salts) <= 1) and write_salt(batch, nbuckets) == 1:
        rows = _fused_winner_rows(
            union, bexpr, nbuckets, rn_observation=rn_observation, batch_rows=batch_rows
        )
        ordered = _project_to_table(rows, table, extra=("__bucket", "__slot"))
        new_files = write_data_files(
            ordered, table, pre_partitioned=True, sort_prefix=("__slot",)
        )
    else:
        winners = resolve(union, salts=salts, rn_observation=rn_observation)
        ordered = _project_to_table(winners, table)
        new_files = write_data_files(ordered.withColumn("__bucket", bexpr), table)
    removed = {e["path"] for e in table.files(buckets=touched)}
    summary = dict(summary or {})
    if summary_fn is not None:
        summary.update(summary_fn())
    if (
        skip_if_noop
        and not new_files
        and not removed
        and not _observed_quarantined(summary)
    ):
        # empty batch into an EMPTY table (touched stayed None so the
        # touched-empty early return above never fired): same contract —
        # the write was the batch's action, but no snapshot is minted
        return None
    return table.commit(
        added_files=new_files,
        removed_paths=removed,
        summary=summary,
        operation="merge",
        # manifest IO stays O(touched): only these buckets' manifests are
        # read+rewritten (touched=None ⇒ initial backfill, derived from
        # the added files)
        touched_buckets=touched,
    )


def delta_apply(
    spark: SparkSession,
    table: IceboxTable,
    batch: DataFrame,
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
    the winners as *delta* files — no table read, no bucket rewrite, no
    touched-bucket discovery.  Epoch cost is Θ(batch) regardless of
    table size, which is what sustained apply into a 10^10-event table
    needs (copy-on-write rewrites every touched bucket, i.e. Θ(table)
    per epoch once batches span all buckets).  Readers resolve LWW
    across base+delta files at scan time (lake/read.py::resolve_stored).

    ``fold_buckets``: buckets to fold back to one version per key in
    this same job and snapshot (Iceberg's MoR + rewrite_data_files,
    without the second job).  Their stored files are read raw, re-
    expressed as changelog rows and unioned into the batch, so the one
    exchange + LWW window resolves stored and incoming versions
    together; their output files are written as base files (no delta
    flag) and the commit removes the files they replace.  The snapshot
    summary records them as ``compacted_buckets``.  The rows of an
    old-spec file that also covers a sibling bucket ride along and land
    in the sibling's delta file (the same migration compact() does).
    ``batch_rows``: as in merge_apply.

    Correctness is the same associativity argument as copy-on-write:
    stored rows are per-batch winners under the total order
    (ts, lsn, src_part), and the read-time window takes the max of the
    per-batch maxes.  Re-applying a batch is logically idempotent too —
    duplicate winner rows are bit-identical, so whichever copy the
    read-time window keeps, the resolved state is unchanged."""
    meta = table.metadata()
    bexpr = bucket_expr(meta["bucket_column"], meta["num_buckets"])
    fold = sorted(fold_buckets or ())
    union = batch
    if fold:
        stored = scan(spark, table, buckets=fold, resolve=False)
        union = batch.unionByName(
            _existing_as_changelog(stored), allowMissingColumns=True
        )
    if (not salts or int(salts) <= 1) and write_salt(batch, meta["num_buckets"]) == 1:
        # fused single-exchange path (see _fused_winner_rows): the
        # Θ(batch) MoR epoch drops from 2 exchanges + 2 sorts to 1 + 1
        rows = _fused_winner_rows(
            union,
            bexpr,
            meta["num_buckets"],
            rn_observation=rn_observation,
            batch_rows=batch_rows,
        )
        ordered = _project_to_table(rows, table, extra=("__bucket", "__slot"))
        new_files = write_data_files(
            ordered, table, delta=True, pre_partitioned=True, sort_prefix=("__slot",)
        )
    else:
        winners = resolve(union, salts=salts, rn_observation=rn_observation)
        ordered = _project_to_table(winners, table)
        new_files = write_data_files(
            ordered.withColumn("__bucket", bexpr), table, delta=True
        )
    for e in new_files:
        if e["bucket"] in fold:
            del e["delta"]  # the bucket's whole state: a base file
    summary = dict(summary or {})
    if summary_fn is not None:
        # the write above was the batch's action — observations attached
        # upstream are filled, same contract as merge_apply
        summary.update(summary_fn())
    if fold and "lineage" in summary:
        empty = not _observed_rows(summary)  # new_files hold folded rows too
    else:
        empty = not new_files
    if skip_if_noop and empty and not _observed_quarantined(summary):
        # an empty batch mints no snapshot and no fold: the folded
        # buckets' rewrite is deleted before anything references it
        for tag in {commit_tag(e["path"]) for e in new_files}:
            shutil.rmtree(os.path.join(table.data_dir, tag), ignore_errors=True)
        return None
    if fold:
        summary["compacted_buckets"] = fold
    return table.commit(
        added_files=new_files,
        removed_paths={e["path"] for e in table.files(buckets=fold)} if fold else None,
        summary=summary,
        operation="delta",
        touched_buckets=fold or None,
    )
