"""Structured Streaming adapter (SURVEY.md §2.9 ops 55-60).

The engine's canonical driver is the self-driven batch loop
(cdc/runner.py — deterministic epochs, trivially resumable; SURVEY.md
§7 M2 decision).  This module is the Structured Streaming expression of
the same pipeline for deployments that want SS semantics: file-source
``readStream`` over ledger segments → watermark + in-stream dedupe →
``foreachBatch`` into the SAME MERGE/commit path, with
``availableNow`` for drain-style runs.

Note the exactly-once story differs: SS tracks file-source offsets in
its own checkpoint; our epoch fence on the snapshot summary makes the
``foreachBatch`` body idempotent anyway, so replays of a batch after an
SS restart cannot double-apply (the same property tests/test_replay.py
proves for the batch loop).
"""

from __future__ import annotations

import os
import time
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc import lineage as lin
from ..cdc.source import batch_schema, list_segments
from ..cdc.validate import VALIDITY_SQL, split_valid, validity_predicate
from ..lake.core import IceboxTable
from ..lake.maintain import fold_targets
from ..lake.merge import delta_apply, merge_apply
from ..schema import (
    CHANGELOG_SCHEMA,
    align_renames,
    ensure_table_schema,
    table_schema_for,
)


def ledger_stream_schema(ledger_dir: str):
    """Union footer schema over ALL current ledger segments — evolved
    columns (e.g. ``tool_version``) are part of the stream schema, files
    that predate them read back NULL (additive semantics, same rule as
    the batch runner's per-epoch union).  A long-running stream picks up
    columns added after start on restart — the standard Structured
    Streaming contract for file sources (schema is fixed per query)."""
    segs = list_segments(ledger_dir)
    return batch_schema(segs) if segs else CHANGELOG_SCHEMA


def read_changelog_stream(
    spark: SparkSession, ledger_dir: str, *, schema=None
) -> DataFrame:
    """File-source stream over ledger segments (op 3, streaming form)."""
    schema = schema or ledger_stream_schema(ledger_dir)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(ledger_dir)
    )


def with_stream_dedupe(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked at-source dedupe (ops 55/58):
    dropDuplicatesWithinWatermark bounds the dedupe state — late
    duplicates beyond the watermark fall through to the MERGE window,
    which absorbs them idempotently."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["src_part", "lsn"]
    )


def run_streaming(
    spark: SparkSession,
    ledger_dir: str,
    table_root: str,
    checkpoint_dir: str,
    *,
    num_buckets: int = 16,
    available_now: bool = True,
    mode: str = "cow",
    fold_min_deltas: int | None = None,
    fold_max_buckets: int | None = None,
    expire_every: int | None = None,
    keep_last: int = 10,
    older_than_ms: int | None = None,
    gc_every: int | None = None,
    gc_grace_ms: int = 24 * 3600 * 1000,
    branch: str | None = None,
):
    """Drain the ledger through Structured Streaming into the icebox
    table.  One snapshot per micro-batch; epoch = SS batch id + 1.

    ``mode="mor"`` commits each micro-batch as merge-on-read delta
    files (Θ(batch) — the steady-state choice, same contract as the
    batch runner's mode flag); ``fold_min_deltas`` folds buckets
    holding deltas from ≥K commits, counting the batch's own, inside
    the batch's apply (one job, one snapshot — same policy as the batch
    runner; an empty micro-batch folds nothing).
    ``expire_every``/``gc_every`` run snapshot expiry / orphan GC every
    K batches (after the commit
    + lineage emit — same in-loop retention contract as the batch
    runner, so a long-lived stream keeps metadata O(retained)).

    ``branch``: commit every micro-batch to a named branch instead of
    main (write-audit-publish, same contract as the batch runner — see
    cdc/runner.py and lake/maintain.py::audit_and_publish)."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
    stream = with_stream_dedupe(
        read_changelog_stream(spark, ledger_dir).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.monotonic()
        table = IceboxTable(table_root, branch=branch)
        if not table.exists():
            IceboxTable.create(
                table_root,
                table_schema_for(batch_df.schema),
                num_buckets=num_buckets,
            )
            table = IceboxTable(table_root, branch=branch)
        else:
            # rename mapping + additive evolution, same rule as the
            # batch runner (cdc/runner.py)
            batch_df = align_renames(table, batch_df)
            ensure_table_schema(table, table_schema_for(batch_df.schema))
        snap = table.current_snapshot()
        epoch = int(snap["summary"].get("epoch", 0)) if snap else 0
        if snap and int(snap["summary"].get("ss_batch_id", -1)) >= batch_id:
            # epoch fence: this SS batch already committed.  Consume the
            # batch anyway — Spark 4.x validates that foreachBatch
            # processed every partition (the dedupe operator's state
            # store must commit), so an early return without an action
            # fails the query with STATE_STORE_COMMIT_VALIDATION_FAILED.
            # A crash between merge_apply and lin.emit replays the batch
            # here — re-emit the torn epoch's lineage from the snapshot
            # summary (idempotent: emit skips epochs already in the
            # log), so the audit log stays gap-free on this path too.
            linfo = snap["summary"].get("lineage")
            if (
                linfo is not None
                and int(snap["summary"].get("ss_batch_id", -1)) == batch_id
                and int(linfo.get("quarantined", 0)) > 0
            ):
                # the batch also had dead-letter rows: a crash between
                # the snapshot commit and the quarantine write would
                # lose them permanently (the batch runner re-derives
                # them from the immutable ledger; SS must re-derive from
                # the replayed batch).  Rewrite is idempotent
                # (overwrite) and doubles as the required batch action.
                batch_df.filter(~validity_predicate()).write.mode(
                    "overwrite"
                ).parquet(
                    os.path.join(
                        checkpoint_dir, "quarantine", f"ss_batch={batch_id}"
                    )
                )
            else:
                batch_df.count()
            if linfo is not None:
                lin.emit(
                    checkpoint_dir,
                    epoch=epoch,
                    snapshot_id=snap["snapshot_id"],
                    partition_stats=linfo["partition_stats"],
                    wall_ms=0.0,
                    quarantined=int(linfo.get("quarantined", 0)),
                    repaired=True,
                )
            return
        # validation audit parity with the batch runner (cdc/runner.py):
        # quarantined rows persist to the dead-letter sink and every
        # batch emits lineage — and the stats ride an `observe` node on
        # the SAME action that applies the batch (the write), so the
        # adapter now matches the batch loop's per-epoch job count: one
        # action, plus a dead-letter write only on batches that actually
        # had bad rows.  ``parts`` comes from the ledger listing (driver
        # footer metadata — the batch's rows can only come from listed
        # segments).
        parts = sorted({s.src_part for s in list_segments(ledger_dir)})
        observed, obs = lin.observed_stats(batch_df, VALIDITY_SQL, parts)
        valid, _ = split_valid(observed)
        bad = batch_df.filter(~validity_predicate())
        stash: dict = {}

        def _lineage_summary() -> dict:
            pstats, n_bad = lin.collect_observed_stats(obs, parts)
            stash["pstats"], stash["n_bad"] = pstats, n_bad
            return {"lineage": {"partition_stats": pstats, "quarantined": n_bad}}

        if mode == "mor":
            fold = fold_targets(
                table,
                min_delta_commits=fold_min_deltas,
                max_buckets=fold_max_buckets,
                pending_commit=True,
            )
            apply_fn = partial(delta_apply, fold_buckets=fold)
        else:
            apply_fn = merge_apply
        sid = apply_fn(
            spark,
            table,
            valid,
            summary={"epoch": epoch + 1, "ss_batch_id": batch_id},
            summary_fn=_lineage_summary,
            # availableNow + watermarked dedupe emits a trailing empty
            # flush batch — its plan executes (state-store contract) but
            # no empty snapshot/lineage is minted for it
            skip_if_noop=True,
        )
        if sid is None:
            return
        if stash["n_bad"]:
            qdir = os.path.join(
                checkpoint_dir, "quarantine", f"ss_batch={batch_id}"
            )
            bad.write.mode("overwrite").parquet(qdir)
        lin.emit(
            checkpoint_dir,
            epoch=epoch + 1,
            snapshot_id=sid,
            partition_stats=stash["pstats"],
            wall_ms=(time.monotonic() - t0) * 1000.0,
            quarantined=stash["n_bad"],
        )
        if expire_every and (epoch + 1) % int(expire_every) == 0:
            from ..lake.maintain import expire_snapshots

            expire_snapshots(table, keep_last=keep_last, older_than_ms=older_than_ms)
        if gc_every and (epoch + 1) % int(gc_every) == 0:
            from ..lake.maintain import gc_orphans

            gc_orphans(table, grace_ms=gc_grace_ms)

    writer = stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", f"{checkpoint_dir}/ss"
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
