"""Structured Streaming adapter (SURVEY.md §2.9 ops 55-60).

The engine's canonical driver is the self-driven batch loop
(cdc/runner.py — deterministic epochs, trivially resumable; SURVEY.md
§7 M2 decision).  This module is the Structured Streaming expression of
the same pipeline for deployments that want SS semantics: file-source
``readStream`` over ledger segments → watermark + in-stream dedupe →
``foreachBatch`` into the batch loop's own epoch tail (cdc/runner.py:
table create-or-evolve, apply with the in-apply fold, dead letters
written before the commit, lineage, expiry/GC), with ``availableNow``
for drain-style runs.

Note the exactly-once story differs: SS tracks file-source offsets in
its own checkpoint; the ``ss_batch_id`` fence on the snapshot summary
makes the ``foreachBatch`` body idempotent anyway, so a batch replayed
after an SS restart cannot double-apply (the same property
tests/test_replay.py proves for the batch loop).
"""

from __future__ import annotations

import time
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc import lineage as lin
from ..cdc.runner import (
    _commit_epoch,
    _create_or_evolve,
    _emit_repaired,
    _maintain,
)
from ..cdc.source import batch_schema, list_segments
from ..cdc.validate import observe_valid
from ..lake.core import IceboxTable
from ..schema import CHANGELOG_SCHEMA


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
    table: one snapshot, and one epoch, per non-empty micro-batch,
    committed by the batch loop's epoch tail.  ``mode`` (``"cow"`` or
    ``"mor"``), ``fold_min_deltas``/``fold_max_buckets``,
    ``expire_every``/``gc_every`` (every K epochs, after the lineage
    emit) and ``branch`` (write-audit-publish) keep the contracts of
    cdc/runner.py::run_increment; an empty micro-batch commits and
    folds nothing."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
    stream = with_stream_dedupe(
        read_changelog_stream(spark, ledger_dir).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.monotonic()
        live = IceboxTable(table_root, branch=branch)
        table = live.pinned() if live.exists() else live
        snap = table.current_snapshot() if table.exists() else None
        epoch = int(snap["summary"].get("epoch", 0)) if snap else 0
        if snap and int(snap["summary"].get("ss_batch_id", -1)) >= batch_id:
            # epoch fence: this SS batch already committed.  Consume the
            # batch anyway — Spark 4.x validates that foreachBatch
            # processed every partition (the dedupe operator's state
            # store must commit), so an early return without an action
            # fails the query with STATE_STORE_COMMIT_VALIDATION_FAILED.
            # A crash between the commit and the lineage emit replays the
            # batch here — re-emit the torn epoch's lineage from the
            # snapshot summary (idempotent: emit skips epochs already in
            # the log), so the audit log stays gap-free on this path too.
            # Its dead letters landed before the commit.
            batch_df.count()
            _emit_repaired(
                checkpoint_dir, epoch, snap["snapshot_id"], snap["summary"].get("lineage")
            )
            return
        # the stats ride an `observe` node on the SAME action that
        # applies the batch (the write): one action per batch, plus a
        # dead-letter write only on batches that had bad rows.  ``parts``
        # comes from the ledger listing (driver footer metadata — the
        # batch's rows can only come from listed segments).  Validity is
        # judged on the ledger's column names, before the rename mapping,
        # as in the batch loop.
        parts = sorted({s.src_part for s in list_segments(ledger_dir)})
        valid, obs = observe_valid(batch_df, parts)
        table, valid = _create_or_evolve(table, valid, num_buckets)
        sid, _ = _commit_epoch(
            spark,
            table,
            valid,
            checkpoint_dir,
            epoch=epoch + 1,
            mode=mode,
            fold=None,
            fold_min_deltas=fold_min_deltas,
            fold_max_buckets=fold_max_buckets,
            summary={"ss_batch_id": batch_id},
            observed=partial(lin.collect_observed_stats, obs, parts),
            bad_rows=lambda: batch_df,
            quarantine=f"ss_batch={batch_id}",
            t0=t0,
            # availableNow + watermarked dedupe emits a trailing empty
            # flush batch — its plan executes (state-store contract) but
            # no empty snapshot/lineage is minted for it
            skip_if_noop=True,
        )
        if sid is not None:
            _maintain(
                live, epoch + 1, expire_every=expire_every, keep_last=keep_last,
                older_than_ms=older_than_ms, gc_every=gc_every, gc_grace_ms=gc_grace_ms,
            )

    writer = stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", f"{checkpoint_dir}/ss"
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
