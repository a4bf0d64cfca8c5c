"""Micro-batch driver: the epoch-fenced, exactly-once incremental loop
(SURVEY.md §2 ops 60/70/71; §3.2 lifecycle).

Design decision (SURVEY.md §7 M2): a self-driven batch loop, NOT
Structured Streaming — epochs are deterministic and resumable from two
JSON files, and commit ordering stays visible (SS's availableNow adds
nothing offline and hides it).

Exactly-once protocol per epoch ``e → e+1``:

1. *fence*: if the table's current snapshot summary carries an epoch
   newer than the checkpoint, a previous run crashed between
   snapshot-commit and checkpoint-write → repair the checkpoint from the
   snapshot summary (the summary stores the offsets) and continue.
   Replayed work is thereby skipped, never double-applied.
2. discover + select the next batch (footer metadata only).
3. read → validate/quarantine → HWM-filter (dedupe is absorbed by the
   MERGE window, see lake/merge.py).
4. additive schema evolution committed BEFORE the data write
   (BASELINE.json:6 ordering requirement).
5. MERGE apply → snapshot ``s`` with summary {epoch: e+1, offsets',
   lineage stats} (stats observed during the merge, bound into the
   same atomic commit).  A merge-on-read epoch that folds does so in
   this same job and snapshot (lake/merge.py::delta_apply).
6. persist quarantined rows (dead-letter parquet) + emit lineage.
7. checkpoint := {e+1, offsets', s}.   (crash between 5 and 7 is what
   step 1 repairs — offsets from the summary, lineage re-emitted from
   the summary's stats)

``crash_hook(point)`` is a test seam — tests/test_replay.py injects
crashes at every boundary and asserts byte-identical reconvergence.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from functools import partial

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..lake.core import IceboxTable
from ..lake.maintain import fold_targets
from ..lake.merge import delta_apply, merge_apply
from ..schema import align_renames, ensure_table_schema, table_schema_for
from . import checkpoint as ckpt
from . import lineage as lin
from .skew import DEFAULT_HOT_THRESHOLD, DEFAULT_SALTS
from .source import list_segments, read_batch, select_batch
from .validate import VALIDITY_SQL, split_valid, validity_predicate


def _fence_and_repair(
    spark: SparkSession,
    ledger_dir: str,
    table: IceboxTable,
    checkpoint_dir: str,
    ck: dict,
) -> dict:
    """Torn-commit repair (crash between snapshot-commit and
    checkpoint-write).  Repair order mirrors the normal epoch tail —
    dead-letter, then lineage, then checkpoint — so a crash at ANY point
    during repair just re-enters repair on the next start; every step is
    idempotent."""
    snap = table.current_snapshot() if table.exists() else None
    if snap is None:
        return ck
    summary = snap.get("summary", {})
    snap_epoch = int(summary.get("epoch", 0))
    if snap_epoch <= ck["epoch"]:
        return ck
    new_offsets = {int(k): int(v) for k, v in summary.get("offsets", {}).items()}
    linfo = summary.get("lineage")
    # If maintenance (compaction/fold) ran while the fence was armed, the
    # CURRENT snapshot is the maintenance one — its parent is the torn
    # snapshot itself, whose offsets equal the committed offsets, so the
    # torn batch would re-derive as empty.  Walk the parent chain past
    # maintenance snapshots to the snapshot that actually committed the
    # torn epoch; its parent holds the true pre-epoch offsets.
    epoch_snap = snap
    while (
        epoch_snap.get("operation") == "replace"
        or "maintenance" in epoch_snap.get("summary", {})
    ):
        pid = epoch_snap.get("parent_snapshot_id")
        try:
            epoch_snap = table.snapshot(pid) if pid is not None else None
        except KeyError:
            epoch_snap = None  # torn snapshot expired while fence armed
        if epoch_snap is None:
            break
    if linfo is not None:
        # 1. the torn epoch's quarantined ROWS: re-derive them from the
        #    immutable ledger — the torn batch is exactly
        #    (parent offsets, committed offsets].  Always rewritten
        #    (overwrite is idempotent): a bare directory-exists check
        #    would be fooled by a half-written quarantine dir from the
        #    crash itself.
        if int(linfo.get("quarantined", 0)) > 0:
            qdir = os.path.join(
                checkpoint_dir, "quarantine", f"epoch={snap_epoch}"
            )
            parent_id = (
                epoch_snap.get("parent_snapshot_id")
                if epoch_snap is not None
                else None
            )
            try:
                parent_offsets = (
                    {
                        int(k): int(v)
                        for k, v in table.snapshot(parent_id)["summary"]
                        .get("offsets", {})
                        .items()
                    }
                    if parent_id is not None
                    else ({} if epoch_snap is not None else None)
                )
            except KeyError:
                # parent snapshot expired while the fence was armed: the
                # exact torn batch can no longer be reconstructed — keep
                # ingest alive (lineage still records the count) rather
                # than crash on every start
                parent_offsets = None
            if parent_offsets is not None:
                segs = [
                    s
                    for s in list_segments(ledger_dir)
                    if s.max_lsn > parent_offsets.get(s.src_part, -1)
                    and s.src_part in new_offsets
                ]
                if segs:
                    torn = read_batch(spark, segs, parent_offsets, new_offsets)
                    torn.filter(~validity_predicate()).write.mode(
                        "overwrite"
                    ).parquet(qdir)
        # 2. lineage BEFORE the checkpoint save (same invariant as the
        #    normal path: the audit log can never have an epoch gap).
        #    Attribute the records to the snapshot that committed the
        #    epoch, not a maintenance snapshot that may now be current.
        lin.emit(
            checkpoint_dir,
            epoch=snap_epoch,
            snapshot_id=(epoch_snap or snap)["snapshot_id"],
            partition_stats=linfo["partition_stats"],
            wall_ms=0.0,
            quarantined=int(linfo.get("quarantined", 0)),
            repaired=True,
        )
    else:
        # torn snapshot has no lineage in its summary (pre-v2 code or a
        # streaming-path commit) — emit a placeholder record so the audit
        # log stays gap-free even across legacy snapshots
        lin.emit(
            checkpoint_dir,
            epoch=snap_epoch,
            snapshot_id=(epoch_snap or snap)["snapshot_id"],
            partition_stats=[],
            wall_ms=0.0,
            quarantined=0,
            repaired=True,
        )
    # 3. checkpoint last — the fence stays armed until everything above
    #    landed
    ck = {
        "epoch": snap_epoch,
        "offsets": new_offsets,
        "snapshot_id": snap["snapshot_id"],
        # advisory skew hint survives the repair (losing it would run
        # the first post-crash epoch unsalted on a known-hot key)
        "salt_hint": ck.get("salt_hint"),
    }
    ckpt.save(checkpoint_dir, ck)
    return ck


def _prune_quarantine(checkpoint_dir: str, keep: int) -> int:
    """Drop all but the newest ``keep`` dead-letter epoch dirs (both the
    batch loop's ``epoch=N`` and the streaming adapter's
    ``ss_batch=N`` naming).  Opt-in: quarantined rows are audit
    evidence; an unbounded loop that never prunes them grows one dir
    per bad epoch forever."""
    import shutil

    qroot = os.path.join(checkpoint_dir, "quarantine")
    if not os.path.isdir(qroot):
        return 0
    def _num(d: str) -> int:
        try:
            return int(d.split("=", 1)[1])
        except (IndexError, ValueError):
            return -1
    # the batch loop's epoch=N and the streaming adapter's ss_batch=N
    # numberings are independent sequences — prune each namespace on its
    # own, else interleaved ids delete newer dirs while keeping older
    by_ns: dict[str, list[str]] = {}
    for d in os.listdir(qroot):
        if "=" in d:
            by_ns.setdefault(d.split("=", 1)[0], []).append(d)
    n = 0
    for dirs in by_ns.values():
        dirs.sort(key=_num)
        for d in dirs[: max(0, len(dirs) - max(0, keep))]:
            shutil.rmtree(os.path.join(qroot, d), ignore_errors=True)
            n += 1
    return n


def run_increment(
    spark: SparkSession,
    ledger_dir: str,
    table_root: str,
    checkpoint_dir: str,
    *,
    max_segments_per_part: int | None = None,
    max_epochs: int | None = None,
    salts: int | str | None = "auto",
    num_buckets: int = 16,
    crash_hook: Callable[[str], None] | None = None,
    format_version: int = 2,
    mode: str = "auto",
    fold_min_deltas: int | None = None,
    fold_max_buckets: int | None = None,
    salt_threshold: int = DEFAULT_HOT_THRESHOLD,
    expire_every: int | None = None,
    keep_last: int = 10,
    older_than_ms: int | None = None,
    gc_every: int | None = None,
    gc_grace_ms: int = 24 * 3600 * 1000,
    lineage_rotate_bytes: int | None = None,
    quarantine_keep: int | None = None,
    branch: str | None = None,
) -> list[dict]:
    """Drain the ledger in micro-batches (availableNow semantics);
    returns the lineage records emitted.  Resumable: state is entirely
    in ``checkpoint_dir`` + the table's snapshot summaries.

    ``mode``: ``"cow"`` (copy-on-write MERGE — rewrites touched buckets,
    best for backfill / read-heavy tables), ``"mor"`` (merge-on-read —
    appends resolved delta files, Θ(batch) per epoch regardless of table
    size; the steady-state choice for sustained apply into large
    tables), or ``"auto"`` (the default): each epoch commits
    copy-on-write while the table is empty (the backfill epoch — there
    is nothing to rewrite, COW is one plain write) and merge-on-read
    once rows exist, so a sustained incremental loop gets the Θ(batch)
    path WITHOUT the operator knowing the mode flag exists.  The
    decision reads one metadata field (current snapshot's total_rows) —
    no Spark job.  Measured: COW into a loaded table collapses 810k →
    ~50k ev/s while MoR stays flat (BENCH/BASELINE.md §r3), so a
    scale-unsafe default would penalize exactly the north-star loop
    shape.

    ``fold_min_deltas``: in MoR epochs, fold buckets that hold deltas
    from at least this many distinct commits, counting the epoch's own,
    back to one resolved file (None = never — except under
    ``mode="auto"``, where it defaults to 8 so read-time window depth
    stays bounded without operator action).  The fold is part of the
    epoch's apply: the folded buckets' stored rows join the batch in
    its one LWW window and are written back as base files, so a folding
    epoch is still one Spark job and one snapshot, whose summary lists
    the folded buckets as ``compacted_buckets``.  ``fold_max_buckets``
    bounds each fold to the K most-indebted buckets (auto default:
    num_buckets/8) so fold cost spreads across epochs instead of one
    epoch absorbing a full-table fold.  All modes produce
    byte-identical resolved state (tests/test_replay.py proves
    fingerprint equality).

    In-loop retention (the longevity triad — without it an unbounded
    loop grows O(total-epochs) state: the snapshot list rides
    metadata.json and is rewritten EVERY commit, version files
    accumulate one per commit, crash leftovers never reclaim):
    ``expire_every=E`` runs ``expire_snapshots(keep_last, older_than_ms)``
    every E epochs (also pruning metadata version files);
    ``gc_every=G`` runs ``gc_orphans(grace_ms=gc_grace_ms)`` every G
    epochs.  Both run AFTER the epoch's checkpoint, so the
    just-committed snapshot is always retained and a crash inside
    maintenance leaves a consistent, resumable table; the fence-repair
    path tolerates expired parents by design (_fence_and_repair).
    ``lineage_rotate_bytes`` rolls the audit log into epoch-named
    archives past that size (read_lineage reads across archives);
    ``quarantine_keep`` bounds the dead-letter directory to the newest
    K epoch dirs (default None: quarantined rows are audit evidence and
    kept forever — pruning is an explicit operator decision).
    tests/test_replay.py::test_longevity_soak proves ~100 epochs with
    retention+folds interleaved keep metadata bounded and reconverge
    byte-identically.

    ``branch``: commit every epoch to a named branch instead of main
    (write-audit-publish): readers of main never observe the run until
    ``lake.maintain.audit_and_publish`` gates pass and fast-forward it
    in one atomic swap — a crash mid-ingest or mid-audit leaves main
    byte-identically untouched (tests/test_wap.py)."""
    from concurrent.futures import ThreadPoolExecutor

    if mode not in ("auto", "cow", "mor"):
        raise ValueError(f"mode must be 'auto', 'cow' or 'mor', got {mode!r}")
    if mode == "auto" and fold_min_deltas is None:
        fold_min_deltas = 8
        if fold_max_buckets is None:
            fold_max_buckets = max(1, num_buckets // 8)
    hook = crash_hook or (lambda point: None)
    # branch-bound handle: every read/commit of this run resolves to
    # the branch head; main is untouched until lake.maintain.
    # audit_and_publish fast-forwards it (write-audit-publish)
    table = IceboxTable(table_root, branch=branch)
    all_records: list[dict] = []
    epochs_done = 0
    pool = ThreadPoolExecutor(max_workers=1)
    prefetched = None  # Future[list[Segment]] for the next epoch

    try:
        while max_epochs is None or epochs_done < max_epochs:
            t0 = time.monotonic()
            ck = ckpt.load(checkpoint_dir)
            if table.exists():
                ck = _fence_and_repair(spark, ledger_dir, table, checkpoint_dir, ck)

            # epoch e+1's ledger discovery overlapped epoch e's merge
            # (driver-side footer listing costs ~seconds at production
            # segment counts — hidden entirely behind the write)
            segments = prefetched.result() if prefetched is not None else list_segments(ledger_dir)
            prefetched = None
            chosen, cutoffs = select_batch(
                segments, ck["offsets"], max_segments_per_part=max_segments_per_part
            )
            if not chosen:
                # the listing may have been prefetched before new segments
                # arrived — confirm emptiness with a fresh listing
                segments = list_segments(ledger_dir)
                chosen, cutoffs = select_batch(
                    segments, ck["offsets"], max_segments_per_part=max_segments_per_part
                )
                if not chosen:
                    break

            # no persist: the batch is consumed twice (stats agg + merge) and
            # re-decoding footer-pruned parquet is cheaper than materializing
            # the rows into executor memory — and stays true at 100 TB where
            # caching a batch would evict everything else
            raw = read_batch(spark, chosen, ck["offsets"], cutoffs)
            # lineage + quarantine stats ride along as an `observe` node —
            # the ledger is scanned exactly ONCE per epoch (by the merge)
            parts = sorted(cutoffs)
            observed, obs = lin.observed_stats(raw, VALIDITY_SQL, parts)
            valid, _ = split_valid(observed)
            # dead-letter branch comes off `raw` (not `observed`) so writing
            # it doesn't re-trigger the observation
            bad = raw.filter(~validity_predicate())

            # new offsets: planned cutoffs (deterministic even for
            # batches whose rows were all duplicates/quarantined)
            new_offsets = dict(ck["offsets"])
            for part, hi in cutoffs.items():
                new_offsets[part] = max(hi, new_offsets.get(part, -1))

            # mode="auto": decide THIS epoch's commit kind from one
            # metadata field, BEFORE the table may be created below
            # (a table created this epoch is the backfill case → cow)
            if mode == "auto":
                snap0 = table.current_snapshot() if table.exists() else None
                epoch_mode = "mor" if snap0 and snap0.get("total_rows", 0) > 0 else "cow"
            else:
                epoch_mode = mode

            # additive schema evolution BEFORE write (BASELINE.json:6);
            # incoming columns are first mapped through the table's
            # rename history so a renamed payload column the ledger
            # keeps sending under its old wire name feeds the renamed
            # column instead of re-evolving a fresh duplicate
            if not table.exists():
                batch_table_schema = table_schema_for(
                    T.StructType([f for f in valid.schema.fields])
                )
                IceboxTable.create(
                    table_root,
                    batch_table_schema,
                    num_buckets=num_buckets,
                    format_version=format_version,
                )
                table = IceboxTable(table_root, branch=branch)
            else:
                valid = align_renames(table, valid)
                batch_table_schema = table_schema_for(
                    T.StructType([f for f in valid.schema.fields])
                )
                ensure_table_schema(table, batch_table_schema, hook=hook)

            # salts="auto": decide THIS epoch's salting from the LAST
            # epoch's observed per-key max (skew persists across adjacent
            # batches), and observe this epoch's max for free on the LWW
            # window itself — no sample pass, the ledger is scanned
            # exactly once per epoch under every salts config.  The hint
            # rides the checkpoint so restarts keep the decision.
            auto_salt = salts == "auto"
            if auto_salt:
                from pyspark.sql import Observation

                batch_salts = ck.get("salt_hint") or None
                rn_obs = Observation()
            else:
                batch_salts, rn_obs = salts, None

            epoch = ck["epoch"] + 1
            hook("pre_merge")
            # the snapshot summary carries the fencing essentials (epoch +
            # offsets) PLUS the observed lineage stats (bound in by
            # summary_fn after the write action fills the observation) — a
            # crash between snapshot-commit and lineage-emit is repairable
            # from the snapshot alone (_fence_and_repair re-emits)
            stash: dict = {}

            def _lineage_summary() -> dict:
                pstats, n_bad = lin.collect_observed_stats(obs, parts)
                stash["pstats"], stash["n_bad"] = pstats, n_bad
                return {
                    "lineage": {"partition_stats": pstats, "quarantined": n_bad}
                }

            # overlap: discover epoch e+1's segments while this epoch's
            # merge/write executes (footer reads release the GIL).
            # STELLAR_NO_PREFETCH=1 disables (A/B measurement seam).
            if os.environ.get("STELLAR_NO_PREFETCH") != "1" and (
                max_epochs is None or epochs_done + 1 < max_epochs
            ):
                prefetched = pool.submit(list_segments, ledger_dir)
            if epoch_mode == "mor":
                # the fold rides this epoch's apply: one job, one snapshot
                fold = fold_targets(
                    table,
                    min_delta_commits=fold_min_deltas,
                    max_buckets=fold_max_buckets,
                    pending_commit=True,
                )
                apply_fn = partial(delta_apply, fold_buckets=fold)
            else:
                apply_fn = merge_apply
            snapshot_id = apply_fn(
                spark,
                table,
                valid,
                salts=batch_salts,
                summary={
                    "epoch": epoch,
                    "offsets": {str(k): int(v) for k, v in new_offsets.items()},
                },
                summary_fn=_lineage_summary,
                rn_observation=rn_obs,
                batch_rows=sum(s.rows for s in chosen),
            )
            hook("post_snapshot")
            # a zero-valid-row epoch carries the previous hint (no new
            # information); otherwise re-decide from this epoch's max
            salt_hint = batch_salts if auto_salt else None
            if auto_salt and sum(p["rows"] for p in stash["pstats"]) > 0:
                # observation filled by the epoch's own action (guarded:
                # a zero-valid-row COW epoch short-circuits before the
                # resolve window, leaving the observation empty)
                per_salt_max = int(rn_obs.get.get("max_rn") or 0)
                est_max = per_salt_max * int(batch_salts or 1)
                salt_hint = DEFAULT_SALTS if est_max >= salt_threshold else None
            # dead-letter sink: quarantined rows are persisted, never silently
            # dropped (validate.py contract).  Costs a second ledger scan only
            # on epochs that actually had bad rows; overwrite mode keeps
            # crash-replays idempotent.  A crash inside the snapshot→checkpoint
            # window is covered too: _fence_and_repair re-derives the torn
            # batch's quarantined rows from the immutable ledger.
            if stash["n_bad"]:
                bad.write.mode("overwrite").parquet(
                    os.path.join(checkpoint_dir, "quarantine", f"epoch={epoch}")
                )
            wall_ms = (time.monotonic() - t0) * 1000.0
            # lineage BEFORE the checkpoint save: a crash in between replays
            # the emit on restart (idempotent per epoch), so the audit log
            # can never have a gap
            all_records += lin.emit(
                checkpoint_dir,
                epoch=epoch,
                snapshot_id=snapshot_id,
                partition_stats=stash["pstats"],
                wall_ms=wall_ms,
                quarantined=stash["n_bad"],
            )
            ckpt.save(
                checkpoint_dir,
                {
                    "epoch": epoch,
                    "offsets": new_offsets,
                    "snapshot_id": snapshot_id,
                    "salt_hint": salt_hint,
                },
            )
            hook("post_checkpoint")
            if expire_every and epoch % int(expire_every) == 0:
                from ..lake.maintain import expire_snapshots

                expire_snapshots(
                    table, keep_last=keep_last, older_than_ms=older_than_ms
                )
                hook("post_expire")
            if gc_every and epoch % int(gc_every) == 0:
                from ..lake.maintain import gc_orphans

                gc_orphans(table, grace_ms=gc_grace_ms)
            if lineage_rotate_bytes:
                lin.rotate(checkpoint_dir, int(lineage_rotate_bytes))
            if quarantine_keep is not None:
                _prune_quarantine(checkpoint_dir, int(quarantine_keep))
            epochs_done += 1
    finally:
        pool.shutdown(wait=False, cancel_futures=True)

    return all_records


def backfill(
    spark: SparkSession,
    ledger_dir: str,
    table_root: str,
    checkpoint_dir: str,
    **kwargs,
) -> list[dict]:
    """One-shot seed (reference CLI analogue [PK-med]): drain everything
    available in one epoch.  Pinned copy-on-write: a backfill's one big
    epoch IS the table rewrite, and the result reads without the
    merge-on-read resolve window."""
    kwargs.setdefault("max_segments_per_part", None)
    kwargs.setdefault("max_epochs", 1)
    kwargs.setdefault("mode", "cow")
    return run_increment(spark, ledger_dir, table_root, checkpoint_dir, **kwargs)
