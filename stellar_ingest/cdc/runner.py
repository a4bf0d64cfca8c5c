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
2. discover + select the next batch (footer metadata only), and pick
   the epoch's data path from metadata (``_driver_apply_fits``): an
   unsalted epoch whose batch plus the stored data it rewrites are at
   most ``DRIVER_APPLY_MAX_ROWS`` rows and ``DRIVER_APPLY_MAX_BYTES``
   bytes runs on the driver with pyarrow and starts no Spark job; any
   other epoch is a Spark job.
3. read → validate/quarantine → HWM-filter (dedupe is absorbed by the
   MERGE window, see lake/merge.py): a lazy Spark read whose lineage
   counts are observed by the apply job, or on the driver path one
   pyarrow read (source.py::read_batch_arrow) validated and counted at
   once (validate.py::split_valid_arrow).
4. additive schema evolution committed BEFORE the data write
   (BASELINE.json:6 ordering requirement).
5. MERGE apply → snapshot ``s`` with summary {epoch: e+1, offsets',
   lineage stats} (stats observed during the merge, bound into the
   same atomic commit).  Both modes run lake/merge.py's one apply:
   copy-on-write rewrites the buckets the batch touches, merge-on-read
   rewrites the buckets it folds and appends the rest as deltas.  A
   Spark batch is applied by one Spark job, a pyarrow batch on the
   driver; both give the same files, manifest entries and snapshot.
   Between the apply's action and its commit the epoch persists its
   quarantined rows (dead-letter parquet, written by Spark on both
   paths, only when the epoch had any; a stale attempt's directory is
   removed otherwise), so they land before ``s``.
6. emit lineage.
7. checkpoint := {e+1, offsets', s}.   (crash between 5 and 7 is what
   step 1 repairs — offsets from the summary, lineage re-emitted from
   the summary's stats; no Spark job and no ledger read)

Steps 4-6 and the in-loop expiry/GC are the epoch tail the Structured
Streaming adapter (streaming/pipeline.py) runs too: ``_create_or_evolve``,
``_commit_epoch`` and ``_maintain``.

An epoch reads one pinned metadata version (lake/core.py::pinned) and
commits on it; another writer's commit in between makes it raise
``CommitConflict`` before its checkpoint, and a rerun reapplies it.

``crash_hook(point)`` is a test seam — tests/test_replay.py injects
crashes at every boundary and asserts byte-identical reconvergence.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession

from ..lake.core import IceboxTable, type_to_spark
from ..lake.maintain import expire_snapshots, fold_targets, gc_orphans
from ..lake.merge import DriverObservation, delta_apply, merge_apply
from ..lake import write as lake_write
from ..schema import align_renames, ensure_table_schema, table_schema_for
from . import checkpoint as ckpt
from . import lineage as lin
from .skew import DEFAULT_HOT_THRESHOLD, DEFAULT_SALTS
from .source import (
    Segment,
    batch_schema,
    list_segments,
    read_batch,
    read_batch_arrow,
    select_batch,
    spark_schema,
)
from .validate import observe_valid, split_valid_arrow, validity_predicate


def _driver_apply_fits(
    spark: SparkSession,
    table: IceboxTable,
    chosen: list[Segment],
    salts: int | None,
    mode: str,
    fold: list[int] | None,
    num_buckets: int,
) -> bool:
    """Whether this epoch's data path runs on the driver (pyarrow, no
    Spark job) — decided from metadata alone, before any row is read.
    Only where the Spark path would take the fused plan (LWW salting off
    for the epoch and ``write_salt`` 1), and only when the epoch's input
    is small in both rows and bytes: the chosen segments' footer rows
    plus the stored rows the epoch rewrites at most
    ``DRIVER_APPLY_MAX_ROWS``, and the segments' uncompressed row-group
    bytes plus the rewritten files' sizes at most
    ``DRIVER_APPLY_MAX_BYTES``.  The rewritten rows are the fold
    buckets' in a merge-on-read epoch, the whole table's in a
    copy-on-write one (its touched buckets are only known after the
    read).  A batch column whose table column has another type stays on
    Spark too (Spark's union would widen it)."""
    if salts and int(salts) > 1:
        return False
    exists = table.exists()
    if lake_write.write_salt(spark, table.num_buckets if exists else num_buckets) != 1:
        return False
    rows = sum(s.rows for s in chosen)
    nbytes = sum(s.bytes for s in chosen)
    if exists:
        if mode == "mor":
            stored = table.files(buckets=fold) if fold else []
        else:
            snap = table.current_snapshot()
            # the row bound first: it needs no manifest read
            if snap and rows + snap["total_rows"] > lake_write.DRIVER_APPLY_MAX_ROWS:
                return False
            stored = table.files() if snap else []
        rows += sum(e["rows"] for e in stored)
        nbytes += sum(os.path.getsize(os.path.join(table.root, e["path"])) for e in stored)
        types = {f["name"]: f["type"] for f in table.schema_fields()}
        renamed = table.rename_map()
        for f in batch_schema(chosen).fields:
            t = types.get(renamed.get(f.name, f.name))
            if t is not None and type_to_spark(t) != f.dataType:
                return False
    return (
        rows <= lake_write.DRIVER_APPLY_MAX_ROWS
        and nbytes <= lake_write.DRIVER_APPLY_MAX_BYTES
    )


# -- the epoch tail, shared with streaming/pipeline.py ------------------------
# Callees are looked up in this module's namespace, and ``lin.emit`` /
# ``ckpt.save`` as module attributes, at call time: perfbench wraps them there.


def _no_hook(point: str) -> None:
    pass


def _create_or_evolve(
    table: IceboxTable, batch, num_buckets: int, hook: Callable[[str], None] = _no_hook
) -> tuple[IceboxTable, object]:
    """Additive schema evolution BEFORE the data write (BASELINE.json:6):
    create the table from the batch's schema, or map the batch's columns
    through the table's rename history (a renamed payload column the
    ledger keeps sending under its old wire name feeds the renamed
    column instead of re-evolving a fresh duplicate) and commit the
    columns it adds.  Returns the handle the epoch commits from (pinned
    anew after a create or an evolution) and the aligned batch."""
    if not table.exists():
        IceboxTable.create(
            table.root, table_schema_for(spark_schema(batch)), num_buckets=num_buckets
        )
        return IceboxTable(table.root, branch=table.branch).pinned(), batch
    batch = align_renames(table, batch)
    added = ensure_table_schema(table, table_schema_for(spark_schema(batch)), hook=hook)
    if added.fields:
        table = IceboxTable(table.root, branch=table.branch).pinned()
    return table, batch


def _fold_pick(
    table: IceboxTable,
    mode: str,
    fold_min_deltas: int | None,
    fold_max_buckets: int | None,
) -> list[int] | None:
    """The buckets a merge-on-read epoch folds inside its own apply (one
    job, one snapshot), counting the epoch's own commit; None in a
    copy-on-write epoch or before the table exists."""
    if mode != "mor" or not table.exists():
        return None
    return fold_targets(
        table,
        min_delta_commits=fold_min_deltas,
        max_buckets=fold_max_buckets,
        pending_commit=True,
    )


def _write_dead_letters(rows: DataFrame | None, checkpoint_dir: str, name: str) -> None:
    """Persist the invalid rows of ``rows`` to ``quarantine/<name>``, or
    remove that directory when ``rows`` is None: quarantined rows are
    never silently dropped (validate.py contract).  Runs before the
    epoch's commit, so after a commit the directory holds exactly the
    committed batch's invalid rows.  An uncommitted attempt's dead
    letters stay until a rerun of that epoch overwrites or removes them,
    as its data files stay until ``gc_orphans``."""
    path = os.path.join(checkpoint_dir, "quarantine", name)
    if rows is None:
        shutil.rmtree(path, ignore_errors=True)
    else:
        rows.filter(~validity_predicate()).write.mode("overwrite").parquet(path)


def _emit_repaired(
    checkpoint_dir: str, epoch: int, snapshot_id: int, linfo: dict | None
) -> None:
    """Re-emit a committed epoch's lineage from its snapshot summary
    (no wall-clock available).  A summary without lineage (legacy
    snapshots) gets one placeholder record, so the audit log stays
    gap-free in epochs."""
    linfo = linfo or {}
    lin.emit(
        checkpoint_dir,
        epoch=epoch,
        snapshot_id=snapshot_id,
        partition_stats=linfo.get("partition_stats", []),
        wall_ms=0.0,
        quarantined=int(linfo.get("quarantined", 0)),
        repaired=True,
    )


def _commit_epoch(
    spark: SparkSession,
    table: IceboxTable,
    valid,
    checkpoint_dir: str,
    *,
    epoch: int,
    mode: str,
    fold: list[int] | None,
    fold_min_deltas: int | None,
    fold_max_buckets: int | None,
    summary: dict,
    observed: Callable[[], tuple[list[dict], int]],
    bad_rows: Callable[[], DataFrame],
    quarantine: str,
    t0: float,
    hook: Callable[[str], None] = _no_hook,
    **apply_kw,
) -> tuple[int | None, list[dict]]:
    """Apply one epoch, then emit its lineage; returns (snapshot id or
    None if ``skip_if_noop`` minted none, lineage records).  The
    snapshot summary is ``epoch`` + ``summary`` + the lineage stats
    ``observed`` reads once the write action filled them, bound into the
    same atomic commit, so a crash before the emit is repairable from
    the snapshot alone.  At that same point, between the action and the
    commit, the dead letters go to ``quarantine/<quarantine>``
    (``bad_rows`` is called only when the epoch quarantined rows;
    otherwise a stale attempt's directory is removed)."""
    stash: dict = {}

    def _lineage_summary() -> dict:
        pstats, n_bad = observed()
        stash["pstats"], stash["n_bad"] = pstats, n_bad
        _write_dead_letters(bad_rows() if n_bad else None, checkpoint_dir, quarantine)
        return {"lineage": {"partition_stats": pstats, "quarantined": n_bad}}

    if fold is None:  # a table created this epoch picks its fold now
        fold = _fold_pick(table, mode, fold_min_deltas, fold_max_buckets)
    apply_fn = merge_apply if mode == "cow" else partial(delta_apply, fold_buckets=fold)
    snapshot_id = apply_fn(
        spark,
        table,
        valid,
        summary={"epoch": epoch, **summary},
        summary_fn=_lineage_summary,
        **apply_kw,
    )
    if snapshot_id is None:
        return None, []
    hook("post_snapshot")
    # lineage BEFORE the checkpoint save: a crash in between replays the
    # emit on restart (idempotent per epoch), so the audit log can never
    # have a gap
    records = lin.emit(
        checkpoint_dir,
        epoch=epoch,
        snapshot_id=snapshot_id,
        partition_stats=stash["pstats"],
        wall_ms=(time.monotonic() - t0) * 1000.0,
        quarantined=stash["n_bad"],
    )
    return snapshot_id, records


def _maintain(
    table: IceboxTable,
    epoch: int,
    *,
    expire_every: int | None,
    keep_last: int,
    older_than_ms: int | None,
    gc_every: int | None,
    gc_grace_ms: int,
    hook: Callable[[str], None] = _no_hook,
) -> None:
    """In-loop retention after a committed epoch: snapshot expiry every
    ``expire_every`` epochs, orphan GC every ``gc_every``."""
    if expire_every and epoch % int(expire_every) == 0:
        expire_snapshots(table, keep_last=keep_last, older_than_ms=older_than_ms)
        hook("post_expire")
    if gc_every and epoch % int(gc_every) == 0:
        gc_orphans(table, grace_ms=gc_grace_ms)


def _fence_and_repair(table: IceboxTable, checkpoint_dir: str, ck: dict) -> dict:
    """Torn-commit repair (crash between snapshot-commit and
    checkpoint-write).  The torn epoch's dead letters landed before its
    commit, so repair replays only metadata from the snapshot summary —
    lineage, then checkpoint, as in the normal epoch tail — with no
    Spark job and no ledger read.  A crash at ANY point during repair
    just re-enters repair on the next start; every step is idempotent."""
    snap = table.current_snapshot() if table.exists() else None
    if snap is None:
        return ck
    summary = snap.get("summary", {})
    snap_epoch = int(summary.get("epoch", 0))
    if snap_epoch <= ck["epoch"]:
        return ck
    # If maintenance (compaction/fold) ran while the fence was armed, the
    # CURRENT snapshot is the maintenance one: walk the parent chain past
    # maintenance snapshots to the snapshot that committed the torn
    # epoch, which the repaired lineage names (the current one if the
    # torn snapshot expired while the fence was armed).
    epoch_snap = snap
    while epoch_snap is not None and (
        epoch_snap.get("operation") == "replace"
        or "maintenance" in epoch_snap.get("summary", {})
    ):
        pid = epoch_snap.get("parent_snapshot_id")
        try:
            epoch_snap = table.snapshot(pid) if pid is not None else None
        except KeyError:
            epoch_snap = None
    # lineage BEFORE the checkpoint save (same invariant as the normal
    # path: the audit log can never have an epoch gap)
    _emit_repaired(
        checkpoint_dir, snap_epoch, (epoch_snap or snap)["snapshot_id"], summary.get("lineage")
    )
    # checkpoint last — the fence stays armed until everything above landed
    ck = {
        "epoch": snap_epoch,
        "offsets": {int(k): int(v) for k, v in summary.get("offsets", {}).items()},
        "snapshot_id": snap["snapshot_id"],
        # advisory skew hint survives the repair (losing it would run
        # the first post-crash epoch unsalted on a known-hot key)
        "salt_hint": ck.get("salt_hint"),
        "unpositioned": {**ck.get("unpositioned", {}), **(summary.get("unpositioned") or {})},
    }
    ckpt.save(checkpoint_dir, ck)
    return ck


def _prune_quarantine(checkpoint_dir: str, keep: int) -> int:
    """Drop all but the newest ``keep`` dead-letter epoch dirs (both the
    batch loop's ``epoch=N`` and the streaming adapter's
    ``ss_batch=N`` naming).  Opt-in: quarantined rows are audit
    evidence; an unbounded loop that never prunes them grows one dir
    per bad epoch forever."""
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
    path reads only the torn snapshot's own summary (_fence_and_repair).
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
    hook = crash_hook or _no_hook
    # branch-bound handle: every read/commit of this run resolves to
    # the branch head; main is untouched until lake.maintain.
    # audit_and_publish fast-forwards it (write-audit-publish)
    live = IceboxTable(table_root, branch=branch)
    all_records: list[dict] = []
    epochs_done = 0
    pool = ThreadPoolExecutor(max_workers=1)
    prefetched = None  # Future[list[Segment]] for the next epoch

    try:
        while max_epochs is None or epochs_done < max_epochs:
            t0 = time.monotonic()
            ck = ckpt.load(checkpoint_dir)
            table = live.pinned() if live.exists() else live
            if table.exists():
                ck = _fence_and_repair(table, checkpoint_dir, ck)

            # epoch e+1's ledger discovery overlapped epoch e's merge
            # (driver-side footer listing costs ~seconds at production
            # segment counts — hidden entirely behind the write)
            segments = prefetched.result() if prefetched is not None else list_segments(ledger_dir)
            prefetched = None
            select = partial(
                select_batch,
                offsets=ck["offsets"],
                max_segments_per_part=max_segments_per_part,
                unpositioned=ck["unpositioned"],
            )
            chosen, cutoffs = select(segments)
            if not chosen:
                # the listing may have been prefetched before new segments
                # arrived — confirm emptiness with a fresh listing
                segments = list_segments(ledger_dir)
                chosen, cutoffs = select(segments)
                if not chosen:
                    break
            # segments without an lsn are read once: the summary and the
            # checkpoint record them (cdc/source.py module docstring)
            unpositioned = {s.path: s.mtime_ns for s in chosen if s.max_lsn is None}

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

            # salts="auto": decide THIS epoch's salting from the LAST
            # epoch's observed per-key max (skew persists across adjacent
            # batches), and observe this epoch's max for free on the LWW
            # window itself — no sample pass, the ledger is scanned
            # exactly once per epoch under every salts config.  The hint
            # rides the checkpoint so restarts keep the decision.
            auto_salt = salts == "auto"
            batch_salts = (ck.get("salt_hint") or None) if auto_salt else salts

            # the fold rides a MoR epoch's apply: one job, one snapshot
            # (a table created this epoch picks its fold after creation)
            fold = _fold_pick(table, epoch_mode, fold_min_deltas, fold_max_buckets)
            parts = sorted(cutoffs)
            if _driver_apply_fits(
                spark, table, chosen, batch_salts, epoch_mode, fold, num_buckets
            ):
                # a small epoch: read, validate, resolve and write on the
                # driver with pyarrow, no Spark job (lake/merge.py)
                valid, pstats, n_bad = split_valid_arrow(
                    read_batch_arrow(chosen, ck["offsets"], cutoffs), parts
                )
                observed = lambda: (pstats, n_bad)  # noqa: E731
                # its dead letters are read with Spark, only when it had any
                bad_rows = partial(read_batch, spark, chosen, ck["offsets"], cutoffs)
                rn_obs = DriverObservation() if auto_salt else None
            else:
                # no persist: the batch is consumed twice (stats agg +
                # merge) and re-decoding footer-pruned parquet is cheaper
                # than materializing the rows into executor memory — and
                # stays true at 100 TB where caching a batch would evict
                # everything else
                raw = read_batch(spark, chosen, ck["offsets"], cutoffs)
                # lineage + quarantine stats ride along as an `observe`
                # node — the ledger is scanned exactly ONCE per epoch (by
                # the merge)
                valid, obs = observe_valid(raw, parts)
                observed = partial(lin.collect_observed_stats, obs, parts)
                # dead letters come off `raw`, not the observed plan, so
                # writing them doesn't re-trigger the observation
                bad_rows = lambda: raw  # noqa: E731
                rn_obs = Observation() if auto_salt else None

            table, valid = _create_or_evolve(table, valid, num_buckets, hook)
            epoch = ck["epoch"] + 1
            hook("pre_merge")
            # overlap: discover epoch e+1's segments while this epoch's
            # merge/write executes (footer reads release the GIL)
            if max_epochs is None or epochs_done + 1 < max_epochs:
                prefetched = pool.submit(list_segments, ledger_dir)
            snapshot_id, records = _commit_epoch(
                spark,
                table,
                valid,
                checkpoint_dir,
                epoch=epoch,
                mode=epoch_mode,
                fold=fold,
                fold_min_deltas=fold_min_deltas,
                fold_max_buckets=fold_max_buckets,
                summary={
                    "offsets": {str(k): int(v) for k, v in new_offsets.items()},
                    **({"unpositioned": unpositioned} if unpositioned else {}),
                },
                observed=observed,
                bad_rows=bad_rows,
                quarantine=f"epoch={epoch}",
                t0=t0,
                hook=hook,
                salts=batch_salts,
                rn_observation=rn_obs,
                batch_rows=sum(s.rows for s in chosen),
            )
            all_records += records
            # a zero-valid-row epoch carries the previous hint (no new
            # information); otherwise re-decide from this epoch's max
            salt_hint = batch_salts if auto_salt else None
            if auto_salt and sum(r["rows"] for r in records) > 0:
                # observation filled by the epoch's own action (guarded:
                # a zero-valid-row COW epoch short-circuits before the
                # resolve window, leaving the observation empty)
                per_salt_max = int(rn_obs.get.get("max_rn") or 0)
                est_max = per_salt_max * int(batch_salts or 1)
                salt_hint = DEFAULT_SALTS if est_max >= salt_threshold else None
            ckpt.save(
                checkpoint_dir,
                {
                    "epoch": epoch,
                    "offsets": new_offsets,
                    "snapshot_id": snapshot_id,
                    "salt_hint": salt_hint,
                    "unpositioned": {**ck["unpositioned"], **unpositioned},
                },
            )
            hook("post_checkpoint")
            _maintain(
                live, epoch, expire_every=expire_every, keep_last=keep_last,
                older_than_ms=older_than_ms, gc_every=gc_every, gc_grace_ms=gc_grace_ms,
                hook=hook,
            )
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
