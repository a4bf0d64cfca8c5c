"""Table maintenance: small-file compaction + snapshot expiry — the
operational pair every copy-on-write ingest table needs at 100 TB
(Iceberg's ``rewrite_data_files`` / ``expire_snapshots`` analogues).

Compaction is a *logical no-op*: same rows, same replay fingerprint,
fewer files — only the physical layout and the manifests change.  The
epoch fence is untouched (the compaction snapshot carries the previous
summary's epoch/offsets forward, so a CDC restart after compaction
resumes exactly where it left off).

Scale notes: compaction reads+rewrites ONLY the selected buckets
(manifest pruning) and commits O(touched) manifests; at
1000 executors you compact buckets in batches sized to the cluster.
Expiry is pure driver-side metadata + file deletion — no Spark job.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession

from .core import IceboxTable, parse_ref_key
from .read import scan
from .write import bucket_expr, write_data_files


def plan_compaction(
    table: IceboxTable, *, min_files_per_bucket: int = 2
) -> list[int]:
    """CURRENT-spec buckets whose file count warrants a rewrite (an
    old-spec file counts toward every bucket of its congruence class —
    compacting any of them migrates it to the current spec)."""
    table = table.pinned()
    counts: dict[int, int] = {}
    for e in table.files():
        for b in table.covered_buckets(e["bucket"], e.get("spec_id", 0)):
            counts[b] = counts.get(b, 0) + 1
    return sorted(b for b, n in counts.items() if n >= min_files_per_bucket)


def compact(
    spark: SparkSession,
    table: IceboxTable,
    *,
    buckets: list[int] | None = None,
    min_files_per_bucket: int = 2,
) -> int | None:
    """Rewrite fragmented buckets into one file per bucket; returns the
    new snapshot id, or None if nothing needed compacting.  The summary
    carries the parent's epoch/offsets forward so the CDC fence still
    sees the latest applied epoch.

    A job of its own, not the CDC apply (lake/merge.py): it also
    rewrites tables that lack the ``_ts/_lsn/_src_part/_op`` envelope
    the apply's LWW window ranks on (the dedup index's tables bucket on
    ``doc_id``, ops/dedup_index.py), and routing those through the
    apply would make shared code branch on its caller."""
    table = table.pinned()
    target = plan_compaction(table, min_files_per_bucket=min_files_per_bucket)
    if buckets is not None:
        target = sorted(set(target) & set(buckets))
    if not target:
        return None
    df = scan(spark, table, buckets=target)  # full fidelity: tombstones + meta cols
    dfb = df.withColumn("__bucket", bucket_expr(table.bucket_column, table.num_buckets))
    # salt_n=1 → exactly one output file per bucket per task group
    entries = write_data_files(dfb, table, salt_n=1)
    prev = table.current_snapshot()
    # carry the FULL fencing state forward — including the torn-epoch
    # lineage stats, so compacting while the CDC fence is armed doesn't
    # erase the repair data _fence_and_repair needs
    summary = {
        k: v
        for k, v in (prev.get("summary", {}) if prev else {}).items()
        if k in ("epoch", "offsets", "ss_batch_id", "lineage")
    }
    summary["maintenance"] = "compact"
    summary["compacted_buckets"] = target
    return table.commit(
        added_files=entries,
        replaced_buckets=target,
        summary=summary,
        operation="replace",
    )


def delta_counts(table: IceboxTable) -> dict[int, dict]:
    """Per-CURRENT-bucket merge-on-read debt in the current snapshot:
    ``{bucket: {files, commits}}``.  Metadata-only: the manifest list
    carries both counts per bucket ref.  ``commits`` is the
    policy-relevant number — one delta commit may fan out into several
    files per bucket (write salt), and the read-time window depth grows
    with COMMITS per bucket, not files.  After a rescale, an old-spec
    ref's debt is attributed to every bucket of its congruence class (an
    upper bound per bucket — exact again once the class is
    folded/migrated); zeros stay exact, so "no debt" checks are
    unaffected."""
    table = table.pinned()
    sid = table.head_id()
    if sid is None:
        return {}
    out: dict[int, dict] = {}
    for key, ref in table.manifest_list(sid).items():
        s, b = parse_ref_key(key)
        for cb in table.covered_buckets(b, s):
            cur = out.setdefault(cb, {"files": 0, "commits": 0})
            cur["files"] += ref["delta_files"]
            cur["commits"] += ref["delta_commits"]
    return out


def fold_targets(
    table: IceboxTable,
    *,
    min_delta_commits: int | None,
    max_buckets: int | None = None,
    pending_commit: bool = False,
) -> list[int]:
    """The fold policy: buckets holding deltas from at least
    ``min_delta_commits`` distinct commits, most-indebted first, at most
    ``max_buckets`` of them (sorted; none when ``min_delta_commits`` is
    None).  Counting COMMITS, not files, makes the policy independent of
    the write salt's per-commit file fan-out (a single epoch can write
    up to 8 files per bucket).

    ``pending_commit=True`` counts one more delta commit in every
    current bucket — the epoch's own commit, which the in-apply fold
    (lake/merge.py::delta_apply) lands together with the fold.  A batch
    of a steady loop touches every bucket, so a bucket folds in the same
    epoch as under a fold that runs after the commit."""
    if not min_delta_commits:
        return []
    table = table.pinned()
    counts = {b: c["commits"] for b, c in delta_counts(table).items()}
    if pending_commit:
        counts = {b: counts.get(b, 0) + 1 for b in range(table.num_buckets)}
    target = sorted(
        (b for b, n in counts.items() if n >= min_delta_commits),
        key=lambda b: (-counts[b], b),
    )
    if max_buckets is not None:
        target = target[:max_buckets]
    return sorted(target)


def fold_deltas(
    spark: SparkSession,
    table: IceboxTable,
    *,
    min_delta_commits: int = 2,
    max_buckets: int | None = None,
) -> int | None:
    """Explicit merge-on-read maintenance: rewrite the buckets
    ``fold_targets`` picks down to one resolved file each (scan()
    resolves LWW, so the rewrite IS the fold — rewritten files drop the
    delta flag and subsequent reads of those buckets skip the resolve
    window entirely).  Fingerprint-equal by construction, fence carried
    forward like any compaction.  Returns the new snapshot id, or None
    when no bucket crossed the policy.  The ingest loops fold inside the
    epoch's own apply instead (lake/merge.py::delta_apply).

    ``max_buckets`` bounds one fold's work (latency smoothing: instead
    of one call absorbing a full-table fold — measured ≈ a COW epoch,
    BENCH/BASELINE.md §r3 — each call folds at most K buckets,
    most-indebted first)."""
    table = table.pinned()
    target = fold_targets(
        table, min_delta_commits=min_delta_commits, max_buckets=max_buckets
    )
    if not target:
        return None
    return compact(spark, table, buckets=target, min_files_per_bucket=1)


def expire_snapshots(
    table: IceboxTable,
    *,
    keep_last: int = 2,
    older_than_ms: int | None = None,
    now_ms: int | None = None,
) -> dict:
    """Drop old snapshots: delete their data files (unless still
    referenced by a kept snapshot) and their manifests (unless shared by
    reference — a commit carries untouched buckets' manifests across
    snapshots).  Time travel remains valid within the retention window;
    the current snapshot is always kept.

    Retention is the Iceberg pair: a snapshot expires only if it is
    BOTH beyond the newest ``keep_last`` AND (when ``older_than_ms`` is
    given) older than ``now - older_than_ms`` — time-based policies
    never drop below the keep_last floor, and keep_last alone behaves
    as before.  Snapshots named by a tag (core.py::tag) are retention
    anchors and never expire regardless of age.  ``now_ms`` is a test
    seam.

    Besides snapshots, this prunes metadata VERSION files: every commit
    writes a fresh ``v{N}.metadata.json``, and in an unbounded ingest
    loop those would accumulate one per epoch forever — only the
    version-hint's current file is ever read, so all but the newest few
    are history and deleted here (the in-loop retention hook makes the
    metadata directory O(retained snapshots), not O(total epochs)).

    Driver-side only; returns {snapshots_expired, data_files_deleted,
    manifests_deleted}; CommitConflict (nothing deleted) when a commit
    lands while it runs."""
    table = table.pinned()
    meta = table._draft()
    snaps = meta["snapshots"]
    cut = max(0, len(snaps) - max(1, keep_last))
    if older_than_ms is not None:
        now = int(time.time() * 1000) if now_ms is None else int(now_ms)
        cutoff_ts = now - int(older_than_ms)
        age_cut = next(
            (i for i, s in enumerate(snaps) if s["timestamp_ms"] >= cutoff_ts),
            len(snaps),
        )
        cut = min(cut, age_cut)
    # anchors never expire: tags, branch heads (unpublished work), and
    # the MAIN head — during a long branch-ingest window main can fall
    # behind the keep_last prefix yet must remain publishable-onto
    anchored = set(meta.get("refs", {}).values())
    anchored |= set(meta.get("branches", {}).values())
    if meta["current_snapshot_id"] is not None:
        anchored.add(meta["current_snapshot_id"])
    expired = [s for s in snaps[:cut] if s["snapshot_id"] not in anchored]
    kept = [s for s in snaps if s["snapshot_id"] in anchored] + snaps[cut:]
    kept = sorted(
        {s["snapshot_id"]: s for s in kept}.values(),
        key=lambda s: s["snapshot_id"],
    )
    if not expired:
        _prune_metadata_versions(table)
        return {"snapshots_expired": 0, "data_files_deleted": 0, "manifests_deleted": 0}
    kept_set = {s["snapshot_id"] for s in kept}
    assert table.head_id() in kept_set
    if meta["current_snapshot_id"] is not None:
        assert meta["current_snapshot_id"] in kept_set

    def _manifest_names(sid: int) -> set[str]:
        return {ref["manifest"] for ref in table.manifest_list(sid).values()}

    kept_ids = [s["snapshot_id"] for s in kept]
    live_paths: set[str] = set()
    live_manifests: set[str] = set()
    for sid in kept_ids:
        live_paths |= {e["path"] for e in table.files(sid)}
        live_manifests |= _manifest_names(sid)

    # collect EVERYTHING to delete before touching anything — expired
    # snapshots share manifests by reference, so deleting while
    # iterating would break reads of later expired snapshots mid-pass
    dead_data: set[str] = set()
    dead_manifests: set[str] = set()
    dead_lists: list[str] = []
    for s in expired:
        sid = s["snapshot_id"]
        dead_data |= {e["path"] for e in table.files(sid)} - live_paths
        dead_manifests |= _manifest_names(sid) - live_manifests
        dead_lists.append(f"snap-{sid}.manifest-list.json")

    # metadata commit FIRST: a crash mid-delete then leaves a consistent
    # table plus harmless orphan files (the same guarantee core.commit
    # gives), never a kept snapshot pointing at deleted manifests
    meta["snapshots"] = kept
    table._swap_metadata(meta)

    n_data = n_manifest = 0
    for rel in sorted(dead_data):
        full = os.path.join(table.root, rel)
        if os.path.exists(full):
            os.remove(full)
            n_data += 1
    for name in sorted(dead_manifests):
        full = os.path.join(table.meta_dir, name)
        if os.path.exists(full):
            os.remove(full)
            n_manifest += 1
    for name in dead_lists:
        full = os.path.join(table.meta_dir, name)
        if os.path.exists(full):
            os.remove(full)
    _prune_metadata_versions(table)
    return {
        "snapshots_expired": len(expired),
        "data_files_deleted": n_data,
        "manifests_deleted": n_manifest,
    }


def _prune_metadata_versions(table: IceboxTable, *, keep: int = 3) -> int:
    """Delete metadata version files older than the newest ``keep``.
    Safe at any point: only the version the hint names is ever read
    (core.py::metadata), older files are write-once history.  Keeping a
    few (not just the current) preserves a forensic window across the
    last couple of commits."""
    cur = table._version()
    n = 0
    for fn in os.listdir(table.meta_dir):
        if not (fn.startswith("v") and fn.endswith(".metadata.json")):
            continue
        try:
            v = int(fn[1:].split(".", 1)[0])
        except ValueError:
            continue
        if v <= cur - max(1, keep):
            os.remove(os.path.join(table.meta_dir, fn))
            n += 1
    return n


def gc_orphans(
    table: IceboxTable,
    *,
    grace_ms: int = 24 * 3600 * 1000,
    now_ms: int | None = None,
) -> dict:
    """Delete files referenced by NO snapshot — the third leg of the
    Iceberg maintenance triad (remove_orphan_files analogue).

    Orphans come from crashes between ``write_data_files`` and
    ``commit``: the data landed under ``data/snap-pending-*`` but no
    snapshot references it, so neither commit retries nor
    ``expire_snapshots`` (which only deletes files KNOWN to expired
    snapshots) will ever reclaim it.  Candidates must be older than
    ``grace_ms`` — an in-flight commit's files are younger than any
    sane grace window.  GC commits nothing, so it raises no conflict: a
    grace shorter than a concurrent commit's write-to-swap time lets it
    delete that commit's files.

    Driver-side only (a directory walk + metadata diff); at object-store
    scale this is the same listing job Iceberg's procedure runs.
    Returns {data_files_deleted, manifests_deleted, bytes_reclaimed}."""
    now = int(time.time() * 1000) if now_ms is None else int(now_ms)
    cutoff_s = (now - int(grace_ms)) / 1000.0
    table = table.pinned()
    snap_ids = [s["snapshot_id"] for s in table.snapshots()]

    live_paths: set[str] = set()
    live_manifests: set[str] = set()
    for sid in snap_ids:
        live_paths |= {e["path"] for e in table.files(sid)}
        live_manifests |= {r["manifest"] for r in table.manifest_list(sid).values()}
        live_manifests.add(f"snap-{sid}.manifest-list.json")

    # a commit dir (data/<tag>/) is live iff ANY snapshot references a
    # file under it; fully-orphaned commit dirs are deleted wholesale —
    # including Spark's _SUCCESS / Hadoop .crc droppings, so repeated
    # crashes can't accumulate empty snap-pending-* dirs.  Inside LIVE
    # commit dirs only unreferenced parquet is removed (zero-row files
    # the manifest skipped); markers are left alone.
    live_commit_dirs = {p.split("/")[1] for p in live_paths if "/" in p}
    n_data = n_manifest = reclaimed = 0
    for root, _dirs, files in os.walk(table.data_dir):
        rel_root = os.path.relpath(root, table.data_dir)
        tag = rel_root.split(os.sep)[0] if rel_root != "." else None
        dir_live = tag is None or tag in live_commit_dirs
        for fn in files:
            full = os.path.join(root, fn)
            rel = os.path.relpath(full, table.root)
            if rel in live_paths:
                continue
            if dir_live and not fn.endswith(".parquet"):
                continue  # markers in live commit dirs are harmless
            if os.path.getmtime(full) >= cutoff_s:
                continue  # grace: possibly an in-flight commit
            reclaimed += os.path.getsize(full)
            os.remove(full)
            if fn.endswith(".parquet"):
                n_data += 1
    # prune now-empty commit/bucket dirs (cosmetic, keeps listings tight).
    # os.listdir at yield time, not the walk's dirs/files snapshot — the
    # parent's listing was taken BEFORE its children were rmdir'd
    for root, _dirs, _files in os.walk(table.data_dir, topdown=False):
        if root != table.data_dir and not os.listdir(root):
            os.rmdir(root)
    # manifests whose snapshot vanished without expiry bookkeeping
    # (crash between manifest write and the version-hint swap)
    for fn in sorted(os.listdir(table.meta_dir)):
        if not (fn.startswith("snap-") and fn.endswith(".json")):
            continue
        if fn in live_manifests:
            continue
        full = os.path.join(table.meta_dir, fn)
        if os.path.getmtime(full) >= cutoff_s:
            continue
        reclaimed += os.path.getsize(full)
        os.remove(full)
        n_manifest += 1
    return {
        "data_files_deleted": n_data,
        "manifests_deleted": n_manifest,
        "bytes_reclaimed": int(reclaimed),
    }


def branch_only_snapshots(table: IceboxTable, branch: str) -> list[dict]:
    """The retained snapshots a branch added on top of main (branch
    head's parent chain, stopping at main's head or at a snapshot
    retention expired) — the AUDIT scope of write-audit-publish, oldest
    first."""
    table = table.pinned()
    head = table.branches().get(branch)
    if head is None:
        raise KeyError(f"no branch {branch!r}")
    main = table.for_branch(None).head_id()
    by_id = {s["snapshot_id"]: s for s in table.snapshots()}
    out: list[dict] = []
    node: int | None = head
    while node is not None and node != main and node in by_id:
        out.append(by_id[node])
        node = by_id[node]["parent_snapshot_id"]
    return list(reversed(out))


def audit_and_publish(
    spark: SparkSession | None,
    table: IceboxTable,
    branch: str,
    *,
    expect_fingerprint: dict | None = None,
    require_no_quarantine: bool = True,
    crash_hook=None,
) -> dict:
    """Write-audit-publish PUBLISH step: validate the branch, then
    fast-forward main onto its head (``core.py::publish_branch`` — one
    atomic metadata swap, so a crash anywhere before it leaves main
    untouched and the branch intact for a re-run).

    Gates (each failure raises, main untouched):
      - ``require_no_quarantine``: every branch-only snapshot's summary
        must report zero quarantined rows (the dead-letter count the
        runner binds into each commit) — bad input never publishes
        silently;
      - ``expect_fingerprint``: when given, the branch state's replay
        fingerprint (verify/fingerprint.py::table_fingerprint over the
        full-fidelity scan) must equal it — the audit a backfill or
        migration runs against a known-good answer.  Needs ``spark``.

    The publish commits on the version the gates read (CommitConflict
    if anything committed since).  Returns {published_snapshot_id, audited_snapshots, quarantined}.
    """
    hook = crash_hook or (lambda point: None)
    table = table.pinned()
    audited = branch_only_snapshots(table, branch)
    # Gate input: the RUNNING quarantine counter every commit binds into
    # its snapshot — branch head minus main's head covers the
    # branch-only span even when retention expired intermediate branch
    # snapshots, and maintenance commits' carried lineage is never
    # double-counted.
    quarantined = 0
    if audited:
        main = table.for_branch(None).head_id()
        base_cum = (
            0 if main is None else table.snapshot(main)["summary"]["cum_quarantined"]
        )
        quarantined = audited[-1]["summary"]["cum_quarantined"] - base_cum
    if require_no_quarantine and quarantined:
        raise ValueError(
            f"branch {branch!r} has {quarantined} quarantined row(s) across "
            f"{len(audited)} unpublished snapshot(s); refusing to publish"
        )
    if expect_fingerprint is not None:
        if spark is None:
            raise ValueError("expect_fingerprint audit needs a SparkSession")
        from ..verify.fingerprint import table_fingerprint
        from .read import scan

        got = table_fingerprint(scan(spark, table.for_branch(branch)))
        if got != dict(expect_fingerprint):
            raise ValueError(
                f"branch {branch!r} fingerprint {got} != expected "
                f"{dict(expect_fingerprint)}; refusing to publish"
            )
    hook("pre_publish")  # crash seam: audits passed, main still untouched
    published = table.publish_branch(branch)
    return {
        "published_snapshot_id": published,
        "audited_snapshots": len(audited),
        "quarantined": quarantined,
    }
