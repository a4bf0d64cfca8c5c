"""End-to-end exactly-once replay tests — the crown (SURVEY.md §5 layer 3;
BASELINE.json:6 "replay from any checkpoint reconverges to byte-identical
table state ... after crash/replay and mid-stream schema change").

Golden state = one-shot backfill of the full ledger.  Every other path —
different micro-batch splits, resume from every intermediate checkpoint,
crash injection at each commit-protocol boundary — must reproduce it
bit-for-bit (canonical fingerprint over the FULL stored state including
tombstones and meta columns, plus multiset exceptAll on the live view).
The expected live state itself is recomputed independently in pandas.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from stellar_ingest.cdc.runner import backfill, run_increment
from stellar_ingest.gen.changelog import gen_events, keyspace, write_ledger
from stellar_ingest.lake.core import IceboxTable
from stellar_ingest.lake.read import read_live, scan
from stellar_ingest.verify.diff import states_equal
from stellar_ingest.verify.fingerprint import table_fingerprint

from .helpers import expected_lww_pandas

N_CONVS = 40
KS = keyspace(N_CONVS)
SEG_SPAN = KS // 2  # era boundaries (KS, 2*KS) align to segment boundaries


@pytest.fixture(scope="module")
def ledger(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cdc")
    ledger_dir = str(root / "ledger")
    ev = gen_events(spark, N_CONVS, parts=4, seed=42)
    write_ledger(ev, ledger_dir, n_convs=N_CONVS, seg_span=SEG_SPAN)
    pdf = ev.toPandas()
    return {"dir": ledger_dir, "events": pdf, "root": root}


@pytest.fixture(scope="module")
def golden(spark, ledger):
    table_root = str(ledger["root"] / "golden_table")
    ck = str(ledger["root"] / "golden_ck")
    backfill(spark, ledger["dir"], table_root, ck, salts=None)
    t = IceboxTable(table_root)
    fp = table_fingerprint(scan(spark, t))
    return {"table_root": table_root, "fingerprint": fp}


def _expected_live_pandas(events):
    """Independent pandas oracle with era masking: columns not yet in
    the ledger schema at a mutation's lsn were never delivered."""
    pdf = events.copy()
    pdf.loc[pdf["lsn"] < KS, "tool"] = None
    pdf.loc[pdf["lsn"] < 2 * KS, "tool_version"] = None
    return expected_lww_pandas(pdf, payload_cols=("role", "text", "tool", "tool_version"))


def test_backfill_matches_pandas_oracle(spark, ledger, golden):
    t = IceboxTable(golden["table_root"])
    live = (
        read_live(spark, t)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    exp = _expected_live_pandas(ledger["events"])
    assert len(live) == len(exp)
    live = live[exp.columns.tolist()].reset_index(drop=True)
    # per-turn text equality under stable (conv_id, turn_idx) ordering
    assert (live["conv_id"] == exp["conv_id"]).all()
    assert (live["turn_idx"] == exp["turn_idx"]).all()
    assert live["text"].equals(exp["text"])
    assert live["role"].equals(exp["role"])
    assert live["tool"].equals(exp["tool"])
    assert live["tool_version"].equals(exp["tool_version"])
    assert live["ts"].equals(exp["ts"])


@pytest.mark.parametrize("max_segments", [4, 9])
def test_incremental_splits_reconverge(spark, ledger, golden, tmp_path, max_segments):
    table_root = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    recs = run_increment(
        spark, ledger["dir"], table_root, ck,
        max_segments_per_part=max_segments, salts=None,
    )
    assert len({r["epoch"] for r in recs}) > 1  # genuinely multi-batch
    t = IceboxTable(table_root)
    assert table_fingerprint(scan(spark, t)) == golden["fingerprint"]
    assert states_equal(
        read_live(spark, t), read_live(spark, IceboxTable(golden["table_root"]))
    )


def test_resume_from_every_intermediate_checkpoint(spark, ledger, golden, tmp_path):
    """Run in batches, snapshotting (table+checkpoint) after each epoch;
    every snapshot resumes to the same final fingerprint."""
    base_t = str(tmp_path / "t")
    base_c = str(tmp_path / "ck")
    saves = []
    epoch = 0
    while True:
        recs = run_increment(
            spark, ledger["dir"], base_t, base_c,
            max_segments_per_part=6, max_epochs=1, salts=None,
        )
        if not recs:
            break
        epoch += 1
        save_t, save_c = str(tmp_path / f"t{epoch}"), str(tmp_path / f"ck{epoch}")
        shutil.copytree(base_t, save_t)
        shutil.copytree(base_c, save_c)
    assert epoch >= 2
    final = table_fingerprint(scan(spark, IceboxTable(base_t)))
    assert final == golden["fingerprint"]
    for i in range(1, epoch + 1):
        run_increment(
            spark, ledger["dir"], str(tmp_path / f"t{i}"), str(tmp_path / f"ck{i}"),
            salts=None,
        )
        assert table_fingerprint(scan(spark, IceboxTable(str(tmp_path / f"t{i}")))) == golden["fingerprint"], f"resume from epoch {i} diverged"


class _Boom(RuntimeError):
    pass


@pytest.mark.parametrize(
    "crash_at", ["pre_evolve", "pre_merge", "post_snapshot", "post_checkpoint"]
)
def test_crash_injection_reconverges(spark, ledger, golden, tmp_path, crash_at):
    """Kill the runner at each commit-protocol boundary mid-stream, then
    restart cold — state must reconverge.  'post_snapshot' is the
    canonical torn-commit window the epoch fence repairs."""
    table_root = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    # first epoch = era-1 segments only, so the `tool` column genuinely
    # arrives mid-stream in a later epoch (exercises pre_evolve)
    run_increment(
        spark, ledger["dir"], table_root, ck,
        max_segments_per_part=2, max_epochs=1, salts=None,
    )
    fired = {"n": 0}

    def hook(point):
        if point == crash_at:
            fired["n"] += 1
            raise _Boom(point)

    with pytest.raises(_Boom):
        run_increment(
            spark, ledger["dir"], table_root, ck,
            max_segments_per_part=6, salts=None, crash_hook=hook,
        )
    assert fired["n"] == 1
    # cold restart, no hook: drain to completion
    run_increment(spark, ledger["dir"], table_root, ck, salts=None)
    t = IceboxTable(table_root)
    assert table_fingerprint(scan(spark, t)) == golden["fingerprint"]
    assert states_equal(
        read_live(spark, t), read_live(spark, IceboxTable(golden["table_root"]))
    )
    # the audit log survives the crash with NO epoch gap: a torn commit's
    # lineage is re-emitted from the snapshot summary during fence repair
    from stellar_ingest.cdc.lineage import read_lineage

    epochs = sorted({r["epoch"] for r in read_lineage(ck)})
    assert epochs == list(range(1, max(epochs) + 1))


def test_salted_run_reconverges(spark, ledger, golden, tmp_path):
    table_root = str(tmp_path / "t")
    run_increment(
        spark, ledger["dir"], table_root, str(tmp_path / "ck"),
        max_segments_per_part=8, salts=8,
    )
    assert table_fingerprint(scan(spark, IceboxTable(table_root))) == golden["fingerprint"]


def test_compaction_is_logical_noop_and_fence_safe(spark, ledger, golden, tmp_path):
    """Mid-stream small-file compaction: same rows (fingerprint-equal
    live view), fewer files, and the CDC runner resumes cleanly after it
    (the compaction snapshot carries epoch/offsets forward)."""
    from stellar_ingest.lake.maintain import compact

    import os

    table_root = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    # fragment the write fan-out so there is something to compact (the
    # adaptive default + AQE coalescing already write one file per
    # bucket on these tiny batches)
    os.environ["STELLAR_WRITE_SALT"] = "4"
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        run_increment(
            spark, ledger["dir"], table_root, ck,
            max_segments_per_part=4, max_epochs=3, salts=None,
        )
    finally:
        os.environ.pop("STELLAR_WRITE_SALT", None)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    t = IceboxTable(table_root)
    files_before = len(t.files())
    fp_before = table_fingerprint(scan(spark, t))
    epoch_before = int(t.current_snapshot()["summary"]["epoch"])
    sid = compact(spark, t)
    assert sid is not None
    assert len(t.files()) < files_before
    assert table_fingerprint(scan(spark, t)) == fp_before  # logical no-op
    assert int(t.current_snapshot()["summary"]["epoch"]) == epoch_before
    # resume ingest across the compaction snapshot → still reaches golden
    run_increment(spark, ledger["dir"], table_root, ck, salts=None)
    assert table_fingerprint(scan(spark, t)) == golden["fingerprint"]


def test_read_changes_between_snapshots(spark, ledger, tmp_path):
    """Incremental consumer read: keys whose state changed after the
    base snapshot — verified against an independent pandas computation
    of 'winner written after the base high-watermarks'."""
    from stellar_ingest.lake.read import read_changes

    table_root = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    run_increment(
        spark, ledger["dir"], table_root, ck,
        max_segments_per_part=3, max_epochs=2, salts=None,
    )
    t = IceboxTable(table_root)
    s_base = t.metadata()["current_snapshot_id"]
    base_offsets = {
        int(k): int(v)
        for k, v in t.snapshot(s_base)["summary"]["offsets"].items()
    }
    run_increment(spark, ledger["dir"], table_root, ck, salts=None)

    got = read_changes(spark, t, s_base)
    rows = got.select("conv_id", "turn_idx", "_src_part", "_lsn", "_op").collect()
    for r in rows:  # every returned row really is past the base HWM
        assert r["_lsn"] > base_offsets.get(r["_src_part"], -1)

    # independent expectation: full-winner (incl. deletes) per key, kept
    # iff the winner's lsn is beyond the base snapshot's watermarks
    pdf = ledger["events"].drop_duplicates(subset=["src_part", "lsn"])
    pdf = pdf.sort_values(["ts", "lsn", "src_part"], kind="mergesort")
    winners = pdf.groupby(["conv_id", "turn_idx"], as_index=False).tail(1)
    exp_keys = {
        (r.conv_id, r.turn_idx)
        for r in winners.itertuples()
        if r.lsn > base_offsets.get(r.src_part, -1)
    }
    assert {(r["conv_id"], r["turn_idx"]) for r in rows} == exp_keys
    # tombstones are visible as delete records
    assert any(r["_op"] == "D" for r in rows)


def test_schema_evolution_recorded(spark, golden):
    """Mid-stream additive evolution: later schema versions append
    `tool` / `tool_version` with fresh column ids; early rows backfill
    NULL."""
    t = IceboxTable(golden["table_root"])
    names = [f["name"] for f in t.schema_fields()]
    assert "tool" in names and "tool_version" in names
    live = read_live(spark, t)
    assert live.filter(F.col("tool_version").isNotNull()).count() > 0
    assert live.filter(F.col("tool").isNull()).count() > 0


# ---------------------------------------------------------------------------
# merge-on-read mode: byte-identical to copy-on-write, Θ(batch) commits
# ---------------------------------------------------------------------------


def test_mor_mode_reconverges_to_cow_golden(spark, ledger, golden, tmp_path):
    """Incremental merge-on-read ingest reaches the SAME resolved state
    as the copy-on-write golden (byte-identical fingerprint), while
    committing only delta appends."""
    table_root = str(tmp_path / "t")
    recs = run_increment(
        spark, ledger["dir"], table_root, str(tmp_path / "ck"),
        max_segments_per_part=4, salts=None, mode="mor",
    )
    assert len({r["epoch"] for r in recs}) > 1
    t = IceboxTable(table_root)
    assert all(s["operation"] == "delta" for s in t.snapshots())
    # the resolved scan really is merge-on-read: a ranking window appears
    plan = scan(spark, t)._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert table_fingerprint(scan(spark, t)) == golden["fingerprint"]
    assert states_equal(
        read_live(spark, t), read_live(spark, IceboxTable(golden["table_root"]))
    )


def test_mor_fold_restores_plain_reads(spark, ledger, golden, tmp_path):
    """fold_deltas compacts every delta bucket to one resolved file:
    fingerprint unchanged, delta counts zero, and the scan plan loses
    the resolve window (the no-shuffle fast path is back)."""
    from stellar_ingest.lake.maintain import delta_counts, fold_deltas

    table_root = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    run_increment(
        spark, ledger["dir"], table_root, ck,
        max_segments_per_part=4, salts=None, mode="mor",
    )
    t = IceboxTable(table_root)
    assert sum(c["files"] for c in delta_counts(t).values()) > 0
    sid = fold_deltas(spark, t, min_delta_commits=1)
    assert sid is not None
    assert sum(c["files"] for c in delta_counts(t).values()) == 0
    assert table_fingerprint(scan(spark, t)) == golden["fingerprint"]
    plan = scan(spark, t)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # ingest resumes cleanly across the fold snapshot (fence carried)
    run_increment(spark, ledger["dir"], table_root, ck, salts=None, mode="mor")
    assert table_fingerprint(scan(spark, t)) == golden["fingerprint"]


def _epoch_folds(t: IceboxTable) -> list[dict]:
    """Epoch snapshots that folded buckets inside their own apply."""
    return [s for s in t.snapshots() if s["summary"].get("compacted_buckets")]


def test_mor_inloop_fold_policy_reconverges(spark, ledger, golden, tmp_path):
    """The runner's fold_min_deltas policy interleaves folds with
    delta epochs — inside the epochs' own apply, one snapshot per
    epoch; the final state is still byte-identical."""
    table_root = str(tmp_path / "t")
    run_increment(
        spark, ledger["dir"], table_root, str(tmp_path / "ck"),
        max_segments_per_part=4, salts=None, mode="mor", fold_min_deltas=2,
    )
    t = IceboxTable(table_root)
    snaps = t.snapshots()
    assert {s["operation"] for s in snaps} == {"delta"}
    assert [s["summary"]["epoch"] for s in snaps] == list(range(1, len(snaps) + 1))
    folds = _epoch_folds(t)
    assert folds, "in-loop folds should run"
    assert table_fingerprint(scan(spark, t)) == golden["fingerprint"]


@pytest.mark.parametrize(
    "crash_at", ["pre_evolve", "pre_merge", "post_snapshot", "post_checkpoint"]
)
def test_mor_crash_injection_reconverges(spark, ledger, golden, tmp_path, crash_at):
    """The exactly-once fence protects merge-on-read commits identically:
    crash at every boundary, restart cold, reconverge byte-identically."""
    table_root = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    run_increment(
        spark, ledger["dir"], table_root, ck,
        max_segments_per_part=2, max_epochs=1, salts=None, mode="mor",
    )

    def hook(point):
        if point == crash_at:
            raise _Boom(point)

    with pytest.raises(_Boom):
        run_increment(
            spark, ledger["dir"], table_root, ck,
            max_segments_per_part=6, salts=None, mode="mor", crash_hook=hook,
        )
    run_increment(spark, ledger["dir"], table_root, ck, salts=None, mode="mor")
    t = IceboxTable(table_root)
    assert table_fingerprint(scan(spark, t)) == golden["fingerprint"]
    from stellar_ingest.cdc.lineage import read_lineage

    epochs = sorted({r["epoch"] for r in read_lineage(ck)})
    assert epochs == list(range(1, max(epochs) + 1))


@pytest.mark.parametrize("crash_at", ["pre_merge", "post_snapshot", "post_checkpoint"])
def test_mor_folding_epoch_crash_reconverges(spark, ledger, golden, tmp_path, crash_at):
    """A crash inside an epoch whose apply also folds: restart cold and
    reconverge byte-identically.  Epoch 1 leaves one delta commit per
    touched bucket; with fold_min_deltas=2 epoch 2 folds them in its own
    apply.  A torn fold-carrying snapshot (post_snapshot) is repaired by
    the fence: lineage re-emitted, the batch never applied twice."""
    from stellar_ingest.cdc.lineage import read_lineage

    table_root = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    kw = dict(max_segments_per_part=2, salts=None, mode="mor", fold_min_deltas=2)
    run_increment(spark, ledger["dir"], table_root, ck, max_epochs=1, **kw)

    def hook(point):
        if point == crash_at:
            raise _Boom(point)

    with pytest.raises(_Boom):
        run_increment(spark, ledger["dir"], table_root, ck, crash_hook=hook, **kw)
    t = IceboxTable(table_root)
    if crash_at != "pre_merge":
        torn = t.current_snapshot()
        assert torn["summary"]["epoch"] == 2 and torn["summary"]["compacted_buckets"]
    run_increment(spark, ledger["dir"], table_root, ck, **kw)
    assert table_fingerprint(scan(spark, t)) == golden["fingerprint"]
    snaps = t.snapshots()
    # one snapshot per epoch: the folding epoch committed exactly once
    assert [s["summary"]["epoch"] for s in snaps] == list(range(1, len(snaps) + 1))
    assert snaps[1]["summary"]["compacted_buckets"]
    recs = read_lineage(ck)
    assert sorted({r["epoch"] for r in recs}) == list(range(1, len(snaps) + 1))
    ep2 = [r for r in recs if r["epoch"] == 2]
    assert ep2 and all(r["snapshot_id"] == snaps[1]["snapshot_id"] for r in ep2)
    assert all(r["repaired"] is (crash_at == "post_snapshot") for r in ep2)
    assert sum(r["rows"] for r in ep2) == sum(
        p["rows"] for p in snaps[1]["summary"]["lineage"]["partition_stats"]
    )


def test_epoch_refuses_a_tag_committed_after_its_pin(spark, ledger, golden, tmp_path):
    """A second handle tags the table after an epoch pinned its metadata
    and before the epoch commits.  The epoch raises CommitConflict (the
    runner does not retry) and commits nothing; a rerun reaches the
    golden fingerprint with one snapshot per epoch, and the tag
    survives."""
    from stellar_ingest.lake.core import CommitConflict

    table_root, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    kw = dict(max_segments_per_part=6, salts=None)
    merges: list[str] = []

    def hook(point):
        if point == "pre_merge":
            merges.append(point)
            if len(merges) == 2:  # epoch 2: its pin precedes this seam
                IceboxTable(table_root).tag("audit")

    with pytest.raises(CommitConflict):
        run_increment(spark, ledger["dir"], table_root, ck, crash_hook=hook, **kw)
    t = IceboxTable(table_root)
    assert [s["summary"]["epoch"] for s in t.snapshots()] == [1]
    assert t.refs() == {"audit": 1}
    run_increment(spark, ledger["dir"], table_root, ck, **kw)
    assert table_fingerprint(scan(spark, t)) == golden["fingerprint"]
    snaps = t.snapshots()
    assert [s["summary"]["epoch"] for s in snaps] == list(range(1, len(snaps) + 1))
    assert len(snaps) > 1 and t.refs() == {"audit": 1}


def test_mor_read_changes_between_snapshots(spark, ledger, tmp_path):
    """Incremental consumer reads work over merge-on-read tables: scan
    resolves first, then the HWM filter applies — net-effect semantics
    identical to the copy-on-write path."""
    from stellar_ingest.lake.read import read_changes

    table_root = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    run_increment(
        spark, ledger["dir"], table_root, ck,
        max_segments_per_part=3, max_epochs=2, salts=None, mode="mor",
    )
    t = IceboxTable(table_root)
    s_base = t.metadata()["current_snapshot_id"]
    base_offsets = {
        int(k): int(v)
        for k, v in t.snapshot(s_base)["summary"]["offsets"].items()
    }
    run_increment(spark, ledger["dir"], table_root, ck, salts=None, mode="mor")

    rows = read_changes(spark, t, s_base).select(
        "conv_id", "turn_idx", "_src_part", "_lsn", "_op"
    ).collect()
    pdf = ledger["events"].drop_duplicates(subset=["src_part", "lsn"])
    pdf = pdf.sort_values(["ts", "lsn", "src_part"], kind="mergesort")
    winners = pdf.groupby(["conv_id", "turn_idx"], as_index=False).tail(1)
    exp_keys = {
        (r.conv_id, r.turn_idx)
        for r in winners.itertuples()
        if r.lsn > base_offsets.get(r.src_part, -1)
    }
    assert {(r["conv_id"], r["turn_idx"]) for r in rows} == exp_keys
    assert any(r["_op"] == "D" for r in rows)


def test_fold_policy_counts_commits_not_files(spark, ledger, tmp_path):
    """One delta commit fans out into several files per bucket under
    write salt; the fold policy must not mistake that for multi-epoch
    delta accumulation (or it would fold after every epoch, paying a
    Θ(table) compaction per Θ(batch) commit)."""
    import os

    from stellar_ingest.lake.maintain import delta_counts, fold_deltas

    table_root = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    os.environ["STELLAR_WRITE_SALT"] = "4"
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        run_increment(
            spark, ledger["dir"], table_root, ck,
            max_segments_per_part=4, max_epochs=2, salts=None, mode="mor",
        )
    finally:
        os.environ.pop("STELLAR_WRITE_SALT", None)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    t = IceboxTable(table_root)
    counts = delta_counts(t)
    # the fan-out really happened: some bucket holds more delta files
    # than delta commits
    assert any(c["files"] > c["commits"] for c in counts.values())
    assert max(c["commits"] for c in counts.values()) <= 2
    # a files-based threshold of 3 would have fired; commits-based holds
    assert fold_deltas(spark, t, min_delta_commits=3) is None
    assert fold_deltas(spark, t, min_delta_commits=2) is not None
    # every multi-commit bucket folded; single-commit buckets correctly
    # stay (they're already windowless on read — one commit's winners
    # are unique per key)
    assert max(c["commits"] for c in delta_counts(t).values()) <= 1


def test_salt_hint_survives_fence_repair(spark, ledger, tmp_path):
    """The advisory salt hint rides the checkpoint THROUGH a torn-commit
    repair — a crash must not disarm auto-salting on a known-hot key."""
    from stellar_ingest.cdc import checkpoint as ckpt

    table_root = str(tmp_path / "t")
    ck_dir = str(tmp_path / "ck")
    run_increment(
        spark, ledger["dir"], table_root, ck_dir,
        max_segments_per_part=2, max_epochs=1, salts=None,
    )
    from stellar_ingest.cdc.runner import _fence_and_repair

    ck = ckpt.load(ck_dir)
    ck["salt_hint"] = 32
    # rewind the epoch so the fence sees a torn commit
    ck["epoch"] -= 1
    repaired = _fence_and_repair(IceboxTable(table_root), ck_dir, ck)
    assert repaired["epoch"] == ck["epoch"] + 1  # fence really fired
    assert repaired["salt_hint"] == 32
    assert ckpt.load(ck_dir)["salt_hint"] == 32  # persisted, not just returned


def test_update_stream_targets_existing_keys_only(spark):
    """gen_update_stream draws turn_idx inside each conversation's
    actual preload turn count — steady-state updates never insert new
    keys, so the bench table stays fixed-size across epochs."""
    from stellar_ingest.gen.changelog import gen_events, gen_update_stream, keyspace

    n = 200
    pre = gen_events(spark, n, parts=4, seed=42)
    pre_keys = {
        (r["conv_id"], r["turn_idx"]) for r in pre.select("conv_id", "turn_idx").distinct().collect()
    }
    upd = gen_update_stream(spark, n, n_events=2000, lsn_base=64 * keyspace(n), parts=4, seed=777)
    upd_keys = {
        (r["conv_id"], r["turn_idx"]) for r in upd.select("conv_id", "turn_idx").distinct().collect()
    }
    assert upd_keys <= pre_keys


def test_mor_bounded_fold_smooths_and_reconverges(spark, ledger, golden, tmp_path):
    """fold_max_buckets bounds each in-loop fold's work (latency
    smoothing): every fold snapshot compacts at most K buckets, folds
    pick the most-indebted buckets first, and the final state is still
    byte-identical to the golden."""
    table_root = str(tmp_path / "t")
    run_increment(
        spark, ledger["dir"], table_root, str(tmp_path / "ck"),
        max_segments_per_part=2, salts=None, mode="mor",
        fold_min_deltas=1, fold_max_buckets=2,
    )
    t = IceboxTable(table_root)
    folds = _epoch_folds(t)
    assert folds, "bounded folds should still run"
    assert all(len(s["summary"]["compacted_buckets"]) <= 2 for s in folds)
    assert table_fingerprint(scan(spark, t)) == golden["fingerprint"]


# ---------------------------------------------------------------------------
# scale-safe defaults + in-loop retention (longevity)
# ---------------------------------------------------------------------------


def test_auto_mode_defaults_to_mor_once_loaded(spark, ledger, tmp_path, spark_apply):
    """mode='auto' (the default): backfill commits copy-on-write, but a
    sustained incremental epoch into the loaded table commits
    merge-on-read — Θ(batch), one action (AQE may split it into stage
    jobs), no table-side scan — with no mode flag from the operator.
    Evidence: the default epoch's snapshot operation is 'delta', its
    Spark job count is IDENTICAL to an explicit mode='mor' epoch, and
    an explicit mode='cow' epoch costs strictly more jobs (the
    touched-bucket discovery action + the table-side read).  Job counts
    are the Spark data path's, so that path is forced (``spark_apply``):
    these epochs are small enough for the driver-side apply, which
    starts no job in any mode."""
    from stellar_ingest.gen.changelog import append_update_segment, gen_update_stream

    table_root = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    backfill(spark, ledger["dir"], table_root, ck, salts=None)
    t = IceboxTable(table_root)
    assert t.current_snapshot()["operation"] == "merge"  # backfill = cow

    # a steady-state drip lands as a new ledger segment
    upd = gen_update_stream(
        spark, N_CONVS, n_events=200, lsn_base=10 * KS, parts=4
    )
    append_update_segment(upd, ledger["dir"], seg_no=99)
    try:
        sc = spark.sparkContext

        def run_epoch(tag, **kw):
            dst_t, dst_c = str(tmp_path / f"t_{tag}"), str(tmp_path / f"ck_{tag}")
            shutil.copytree(table_root, dst_t)
            shutil.copytree(ck, dst_c)
            sc.setJobGroup(tag, tag)
            try:
                recs = run_increment(
                    spark, ledger["dir"], dst_t, dst_c, max_epochs=1, **kw
                )
            finally:
                sc.setJobGroup("", "")
            assert recs
            return (
                len(sc.statusTracker().getJobIdsForGroup(tag)),
                IceboxTable(dst_t),
            )

        n_auto, t_auto = run_epoch("g_auto")  # ALL defaults
        n_mor, t_mor = run_epoch("g_mor", mode="mor", salts="auto")
        n_cow, t_cow = run_epoch("g_cow", mode="cow", salts="auto")
        assert t_auto.snapshots()[-1]["operation"] == "delta"
        assert n_auto == n_mor, (n_auto, n_mor)
        assert n_cow > n_auto, (n_cow, n_auto)
        # all three reconverge to the same resolved state
        fp_auto = table_fingerprint(scan(spark, t_auto))
        assert fp_auto == table_fingerprint(scan(spark, t_mor))
        assert fp_auto == table_fingerprint(scan(spark, t_cow))
    finally:
        for p in range(4):
            shutil.rmtree(
                ledger["dir"] + f"/part={p}/seg=99", ignore_errors=True
            )


def test_longevity_soak_bounded_metadata(spark, tmp_path):
    """~100-epoch sustained loop with in-loop retention (expiry + GC)
    and auto folds: metadata stays bounded (snapshots, version files,
    manifests), the final state is byte-identical to a one-shot
    backfill, and the exactly-once fence still repairs after old
    snapshots were expired."""
    import os

    from stellar_ingest.cdc import checkpoint as ckpt

    n_convs = 30
    ks = keyspace(n_convs)
    ledger_dir = str(tmp_path / "ledger")
    ev = gen_events(spark, n_convs, parts=2, seed=11)
    # tiny segments → one segment per part per epoch → ~100 epochs
    write_ledger(ev, ledger_dir, n_convs=n_convs, seg_span=max(1, (3 * ks) // 100))

    table_root = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    recs = run_increment(
        spark, ledger_dir, table_root, ck,
        max_segments_per_part=1, salts=None, num_buckets=4,
        expire_every=5, keep_last=3, gc_every=7, gc_grace_ms=0,
    )
    epochs = sorted({r["epoch"] for r in recs})
    assert len(epochs) >= 60, len(epochs)  # genuinely a long loop
    t = IceboxTable(table_root)

    # (a) bounded metadata: snapshots ≤ keep_last + commits since the
    # last expiry (≤ expire_every epochs + their folds); version files
    # pruned; manifest files only for retained snapshots
    assert len(t.snapshots()) <= 3 + 2 * 5, len(t.snapshots())
    meta_files = os.listdir(t.meta_dir)
    vfiles = [f for f in meta_files if f.endswith(".metadata.json")]
    assert len(vfiles) <= 3 + 2 * 5, len(vfiles)
    assert len(meta_files) < 150, len(meta_files)
    # data files bounded too (expiry deleted rewritten/expired files)
    n_live = len(t.files())
    n_on_disk = sum(
        1 for root, _d, fs in os.walk(t.data_dir) for f in fs if f.endswith(".parquet")
    )
    assert n_on_disk <= n_live + 40, (n_on_disk, n_live)

    # (b) correctness: byte-identical to a one-shot backfill
    golden_root = str(tmp_path / "g")
    backfill(spark, ledger_dir, golden_root, str(tmp_path / "gck"), salts=None)
    assert table_fingerprint(scan(spark, t)) == table_fingerprint(
        scan(spark, IceboxTable(golden_root))
    )

    # (c) fence repair still works though old snapshots are long expired:
    # roll the checkpoint one epoch back (simulates crash before
    # checkpoint-write) and restart — the fence must repair forward from
    # the snapshot summary, not re-apply
    cur = ckpt.load(ck)
    fp_before = table_fingerprint(scan(spark, t))
    stale = dict(cur)
    stale["epoch"] = cur["epoch"] - 1
    ckpt.save(ck, stale)
    more = run_increment(
        spark, ledger_dir, table_root, ck,
        max_segments_per_part=1, salts=None, num_buckets=4,
    )
    assert ckpt.load(ck)["epoch"] >= cur["epoch"]
    assert table_fingerprint(scan(spark, t)) == fp_before
    assert more == []  # nothing new applied — repair only


# -- the crash-injection tests on the Spark data path --------------------------------
# This ledger's epochs are small enough for the driver-side apply
# (lake/merge.py), so the tests above exercise it; these run the same
# bodies with every epoch on the Spark data path (``spark_apply``).


@pytest.mark.parametrize(
    "crash_at", ["pre_evolve", "pre_merge", "post_snapshot", "post_checkpoint"]
)
def test_crash_injection_reconverges_on_spark_path(
    spark, ledger, golden, tmp_path, crash_at, spark_apply
):
    test_crash_injection_reconverges(spark, ledger, golden, tmp_path, crash_at)


@pytest.mark.parametrize(
    "crash_at", ["pre_evolve", "pre_merge", "post_snapshot", "post_checkpoint"]
)
def test_mor_crash_injection_reconverges_on_spark_path(
    spark, ledger, golden, tmp_path, crash_at, spark_apply
):
    test_mor_crash_injection_reconverges(spark, ledger, golden, tmp_path, crash_at)


@pytest.mark.parametrize("crash_at", ["pre_merge", "post_snapshot", "post_checkpoint"])
def test_mor_folding_epoch_crash_reconverges_on_spark_path(
    spark, ledger, golden, tmp_path, crash_at, spark_apply
):
    test_mor_folding_epoch_crash_reconverges(spark, ledger, golden, tmp_path, crash_at)
