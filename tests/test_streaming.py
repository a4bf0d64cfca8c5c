"""Structured Streaming adapter (SURVEY.md §2.9): availableNow drain
through foreachBatch must land the same final state as the batch loop."""

from __future__ import annotations

import os

import pytest

from stellar_ingest.cdc.runner import backfill
from stellar_ingest.gen.changelog import gen_events, keyspace, write_ledger
from stellar_ingest.lake.core import IceboxTable, commit_tag
from stellar_ingest.lake.read import read_live
from stellar_ingest.streaming.pipeline import run_streaming
from stellar_ingest.verify.diff import states_equal


@pytest.fixture(scope="module")
def small_ledger(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ss")
    ev = gen_events(spark, 16, parts=2, seed=11)
    # MULTI-era ledger: the stream schema is the union of the footer
    # schemas, so evolved columns (tool, tool_version) flow through and
    # the streaming table must match the batch runner's exactly
    write_ledger(ev, str(root / "ledger"), n_convs=16, seg_span=keyspace(16) // 2)
    return root


def test_streaming_matches_batch(spark, small_ledger):
    root = small_ledger
    run_streaming(
        spark, str(root / "ledger"), str(root / "t_ss"), str(root / "ck_ss"),
        num_buckets=4,
    )
    backfill(
        spark, str(root / "ledger"), str(root / "t_b"), str(root / "ck_b"),
        salts=None, num_buckets=4,
    )
    ss_live = read_live(spark, IceboxTable(str(root / "t_ss")))
    b_live = read_live(spark, IceboxTable(str(root / "t_b")))
    assert ss_live.count() > 0
    assert sorted(ss_live.columns) == sorted(b_live.columns)  # evolved cols present
    assert states_equal(ss_live.select(*sorted(ss_live.columns)),
                        b_live.select(*sorted(b_live.columns)))


def test_streaming_restart_is_idempotent(spark, small_ledger):
    root = small_ledger
    # second availableNow run over the same checkpoint: no new snapshots
    t = IceboxTable(str(root / "t_ss"))
    before = len(t.snapshots())
    run_streaming(
        spark, str(root / "ledger"), str(root / "t_ss"), str(root / "ck_ss"),
        num_buckets=4,
    )
    assert len(t.snapshots()) == before

def test_streaming_quarantine_and_lineage_parity(spark, tmp_path):
    """The SS adapter persists quarantined rows to the dead-letter sink
    and emits per-batch lineage, matching the batch runner's audit
    contract — a user who picks the SS adapter loses nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from stellar_ingest.cdc.lineage import read_lineage

    from .helpers import ts as _ts

    seg = tmp_path / "ledger" / "part=0" / "seg=0"
    seg.mkdir(parents=True)
    t = pa.table(
        {
            "lsn": pa.array([1, 2, 3], pa.int64()),
            "src_part": pa.array([0, 0, 0], pa.int32()),
            "op": ["I", None, "I"],  # lsn 2: NULL op → quarantine
            "conv_id": ["c1", "c1", "c2"],
            "turn_idx": pa.array([0, 1, 0], pa.int32()),
            "role": ["user"] * 3,
            "text": ["ok1", "bad", "ok2"],
            "ts": pa.array([_ts(1), _ts(2), _ts(3)], pa.timestamp("us")),
        }
    )
    pq.write_table(t, seg / "s.parquet")
    ck = str(tmp_path / "ck")
    run_streaming(spark, str(tmp_path / "ledger"), str(tmp_path / "t"), ck, num_buckets=4)
    live = read_live(spark, IceboxTable(str(tmp_path / "t")))
    assert {r["text"] for r in live.collect()} == {"ok1", "ok2"}
    dead = spark.read.parquet(f"{ck}/quarantine/ss_batch=0")
    assert {r["lsn"] for r in dead.collect()} == {2}
    recs = read_lineage(ck)
    assert len(recs) == 1
    assert recs[0]["epoch"] == 1 and recs[0]["quarantined"] == 1
    assert recs[0]["rows"] == 2 and recs[0]["lsn_from"] == 1 and recs[0]["lsn_to"] == 3
    # the snapshot summary carries the same stats (fence-repair parity
    # with the batch runner's torn-commit path)
    summ = IceboxTable(str(tmp_path / "t")).current_snapshot()["summary"]
    assert summ["lineage"]["quarantined"] == 1


def test_streaming_fence_reemits_lineage_on_replay(spark, tmp_path):
    """Crash between merge_apply and lin.emit: SS replays the batch, the
    fence skips the double-apply AND re-emits the torn epoch's lineage
    from the snapshot summary — no epoch gap on the streaming path."""
    import shutil

    from stellar_ingest.cdc.lineage import LINEAGE_FILE, read_lineage
    from stellar_ingest.gen.changelog import gen_events, keyspace, write_ledger

    ev = gen_events(spark, 10, parts=2, seed=3)
    write_ledger(ev, str(tmp_path / "ledger"), n_convs=10, seg_span=keyspace(10))
    ck = str(tmp_path / "ck")
    run_streaming(spark, str(tmp_path / "ledger"), str(tmp_path / "t"), ck, num_buckets=4)
    t = IceboxTable(str(tmp_path / "t"))
    snaps_before = len(t.snapshots())
    first = [(r["epoch"], r["src_part"]) for r in read_lineage(ck)]
    assert first and all(e == 1 for e, _ in first)
    # simulate the torn window: lineage never landed, and the SS
    # checkpoint lost the batch commit → the batch replays on restart
    (tmp_path / "ck" / LINEAGE_FILE).unlink()
    shutil.rmtree(tmp_path / "ck" / "ss")
    run_streaming(spark, str(tmp_path / "ledger"), str(tmp_path / "t"), ck, num_buckets=4)
    assert len(t.snapshots()) == snaps_before  # fence: no double apply
    recs = read_lineage(ck)
    assert [(r["epoch"], r["src_part"]) for r in recs] == first
    assert all(r["repaired"] is True for r in recs)


def test_streaming_mor_mode_matches_cow(spark, small_ledger):
    """mode="mor" (delta commits + in-loop fold) through the SS adapter
    must land the same live state as the COW streaming run, and the
    fold's carried-forward summary must keep the ss_batch_id fence
    intact (idempotent restart after a fold)."""
    root = small_ledger
    run_streaming(
        spark, str(root / "ledger"), str(root / "t_mor"), str(root / "ck_mor"),
        num_buckets=4, mode="mor", fold_min_deltas=1,
    )
    # self-contained COW reference (no dependency on earlier tests)
    run_streaming(
        spark, str(root / "ledger"), str(root / "t_cowref"), str(root / "ck_cowref"),
        num_buckets=4,
    )
    mor_live = read_live(spark, IceboxTable(str(root / "t_mor")))
    cow_live = read_live(spark, IceboxTable(str(root / "t_cowref")))
    assert states_equal(mor_live, cow_live)
    # folds ride the batches' own applies: availableNow's trailing empty
    # batch mints no snapshot (no fold-only commit) and leaves no files
    t = IceboxTable(str(root / "t_mor"))
    snaps = t.snapshots()
    assert all(
        sum(p["rows"] for p in s["summary"]["lineage"]["partition_stats"]) > 0
        for s in snaps
    )
    assert any(s["summary"].get("compacted_buckets") for s in snaps)
    referenced = {
        commit_tag(e["path"]) for s in snaps for e in t.files(s["snapshot_id"])
    }
    assert set(os.listdir(t.data_dir)) == referenced
    # restart over the same SS checkpoint: fence holds across the fold
    before = len(t.snapshots())
    run_streaming(
        spark, str(root / "ledger"), str(root / "t_mor"), str(root / "ck_mor"),
        num_buckets=4, mode="mor", fold_min_deltas=1,
    )
    assert len(t.snapshots()) == before


def test_streaming_adapter_uses_observe_not_collect(spark, tmp_path, monkeypatch):
    """Per-batch job parity with the batch runner: lineage stats must
    ride the apply action's observe node.  Any DataFrame.collect()
    inside the batch body is a second pass over the micro-batch (the
    round-3 adapter paid one for partition stats) and fails this test."""
    from pyspark.sql import DataFrame as _DF

    from stellar_ingest.cdc.lineage import read_lineage

    ev = gen_events(spark, 10, parts=2, seed=5)
    write_ledger(ev, str(tmp_path / "ledger"), n_convs=10, seg_span=keyspace(10))
    ck = str(tmp_path / "ck")

    def boom(self):
        raise AssertionError("DataFrame.collect called inside streaming drain")

    monkeypatch.setattr(_DF, "collect", boom)
    try:
        run_streaming(
            spark, str(tmp_path / "ledger"), str(tmp_path / "t"), ck, num_buckets=4
        )
    finally:
        monkeypatch.undo()
    recs = read_lineage(ck)
    assert recs and sum(r["rows"] for r in recs) > 0  # stats came via observe
    live = read_live(spark, IceboxTable(str(tmp_path / "t")))
    assert live.count() > 0


def test_streaming_inloop_retention_bounds_metadata(spark, tmp_path):
    """The SS adapter's expire_every/gc_every keep a long-lived stream's
    metadata bounded, without changing table content or breaking the
    ss_batch_id fence on restart."""
    import os

    ev = gen_events(spark, 12, parts=2, seed=9)
    write_ledger(ev, str(tmp_path / "ledger"), n_convs=12, seg_span=keyspace(12))
    t_root, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    run_streaming(
        spark, str(tmp_path / "ledger"), t_root, ck,
        num_buckets=4, mode="mor", fold_min_deltas=1,
        expire_every=1, keep_last=1, gc_every=1, gc_grace_ms=0,
    )
    t = IceboxTable(t_root)
    assert len(t.snapshots()) <= 2  # current (+ the fold, if uncompacted)
    vfiles = [f for f in os.listdir(t.meta_dir) if f.endswith(".metadata.json")]
    assert len(vfiles) <= 3
    # content parity with an unretained streaming run
    run_streaming(
        spark, str(tmp_path / "ledger"), str(tmp_path / "t_ref"),
        str(tmp_path / "ck_ref"), num_buckets=4,
    )
    assert states_equal(
        read_live(spark, t), read_live(spark, IceboxTable(str(tmp_path / "t_ref")))
    )
    # restart over the same SS checkpoint: fence holds post-expiry
    before = len(t.snapshots())
    run_streaming(
        spark, str(tmp_path / "ledger"), t_root, ck,
        num_buckets=4, mode="mor", fold_min_deltas=1,
        expire_every=1, keep_last=1, gc_every=1, gc_grace_ms=0,
    )
    assert len(t.snapshots()) == before
