"""Write-audit-publish branches (lake/core.py branch refs +
lake/maintain.py::audit_and_publish): branch ingest is invisible on
main, publish is one atomic fast-forward behind audit gates, and a
crash anywhere before the swap leaves main byte-identically untouched."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from stellar_ingest.cdc.runner import run_increment
from stellar_ingest.gen.changelog import gen_events, keyspace, write_ledger
from stellar_ingest.lake.core import IceboxTable
from stellar_ingest.lake.maintain import (
    audit_and_publish,
    branch_only_snapshots,
    compact,
    expire_snapshots,
)
from stellar_ingest.lake.read import read_live, scan
from stellar_ingest.verify.fingerprint import table_fingerprint

from .helpers import ts as _ts

N_CONVS = 20


@pytest.fixture(scope="module")
def ledger(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("wap")
    d = str(root / "ledger")
    ev = gen_events(spark, N_CONVS, parts=3, seed=11)
    write_ledger(ev, d, n_convs=N_CONVS, seg_span=keyspace(N_CONVS) // 2)
    return d


@pytest.fixture(scope="module")
def golden(spark, ledger, tmp_path_factory):
    root = tmp_path_factory.mktemp("wap_golden")
    run_increment(spark, ledger, str(root / "t"), str(root / "ck"), salts=None)
    return table_fingerprint(scan(spark, IceboxTable(str(root / "t"))))


def test_branch_ingest_invisible_until_publish(spark, ledger, golden, tmp_path):
    root = str(tmp_path / "t")
    recs = run_increment(
        spark, ledger, root, str(tmp_path / "ck"),
        salts=None, branch="staging", max_segments_per_part=4,
    )
    assert len({r["epoch"] for r in recs}) > 1  # genuinely multi-epoch
    t = IceboxTable(root)
    # main: no snapshot, zero rows visible; branch ref: full state
    assert t.current_snapshot() is None
    assert scan(spark, t).count() == 0
    assert scan(spark, t, ref="staging").count() > 0
    assert table_fingerprint(scan(spark, t, ref="staging")) == golden
    assert len(branch_only_snapshots(t, "staging")) == len(t.snapshots())

    out = audit_and_publish(spark, t, "staging", expect_fingerprint=golden)
    assert out["quarantined"] == 0
    assert t.branches() == {}
    assert t.current_snapshot()["snapshot_id"] == out["published_snapshot_id"]
    assert table_fingerprint(scan(spark, t)) == golden  # ≡ direct ingest


def test_crash_before_publish_leaves_main_untouched(spark, ledger, golden, tmp_path):
    root = str(tmp_path / "t")
    run_increment(
        spark, ledger, root, str(tmp_path / "ck"), salts=None, branch="staging"
    )
    t = IceboxTable(root)

    class _Boom(RuntimeError):
        pass

    def hook(point):
        raise _Boom(point)

    with pytest.raises(_Boom):
        audit_and_publish(spark, t, "staging", crash_hook=hook)
    # audits passed but the swap never ran: main untouched, branch intact
    assert t.current_snapshot() is None
    assert "staging" in t.branches()
    # the re-run (restart after crash) publishes cleanly
    audit_and_publish(spark, t, "staging")
    assert table_fingerprint(scan(spark, t)) == golden


def test_publish_gate_blocks_quarantine(spark, tmp_path):
    seg = tmp_path / "ledger" / "part=0" / "seg=0"
    seg.mkdir(parents=True)
    pq.write_table(
        pa.table(
            {
                "lsn": pa.array([1, 2, 3], pa.int64()),
                "src_part": pa.array([0, 0, 0], pa.int32()),
                "op": ["I", None, "I"],  # lsn 2 → quarantine
                "conv_id": ["c1", "c1", "c2"],
                "turn_idx": pa.array([0, 1, 0], pa.int32()),
                "role": ["user"] * 3,
                "text": ["ok1", "bad", "ok2"],
                "ts": pa.array([_ts(1), _ts(2), _ts(3)], pa.timestamp("us")),
            }
        ),
        seg / "s.parquet",
    )
    root = str(tmp_path / "t")
    run_increment(
        spark, str(tmp_path / "ledger"), root, str(tmp_path / "ck"),
        salts=None, num_buckets=4, branch="staging",
    )
    t = IceboxTable(root)
    with pytest.raises(ValueError, match="quarantined"):
        audit_and_publish(spark, t, "staging")
    assert t.current_snapshot() is None  # gate failure: main untouched
    # the operator explicitly waives the gate → publish proceeds
    out = audit_and_publish(
        spark, t, "staging", require_no_quarantine=False
    )
    assert out["quarantined"] == 1
    assert {r["conv_id"] for r in read_live(spark, t).collect()} == {"c1", "c2"}


def test_publish_refuses_non_fast_forward(spark, ledger, tmp_path):
    root = str(tmp_path / "t")
    run_increment(
        spark, ledger, root, str(tmp_path / "ck"), salts=None, branch="staging"
    )
    t = IceboxTable(root)
    # a concurrent main commit after the fork → the branch no longer
    # descends from main, and publish must refuse rather than merge
    t.commit(added_files=[], summary={}, operation="append")
    with pytest.raises(ValueError, match="fast-forward"):
        audit_and_publish(spark, t, "staging")


def test_wrong_fingerprint_blocks_publish(spark, ledger, golden, tmp_path):
    root = str(tmp_path / "t")
    run_increment(
        spark, ledger, root, str(tmp_path / "ck"), salts=None, branch="staging"
    )
    t = IceboxTable(root)
    bad = dict(golden, rows=golden["rows"] + 1)
    with pytest.raises(ValueError, match="fingerprint"):
        audit_and_publish(spark, t, "staging", expect_fingerprint=bad)
    assert t.current_snapshot() is None
    assert "staging" in t.branches()


def test_retention_during_branch_keeps_main_and_branch(spark, ledger, golden, tmp_path):
    """A long branch-ingest window must not expire the (stale) main
    head or the branch head: both are retention anchors."""
    root = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    # seed MAIN with the first epoch, then branch the rest
    run_increment(spark, ledger, root, ck, salts=None,
                  max_segments_per_part=2, max_epochs=1)
    t = IceboxTable(root)
    main_before = t.current_snapshot()["snapshot_id"]
    run_increment(spark, ledger, root, ck, salts=None,
                  max_segments_per_part=2, branch="staging")
    staged = IceboxTable(root, branch="staging")
    assert len(t.snapshots()) > 2
    # fingerprint main AFTER branch ingest (the branch evolved the
    # current schema — added columns backfill NULL on main's scan, so a
    # pre-ingest fingerprint wouldn't be comparable) but BEFORE expiry:
    # the assertion isolates what EXPIRY does to main
    main_fp = table_fingerprint(scan(spark, t))
    expire_snapshots(staged, keep_last=1)
    t = IceboxTable(root)
    # main head survived expiry even though it fell out of the window
    assert t.current_snapshot()["snapshot_id"] == main_before
    assert table_fingerprint(scan(spark, t)) == main_fp
    # and the branch still publishes to the full, correct state
    audit_and_publish(spark, t, "staging")
    assert table_fingerprint(scan(spark, t)) == golden


def test_resume_on_main_after_publish(spark, ledger, golden, tmp_path):
    """Branch-ingest half the ledger, publish, then keep draining on
    MAIN with the same checkpoint — the published snapshot chain and
    the epoch fence line up so the tail applies exactly once."""
    root = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    run_increment(spark, ledger, root, ck, salts=None,
                  max_segments_per_part=2, max_epochs=2, branch="staging")
    t = IceboxTable(root)
    audit_and_publish(spark, t, "staging")
    run_increment(spark, ledger, root, ck, salts=None)
    assert table_fingerprint(scan(spark, IceboxTable(root))) == golden


def test_streaming_branch_publish(spark, ledger, golden, tmp_path):
    """The SS adapter honors the same branch contract as the batch
    runner: micro-batches land on the branch, main stays empty until
    audit_and_publish fast-forwards it."""
    from stellar_ingest.streaming.pipeline import run_streaming

    root = str(tmp_path / "t")
    run_streaming(
        spark, ledger, root, str(tmp_path / "ck"),
        num_buckets=16, branch="ss-stage",
    )
    t = IceboxTable(root)
    assert t.current_snapshot() is None
    assert scan(spark, t, ref="ss-stage").count() > 0
    audit_and_publish(spark, t, "ss-stage")
    # streaming state ≡ the batch runner's state, now on main
    assert table_fingerprint(scan(spark, t)) == golden


# -- the quarantine gate reads the running counter ------------------------------


def _seg(path, lsns, ops, convs, secs):
    path.mkdir(parents=True)
    pq.write_table(
        pa.table(
            {
                "lsn": pa.array(lsns, pa.int64()),
                "src_part": pa.array([0] * len(lsns), pa.int32()),
                "op": ops,
                "conv_id": convs,
                "turn_idx": pa.array([0] * len(lsns), pa.int32()),
                "role": ["user"] * len(lsns),
                "text": ["x"] * len(lsns),
                "ts": pa.array([_ts(s) for s in secs], pa.timestamp("us")),
            }
        ),
        path / "s.parquet",
    )


def test_quarantine_gate_survives_branch_snapshot_expiry(spark, tmp_path):
    """Epoch 1 quarantines a row, epoch 2 is clean; retention then
    expires the epoch-1 branch snapshot.  A per-snapshot sum over the
    retained chain would see only the clean head and publish the bad
    epoch silently; the running counter on the head must still trip
    the gate."""
    _seg(tmp_path / "ledger" / "part=0" / "seg=0",
         [1, 2], ["I", None], ["c1", "c1"], [1, 2])  # op NULL → quarantine
    _seg(tmp_path / "ledger" / "part=0" / "seg=1",
         [3, 4], ["I", "I"], ["c2", "c3"], [3, 4])
    root = str(tmp_path / "t")
    run_increment(
        spark, str(tmp_path / "ledger"), root, str(tmp_path / "ck"),
        salts=None, num_buckets=4, branch="staging", max_segments_per_part=1,
    )
    staged = IceboxTable(root, branch="staging")
    assert len(staged.snapshots()) >= 2
    expire_snapshots(staged, keep_last=1)
    t = IceboxTable(root)
    # the intermediate (quarantining) branch snapshot is gone…
    chain = branch_only_snapshots(t, "staging")
    assert len(chain) == 1
    # …but the gate still refuses
    with pytest.raises(ValueError, match="quarantined"):
        audit_and_publish(spark, t, "staging")
    assert t.current_snapshot() is None  # main untouched
    out = audit_and_publish(spark, t, "staging", require_no_quarantine=False)
    assert out["quarantined"] == 1


def test_maintenance_carried_lineage_not_double_counted(spark, tmp_path):
    """A compaction/fold carries the parent's lineage summary forward
    (fence repair needs it); the quarantine counter must count the
    epoch once, not once per maintenance commit."""
    _seg(tmp_path / "ledger" / "part=0" / "seg=0",
         [1, 2, 3], ["I", None, "I"], ["c1", "c1", "c2"], [1, 2, 3])
    root = str(tmp_path / "t")
    run_increment(
        spark, str(tmp_path / "ledger"), root, str(tmp_path / "ck"),
        salts=None, num_buckets=4, branch="staging",
    )
    staged = IceboxTable(root, branch="staging")
    head_before = staged.current_snapshot()["summary"]["cum_quarantined"]
    compact(spark, staged, min_files_per_bucket=1)
    head_after = staged.current_snapshot()["summary"]
    assert "maintenance" in head_after  # it IS a maintenance commit
    assert head_after["cum_quarantined"] == head_before == 1
    t = IceboxTable(root)
    out = audit_and_publish(spark, t, "staging", require_no_quarantine=False)
    assert out["quarantined"] == 1  # not 2


def test_drop_branch_leaves_main_untouched(spark, ledger, tmp_path):
    """Abandoning a branch is metadata-only: main's head, files and
    content stay as they were, and the branch can no longer be
    published or dropped again."""
    root = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    run_increment(spark, ledger, root, ck, salts=None,
                  max_segments_per_part=2, max_epochs=1)
    t = IceboxTable(root)
    main_head = t.current_snapshot()["snapshot_id"]
    main_files = t.files()
    run_increment(spark, ledger, root, ck, salts=None,
                  max_segments_per_part=2, branch="staging")
    assert "staging" in t.branches()
    # fingerprint main after the branch ingest: the branch evolved the
    # table-wide schema, which main's scan reads as NULL columns
    main_fp = table_fingerprint(scan(spark, t))
    t.drop_branch("staging")
    t = IceboxTable(root)
    assert "staging" not in t.branches()
    assert t.current_snapshot()["snapshot_id"] == main_head
    assert t.files() == main_files
    assert table_fingerprint(scan(spark, t)) == main_fp
    with pytest.raises(KeyError):
        t.publish_branch("staging")
    with pytest.raises(KeyError):
        t.drop_branch("no-such-branch")
