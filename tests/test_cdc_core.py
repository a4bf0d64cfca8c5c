"""Unit tests: dedupe / LWW resolve (incl. salted two-phase equality) /
validation (SURVEY.md §2 ops 15, 25, 35, 66, 67)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from stellar_ingest.cdc.dedupe import hwm_predicate
from stellar_ingest.cdc.resolve import lww_winners, resolve
from stellar_ingest.cdc.lineage import collect_observed_stats
from stellar_ingest.cdc.validate import observe_valid, validity_predicate
from stellar_ingest.verify.diff import states_equal

from .helpers import make_changelog


def test_hwm_filter_and_merge_window_absorbs_duplicates(spark):
    df = make_changelog(
        spark,
        [
            (1, 0, "I", "c1", 0, "user", "a", None, 1),
            (2, 0, "U", "c1", 0, "user", "b", None, 2),
            (2, 0, "U", "c1", 0, "user", "b", None, 2),  # duplicate delivery
            (1, 1, "I", "c2", 0, "user", "c", None, 3),
        ],
    )
    # HWM: part 0 consumed through lsn 1; unknown part 1 passes whole
    fresh = df.filter(hwm_predicate({0: 1}))
    rows = [(r["src_part"], r["lsn"]) for r in fresh.collect()]
    assert sorted(rows) == [(0, 2), (0, 2), (1, 1)]
    # in-batch dedupe is absorbed by the LWW window: the duplicate
    # (src_part=0, lsn=2) deliveries resolve to ONE winner row
    winners = resolve(fresh).collect()
    assert {(r["conv_id"], r["turn_idx"], r["text"]) for r in winners} == {
        ("c1", 0, "b"),
        ("c2", 0, "c"),
    }


def test_lww_orders_by_ts_then_lsn(spark):
    df = make_changelog(
        spark,
        [
            (1, 0, "I", "c1", 0, "user", "v0", None, 10),
            (2, 0, "U", "c1", 0, "user", "v1", None, 30),
            (3, 0, "U", "c1", 0, "user", "v2-out-of-order", None, 20),  # older ts, later lsn
            (4, 0, "U", "c1", 1, "user", "t1a", None, 5),
            (5, 0, "U", "c1", 1, "user", "t1b", None, 5),  # ts tie → lsn decides
        ],
    )
    w = {(r["turn_idx"]): r["text"] for r in resolve(df).collect()}
    assert w[0] == "v1"  # ts=30 beats later-lsn ts=20
    assert w[1] == "t1b"  # lsn tiebreak


def test_delete_becomes_tombstone(spark):
    df = make_changelog(
        spark,
        [
            (1, 0, "I", "c1", 0, "user", "x", None, 1),
            (2, 0, "D", "c1", 0, None, None, None, 2),
        ],
    )
    out = resolve(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r["_op"] == "D" and r["text"] is None and r["_lsn"] == 2
    assert r["ts"] is None and r["_ts"] is not None


def test_salted_resolve_equals_unsalted(spark):
    rows = []
    for i in range(300):
        # one hot key + scattered keys, shuffled ts
        if i % 2 == 0:
            rows.append((i, i % 3, "U", "hot", 0, "user", f"h{i}", None, (i * 7) % 100))
        else:
            rows.append((i, i % 3, "U", f"c{i%11}", i % 4, "user", f"x{i}", None, (i * 13) % 100))
    df = make_changelog(spark, rows)
    plain = lww_winners(df)
    salted = lww_winners(df, salts=8)
    assert states_equal(plain, salted)


def test_validate_quarantines_bad_rows(spark):
    good = (1, 0, "I", "c1", 0, "user", "ok", None, 1)
    bad_op = (2, 0, "X", "c1", 0, "user", "bad-op", None, 1)
    bad_key = (3, 0, "I", None, 0, "user", "no-key", None, 1)
    bad_role = (4, 0, "I", "c1", 1, "robot", "bad-role", None, 1)
    del_ok = (5, 0, "D", "c1", 2, None, None, None, 2)
    df = spark.createDataFrame(
        [
            (r[0], r[1], r[2], r[3], r[4], r[5], r[6], r[7], __import__("tests.helpers", fromlist=["ts"]).ts(r[8]))
            for r in [good, bad_op, bad_key, bad_role, del_ok]
        ],
        "lsn long, src_part int, op string, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    valid, obs = observe_valid(df, [0])
    assert {r["lsn"] for r in valid.collect()} == {1, 5}
    assert valid.columns == df.columns  # the __valid flag never leaks
    stats, n_bad = collect_observed_stats(obs, [0])
    assert n_bad == 3
    assert stats == [{"src_part": 0, "lsn_from": 1, "lsn_to": 5, "rows": 2}]
    bad = df.filter(~validity_predicate())
    assert {r["lsn"] for r in bad.collect()} == {2, 3, 4}


def test_validate_null_op_is_quarantined_not_vanished(spark):
    """A NULL op must land in the quarantine branch, not evaluate the
    predicate to SQL NULL and vanish from BOTH branches uncounted."""
    rows = [
        (1, 0, "I", "c1", 0, "user", "ok", None, 1),
        (2, 0, None, "c1", 1, "user", "null-op", None, 1),
        (3, 0, "U", "c1", None, "user", "null-turn", None, 1),
    ]
    df = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[4], r[5], r[6], r[7], __import__("tests.helpers", fromlist=["ts"]).ts(r[8])) for r in rows],
        "lsn long, src_part int, op string, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    valid, obs = observe_valid(df, [0])
    assert {r["lsn"] for r in valid.collect()} == {1}
    assert collect_observed_stats(obs, [0])[1] == 2  # counted, not vanished
    bad = df.filter(~validity_predicate())
    assert {r["lsn"] for r in bad.collect()} == {2, 3}  # nothing vanishes


def test_observed_stats_survive_an_empty_shuffle_stage(spark):
    """A batch with no valid row: adaptive execution turns the plan
    above the empty shuffle stage into an empty relation, the observe
    node does not run and the observation fills with an empty row.  The
    stats are still the batch's."""
    df = make_changelog(
        spark,
        [
            (1, 0, "X", "c1", 0, "user", "bad-op", None, 1),
            (2, 0, "I", "c1", 1, "robot", "bad-role", None, 1),
        ],
    )
    valid, obs = observe_valid(df, [0])
    assert valid.groupBy("conv_id").count().collect() == []
    assert collect_observed_stats(obs, [0]) == ([], 2)


def test_runner_dead_letters_quarantined_rows(spark, tmp_path):
    """Quarantined rows are persisted to a dead-letter sink (never
    silently dropped) and counted in lineage; valid rows still apply."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from stellar_ingest.cdc.lineage import read_lineage
    from stellar_ingest.cdc.runner import run_increment
    from stellar_ingest.lake.core import IceboxTable
    from stellar_ingest.lake.read import read_live

    from .helpers import ts as _ts

    seg = tmp_path / "ledger" / "part=0" / "seg=0"
    seg.mkdir(parents=True)
    t = pa.table(
        {
            "lsn": pa.array([1, 2, 3, 4], pa.int64()),
            "src_part": pa.array([0, 0, 0, 0], pa.int32()),
            "op": ["I", None, "I", "I"],  # lsn 2: NULL op
            "conv_id": ["c1", "c1", None, "c2"],  # lsn 3: NULL key
            "turn_idx": pa.array([0, 1, 2, 0], pa.int32()),
            "role": ["user", "user", "user", "assistant"],
            "text": ["ok1", "nullop", "nokey", "ok2"],
            "ts": pa.array([_ts(1), _ts(2), _ts(3), _ts(4)], pa.timestamp("us")),
        }
    )
    pq.write_table(t, seg / "seg0.parquet")

    table_root = str(tmp_path / "table")
    ck = str(tmp_path / "ck")
    recs = run_increment(spark, str(tmp_path / "ledger"), table_root, ck, salts=None)
    assert sum(r["quarantined"] for r in recs if r["src_part"] == 0) == 2
    live = read_live(spark, IceboxTable(table_root))
    assert {r["text"] for r in live.collect()} == {"ok1", "ok2"}
    dead = spark.read.parquet(f"{ck}/quarantine/epoch=1")
    assert {r["lsn"] for r in dead.collect()} == {2, 3}
    assert all(r["quarantined"] == 2 for r in read_lineage(ck))


def test_lineage_log_survives_torn_append(tmp_path):
    """Crash mid-append leaves a torn line: reads skip it, the epoch
    reads as absent, the replayed emit lands on a fresh line, and the
    idempotence check stays O(1) (tail read)."""
    import os

    from stellar_ingest.cdc import lineage as lin

    ck = str(tmp_path)
    st = [{"src_part": 0, "lsn_from": 1, "lsn_to": 5, "rows": 5}]
    lin.emit(ck, epoch=1, snapshot_id=1, partition_stats=st, wall_ms=10)
    lin.emit(ck, epoch=2, snapshot_id=2, partition_stats=st, wall_ms=10)
    lin.emit(ck, epoch=2, snapshot_id=2, partition_stats=st, wall_ms=10)  # dup: skipped
    assert [r["epoch"] for r in lin.read_lineage(ck)] == [1, 2]
    # simulate a crash mid-append of epoch 3 (torn, no newline)
    with open(os.path.join(ck, lin.LINEAGE_FILE), "a") as fh:
        fh.write('{"epoch": 3, "records": [{"src_')
    assert lin.last_emitted_epoch(ck) == 2
    assert [r["epoch"] for r in lin.read_lineage(ck)] == [1, 2]
    # replayed emit must not be swallowed by the torn line
    lin.emit(ck, epoch=3, snapshot_id=3, partition_stats=st, wall_ms=10)
    assert [r["epoch"] for r in lin.read_lineage(ck)] == [1, 2, 3]


def test_segment_with_partial_row_group_stats_loses_nothing(spark, tmp_path):
    """A segment where only SOME row groups carry lsn stats must fall
    back to reading the column — a partial footer range under-reports
    max_lsn and would silently skip rows forever."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from stellar_ingest.cdc.source import list_segments

    from .helpers import ts as _ts

    seg = tmp_path / "ledger" / "part=0" / "seg=0"
    seg.mkdir(parents=True)
    t = pa.table(
        {
            "lsn": pa.array([1, 2, 50, 60], pa.int64()),
            "src_part": pa.array([0] * 4, pa.int32()),
            "op": ["I"] * 4,
            "conv_id": ["c1", "c2", "c3", "c4"],
            "turn_idx": pa.array([0, 0, 0, 0], pa.int32()),
            "role": ["user"] * 4,
            "text": ["a", "b", "c", "d"],
            "ts": pa.array([_ts(i) for i in range(4)], pa.timestamp("us")),
        }
    )
    # two row groups; statistics disabled entirely (worst case: the
    # footer has rows but NO usable lsn min/max anywhere)
    pq.write_table(t, seg / "s.parquet", row_group_size=2, write_statistics=False)
    segs = list_segments(str(tmp_path / "ledger"))
    assert len(segs) == 1
    assert (segs[0].min_lsn, segs[0].max_lsn) == (1, 60)  # column fallback


def test_read_changes_refuses_offsetless_base(spark, tmp_path):
    """A base snapshot without checkpointed watermarks (plain append)
    cannot anchor an incremental read — loud error, not a full-table
    'diff'."""
    import pytest as _pytest

    from stellar_ingest.lake.core import IceboxTable
    from stellar_ingest.lake.read import read_changes
    from stellar_ingest.lake.write import append
    from stellar_ingest.schema import TABLE_SCHEMA

    from .helpers import ts as _ts

    t = IceboxTable.create(str(tmp_path / "t"), TABLE_SCHEMA, num_buckets=4)
    df = spark.createDataFrame(
        [("c1", 0, "user", "x", None, _ts(1), _ts(1), 1, 0, "U")], TABLE_SCHEMA
    )
    sid = append(spark, t, df)
    with _pytest.raises(ValueError, match="no source offsets"):
        read_changes(spark, t, sid)


def test_torn_commit_keeps_quarantine_and_repairs_lineage(spark, tmp_path):
    """Crash between snapshot-commit and checkpoint on an epoch WITH
    quarantined rows: the dead-letter rows landed before the commit, and
    the fence repair re-emits the epoch's lineage — no gap, no lost
    rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from stellar_ingest.cdc.lineage import read_lineage
    from stellar_ingest.cdc.runner import run_increment
    from stellar_ingest.lake.core import IceboxTable
    from stellar_ingest.lake.read import read_live

    from .helpers import ts as _ts

    seg = tmp_path / "ledger" / "part=0" / "seg=0"
    seg.mkdir(parents=True)
    t = pa.table(
        {
            "lsn": pa.array([1, 2, 3], pa.int64()),
            "src_part": pa.array([0, 0, 0], pa.int32()),
            "op": ["I", None, "I"],
            "conv_id": ["c1", "c1", "c2"],
            "turn_idx": pa.array([0, 1, 0], pa.int32()),
            "role": ["user", "user", "user"],
            "text": ["ok1", "bad", "ok2"],
            "ts": pa.array([_ts(1), _ts(2), _ts(3)], pa.timestamp("us")),
        }
    )
    pq.write_table(t, seg / "s.parquet")
    table_root, ck = str(tmp_path / "t"), str(tmp_path / "ck")

    class Boom(RuntimeError):
        pass

    def hook(point):
        if point == "post_snapshot":
            raise Boom(point)

    with _pytest.raises(Boom):
        run_increment(spark, str(tmp_path / "ledger"), table_root, ck,
                      salts=None, crash_hook=hook)
    # snapshot and dead letters committed, but neither lineage nor
    # checkpoint landed — restart must repair both
    dead = spark.read.parquet(f"{ck}/quarantine/epoch=1")
    assert {r["lsn"] for r in dead.collect()} == {2}
    run_increment(spark, str(tmp_path / "ledger"), table_root, ck, salts=None)
    dead = spark.read.parquet(f"{ck}/quarantine/epoch=1")
    assert {r["lsn"] for r in dead.collect()} == {2}
    recs = read_lineage(ck)
    assert [r["epoch"] for r in recs] == [1]
    assert recs[0]["repaired"] is True and recs[0]["quarantined"] == 1
    assert {r["text"] for r in read_live(spark, IceboxTable(table_root)).collect()} == {"ok1", "ok2"}


def _quarantine_ledger(tmp_path, segments):
    """One ledger partition, one segment per ``(lsn, op, text)`` list;
    a None op quarantines its row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .helpers import ts as _ts

    for k, rows in enumerate(segments):
        d = tmp_path / "ledger" / "part=0" / f"seg={k}"
        d.mkdir(parents=True)
        pq.write_table(
            pa.table(
                {
                    "lsn": pa.array([r[0] for r in rows], pa.int64()),
                    "src_part": pa.array([0] * len(rows), pa.int32()),
                    "op": [r[1] for r in rows],
                    "conv_id": [f"c{r[0]}" for r in rows],
                    "turn_idx": pa.array([0] * len(rows), pa.int32()),
                    "role": ["user"] * len(rows),
                    "text": [r[2] for r in rows],
                    "ts": pa.array([_ts(r[0]) for r in rows], pa.timestamp("us")),
                }
            ),
            d / "s.parquet",
        )
    return str(tmp_path / "ledger"), str(tmp_path / "t"), str(tmp_path / "ck")


def _dead_lsns(spark, ck, name):
    return sorted(r["lsn"] for r in spark.read.parquet(f"{ck}/quarantine/{name}").collect())


def _failing_commit(*args, **kwargs):
    raise RuntimeError("commit failed")


def test_dead_letters_land_before_the_commit(spark, tmp_path, monkeypatch):
    """An epoch whose commit fails has already written its dead letters
    and minted no snapshot; the rerun commits once and overwrites them."""
    from stellar_ingest.cdc.runner import run_increment
    from stellar_ingest.lake.core import IceboxTable

    ledger, root, ck = _quarantine_ledger(tmp_path, [[(1, "I", "ok1"), (2, None, "bad")]])
    with monkeypatch.context() as m:
        m.setattr(IceboxTable, "commit", _failing_commit)
        with pytest.raises(RuntimeError, match="commit failed"):
            run_increment(spark, ledger, root, ck, salts=None)
    assert IceboxTable(root).snapshots() == []
    assert _dead_lsns(spark, ck, "epoch=1") == [2]
    recs = run_increment(spark, ledger, root, ck, salts=None)
    assert {r["epoch"] for r in recs} == {1}
    assert len(IceboxTable(root).snapshots()) == 1
    assert _dead_lsns(spark, ck, "epoch=1") == [2]


def test_clean_epoch_removes_stale_dead_letters(spark, tmp_path, monkeypatch):
    """An uncommitted attempt at epoch 2 took two segments and wrote dead
    letters; the rerun takes one clean segment, so the committed epoch 2
    removes them, and epoch 3 writes them for the segment that had them."""
    from stellar_ingest.cdc.runner import run_increment
    from stellar_ingest.lake.core import IceboxTable

    ledger, root, ck = _quarantine_ledger(
        tmp_path, [[(1, "I", "a")], [(2, "I", "b")], [(3, None, "bad"), (4, "I", "c")]]
    )
    run_increment(spark, ledger, root, ck, salts=None, max_segments_per_part=1, max_epochs=1)
    with monkeypatch.context() as m:
        m.setattr(IceboxTable, "commit", _failing_commit)
        with pytest.raises(RuntimeError, match="commit failed"):
            run_increment(spark, ledger, root, ck, salts=None, max_segments_per_part=2)
    assert _dead_lsns(spark, ck, "epoch=2") == [3]
    recs = run_increment(spark, ledger, root, ck, salts=None, max_segments_per_part=1)
    assert sorted({(r["epoch"], r["quarantined"]) for r in recs}) == [(2, 0), (3, 1)]
    assert sorted(os.listdir(os.path.join(ck, "quarantine"))) == ["epoch=3"]
    assert _dead_lsns(spark, ck, "epoch=3") == [3]


def test_torn_epoch_keeps_dead_letters_when_its_parent_expired(spark, tmp_path):
    """Retention expires the torn epoch's parent snapshot while the fence
    is armed: the dead letters written before the torn commit survive,
    and repair needs neither the parent nor the ledger."""
    from stellar_ingest.cdc.lineage import read_lineage
    from stellar_ingest.cdc.runner import run_increment
    from stellar_ingest.lake.core import IceboxTable
    from stellar_ingest.lake.maintain import expire_snapshots

    ledger, root, ck = _quarantine_ledger(
        tmp_path, [[(1, "I", "ok1")], [(2, None, "bad"), (3, "I", "ok2")]]
    )
    one = {"salts": None, "max_segments_per_part": 1}
    run_increment(spark, ledger, root, ck, max_epochs=1, **one)

    def crash(point):
        if point == "post_snapshot":
            raise RuntimeError("crash")

    with pytest.raises(RuntimeError):
        run_increment(spark, ledger, root, ck, crash_hook=crash, **one)
    table = IceboxTable(root)
    expire_snapshots(table, keep_last=1)
    assert [s["summary"]["epoch"] for s in table.snapshots()] == [2]
    assert run_increment(spark, ledger, root, ck, **one) == []
    assert _dead_lsns(spark, ck, "epoch=2") == [2]
    assert [(r["epoch"], r["quarantined"], r["repaired"]) for r in read_lineage(ck)] == [
        (1, 0, False), (2, 1, True)
    ]


def test_null_envelope_rows_are_quarantined_not_dropped(spark, tmp_path):
    """NULL lsn / src_part make the batch-bounds predicate evaluate to
    SQL NULL — such rows must still reach the validity split and the
    dead-letter sink, matching the validate.py contract."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from stellar_ingest.cdc.runner import run_increment
    from stellar_ingest.lake.core import IceboxTable
    from stellar_ingest.lake.read import read_live

    from .helpers import ts as _ts

    seg = tmp_path / "ledger" / "part=0" / "seg=0"
    seg.mkdir(parents=True)
    t = pa.table(
        {
            "lsn": pa.array([1, None, 3], pa.int64()),
            "src_part": pa.array([0, 0, None], pa.int32()),
            "op": ["I", "I", "I"],
            "conv_id": ["c1", "c2", "c3"],
            "turn_idx": pa.array([0, 0, 0], pa.int32()),
            "role": ["user"] * 3,
            "text": ["ok", "null-lsn", "null-part"],
            "ts": pa.array([_ts(1), _ts(2), _ts(3)], pa.timestamp("us")),
        }
    )
    pq.write_table(t, seg / "s.parquet")
    table_root, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    recs = run_increment(spark, str(tmp_path / "ledger"), table_root, ck, salts=None)
    assert sum(r["quarantined"] for r in recs) == 2
    dead = spark.read.parquet(f"{ck}/quarantine/epoch=1")
    assert {r["text"] for r in dead.collect()} == {"null-lsn", "null-part"}
    live = read_live(spark, IceboxTable(table_root))
    assert {r["text"] for r in live.collect()} == {"ok"}


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_segment_without_lsn_is_quarantined_once(spark, tmp_path, request, path):
    """A segment whose every lsn is NULL has no log position: the first
    epoch that sees it quarantines all of its rows (dead letters and the
    lineage count), and the checkpoint keeps any later epoch from reading
    it again — also when that epoch's checkpoint write was lost."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from stellar_ingest.cdc import checkpoint as ckpt
    from stellar_ingest.cdc.lineage import read_lineage
    from stellar_ingest.cdc.runner import run_increment
    from stellar_ingest.lake.core import IceboxTable
    from stellar_ingest.lake.read import read_live

    from .helpers import ts as _ts

    if path == "spark":
        request.getfixturevalue("spark_apply")
    ledger = tmp_path / "ledger"

    def seg(k, lsns):
        d = ledger / "part=0" / f"seg={k}"
        d.mkdir(parents=True)
        n = len(lsns)
        pq.write_table(
            pa.table(
                {
                    "lsn": pa.array(lsns, pa.int64()),
                    "src_part": pa.array([0] * n, pa.int32()),
                    "op": ["I"] * n,
                    "conv_id": [f"c{k}_{i}" for i in range(n)],
                    "turn_idx": pa.array([0] * n, pa.int32()),
                    "role": ["user"] * n,
                    "text": [f"seg{k}"] * n,
                    "ts": pa.array([_ts(k)] * n, pa.timestamp("us")),
                }
            ),
            d / "s.parquet",
        )
        return str(d / "s.parquet")

    def dead_letters(epoch):
        q = tmp_path / "ck" / "quarantine" / f"epoch={epoch}"
        return sorted(r["conv_id"] for r in spark.read.parquet(str(q)).collect())

    seg(0, [1])
    lost = seg(1, [None, None])
    table_root, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    recs = run_increment(spark, str(ledger), table_root, ck, salts=None)
    assert [(r["epoch"], r["rows"], r["quarantined"]) for r in recs] == [(1, 1, 2)]
    assert dead_letters(1) == ["c1_0", "c1_1"]
    assert ckpt.load(ck)["unpositioned"] == {lost: os.stat(lost).st_mtime_ns}

    # a second segment without lsn, read by an epoch whose checkpoint
    # write is lost: the fence repair restores the dead letters and the
    # checkpoint entry from the snapshot summary
    seg(2, [2])
    lost2 = seg(3, [None])

    def crash(point):
        if point == "post_snapshot":
            raise RuntimeError("crash")

    with pytest.raises(RuntimeError):
        run_increment(spark, str(ledger), table_root, ck, salts=None, crash_hook=crash)
    assert run_increment(spark, str(ledger), table_root, ck, salts=None) == []
    assert dead_letters(2) == ["c3_0"]
    assert set(ckpt.load(ck)["unpositioned"]) == {lost, lost2}

    seg(4, [3])
    recs = run_increment(spark, str(ledger), table_root, ck, salts=None)
    assert [(r["epoch"], r["rows"], r["quarantined"]) for r in recs] == [(3, 1, 0)]
    lineage = [(r["epoch"], r["quarantined"]) for r in read_lineage(ck)]
    assert lineage == [(1, 2), (2, 1), (3, 0)]
    live = read_live(spark, IceboxTable(table_root))
    assert sorted(r["text"] for r in live.collect()) == ["seg0", "seg2", "seg4"]
    with open(os.path.join(ck, "checkpoint.json")) as fh:
        assert json.load(fh)["epoch"] == 3


def test_fence_repair_walks_past_maintenance_snapshots(spark, tmp_path):
    """Compaction while the fence is armed: the current snapshot is the
    maintenance one — repair must walk past it, so the repaired lineage
    names the snapshot that committed the torn epoch, and the dead
    letters written before that commit are kept."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from stellar_ingest.cdc.lineage import read_lineage
    from stellar_ingest.cdc.runner import run_increment
    from stellar_ingest.lake.core import IceboxTable
    from stellar_ingest.lake.maintain import compact

    from .helpers import ts as _ts

    seg = tmp_path / "ledger" / "part=0" / "seg=0"
    seg.mkdir(parents=True)
    t = pa.table(
        {
            "lsn": pa.array([1, 2, 3], pa.int64()),
            "src_part": pa.array([0, 0, 0], pa.int32()),
            "op": ["I", None, "I"],  # lsn 2 quarantines
            "conv_id": ["c1", "c1", "c2"],
            "turn_idx": pa.array([0, 1, 0], pa.int32()),
            "role": ["user"] * 3,
            "text": ["ok1", "bad", "ok2"],
            "ts": pa.array([_ts(1), _ts(2), _ts(3)], pa.timestamp("us")),
        }
    )
    pq.write_table(t, seg / "s.parquet")
    table_root, ck = str(tmp_path / "t"), str(tmp_path / "ck")

    class Boom(RuntimeError):
        pass

    def hook(point):
        if point == "post_snapshot":
            raise Boom(point)

    with _pytest.raises(Boom):
        run_increment(spark, str(tmp_path / "ledger"), table_root, ck,
                      salts=None, crash_hook=hook)
    table = IceboxTable(table_root)
    torn_sid = table.current_snapshot()["snapshot_id"]
    # operator compacts while the fence is armed
    compact_sid = compact(spark, table, min_files_per_bucket=1)
    assert compact_sid is not None and compact_sid != torn_sid
    assert table.current_snapshot()["summary"].get("maintenance") == "compact"
    run_increment(spark, str(tmp_path / "ledger"), table_root, ck, salts=None)
    dead = spark.read.parquet(f"{ck}/quarantine/epoch=1")
    assert {r["lsn"] for r in dead.collect()} == {2}
    recs = read_lineage(ck)
    assert [r["epoch"] for r in recs] == [1]
    assert recs[0]["repaired"] is True
    assert {r["snapshot_id"] for r in recs} == {torn_sid}


def test_legacy_torn_snapshot_emits_placeholder_lineage(spark, tmp_path):
    """A torn snapshot whose summary lacks the 'lineage' key (pre-v2 or
    streaming-path commit) must still produce an epoch record — the
    audit log can never have an epoch gap."""
    from stellar_ingest.cdc.lineage import read_lineage
    from stellar_ingest.cdc.runner import run_increment
    from stellar_ingest.gen.changelog import gen_events, keyspace, write_ledger
    from stellar_ingest.lake.core import IceboxTable
    from stellar_ingest.lake.merge import merge_apply
    from stellar_ingest.schema import table_schema_for

    ev = gen_events(spark, 5, parts=2, seed=11)
    write_ledger(ev, str(tmp_path / "ledger"), n_convs=5, seg_span=keyspace(5))
    hi = {
        int(r["src_part"]): int(r["hi"])
        for r in ev.groupBy("src_part").agg(F.max("lsn").alias("hi")).collect()
    }
    table = IceboxTable.create(
        str(tmp_path / "t"), table_schema_for(ev.schema), num_buckets=4
    )
    # commit the whole ledger the way a streaming/pre-v2 writer would:
    # epoch + offsets in the summary but NO lineage stats
    merge_apply(
        spark, table, ev,
        summary={"epoch": 1, "offsets": {str(k): v for k, v in hi.items()}},
    )
    ck = str(tmp_path / "ck")
    run_increment(spark, str(tmp_path / "ledger"), str(tmp_path / "t"), ck, salts=None)
    recs = read_lineage(ck)
    assert [r["epoch"] for r in recs] == [1]
    assert recs[0]["repaired"] is True and recs[0]["rows"] == 0


def test_lineage_rotation_keeps_full_audit(spark, tmp_path):
    """lineage_rotate_bytes rolls the audit log into epoch-named
    archives; read_lineage still returns every epoch gap-free, and the
    fence-replay emit stays idempotent across a rotation boundary."""
    from stellar_ingest.cdc import checkpoint as ckpt
    from stellar_ingest.cdc.lineage import LINEAGE_FILE, read_lineage
    from stellar_ingest.cdc.runner import run_increment
    from stellar_ingest.gen.changelog import gen_events, keyspace, write_ledger

    n = 12
    ks = keyspace(n)
    ledger = str(tmp_path / "ledger")
    write_ledger(gen_events(spark, n, parts=2, seed=5), ledger, n_convs=n,
                 seg_span=max(1, (3 * ks) // 10))
    ck = str(tmp_path / "ck")
    recs = run_increment(
        spark, ledger, str(tmp_path / "t"), ck,
        max_segments_per_part=1, salts=None, num_buckets=4,
        lineage_rotate_bytes=400,
    )
    epochs = sorted({r["epoch"] for r in recs})
    assert len(epochs) >= 5
    import os

    archives = [f for f in os.listdir(ck)
                if f.startswith("lineage.") and f != LINEAGE_FILE]
    assert archives, "rotation should have produced archives"
    got = sorted({r["epoch"] for r in read_lineage(ck)})
    assert got == epochs  # gap-free across archives + active file
    # replay the fence across the rotation: roll the checkpoint back one
    # epoch; the re-emit must not duplicate any epoch in the audit log
    cur = ckpt.load(ck)
    stale = dict(cur); stale["epoch"] = cur["epoch"] - 1
    ckpt.save(ck, stale)
    run_increment(spark, ledger, str(tmp_path / "t"), ck,
                  max_segments_per_part=1, salts=None, num_buckets=4,
                  lineage_rotate_bytes=400)
    flat = read_lineage(ck)
    per_epoch = {}
    for r in flat:
        per_epoch.setdefault(r["epoch"], []).append(r)
    for e, rs in per_epoch.items():
        pairs = [(r["src_part"], r["lsn_from"], r["lsn_to"]) for r in rs]
        assert len(pairs) == len(set(pairs)), f"duplicated records in epoch {e}"


def test_quarantine_pruning_keeps_newest(spark, tmp_path):
    """quarantine_keep bounds the dead-letter dir to the newest K epoch
    dirs (opt-in; default keeps everything)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from stellar_ingest.cdc.runner import run_increment

    from .helpers import ts as _ts

    # 3 segments, each with one invalid (NULL op) row
    for seg in range(3):
        d = tmp_path / "ledger" / "part=0" / f"seg={seg}"
        d.mkdir(parents=True)
        t = pa.table({
            "lsn": pa.array([seg * 10 + 1, seg * 10 + 2], pa.int64()),
            "src_part": pa.array([0, 0], pa.int32()),
            "op": ["I", None],
            "conv_id": [f"c{seg}", f"c{seg}"],
            "turn_idx": pa.array([0, 1], pa.int32()),
            "role": ["user", "user"],
            "text": [f"ok{seg}", "bad"],
            "ts": pa.array([_ts(seg * 10 + 1), _ts(seg * 10 + 2)], pa.timestamp("us")),
        })
        pq.write_table(t, d / "s.parquet")
    ck = str(tmp_path / "ck")
    run_increment(
        spark, str(tmp_path / "ledger"), str(tmp_path / "t"), ck,
        max_segments_per_part=1, salts=None, num_buckets=2,
        quarantine_keep=1,
    )
    import os

    qdirs = sorted(os.listdir(os.path.join(ck, "quarantine")))
    assert qdirs == ["epoch=3"], qdirs  # only the newest epoch's dir
    dead = spark.read.parquet(os.path.join(ck, "quarantine", "epoch=3"))
    assert dead.count() == 1
