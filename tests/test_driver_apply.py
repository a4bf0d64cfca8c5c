"""The driver-side apply against the Spark apply.

A small unsalted epoch is read, validated, resolved and written on the
driver with pyarrow (lake/merge.py, picked by cdc/runner.py).  The
``spark_apply`` fixture's seam (``DRIVER_APPLY_MAX_ROWS`` = 0) sends
every epoch through the Spark job instead, so both paths run over the
same ledger and must agree on everything they leave behind:

1. a hypothesis differential test over generated ledgers (deletes,
   ``ts`` ties broken by (lsn, src_part), redelivered (src_part, lsn)
   duplicates, NULL envelopes and invalid rows, two schema eras, a
   rename, in-apply folds, INT96 and microsecond ledger timestamps):
   the same ``table_fingerprint``, the same rows in the same order in
   every data file, the same manifest entries apart from paths, the
   same snapshot summaries, lineage, dead letters and ``salt_hint``;
2. a crash test that switches paths mid-stream and reaches the golden
   fingerprint;
3. a clean driver epoch starts no Spark job, and one over the byte
   bound runs on Spark.
"""

from __future__ import annotations

import json
import os
import tempfile
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from stellar_ingest.cdc.lineage import read_lineage
from stellar_ingest.cdc.runner import run_increment
from stellar_ingest.lake import merge, write
from stellar_ingest.lake.core import IceboxTable
from stellar_ingest.lake.read import scan
from stellar_ingest.verify.fingerprint import table_fingerprint

BASE = int(datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp())
CONVS = ["a", "b", "cc", "dé", "e"]

# -- a generated ledger --------------------------------------------------------------


@st.composite
def ledgers(draw):
    """Per source partition (0, 1): 3-4 segments of rows
    (lsn, src_part, op, conv_id, turn_idx, role, text, tool, ts_ns).
    Segment 0 has no ``tool`` column (the first schema era); lsns rise
    per partition and repeat across partitions; ``ts`` comes from a few
    seconds, so ties on ts and on (ts, lsn) are common; each later
    segment may redeliver rows of the one before."""
    n_segs = draw(st.integers(3, 4))
    segs = {}
    for part in (0, 1):
        lsn, out, prev = 1, [], []
        for k in range(n_segs):
            rows = []
            for _ in range(draw(st.integers(1, 7))):
                kind = draw(st.sampled_from(["I", "U", "U", "U", "D", "D", "bad", "null_env"]))
                op = kind if kind in ("I", "U", "D") else "U"
                ts_ns = (BASE + draw(st.integers(0, 4))) * 10**9 + draw(
                    st.sampled_from([0, 0, 1500, 999_999])
                )
                row = [
                    lsn, part, op, draw(st.sampled_from(CONVS)), draw(st.integers(0, 2)),
                    "user", f"v{part}.{lsn}",
                    draw(st.sampled_from([None, "t1", "t2"])) if k else None, ts_ns,
                ]
                if op == "D":
                    row[5] = row[6] = row[7] = None
                if kind == "bad":
                    field, value = draw(
                        st.sampled_from(
                            [(2, "X"), (2, None), (3, None), (3, ""), (4, -1),
                             (5, "robot"), (6, None), (8, None)]
                        )
                    )
                    row[field] = value
                elif kind == "null_env":
                    row[draw(st.sampled_from([0, 1]))] = None
                rows.append(tuple(row))
                lsn += 1
            rows += draw(st.lists(st.sampled_from(prev), max_size=2)) if prev else []
            prev = [r for r in rows if r[0] is not None]
            out.append(rows)
        segs[part] = out
    return segs


def _write_segment(path: str, rows: list[tuple], *, era: int, int96: bool) -> None:
    cols = list(zip(*rows))
    unit = "ns" if int96 else "us"
    ts = [None if v is None else (v if int96 else v // 1000) for v in cols[8]]
    data = {
        "lsn": pa.array(cols[0], pa.int64()),
        "src_part": pa.array(cols[1], pa.int32()),
        "op": pa.array(cols[2], pa.string()),
        "conv_id": pa.array(cols[3], pa.string()),
        "turn_idx": pa.array(cols[4], pa.int32()),
        "role": pa.array(cols[5], pa.string()),
        "text": pa.array(cols[6], pa.string()),
        "ts": pa.array(ts, pa.timestamp(unit)),
    }
    if era:
        data["tool"] = pa.array(cols[7], pa.string())
    os.makedirs(os.path.dirname(path))
    pq.write_table(pa.table(data), path, use_deprecated_int96_timestamps=int96)


def _write_ledger(root: str, segs: dict) -> str:
    ledger = os.path.join(root, "ledger")
    for part, seg_rows in segs.items():
        for k, rows in enumerate(seg_rows):
            _write_segment(
                os.path.join(ledger, f"part={part}", f"seg={k}", "s.parquet"),
                rows,
                era=int(k > 0),
                int96=bool((k + part) % 2),
            )
    return ledger


# -- what a run leaves behind --------------------------------------------------------


def _run(spark, ledger: str, root: str, *, rename_at: int, **kw) -> list:
    """Drain ``ledger`` one epoch at a time, renaming ``tool`` after the
    first epoch from ``rename_at`` on that finds it in the table (the
    ledger keeps sending ``tool``); the checkpoint after every epoch."""
    table, ck = os.path.join(root, "t"), os.path.join(root, "ck")
    cks, renamed = [], False
    while run_increment(spark, ledger, table, ck, max_epochs=1, **kw):
        with open(os.path.join(ck, "checkpoint.json")) as fh:
            cks.append(json.load(fh))
        t = IceboxTable(table)
        if not renamed and len(cks) >= rename_at and "tool" in t.schema_struct().names:
            t.rename_column("tool", "tool_name")
            renamed = True
    return cks


def _state(spark, root: str) -> dict:
    t = IceboxTable(os.path.join(root, "t"))
    ck = os.path.join(root, "ck")
    files = {}
    for s in t.snapshots():
        files[s["snapshot_id"]] = [
            (
                {k: v for k, v in e.items() if k != "path"},
                pq.read_table(os.path.join(t.root, e["path"])).to_pylist(),
                pq.read_schema(os.path.join(t.root, e["path"])).metadata,
            )
            for e in t.files(s["snapshot_id"])
        ]
    qroot = os.path.join(ck, "quarantine")
    dead = {
        d: sorted(
            map(repr, spark.read.parquet(os.path.join(qroot, d)).collect())
        )
        for d in (sorted(os.listdir(qroot)) if os.path.isdir(qroot) else [])
    }
    return {
        "fingerprint": table_fingerprint(scan(spark, t)),
        "schemas": t.metadata()["schemas"],
        "snapshots": [
            {k: s[k] for k in ("operation", "summary", "total_rows", "total_files", "schema_id")}
            for s in t.snapshots()
        ],
        "files": files,
        "lineage": [
            {k: v for k, v in r.items() if k not in ("wall_ms", "events_per_sec")}
            for r in read_lineage(ck)
        ],
        "dead_letters": dead,
    }


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    segs=ledgers(),
    mode=st.sampled_from(["auto", "cow"]),
    salt_threshold=st.sampled_from([3, 10_000]),
    rename_at=st.integers(1, 3),
)
def test_driver_apply_matches_spark_apply(spark, segs, mode, salt_threshold, rename_at):
    kw = dict(
        max_segments_per_part=1, num_buckets=4, mode=mode, salt_threshold=salt_threshold,
        fold_min_deltas=2, fold_max_buckets=2, rename_at=rename_at,
    )
    calls = {"n": 0}
    driver_rows = merge._driver_winner_rows

    def counted(*args, **kwargs):
        calls["n"] += 1
        return driver_rows(*args, **kwargs)

    with tempfile.TemporaryDirectory() as w:
        ledger = _write_ledger(w, segs)
        out = {}
        for path in ("driver", "spark"):
            root = os.path.join(w, path)
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(merge, "_driver_winner_rows", counted)
                if path == "spark":
                    mp.setattr(write, "DRIVER_APPLY_MAX_ROWS", 0)
                before = calls["n"]
                cks = _run(spark, ledger, root, **kw)
                took_driver = calls["n"] - before
            out[path] = (cks, _state(spark, root))
            assert (took_driver > 0) == (path == "driver"), (path, took_driver)
    (ck_d, st_d), (ck_s, st_s) = out["driver"], out["spark"]
    assert ck_d == ck_s  # offsets, snapshot ids and salt_hint, epoch by epoch
    for key in st_s:
        assert st_d[key] == st_s[key], key


# -- crash while switching paths ---------------------------------------------------


class _Boom(RuntimeError):
    pass


@pytest.mark.parametrize("crash_at", ["pre_merge", "post_snapshot", "post_checkpoint"])
def test_crash_while_switching_paths_reconverges(spark, tmp_path, monkeypatch, crash_at):
    """Epochs alternate between the driver and the Spark path (by the
    size seam); a crash in a driver epoch is resumed on the Spark path
    and the other way round.  The table reaches the golden fingerprint
    of a one-path drain, with one lineage record set per epoch."""
    from stellar_ingest.gen.changelog import gen_events, keyspace, write_ledger

    ledger = str(tmp_path / "ledger")
    write_ledger(gen_events(spark, 30, parts=2, seed=5), ledger, n_convs=30,
                 seg_span=keyspace(30) // 4)
    kw = dict(max_segments_per_part=1, mode="auto", fold_min_deltas=2, fold_max_buckets=2)
    golden = str(tmp_path / "golden")
    run_increment(spark, ledger, golden, str(tmp_path / "gck"), **kw)
    want = table_fingerprint(scan(spark, IceboxTable(golden)))

    root, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    crashes = 0
    for i in range(1, 100):
        # odd runs on the driver, even runs on Spark; runs 2 and 3 crash
        monkeypatch.setattr(write, "DRIVER_APPLY_MAX_ROWS", 10**6 if i % 2 else 0)

        def hook(point):
            if point == crash_at and i in (2, 3):
                raise _Boom(point)

        try:
            if not run_increment(spark, ledger, root, ck, max_epochs=1, crash_hook=hook, **kw):
                break
        except _Boom:
            crashes += 1
    assert crashes == 2
    assert table_fingerprint(scan(spark, IceboxTable(root))) == want
    epochs = sorted({r["epoch"] for r in read_lineage(ck)})
    assert epochs == list(range(1, max(epochs) + 1))


# -- no Spark job ------------------------------------------------------------------


def _loaded_table_and_update(spark, tmp_path):
    """A 30-conversation table and a pending 200-update ledger segment."""
    from stellar_ingest.gen.changelog import (
        append_update_segment,
        gen_events,
        gen_update_stream,
        keyspace,
        write_ledger,
    )

    ledger, root, ck = str(tmp_path / "ledger"), str(tmp_path / "t"), str(tmp_path / "ck")
    write_ledger(gen_events(spark, 30, parts=2, seed=7), ledger, n_convs=30)
    run_increment(spark, ledger, root, ck, max_epochs=1)
    upd = gen_update_stream(
        spark, 30, n_events=200, lsn_base=64 * keyspace(30), parts=2, seed=8, preload_seed=7
    )
    append_update_segment(upd, ledger, seg_no=1000)
    return ledger, root, ck


def _epoch_jobs(spark, run) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup("epoch", "epoch")
    try:
        run()
    finally:
        sc.setJobGroup("", "")
    return sc.statusTracker().getJobIdsForGroup("epoch")


def test_clean_driver_epoch_starts_no_spark_job(spark, tmp_path):
    ledger, root, ck = _loaded_table_and_update(spark, tmp_path)
    recs = []
    jobs = _epoch_jobs(
        spark, lambda: recs.extend(run_increment(spark, ledger, root, ck, max_epochs=1))
    )
    assert IceboxTable(root).current_snapshot()["operation"] == "delta"
    assert sum(r["rows"] for r in recs) == 200 and recs[0]["quarantined"] == 0
    assert jobs == []


def test_byte_bound_counts_batch_and_rewritten_bytes(spark, tmp_path, monkeypatch):
    """The byte bound holds the batch segments' uncompressed row-group
    bytes plus the on-disk bytes of the files the epoch rewrites; an
    epoch one byte over it runs as a Spark job."""
    from stellar_ingest.cdc import checkpoint as ckpt
    from stellar_ingest.cdc.runner import _driver_apply_fits
    from stellar_ingest.cdc.source import list_segments, select_batch

    ledger, root, ck = _loaded_table_and_update(spark, tmp_path)
    table = IceboxTable(root)
    chosen, _ = select_batch(list_segments(ledger), ckpt.load(ck)["offsets"])
    batch = sum(s.bytes for s in chosen)
    stored = sum(os.path.getsize(p) for p in table.file_paths())
    assert batch > 0 and stored > 0

    def fits(mode, bound, fold=None):
        monkeypatch.setattr(write, "DRIVER_APPLY_MAX_BYTES", bound)
        return _driver_apply_fits(spark, table, chosen, None, mode, fold, 4)

    assert fits("mor", batch) and not fits("mor", batch - 1)
    assert fits("cow", batch + stored) and not fits("cow", batch + stored - 1)
    b0 = table.files()[0]["bucket"]
    stored_b0 = sum(os.path.getsize(p) for p in table.file_paths(buckets=[b0]))
    assert fits("mor", batch + stored_b0, [b0])
    assert not fits("mor", batch + stored_b0 - 1, [b0])

    monkeypatch.setattr(write, "DRIVER_APPLY_MAX_BYTES", batch - 1)
    jobs = _epoch_jobs(spark, lambda: run_increment(spark, ledger, root, ck, max_epochs=1))
    assert jobs != []
