"""The driver-side memo (stellar_ingest/memo.py) and the ledger segment
memo built on it (cdc/source.py::list_segments).  No Spark session."""

from __future__ import annotations

import os
import random
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq

from stellar_ingest.cdc import source
from stellar_ingest.memo import Memo


def test_other_token_rebuilds():
    m = Memo(4)
    assert m.get("k", lambda: "v1", token=1) == "v1"
    assert m.get("k", lambda: "unused", token=1) == "v1"
    assert m.get("k", lambda: "v2", token=2) == "v2"
    assert m.get("k", lambda: "unused", token=2) == "v2"
    assert len(m) == 1


def test_least_recently_read_entry_goes_first():
    m = Memo(2)
    m.get("a", lambda: 1)
    m.get("b", lambda: 2)
    m.get("a", lambda: 0)  # a is now the most recently read
    m.get("c", lambda: 3)
    assert "a" in m and "c" in m and "b" not in m
    assert len(m) == 2


def test_new_scope_drops_every_entry():
    m = Memo(8)
    m.get("a", lambda: 1, scope="app-1")
    m.get("b", lambda: 2, scope="app-1")
    assert m.get("a", lambda: 0, scope="app-1") == 1
    assert m.get("a", lambda: 10, scope="app-2") == 10
    assert "b" not in m and len(m) == 1


def test_threads_never_get_a_value_of_another_token():
    cap = 8
    m = Memo(cap)
    errors: list[str] = []

    def work(seed: int) -> None:
        rng = random.Random(seed)
        for _ in range(2000):
            key, token = rng.randrange(16), rng.randrange(3)
            got = m.get(key, lambda: (key, token, object()), token=token)
            if got[:2] != (key, token):
                errors.append(f"{(key, token)} got {got[:2]}")
            if len(m) > cap:
                errors.append(f"{len(m)} entries")

    threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:5]
    assert len(m) <= cap


def _segment(path: str, lsns: list[int]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"lsn": pa.array(lsns, pa.int64())}), path)


def _ledger(root: str, sizes: list[int]) -> None:
    lsn = 0
    for k, n in enumerate(sizes):
        _segment(f"{root}/part=0/seg={k}/data.parquet", list(range(lsn, lsn + n)))
        lsn += n


def test_segment_memo_keeps_memoizing_past_capacity(tmp_path, monkeypatch):
    """A full segment memo evicts its oldest footers instead of
    re-parsing every new segment on every listing; an empty segment is
    memoized too, and a segment rewritten in place is re-parsed."""
    monkeypatch.setattr(source, "_SEG_CACHE", Memo(4))
    opened: list[str] = []
    real = pq.ParquetFile

    def counting(path, *a, **kw):
        opened.append(path)
        return real(path, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    big, small = str(tmp_path / "big"), str(tmp_path / "small")
    _ledger(big, [5] * 6)
    _ledger(small, [5, 0, 5])

    assert len(source.list_segments(big)) == 6
    assert len(opened) == 6
    assert len(source.list_segments(small)) == 2
    assert len(opened) == 9
    assert len(source.list_segments(small)) == 2
    assert len(opened) == 9  # the second listing opens no footer

    seg0 = f"{small}/part=0/seg=0/data.parquet"
    _segment(seg0, list(range(0, 50)))
    segs = source.list_segments(small)
    assert opened[9:] == [seg0]
    assert [s.rows for s in segs] == [50, 5]
