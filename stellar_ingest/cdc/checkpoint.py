"""Checkpoint store (SURVEY.md §2 op 9): the exactly-once fencing triple
``{epoch, offsets, snapshot_id}``, fsync'd + atomically swapped.

State deliberately lives here and in lake snapshot summaries — not in
Spark's state store — so restart needs nothing but these two JSON reads
(SURVEY.md §2 op 59 design decision).
"""

from __future__ import annotations

import json
import os

from ..lake.core import _atomic_write_json


def _norm(ck: dict) -> dict:
    return {
        "epoch": int(ck.get("epoch", 0)),
        "offsets": {int(k): int(v) for k, v in (ck.get("offsets") or {}).items()},
        "snapshot_id": ck.get("snapshot_id"),
        # advisory skew hint (salting fan-out for the next epoch) — not
        # part of the fencing triple, correctness never depends on it
        "salt_hint": ck.get("salt_hint"),
        # {path: mtime_ns} of the ledger segments without an lsn that an
        # epoch already read (cdc/source.py::select_batch)
        "unpositioned": {
            str(k): int(v) for k, v in (ck.get("unpositioned") or {}).items()
        },
    }


def initial() -> dict:
    return {"epoch": 0, "offsets": {}, "snapshot_id": None, "unpositioned": {}}


def load(checkpoint_dir: str) -> dict:
    path = os.path.join(checkpoint_dir, "checkpoint.json")
    if not os.path.exists(path):
        return initial()
    with open(path) as fh:
        return _norm(json.load(fh))


def save(checkpoint_dir: str, ck: dict) -> None:
    os.makedirs(checkpoint_dir, exist_ok=True)
    payload = {
        "epoch": int(ck["epoch"]),
        "offsets": {str(k): int(v) for k, v in ck["offsets"].items()},
        "snapshot_id": ck["snapshot_id"],
        "salt_hint": ck.get("salt_hint"),
    }
    if ck.get("unpositioned"):
        payload["unpositioned"] = dict(ck["unpositioned"])
    _atomic_write_json(os.path.join(checkpoint_dir, "checkpoint.json"), payload)
