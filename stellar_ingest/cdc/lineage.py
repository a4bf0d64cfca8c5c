"""Per-batch lineage + throughput metrics (SURVEY.md §2 ops 10/74;
BASELINE.json:6 "per-partition lineage (source offset range → snapshot)
and throughput metrics are emitted each batch").

Capability lineage: the reference reports ingestion job status to its
coordinator [PK-med, SURVEY.md §1.1]; here that becomes an append-only
JSONL audit log binding each (epoch, src_part) offset range to the lake
snapshot that contains it.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

LINEAGE_FILE = "lineage.jsonl"


def observed_stats(raw: DataFrame, valid_sql: str, parts: list[int]):
    """Zero-extra-pass lineage: attach an ``observe`` node computing
    per-partition (lsn_from, lsn_to, rows) for valid rows + the
    quarantine count as a SIDE EFFECT of whatever action consumes the
    batch next (the MERGE itself) — the ledger is scanned exactly once
    per epoch.  Returns (observed_df, Observation); call
    ``collect_observed_stats`` after the action ran.

    ``valid_sql``: a row's validity as SQL TEXT — the CDC loops pass the
    ``__valid`` column that cdc/validate.py::observe_valid computes once
    per row from VALIDITY_SQL.  The aggregate expressions here are
    emitted as one-parse F.expr strings instead of Column-operator
    chains (~250 py4j round-trips, ~0.1 s/epoch of driver time,
    round-6 profile).  Identical expressions: count(CASE WHEN … THEN 1
    END) counts non-nulls exactly like count(when(pred, 1))."""
    exprs = [
        F.expr(f"count(CASE WHEN NOT ({valid_sql}) THEN 1 END) AS quarantined")
    ]
    for p in sorted(parts):
        ok = f"({valid_sql}) AND src_part = {int(p)}"
        exprs += [
            F.expr(f"min(CASE WHEN {ok} THEN lsn END) AS from_{p}"),
            F.expr(f"max(CASE WHEN {ok} THEN lsn END) AS to_{p}"),
            F.expr(f"count(CASE WHEN {ok} THEN 1 END) AS rows_{p}"),
        ]
    obs = _BatchStats(raw, exprs)
    return raw.observe(obs, *exprs), obs


class _BatchStats(Observation):
    """The batch-stats Observation, plus the aggregate that recomputes
    the same stats.  Adaptive execution can leave an observe node out
    of the job that ran: when a shuffle stage's output is empty (an
    epoch with no valid row), the rest of the plan becomes an empty
    relation and the observation fills with an empty row, which
    ``Observation.get`` cannot read."""

    def __init__(self, raw: DataFrame, exprs: list):
        super().__init__("batch_stats")
        self._raw, self._exprs = raw, exprs

    def stats(self) -> dict:
        if self._jo.getRow().length():
            return self.get
        # one more scan of the batch, only when the observation is empty
        return self._raw.agg(*self._exprs).first().asDict()


def collect_observed_stats(obs, parts: list[int]) -> tuple[list[dict], int]:
    """(partition_stats, quarantined) from a filled Observation."""
    got = obs.stats()
    stats = []
    for p in sorted(parts):
        if got[f"rows_{p}"]:
            stats.append(
                {
                    "src_part": int(p),
                    "lsn_from": int(got[f"from_{p}"]),
                    "lsn_to": int(got[f"to_{p}"]),
                    "rows": int(got[f"rows_{p}"]),
                }
            )
    return stats, int(got["quarantined"])


def emit(
    checkpoint_dir: str,
    *,
    epoch: int,
    snapshot_id: int,
    partition_stats: list[dict],
    wall_ms: float,
    quarantined: int = 0,
    repaired: bool = False,
) -> list[dict]:
    """Append one lineage record per (epoch, src_part) + return them.

    Idempotent per epoch: the runner emits BEFORE the checkpoint save, so
    a crash in between replays the emit on restart — records for an epoch
    already present in the file are skipped, never duplicated.  Epochs
    append in strictly increasing order, so the check is O(1): read the
    LAST complete line, not the whole file.  The same property lets the
    fence repair re-emit a torn epoch's lineage from the snapshot summary
    (``repaired=True``, no wall-clock available).

    Crash-atomicity: an epoch is ONE JSONL line ({"epoch", "records"}),
    so a crash mid-append leaves at most one torn line, which fails to
    parse and reads as absent — the replayed emit rewrites the whole
    epoch.  A partially-recorded epoch is unrepresentable."""
    total = sum(p["rows"] for p in partition_stats)
    eps = (total / (wall_ms / 1000.0)) if wall_ms > 0 else 0.0
    records = [
        {
            "epoch": epoch,
            "src_part": p["src_part"],
            "lsn_from": p["lsn_from"],
            "lsn_to": p["lsn_to"],
            "snapshot_id": snapshot_id,
            "rows": p["rows"],
            "wall_ms": round(wall_ms, 3),
            "events_per_sec": round(eps, 3),
            "quarantined": quarantined,
            "repaired": repaired,
        }
        for p in partition_stats
    ]
    if not records:
        # epochs with no valid rows (all quarantined/duplicates) and
        # fence repairs of legacy snapshots without lineage summaries
        # still get ONE placeholder record — the flat audit log is
        # gap-free in epochs, not just the JSONL line stream
        records = [
            {
                "epoch": epoch,
                "src_part": None,
                "lsn_from": None,
                "lsn_to": None,
                "snapshot_id": snapshot_id,
                "rows": 0,
                "wall_ms": round(wall_ms, 3),
                "events_per_sec": 0.0,
                "quarantined": quarantined,
                "repaired": repaired,
            }
        ]
    last = last_emitted_epoch(checkpoint_dir)
    if last is not None and last >= epoch:
        return records
    os.makedirs(checkpoint_dir, exist_ok=True)
    path = os.path.join(checkpoint_dir, LINEAGE_FILE)
    line = json.dumps({"epoch": epoch, "records": records}, sort_keys=True) + "\n"
    with open(path, "ab") as fh:
        if fh.tell() > 0:
            with open(path, "rb") as rf:
                rf.seek(-1, os.SEEK_END)
                if rf.read(1) != b"\n":
                    # previous append was torn mid-line by a crash: start
                    # fresh so the replayed epoch isn't swallowed into it
                    fh.write(b"\n")
        fh.write(line.encode("utf-8"))
        fh.flush()
        os.fsync(fh.fileno())
    return records


def last_emitted_epoch(checkpoint_dir: str) -> int | None:
    """Epoch of the last COMPLETE record, reading only the file tail
    (epochs are append-ordered; a torn final line parses as absent).
    The tail window doubles until it holds a complete line — an epoch
    line grows with the source-partition count, so a fixed window could
    silently stop seeing any complete line at high partition counts."""
    path = os.path.join(checkpoint_dir, LINEAGE_FILE)
    if not os.path.exists(path):
        return None
    with open(path, "rb") as fh:
        fh.seek(0, os.SEEK_END)
        size = fh.tell()
        window = 65536
        while True:
            fh.seek(max(0, size - window))
            tail = fh.read().decode("utf-8", errors="replace")
            lines = tail.splitlines()
            if size > window:
                lines = lines[1:]  # first line may be cut at the window edge
            for line in reversed(lines):
                if not line.strip():
                    continue
                try:
                    return int(json.loads(line)["epoch"])
                except (json.JSONDecodeError, KeyError, ValueError):
                    continue  # torn trailing line — look one earlier
            if window >= size:
                return None
            window *= 2


def rotate(checkpoint_dir: str, max_bytes: int) -> str | None:
    """Roll the active lineage file once it exceeds ``max_bytes`` —
    renamed to ``lineage.<last_epoch>.jsonl`` (its highest epoch, so
    archive order is self-describing); appends continue in a fresh
    file.  MUST be called at a quiescent point (the runner calls it
    after the epoch's checkpoint save): the fence-replay emit path then
    either finds its epoch in the NEW file (crash after emit) or is not
    armed at all (crash after checkpoint), so rotation can never cause
    a duplicate or dropped epoch.  Returns the archive name, or None
    when under the threshold."""
    path = os.path.join(checkpoint_dir, LINEAGE_FILE)
    if not os.path.exists(path) or os.path.getsize(path) <= max_bytes:
        return None
    last = last_emitted_epoch(checkpoint_dir)
    if last is None:
        return None
    archive = f"lineage.{last}.jsonl"
    os.replace(path, os.path.join(checkpoint_dir, archive))
    return archive


def read_lineage(checkpoint_dir: str) -> list[dict]:
    """Flat per-(epoch, src_part) records across rotated archives + the
    active file (archives sort by their highest epoch); tolerant of a
    torn trailing line from a crash mid-append (skipped — its epoch
    re-emits)."""
    if not os.path.isdir(checkpoint_dir):
        return []
    archives = sorted(
        (
            f
            for f in os.listdir(checkpoint_dir)
            if f.startswith("lineage.") and f.endswith(".jsonl") and f != LINEAGE_FILE
        ),
        key=lambda f: int(f.split(".")[1]),
    )
    out: list[dict] = []
    for name in [*archives, LINEAGE_FILE]:
        path = os.path.join(checkpoint_dir, name)
        if not os.path.exists(path):
            continue
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                try:
                    obj = json.loads(line)
                except json.JSONDecodeError:
                    continue  # torn trailing line from a crash mid-append
                out.extend(obj["records"])
    return out
