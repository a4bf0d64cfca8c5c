"""Randomized lifecycle walks: interleave EVERY table-mutating surface
(delta/COW apply, fold, compact, expiry, GC, bucket rescale) in random
order and assert after every step that the user-visible live state
equals an independent pandas LWW model over all mutations so far.

This is the composition test the per-feature suites can't give: any
pairwise interaction bug between maintenance and the two commit modes
(e.g. a fold dropping an unread sibling-bucket version after a rescale,
or expiry deleting a file a delta still needs) surfaces as a model
mismatch at the exact step that broke it.  Deterministic seeds keep it
reproducible; runtime is bounded (~10 ops per walk).
"""

from __future__ import annotations

import random

import pandas as pd
import pyarrow as pa
import pytest

from stellar_ingest.lake.core import IceboxTable
from stellar_ingest.lake.maintain import compact, expire_snapshots, fold_deltas, gc_orphans
from stellar_ingest.lake.merge import delta_apply, merge_apply
from stellar_ingest.lake.read import read_live
from stellar_ingest.schema import TABLE_SCHEMA

from .helpers import expected_lww_pandas, make_changelog

CONVS = [f"c{i}" for i in range(12)]


def _gen_batch(rng: random.Random, lsn0: int, n: int):
    rows = []
    for i in range(n):
        lsn = lsn0 + i
        conv = rng.choice(CONVS)
        turn = rng.randrange(3)
        op = rng.choices(["I", "U", "D"], weights=[2, 5, 1])[0]
        rows.append(
            (
                lsn,
                rng.randrange(2),  # src_part
                op,
                conv,
                turn,
                rng.choice(["user", "assistant"]),
                None if op == "D" else f"v{lsn}",
                None,
                # ts deliberately NON-monotone in lsn for some rows
                lsn if rng.random() > 0.2 else max(0, lsn - rng.randrange(50)),
            )
        )
    return rows


def _assert_model(spark, table, applied_rows, step):
    live = (
        read_live(spark, table)
        .select("conv_id", "turn_idx", "role", "text", "ts")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    events = pd.DataFrame(
        applied_rows,
        columns=[
            "lsn", "src_part", "op", "conv_id", "turn_idx", "role", "text",
            "tool", "sec",
        ],
    )
    from .helpers import ts as _ts

    events["ts"] = events["sec"].map(_ts)
    exp = expected_lww_pandas(events, payload_cols=("role", "text"))
    exp = exp[["conv_id", "turn_idx", "role", "text", "ts"]].reset_index(drop=True)
    assert len(live) == len(exp), f"step {step}: {len(live)} vs {len(exp)}"
    assert live.values.tolist() == exp.values.tolist(), f"step {step}"


def _arrow_changelog(rows):
    """The rows of ``make_changelog`` as the pyarrow batch the
    driver-side apply takes (cdc/source.py::read_batch_arrow's types)."""
    from .helpers import ts as _ts

    cols = list(zip(*rows))
    return pa.table(
        {
            "lsn": pa.array(cols[0], pa.int64()),
            "src_part": pa.array(cols[1], pa.int32()),
            "op": pa.array(cols[2], pa.string()),
            "conv_id": pa.array(cols[3], pa.string()),
            "turn_idx": pa.array(cols[4], pa.int32()),
            "role": pa.array(cols[5], pa.string()),
            "text": pa.array(cols[6], pa.string()),
            "tool": pa.array(cols[7], pa.string()),
            "ts": pa.array([_ts(s) for s in cols[8]], pa.timestamp("us")),
        }
    )


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_lifecycle_walk_matches_pandas_model(spark, tmp_path, seed):
    _walk(spark, tmp_path, seed, lambda rows: make_changelog(spark, rows))


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_lifecycle_walk_matches_pandas_model_driver_apply(spark, tmp_path, seed):
    """The same walk with every apply on the driver-side path (a
    pyarrow batch); fold and compact still run as Spark jobs."""
    _walk(spark, tmp_path, seed, _arrow_changelog)


def _walk(spark, tmp_path, seed: int, to_batch) -> None:
    rng = random.Random(seed)
    t = IceboxTable.create(str(tmp_path / "t"), TABLE_SCHEMA, num_buckets=4)
    applied: list = []
    lsn = 0
    ops = ["apply", "apply"]  # always start with data
    ops += rng.choices(
        ["apply", "fold", "compact", "expire", "gc", "rescale"],
        weights=[5, 2, 2, 2, 1, 1],
        k=9,
    )
    for step, op in enumerate(ops):
        if op == "apply":
            n = rng.randrange(5, 25)
            rows = _gen_batch(rng, lsn, n)
            lsn += n
            batch = to_batch(rows)
            fn = delta_apply if rng.random() < 0.6 else merge_apply
            fn(spark, t, batch, summary={"epoch": step + 1})
            applied += rows
        elif op == "fold":
            fold_deltas(
                spark, t,
                min_delta_commits=rng.choice([1, 2]),
                max_buckets=rng.choice([None, 2]),
            )
        elif op == "compact":
            compact(spark, t, min_files_per_bucket=1)
        elif op == "expire":
            expire_snapshots(t, keep_last=rng.choice([1, 2]))
        elif op == "gc":
            gc_orphans(t, grace_ms=0)
        elif op == "rescale":
            if t.num_buckets <= 16:
                t.rescale_buckets(t.num_buckets * 2)
        _assert_model(spark, t, applied, f"{step}:{op}(seed{seed})")
