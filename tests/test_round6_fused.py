"""Round-6 fused single-exchange merge path (lake/merge.py::
_fused_winner_rows): the LWW window and the bucketed write share ONE
exchange because __bucket is a deterministic function of the key.

Checks: (1) plan shape — exactly one Exchange and one Sort survive in
the write-side plan (the window's; the writer's sort is elided),
(2) winners are identical to the unfused resolve() path, including
duplicates/deletes, (3) a full multi-epoch drain produces a
fingerprint-identical table fused vs unfused."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from stellar_ingest.cdc.resolve import resolve
from stellar_ingest.lake.merge import _fused_winner_rows
from stellar_ingest.lake.write import (
    _SLOT_MAPS,
    BUCKET_TASK_ROWS_PER_CORE,
    _mmh3_int,
    bucket_expr,
    fused_slot_map,
)

from .helpers import make_changelog

ROWS = [
    # duplicates of (src_part, lsn), out-of-order ts, a delete winner,
    # and a delete that loses to a later update
    (1, 0, "I", "c1", 0, "user", "hello", None, 10),
    (2, 0, "U", "c1", 0, "user", "hello v2", None, 20),
    (2, 1, "U", "c1", 0, "user", "hello v2b", None, 20),  # ts tie -> lsn/src tiebreak
    (3, 0, "D", "c1", 1, None, None, None, 30),
    (4, 0, "I", "c1", 1, "asst", "revived", None, 25),  # older ts, loses to D
    (5, 1, "I", "c2", 0, "user", "hi", "t1", 15),
    (5, 1, "I", "c2", 0, "user", "hi", "t1", 15),  # exact duplicate delivery
    (6, 0, "U", "c3", 2, "asst", "x", None, 40),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fused_winners_equal_resolve(spark):
    batch = make_changelog(spark, ROWS)
    bexpr = bucket_expr("conv_id", 8)
    fused = _fused_winner_rows(batch, bexpr, 8).drop("__bucket", "__slot")
    unfused = resolve(batch, salts=None)
    assert sorted(fused.columns) == sorted(unfused.columns)
    cols = sorted(fused.columns)
    a = {tuple(r) for r in fused.select(*cols).collect()}
    b = {tuple(r) for r in unfused.select(*cols).collect()}
    assert a == b and len(a) == 4  # c1/0, c1/1 tombstone, c2/0, c3/2


def test_fused_plan_single_exchange_single_sort(spark):
    batch = make_changelog(spark, ROWS)
    bexpr = bucket_expr("conv_id", 8)
    rows = _fused_winner_rows(batch, bexpr, 8)
    # the writer's exact shape (write_data_files pre_partitioned=True,
    # sort_prefix=("__slot",))
    final = rows.sortWithinPartitions(
        "__slot", "__bucket", "conv_id", "turn_idx"
    ).drop("__slot")
    plan = _plan(final)
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Sort [") == 1, plan  # the window's; writer sort elided


def test_slot_map_is_perfect_bucket_to_partition():
    """slots[b] must hash into shuffle partition b exactly (the 1:1
    mapping the fused exchange relies on), for several bucket counts."""
    # 4096 = a production-scale bucket count (the map builds in ~50 ms
    # driver-side and is memoized per count)
    for nb in (4, 8, 32, 256, 4096):
        slots = fused_slot_map(nb)
        assert len(set(slots)) == nb
        assert [(_mmh3_int(s) % nb) for s in slots] == list(range(nb))


def test_mmh3_int_matches_spark_hash(spark):
    """Driver-side Murmur3 must be bit-for-bit Spark's hash(int) — the
    function HashPartitioning applies to the __slot shuffle key."""
    rows = spark.sql("SELECT id, hash(CAST(id AS INT)) h FROM range(-64, 512)").collect()
    for r in rows:
        assert _mmh3_int(int(r["id"])) == r["h"]


def _writer_shape(rows):
    """The write side of the fused plan (write_data_files with
    pre_partitioned=True, sort_prefix=("__slot",))."""
    return rows.sortWithinPartitions(
        "__slot", "__bucket", "conv_id", "turn_idx"
    ).drop("__slot")


def _many_convs(spark, n: int = 200):
    return make_changelog(
        spark, [(i, 0, "I", f"c{i}", 0, "user", "x", None, i) for i in range(n)]
    )


def _assert_bucket_layout(spark, parts: int, batch_rows: int | None = None) -> None:
    """16 buckets: bucket b lands in partition b mod ``parts``, every
    partition has rows, and the plan keeps 1 Exchange + 1 Sort."""
    nb = 16
    rows = _fused_winner_rows(
        _many_convs(spark), bucket_expr("conv_id", nb), nb, batch_rows=batch_rows
    )
    pairs = (
        rows.select(F.spark_partition_id().alias("p"), "__bucket").distinct().collect()
    )
    assert {r["__bucket"] for r in pairs} == set(range(nb))
    assert all(r["p"] == r["__bucket"] % parts for r in pairs)
    assert {r["p"] for r in pairs} == set(range(parts))  # every task has rows
    plan = _plan(_writer_shape(rows))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Sort [") == 1, plan


def test_fused_rows_land_in_their_bucket_partition(spark):
    """16 buckets on the 4-core session: an unsized or small batch runs
    one write task per core, bucket b in partition b mod 4 — no
    collisions, no empty task."""
    assert spark.sparkContext.defaultParallelism == 4
    _assert_bucket_layout(spark, 4)
    _assert_bucket_layout(spark, 4, batch_rows=200)


def test_large_batch_gets_one_write_task_per_bucket(spark):
    """From BUCKET_TASK_ROWS_PER_CORE rows per core the fused exchange
    gives every bucket its own partition (bucket b in partition b)."""
    _assert_bucket_layout(spark, 16, batch_rows=BUCKET_TASK_ROWS_PER_CORE * 4)


def test_fused_slot_literal_is_bounded_at_65536_buckets(spark):
    """The slot literal holds one int per write task, not per bucket:
    at 65,536 buckets the fused plan builds in under 1 s and keeps its
    1 Exchange + 1 Sort shape, rows still landing in bucket mod P."""
    nb = 65_536
    t0 = time.perf_counter()
    rows = _fused_winner_rows(_many_convs(spark), bucket_expr("conv_id", nb), nb)
    final = _writer_shape(rows)
    assert time.perf_counter() - t0 < 1.0
    plan = _plan(final)
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Sort [") == 1, plan
    parts = spark.sparkContext.defaultParallelism
    assert nb not in _SLOT_MAPS  # no per-bucket map is built
    pairs = rows.select(F.spark_partition_id().alias("p"), "__bucket").collect()
    assert all(r["p"] == r["__bucket"] % parts for r in pairs)


def test_fused_drain_fingerprint_matches_unfused(spark, tmp_path):
    from stellar_ingest.cdc.runner import run_increment
    from stellar_ingest.gen.changelog import gen_events, keyspace, write_ledger
    from stellar_ingest.lake.core import IceboxTable
    from stellar_ingest.lake.read import read_live
    from stellar_ingest.verify.fingerprint import table_fingerprint

    w = str(tmp_path)
    ev = gen_events(spark, 60, parts=3, seed=11)
    write_ledger(ev, f"{w}/ledger", n_convs=60, seg_span=keyspace(60) // 3)
    run_increment(
        spark, f"{w}/ledger", f"{w}/t_new", f"{w}/ck_new",
        max_segments_per_part=2, salts=None, num_buckets=8,
    )
    fp_new = table_fingerprint(read_live(spark, IceboxTable(f"{w}/t_new")))
    os.environ["STELLAR_WRITE_SALT"] = "2"  # disables fusion (salted write)
    try:
        run_increment(
            spark, f"{w}/ledger", f"{w}/t_old", f"{w}/ck_old",
            max_segments_per_part=2, salts=None, num_buckets=8,
        )
    finally:
        del os.environ["STELLAR_WRITE_SALT"]
    fp_old = table_fingerprint(read_live(spark, IceboxTable(f"{w}/t_old")))
    assert fp_new == fp_old


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
