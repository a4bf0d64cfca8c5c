"""Bucket-count rescale (Iceberg partition-spec-evolution analogue):
grow num_buckets mid-stream without rewriting data — old-spec files
coexist with new-spec files (manifest refs carry a spec id), pruning
stays exact via congruence classes, and any rewrite (COW merge,
compaction, fold) lazily migrates touched old-spec files to the
current spec.  At 10^10 events this is what keeps per-bucket fold
units and lookup pruning granularity from ossifying at the bucket
count chosen on day one.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stellar_ingest.cdc.runner import backfill, run_increment
from stellar_ingest.gen.changelog import gen_events, keyspace, write_ledger
from stellar_ingest.lake.core import IceboxTable, parse_ref_key
from stellar_ingest.lake.read import key_bucket, lookup, read_live, scan
from stellar_ingest.lake.write import append
from stellar_ingest.schema import TABLE_SCHEMA
from stellar_ingest.verify.diff import states_equal
from stellar_ingest.verify.fingerprint import table_fingerprint

from .helpers import ts

N_CONVS = 30
KS = keyspace(N_CONVS)


@pytest.fixture(scope="module")
def rledger(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("rescale")
    d = str(root / "ledger")
    ev = gen_events(spark, N_CONVS, parts=2, seed=7)
    write_ledger(ev, d, n_convs=N_CONVS, seg_span=KS // 4)
    return d


def _ref_specs(table):
    ml = table.manifest_list(table.metadata()["current_snapshot_id"])
    return {parse_ref_key(k)[0] for k in ml}


def test_rescale_mid_stream_reconverges(spark, rledger, tmp_path):
    """CDC epochs → rescale 4→8 → more epochs: the table reconverges
    byte-identically with an un-rescaled replay, old- and new-spec refs
    coexist, and ingest resumes across the rescale without fuss."""
    t_root, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    run_increment(
        spark, rledger, t_root, ck,
        max_segments_per_part=2, max_epochs=3, salts=None, num_buckets=4,
    )
    t = IceboxTable(t_root)
    new_spec = t.rescale_buckets(8)
    assert t.num_buckets == 8 and t.pinned().bucket_specs()[-1]["spec_id"] == new_spec
    # drain the rest at the new bucket count
    run_increment(
        spark, rledger, t_root, ck,
        max_segments_per_part=2, salts=None, num_buckets=4,
    )
    assert _ref_specs(t) == {0, new_spec}  # mixed specs really present
    # reference: same ledger, never rescaled
    g_root = str(tmp_path / "g")
    run_increment(
        spark, rledger, g_root, str(tmp_path / "gck"),
        max_segments_per_part=2, salts=None, num_buckets=4,
    )
    assert table_fingerprint(scan(spark, t)) == table_fingerprint(
        scan(spark, IceboxTable(g_root))
    )
    assert states_equal(read_live(spark, t), read_live(spark, IceboxTable(g_root)))


def test_rescale_lookup_prunes_across_mixed_specs(spark, rledger, tmp_path):
    """Point lookups on a mixed-spec table read the key's new-spec
    bucket AND its old-spec congruence ref — never the whole table —
    and match the full-scan filter exactly."""
    t_root, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    run_increment(
        spark, rledger, t_root, ck,
        max_segments_per_part=2, max_epochs=3, salts=None, num_buckets=4,
    )
    t = IceboxTable(t_root)
    t.rescale_buckets(16)
    run_increment(
        spark, rledger, t_root, ck, max_segments_per_part=2, salts=None,
    )
    full = read_live(spark, t)
    n_all = len(full.inputFiles())
    for key in ["conv000003", "conv000011", "conv000027"]:
        got = lookup(spark, t, key)
        want = full.filter(F.col("conv_id") == key)
        assert sorted(got.collect()) == sorted(want.collect()), key
        assert 0 < len(got.inputFiles()) < n_all, key
    # lookup_fast agrees on the mixed-spec layout too
    from stellar_ingest.lake.read import lookup_fast

    pf = lookup_fast(spark, t, "conv000011")
    want = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in full.filter(F.col("conv_id") == "conv000011").collect()
    )
    assert sorted(map(tuple, pf[["conv_id", "turn_idx", "text"]].values.tolist())) == want


def test_rescale_with_outstanding_deltas_folds_clean(spark, rledger, tmp_path):
    """Rescale while merge-on-read debt is outstanding: reads stay
    correct (old-spec delta files resolve against new-spec deltas of
    the same keys), and a full fold migrates every file to the current
    spec with the fingerprint unchanged."""
    from stellar_ingest.lake.maintain import compact, delta_counts, fold_deltas

    t_root, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    run_increment(
        spark, rledger, t_root, ck,
        max_segments_per_part=2, max_epochs=3, salts=None, num_buckets=4,
        mode="mor",
    )
    t = IceboxTable(t_root)
    assert sum(c["commits"] for c in delta_counts(t).values()) > 0  # debt
    t.rescale_buckets(8)
    run_increment(
        spark, rledger, t_root, ck,
        max_segments_per_part=2, salts=None, num_buckets=4, mode="mor",
    )
    fp = table_fingerprint(scan(spark, t))
    # reference replay without rescale
    g_root = str(tmp_path / "g")
    backfill(spark, rledger, g_root, str(tmp_path / "gck"), salts=None, num_buckets=4)
    assert fp == table_fingerprint(scan(spark, IceboxTable(g_root)))
    # full fold: all debt gone, every surviving ref is current-spec
    fold_deltas(spark, t, min_delta_commits=1)
    compact(spark, t, min_files_per_bucket=1)
    assert sum(c["files"] for c in delta_counts(t).values()) == 0
    assert _ref_specs(t) == {t.pinned().bucket_specs()[-1]["spec_id"]}
    assert table_fingerprint(scan(spark, t)) == fp
    # and the resolve window is gone from the plan (plain fast path)
    plan = scan(spark, t)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_rescale_validation_and_overwrite_guard(spark, tmp_path):
    t = IceboxTable.create(str(tmp_path / "t"), TABLE_SCHEMA, num_buckets=4)
    rows = [
        (f"c{i}", 0, "user", f"v{i}", None, ts(i), ts(i), i, 0, "U")
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, TABLE_SCHEMA)
    append(spark, t, df)
    with pytest.raises(ValueError):
        t.rescale_buckets(6)  # not a multiple
    with pytest.raises(ValueError):
        t.rescale_buckets(4)  # not a strict growth
    with pytest.raises(ValueError):
        t.rescale_buckets(2)  # shrink unsupported
    t.rescale_buckets(8)
    # overwrite of half a congruence class would silently drop the
    # sibling bucket's rows still held by the old-spec file — refuse
    from stellar_ingest.lake.write import overwrite_buckets

    some_key = "c3"
    b = key_bucket(spark, some_key, 8)
    repl = scan(spark, t, buckets=[b]).filter(F.col("conv_id") == some_key)
    with pytest.raises(ValueError):
        overwrite_buckets(spark, t, repl, [b])
    # the closed class (both descendants of the old bucket) is accepted
    closed = sorted({b, (b + 4) % 8, b % 4, b % 4 + 4})
    repl2 = scan(spark, t, buckets=closed)
    overwrite_buckets(spark, t, repl2, closed)
    assert read_live(spark, t).count() == 12  # nothing lost


def test_time_travel_across_rescale(spark, rledger, tmp_path):
    """Snapshots taken before the rescale stay readable (their refs are
    old-spec; the congruence expansion is the identity for them)."""
    t_root, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    run_increment(
        spark, rledger, t_root, ck,
        max_segments_per_part=2, max_epochs=2, salts=None, num_buckets=4,
    )
    t = IceboxTable(t_root)
    s_old = t.metadata()["current_snapshot_id"]
    n_old = scan(spark, t).count()
    t.rescale_buckets(8)
    run_increment(spark, rledger, t_root, ck, max_segments_per_part=2, salts=None)
    assert scan(spark, t, snapshot_id=s_old).count() == n_old
    assert scan(spark, t).count() >= n_old
