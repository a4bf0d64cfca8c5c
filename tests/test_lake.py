"""icebox table format: create / append / time travel / overwrite /
schema evolution / bucket pruning (SURVEY.md §2 ops 5-8, 71)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stellar_ingest.lake.core import IceboxTable
from stellar_ingest.lake.read import read_live, scan
from stellar_ingest.lake.write import append, bucket_expr, overwrite_buckets
from stellar_ingest.schema import TABLE_SCHEMA

from .helpers import ts


def _rows(spark, items):
    """items: (conv_id, turn_idx, role, text, tool, sec, lsn, src_part, op)"""
    data = [
        (c, t, r, x, tool, ts(sec), ts(sec), lsn, sp, op)
        for (c, t, r, x, tool, sec, lsn, sp, op) in items
    ]
    return spark.createDataFrame(data, TABLE_SCHEMA)


def test_create_append_read(spark, tmp_table):
    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=4)
    df = _rows(
        spark,
        [
            ("c1", 0, "user", "hi", None, 1, 1, 0, "U"),
            ("c1", 1, "assistant", "yo", None, 2, 2, 0, "U"),
            ("c2", 0, "user", "hey", None, 3, 3, 1, "U"),
        ],
    )
    sid = append(spark, t, df, summary={"epoch": 1})
    assert sid == 1
    out = read_live(spark, t)
    assert out.count() == 3
    assert set(out.columns) == {"conv_id", "turn_idx", "role", "text", "tool", "ts"}
    snap = t.current_snapshot()
    assert snap["summary"]["epoch"] == 1
    assert snap["total_rows"] == 3


def test_time_travel_and_overwrite(spark, tmp_table):
    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=4)
    s1 = append(spark, t, _rows(spark, [("c1", 0, "user", "v1", None, 1, 1, 0, "U")]))
    s2 = append(spark, t, _rows(spark, [("c2", 0, "user", "v2", None, 2, 2, 0, "U")]))
    assert scan(spark, t, snapshot_id=s1).count() == 1
    assert scan(spark, t, snapshot_id=s2).count() == 2
    assert scan(spark, t).count() == 2
    # overwrite the bucket(s) of c1 with a replacement row
    nb = t.num_buckets
    b1 = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("c1")), F.lit(nb)).cast("int").alias("b")
    ).collect()[0]["b"]
    repl_keys = scan(spark, t, buckets=[b1])
    repl = repl_keys.withColumn("text", F.lit("rewritten"))
    s3 = overwrite_buckets(spark, t, repl, [b1])
    live = read_live(spark, t).orderBy("conv_id").collect()
    texts = {r["conv_id"]: r["text"] for r in live}
    assert texts["c1"] == "rewritten"
    # c2 row survives unless it shares the rewritten bucket
    assert "c2" in texts
    # old snapshots still readable (time travel across overwrite)
    assert scan(spark, t, snapshot_id=s2).count() == 2
    assert t.snapshot(s3)["parent_snapshot_id"] == s2


def test_bucket_pruning_reads_only_touched_files(spark, tmp_table):
    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=8)
    items = [
        (f"c{i}", 0, "user", f"t{i}", None, i, i, 0, "U") for i in range(20)
    ]
    append(spark, t, _rows(spark, items))
    all_files = t.files()
    some_bucket = all_files[0]["bucket"]
    pruned = t.files(buckets=[some_bucket])
    assert pruned and len(pruned) < len(all_files)
    df = scan(spark, t, buckets=[some_bucket])
    # every row in the pruned scan hashes to the pruned bucket
    bad = df.filter(bucket_expr("conv_id", 8) != some_bucket).count()
    assert bad == 0


def test_schema_evolution_null_backfill(spark, tmp_table):
    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=4)
    append(spark, t, _rows(spark, [("c1", 0, "user", "old", None, 1, 1, 0, "U")]))
    old_schema_id = t.metadata()["current_schema_id"]
    sid = t.evolve_schema(T.StructType([T.StructField("tool_version", T.StringType())]))
    assert sid == old_schema_id + 1
    # ids are fresh, old columns keep theirs
    fields = t.schema_fields()
    names = [f["name"] for f in fields]
    # evolved column lands after payload, before engine meta columns
    assert names.index("tool_version") == names.index("_ts") - 1
    by_name = {f["name"]: f for f in fields}
    assert by_name["tool_version"]["id"] == max(f["id"] for f in fields)
    # evolving again with the same column is a no-op
    assert t.evolve_schema(
        T.StructType([T.StructField("tool_version", T.StringType())])
    ) == sid
    # old files read back with NULL backfill under the current schema
    df = scan(spark, t)
    row = df.collect()[0]
    assert row["tool_version"] is None
    assert row["text"] == "old"


def test_sharded_manifests_carry_untouched_buckets_by_reference(spark, tmp_table):
    """Format v2: a commit rewrites ONLY the touched buckets' manifests;
    every other bucket's manifest-list entry references the previous
    snapshot's manifest file verbatim (O(touched) metadata IO)."""
    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=8)
    items = [(f"c{i}", 0, "user", f"t{i}", None, i, i, 0, "U") for i in range(20)]
    s1 = append(spark, t, _rows(spark, items))
    ml1 = t.manifest_list(s1)
    assert ml1 and len(ml1) > 1
    target = int(sorted(ml1)[0])
    repl = scan(spark, t, buckets=[target]).withColumn("text", F.lit("rw"))
    s2 = overwrite_buckets(spark, t, repl, [target])
    ml2 = t.manifest_list(s2)
    assert ml2[str(target)]["manifest"] != ml1[str(target)]["manifest"]
    for b in ml1:
        if int(b) != target:
            assert ml2[b]["manifest"] == ml1[b]["manifest"]  # carried by ref
    # totals stay consistent with a full listing
    snap = t.snapshot(s2)
    assert snap["total_rows"] == sum(e["rows"] for e in t.files(s2))
    assert snap["total_files"] == len(t.files(s2))


def test_expire_snapshots_deletes_unreferenced_only(spark, tmp_table):
    """Expiry removes replaced data files + unshared manifests; files
    still referenced by kept snapshots (v2 carry-by-reference) survive,
    and the current snapshot stays fully readable."""
    import os

    from stellar_ingest.lake.maintain import expire_snapshots

    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=4)
    s1 = append(spark, t, _rows(spark, [("c1", 0, "user", "v1", None, 1, 1, 0, "U")]))
    nb = t.num_buckets
    b1 = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("c1")), F.lit(nb)).cast("int").alias("b")
    ).collect()[0]["b"]
    replaced = {e["path"] for e in t.files(s1, buckets=[b1])}
    repl = scan(spark, t, buckets=[b1]).withColumn("text", F.lit("v2"))
    s2 = overwrite_buckets(spark, t, repl, [b1])
    assert replaced and all(os.path.exists(os.path.join(t.root, p)) for p in replaced)

    out = expire_snapshots(t, keep_last=1)
    assert out["snapshots_expired"] == 1
    assert out["data_files_deleted"] == len(replaced)
    # the replaced file is gone, the current snapshot is intact
    assert not any(os.path.exists(os.path.join(t.root, p)) for p in replaced)
    assert [s["snapshot_id"] for s in t.snapshots()] == [s2]
    live = read_live(spark, t).collect()
    assert {r["text"] for r in live} == {"v2"}
    # time travel to the expired snapshot is (correctly) no longer possible
    import pytest as _pytest

    with _pytest.raises(KeyError):
        t.snapshot(s1)


def test_commit_is_atomic_under_partial_write(spark, tmp_table):
    """A crash before the version-hint swap leaves the old snapshot
    intact (orphan files are invisible)."""
    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=4)
    append(spark, t, _rows(spark, [("c1", 0, "user", "keep", None, 1, 1, 0, "U")]))
    v_before = t._version()
    # simulate: manifest + metadata written, hint NOT swapped
    import json, os

    meta = t.metadata()
    fake = {"snapshot_id": 99, "files": [{"path": "data/ghost.parquet", "bucket": 0, "rows": 5}]}
    with open(os.path.join(t.meta_dir, "snap-99.manifest.json"), "w") as fh:
        json.dump(fake, fh)
    with open(os.path.join(t.meta_dir, f"v{v_before+1}.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    assert t._version() == v_before
    assert read_live(spark, t).count() == 1


def test_format_v1_table_is_refused_and_left_untouched(spark, tmp_table):
    """icebox reads and writes format 2 only: a table whose metadata
    says ``format_version: 1`` is refused with a ValueError naming the
    version — by reads, appends and schema changes alike — and nothing
    on disk changes."""
    import json
    import os

    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=4)
    append(spark, t, _rows(spark, [("c1", 0, "user", "x", None, 1, 1, 0, "U")]))
    mpath = os.path.join(t.meta_dir, f"v{t._version()}.metadata.json")
    with open(mpath) as fh:
        meta = json.load(fh)
    meta["format_version"] = 1
    with open(mpath, "w") as fh:
        json.dump(meta, fh)

    def tree() -> dict[str, bytes]:
        out = {}
        for root, _dirs, files in os.walk(tmp_table):
            for fn in files:
                full = os.path.join(root, fn)
                with open(full, "rb") as fh:
                    out[os.path.relpath(full, tmp_table)] = fh.read()
        return out

    before = tree()
    opened = IceboxTable(tmp_table)
    more = _rows(spark, [("c2", 0, "user", "y", None, 2, 2, 0, "U")])
    for op in (
        opened.metadata,
        opened.files,
        lambda: scan(spark, opened),
        lambda: append(spark, opened, more),
        lambda: opened.rename_column("text", "body"),
    ):
        with pytest.raises(ValueError, match="format_version 1"):
            op()
    assert tree() == before


def test_expire_with_shared_manifests_across_expired_snapshots(spark, tmp_table):
    """Two+ expired snapshots share untouched buckets' manifests by
    reference (format v2); expiry must collect-then-delete, not delete
    while iterating — and survive a re-run."""
    import os

    from stellar_ingest.lake.maintain import expire_snapshots

    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=8)
    items = [(f"c{i}", 0, "user", f"t{i}", None, i, i, 0, "U") for i in range(24)]
    append(spark, t, _rows(spark, items))
    ml = t.manifest_list(t.metadata()["current_snapshot_id"])
    buckets = sorted(int(b) for b in ml)
    assert len(buckets) >= 3
    # three successive single-bucket overwrites → s2/s3/s4 each share
    # every untouched bucket's manifest with earlier snapshots
    for b in buckets[:3]:
        repl = scan(spark, t, buckets=[b]).withColumn("text", F.lit(f"rw{b}"))
        overwrite_buckets(spark, t, repl, [b])
    out = expire_snapshots(t, keep_last=1)
    assert out["snapshots_expired"] == 3
    assert len(t.snapshots()) == 1
    # every file the current snapshot references still exists
    for e in t.files():
        assert os.path.exists(os.path.join(t.root, e["path"]))
    assert read_live(spark, t).count() == 24
    # idempotent re-run: nothing left to expire
    again = expire_snapshots(t, keep_last=1)
    assert again["snapshots_expired"] == 0


def test_gc_orphans_reclaims_crash_leftovers_only(spark, tmp_table):
    """A crash between write_data_files and commit leaves data files no
    snapshot references; gc_orphans deletes them (past the grace window)
    while every committed file and the table state stay untouched."""
    import os
    import time as _time

    from stellar_ingest.lake.maintain import gc_orphans
    from stellar_ingest.lake.write import write_data_files
    from stellar_ingest.verify.fingerprint import table_fingerprint

    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=4)
    append(spark, t, _rows(spark, [
        ("c1", 0, "user", "hi", None, 1, 1, 0, "U"),
        ("c2", 0, "user", "ho", None, 2, 2, 0, "U"),
    ]))
    fp = table_fingerprint(scan(spark, t))
    # simulated crash: files written, commit never happened
    dfb = _rows(spark, [("c9", 0, "user", "orphan", None, 9, 9, 0, "U")]).withColumn(
        "__bucket", bucket_expr("conv_id", 4)
    )
    orphans = write_data_files(dfb, t)
    assert orphans
    # inside the grace window nothing is deleted
    res = gc_orphans(t, grace_ms=3600_000)
    assert res["data_files_deleted"] == 0
    # past the grace window the orphans (and only they) go
    future = int((_time.time() + 7200) * 1000)
    res = gc_orphans(t, grace_ms=3600_000, now_ms=future)
    assert res["data_files_deleted"] == len(orphans)
    for e in orphans:
        assert not os.path.exists(os.path.join(t.root, e["path"]))
    # the orphaned commit dir is gone WHOLESALE — _SUCCESS/.crc
    # droppings included, so crashes can't accumulate dead dirs
    orphan_dir = os.path.join(t.root, orphans[0]["path"].split("/")[0],
                              orphans[0]["path"].split("/")[1])
    assert not os.path.exists(orphan_dir)
    assert table_fingerprint(scan(spark, t)) == fp
    # idempotent: second pass finds nothing
    assert gc_orphans(t, grace_ms=3600_000, now_ms=future)["data_files_deleted"] == 0


def test_expire_snapshots_older_than(spark, tmp_table):
    """Age-based retention: only snapshots older than the window AND
    beyond the keep_last floor expire."""
    from stellar_ingest.lake.maintain import expire_snapshots

    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=4)
    for i in range(4):
        append(spark, t, _rows(spark, [(f"c{i}", 0, "user", f"v{i}", None, i, i + 1, 0, "U")]))
    snaps = t.snapshots()
    assert len(snaps) == 4
    # cutoff newer than every snapshot, keep_last=1: age alone would
    # expire 3, floor keeps the last 1 → 3 expired
    now = snaps[-1]["timestamp_ms"] + 10_000
    res = expire_snapshots(t, keep_last=1, older_than_ms=5_000, now_ms=now)
    assert res["snapshots_expired"] == 3
    assert [s["snapshot_id"] for s in t.snapshots()] == [snaps[-1]["snapshot_id"]]
    # floor dominates: nothing older than a huge window
    res = expire_snapshots(t, keep_last=1, older_than_ms=10**12, now_ms=now)
    assert res["snapshots_expired"] == 0


def test_expire_snapshots_older_than_respects_young_snapshots(spark, tmp_table):
    """Snapshots inside the age window survive even beyond keep_last."""
    from stellar_ingest.lake.maintain import expire_snapshots

    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=4)
    for i in range(3):
        append(spark, t, _rows(spark, [(f"c{i}", 0, "user", f"v{i}", None, i, i + 1, 0, "U")]))
    snaps = t.snapshots()
    # pretend "now" is immediately after the last commit; a 10-minute
    # window keeps all three even though keep_last=1 would drop two
    now = snaps[-1]["timestamp_ms"] + 1
    res = expire_snapshots(t, keep_last=1, older_than_ms=600_000, now_ms=now)
    assert res["snapshots_expired"] == 0
    assert len(t.snapshots()) == 3


def test_lookup_point_query_prunes_to_one_bucket(spark, tmp_table):
    """lookup() must return exactly the full-scan-filter answer while
    reading only the key's bucket (file-level pruning) — including when
    that bucket holds unfolded MoR deltas needing read-time resolve."""
    from stellar_ingest.lake.merge import delta_apply
    from stellar_ingest.lake.read import key_bucket, lookup

    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=4)
    base = [
        (f"c{i}", j, "user", f"t{i}.{j}", None, i * 10 + j, i * 10 + j, 0, "U")
        for i in range(8)
        for j in range(2)
    ]
    append(spark, t, _rows(spark, base))
    # delta-commit a newer version of c3 turn 0 (MoR path, unfolded);
    # delta_apply takes a changelog-shaped batch (ledger envelope)
    from stellar_ingest.schema import CHANGELOG_SCHEMA

    batch = spark.createDataFrame(
        [(99, 0, "U", "c3", 0, "user", "t3.0-v2", None, ts(99))],
        CHANGELOG_SCHEMA,
    )
    delta_apply(spark, t, batch, summary={"epoch": 2})

    full = read_live(spark, t)
    got = lookup(spark, t, "c3")
    want = full.filter(F.col("conv_id") == "c3")
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.filter(F.col("text") == "t3.0-v2").count() == 1  # resolved
    # file pruning: the lookup plan reads a strict subset of the files
    assert 0 < len(got.inputFiles()) < len(full.inputFiles())
    # and only files from the key's own bucket
    b = key_bucket(spark, "c3", t.num_buckets)
    assert all(f"bucket={b}" in f for f in got.inputFiles())

    # manifest key-bounds skip WITHIN the bucket: append keys z1..z8
    # (lexicographically disjoint from c3) — whichever land in c3's
    # bucket produce files whose [key_min, key_max] excludes "c3", so
    # the lookup must not read them
    n_before = len(lookup(spark, t, "c3").inputFiles())
    zs = [(f"z{i}", 0, "user", f"zt{i}", None, 500 + i, 500 + i, 0, "U") for i in range(1, 9)]
    append(spark, t, _rows(spark, zs))
    in_bucket = [z for z in zs if key_bucket(spark, z[0], t.num_buckets) == b]
    assert in_bucket, "fixture should land at least one z-key in c3's bucket"
    after = lookup(spark, t, "c3")
    assert len(after.inputFiles()) == n_before  # z-files skipped by stats
    assert sorted(after.collect()) == sorted(got.collect())


def test_python_xxh64_matches_spark(spark):
    """lake/xxh.py must reproduce Spark's xxhash64 bit-for-bit — the
    bucket contract between pure-Python lookups and the JVM write path
    depends on it.  Covers every XXH64 code path: empty, <4, 4-7, 8-31,
    >=32 bytes, multi-byte UTF-8."""
    from stellar_ingest.lake.xxh import bucket_of, xxh64_signed

    keys = (
        [f"conv{i:06d}" for i in range(50)]
        + ["", "a", "abc", "abcd", "abcdefg", "abcdefgh", "x" * 31, "y" * 32]
        + ["z" * 33, "w" * 64, "v" * 100, "日本語テキスト", "émoji🙂", "tab\tnl\n"]
    )
    df = spark.createDataFrame([(k,) for k in keys], "k string").select(
        "k",
        F.xxhash64("k").alias("h"),
        F.pmod(F.xxhash64("k"), F.lit(16)).cast("int").alias("b"),
    )
    for r in df.collect():
        assert xxh64_signed(r["k"].encode("utf-8")) == r["h"], repr(r["k"])
        assert bucket_of(r["k"], 16) == r["b"], repr(r["k"])


def test_vectorized_xxh64_matches_spark(spark):
    """lake/xxh.py::xxh64_column (numpy, one pass per key byte length)
    must equal Spark's xxhash64 bit for bit: keys of every byte length
    from 0 to 72 (every tail path and one to two 32-byte stripes),
    multi-byte UTF-8 keys, a NULL, int and long keys — and bucket_ids
    must equal Spark's pmod bucket."""
    import pyarrow as pa

    from stellar_ingest.lake.xxh import bucket_ids, xxh64_column, xxh64_signed

    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    keys = [(alphabet * 3)[n % 7 : n % 7 + n] for n in range(73)]
    keys += ["日本語テキスト", "émoji🙂", "ü" * 20, "漢" * 11, "🙂" * 9, "tab\tnl\n"]
    keys.append(None)
    df = spark.createDataFrame([(k,) for k in keys], "k string").select(
        "k",
        F.xxhash64("k").alias("h"),
        F.pmod(F.xxhash64("k"), F.lit(16)).cast("int").alias("b"),
    )
    rows = df.collect()
    assert {len((r["k"] or "").encode("utf-8")) for r in rows} >= set(range(73))
    col = pa.array([r["k"] for r in rows], pa.string())
    assert xxh64_column(col).tolist() == [r["h"] for r in rows]
    # ... and the per-key loop it vectorizes (NULL hashes to the seed)
    assert xxh64_column(col).tolist() == [
        42 if k is None else xxh64_signed(k.encode("utf-8")) for k in col.to_pylist()
    ]
    assert bucket_ids(col, 16).tolist() == [r["b"] for r in rows]
    # a sliced column reads its own offsets
    assert xxh64_column(col.slice(3, 40)).tolist() == [r["h"] for r in rows[3:43]]

    longs = [0, 1, -1, 42, 2**40 + 7, -(2**35), 9223372036854775807, -9223372036854775808]
    ints = [0, 1, -1, 42, 2147483647, -2147483648, 123456]
    for values, sql_type, type_name in ((longs, "long", "long"), (ints, "int", "int")):
        got = spark.createDataFrame([(v,) for v in values], f"k {sql_type}").select(
            F.xxhash64("k").alias("h"), F.pmod(F.xxhash64("k"), F.lit(16)).cast("int").alias("b")
        ).collect()
        assert xxh64_column(values, type_name).tolist() == [r["h"] for r in got]
        assert bucket_ids(values, 16, type_name).tolist() == [r["b"] for r in got]
        arrow_type = pa.int64() if type_name == "long" else pa.int32()
        assert xxh64_column(pa.array(values, arrow_type)).tolist() == [r["h"] for r in got]
    with pytest.raises(TypeError):
        xxh64_column([1.5])
    with pytest.raises(TypeError):
        xxh64_column([True])


def test_lookup_many_matches_filter_and_prunes(spark, tmp_table):
    """Batched lookup: result ≡ full-scan isin filter; reads only the
    requested keys' buckets; file pruning still applies per bucket."""
    from stellar_ingest.lake.read import key_bucket, lookup_many

    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=8)
    items = [
        (f"c{i}", j, "user", f"t{i}.{j}", None, i * 10 + j, i * 10 + j, 0, "U")
        for i in range(20)
        for j in range(2)
    ]
    append(spark, t, _rows(spark, items))
    want_keys = ["c3", "c7", "c15"]
    got = lookup_many(spark, t, want_keys)
    full = read_live(spark, t)
    want = full.filter(F.col("conv_id").isin(want_keys))
    assert sorted(got.collect()) == sorted(want.collect())
    buckets = {key_bucket(spark, k, t.num_buckets) for k in want_keys}
    assert 0 < len(got.inputFiles()) <= len(full.inputFiles())
    assert all(
        any(f"bucket={b}" in f for b in buckets) for f in got.inputFiles()
    )
    # duplicate keys are deduped; unknown keys return nothing extra
    got2 = lookup_many(spark, t, ["c3", "c3", "nope"])
    assert sorted(r["conv_id"] for r in got2.collect()) == ["c3", "c3"]


def test_python_xxh64_matches_spark_int_long(spark):
    """Non-string bucket keys: Spark hashes IntegerType as the 4-byte
    and LongType as the 8-byte little-endian encoding — key_bytes must
    reproduce both so key_bucket never needs a Spark job for int keys."""
    from stellar_ingest.lake.xxh import bucket_of, key_bytes, xxh64_signed

    longs = [0, 1, -1, 42, 2**40 + 7, -(2**35), 9223372036854775807, -9223372036854775808]
    ints = [0, 1, -1, 42, 2147483647, -2147483648, 123456]
    dfl = spark.createDataFrame([(v,) for v in longs], "k long").select(
        "k", F.xxhash64("k").alias("h"), F.pmod(F.xxhash64("k"), F.lit(16)).cast("int").alias("b")
    )
    for r in dfl.collect():
        assert xxh64_signed(key_bytes(r["k"], "long")) == r["h"], r["k"]
        assert bucket_of(r["k"], 16, "long") == r["b"], r["k"]
    dfi = spark.createDataFrame([(v,) for v in ints], "k int").select(
        "k", F.xxhash64("k").alias("h"), F.pmod(F.xxhash64("k"), F.lit(16)).cast("int").alias("b")
    )
    for r in dfi.collect():
        assert xxh64_signed(key_bytes(r["k"], "int")) == r["h"], r["k"]
        assert bucket_of(r["k"], 16, "int") == r["b"], r["k"]
    # unsupported types raise (key_bucket falls back to a Spark plan)
    with pytest.raises(TypeError):
        key_bytes(1.5)
    with pytest.raises(TypeError):
        key_bytes(True)


def test_as_of_timestamp_and_tags(spark, tmp_table):
    """As-of-timestamp time travel resolves via snapshot timestamp_ms;
    tags name snapshots and anchor them against expiry."""
    import time as _time

    from stellar_ingest.lake.maintain import expire_snapshots

    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=4)
    s1 = append(spark, t, _rows(spark, [("c1", 0, "user", "v1", None, 1, 1, 0, "U")]))
    _time.sleep(0.05)
    s2 = append(spark, t, _rows(spark, [("c2", 0, "user", "v2", None, 2, 2, 0, "U")]))
    _time.sleep(0.05)
    s3 = append(spark, t, _rows(spark, [("c3", 0, "user", "v3", None, 3, 3, 0, "U")]))
    ts1 = t.snapshot(s1)["timestamp_ms"]
    ts2 = t.snapshot(s2)["timestamp_ms"]
    assert scan(spark, t, as_of_ms=ts1).count() == 1
    assert scan(spark, t, as_of_ms=ts2).count() == 2
    assert scan(spark, t, as_of_ms=ts2 - 1).count() == 1  # between s1 and s2
    assert scan(spark, t, as_of_ms=ts1 + 10**9).count() == 3  # far future → current
    with pytest.raises(KeyError):
        t.snapshot_as_of(ts1 - 1)  # before the first snapshot
    with pytest.raises(ValueError):
        scan(spark, t, snapshot_id=s1, as_of_ms=ts1)  # mutually exclusive

    # tags: name s1, expire aggressively — the tagged snapshot survives
    t.tag("golden", s1)
    assert t.refs() == {"golden": s1}
    assert scan(spark, t, ref="golden").count() == 1
    res = expire_snapshots(t, keep_last=1)
    ids = {s["snapshot_id"] for s in t.snapshots()}
    assert ids == {s1, s3}  # s2 expired, golden + current kept
    assert res["snapshots_expired"] == 1
    assert scan(spark, t, ref="golden").count() == 1  # still readable
    t.drop_tag("golden")
    with pytest.raises(KeyError):
        t.drop_tag("golden")
    res2 = expire_snapshots(t, keep_last=1)
    assert {s["snapshot_id"] for s in t.snapshots()} == {s3}
    assert res2["snapshots_expired"] == 1


def test_expire_prunes_metadata_versions(spark, tmp_table):
    """Every commit writes a v{N}.metadata.json; expire_snapshots must
    bound that history so an unbounded ingest loop's metadata dir stays
    O(retained), not O(epochs)."""
    import os as _os

    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=2)
    for i in range(6):
        append(spark, t, _rows(spark, [(f"c{i}", 0, "user", f"v{i}", None, i, i, 0, "U")]))
    n_before = len([f for f in _os.listdir(t.meta_dir) if f.endswith(".metadata.json")])
    assert n_before >= 7  # create + 6 appends
    from stellar_ingest.lake.maintain import expire_snapshots

    expire_snapshots(t, keep_last=2)
    vfiles = sorted(
        f for f in _os.listdir(t.meta_dir) if f.endswith(".metadata.json")
    )
    assert len(vfiles) <= 3
    # table still fully functional after the prune
    assert read_live(spark, t).count() == 6
    append(spark, t, _rows(spark, [("cx", 0, "user", "vx", None, 99, 99, 0, "U")]))
    assert read_live(spark, t).count() == 7


def test_lookup_fast_matches_lookup(spark, tmp_table, monkeypatch):
    """Driver-side pyarrow lookup ≡ Spark lookup on a MoR table with
    unfolded deltas, tombstones, and an evolved column — including the
    fallback path (LOOKUP_MAX_FILES=0 forces it)."""
    from stellar_ingest.lake import read
    from stellar_ingest.lake.merge import delta_apply
    from stellar_ingest.lake.read import lookup, lookup_fast
    from stellar_ingest.schema import CHANGELOG_SCHEMA

    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=4)
    base = [
        (f"c{i}", j, "user", f"t{i}.{j}", None, i * 10 + j, i * 10 + j, 0, "U")
        for i in range(8)
        for j in range(3)
    ]
    append(spark, t, _rows(spark, base))
    # MoR deltas: update c3/0, delete c3/2
    batch = spark.createDataFrame(
        [
            (99, 0, "U", "c3", 0, "user", "t3.0-v2", None, ts(99)),
            (100, 0, "D", "c3", 2, None, None, None, ts(100)),
        ],
        CHANGELOG_SCHEMA,
    )
    delta_apply(spark, t, batch, summary={"epoch": 2})
    # evolved column lands in a later delta (older files lack it)
    evolved = T.StructType(
        CHANGELOG_SCHEMA.fields
        + [T.StructField("tool_version", T.StringType(), True)]
    )
    t.evolve_schema(T.StructType([T.StructField("tool_version", T.StringType(), True)]))
    batch2 = spark.createDataFrame(
        [(101, 0, "U", "c3", 1, "user", "t3.1-v2", None, ts(101), "v9")], evolved
    )
    delta_apply(spark, t, batch2, summary={"epoch": 3})

    for key in ["c3", "c5", "nope"]:
        want = (
            lookup(spark, t, key)
            .toPandas()
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
        )
        got = (
            lookup_fast(spark, t, key)
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
            if len(lookup_fast(spark, t, key))
            else lookup_fast(spark, t, key)
        )
        assert list(got.columns) == list(want.columns), key
        assert got.astype(str).values.tolist() == want.astype(str).values.tolist(), key
        # fallback path returns the same thing
        with monkeypatch.context() as m:
            m.setattr(read, "LOOKUP_MAX_FILES", 0)
            fb = lookup_fast(spark, t, key)
        assert sorted(map(str, fb.values.tolist())) == sorted(
            map(str, want.values.tolist())
        ), key
    # the resolved/evolved values specifically
    c3 = lookup_fast(spark, t, "c3").set_index("turn_idx")
    assert c3.loc[0, "text"] == "t3.0-v2"
    assert c3.loc[1, "tool_version"] == "v9"
    assert 2 not in c3.index  # tombstone filtered


def test_lookup_many_fast_matches_spark(spark, tmp_table, monkeypatch):
    """Batched driver-side lookup ≡ lookup_many across buckets, MoR
    deltas, tombstones, duplicates and unknown keys — incl. fallback."""
    from stellar_ingest.lake import read
    from stellar_ingest.lake.merge import delta_apply
    from stellar_ingest.lake.read import lookup_many, lookup_many_fast
    from stellar_ingest.schema import CHANGELOG_SCHEMA

    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=8)
    items = [
        (f"c{i}", j, "user", f"t{i}.{j}", None, i * 10 + j, i * 10 + j, 0, "U")
        for i in range(20)
        for j in range(2)
    ]
    append(spark, t, _rows(spark, items))
    batch = spark.createDataFrame(
        [
            (900, 0, "U", "c3", 0, "user", "t3.0-v2", None, ts(900)),
            (901, 0, "D", "c7", 1, None, None, None, ts(901)),
        ],
        CHANGELOG_SCHEMA,
    )
    delta_apply(spark, t, batch, summary={"epoch": 2})
    keys = ["c3", "c7", "c15", "c15", "nope"]
    want = (
        lookup_many(spark, t, keys)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    got = (
        lookup_many_fast(spark, t, keys)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert list(got.columns) == list(want.columns)
    assert got.astype(str).values.tolist() == want.astype(str).values.tolist()
    assert "t3.0-v2" in set(got["text"])  # delta resolved
    assert ("c7", 1) not in set(zip(got["conv_id"], got["turn_idx"]))  # tombstone
    # fallback path agrees
    monkeypatch.setattr(read, "LOOKUP_MAX_FILES", 0)
    fb = lookup_many_fast(spark, t, keys)
    assert sorted(map(str, fb.values.tolist())) == sorted(
        map(str, want.values.tolist())
    )


def test_lookup_fast_footer_cache(spark, tmp_table):
    """The serving-path ParquetFile cache: warm calls serve from cached
    footers, fold/compaction cannot yield stale answers (new paths), and
    an in-place file change is caught by the (mtime,size) revalidation."""
    import os

    import pyarrow.parquet as pq

    from stellar_ingest.lake.maintain import fold_deltas
    from stellar_ingest.lake.merge import delta_apply
    from stellar_ingest.lake.read import _PF_CACHE, lookup_fast
    from stellar_ingest.schema import CHANGELOG_SCHEMA

    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=4)
    base = [
        (f"c{i}", j, "user", f"t{i}.{j}", None, i * 10 + j, i * 10 + j, 0, "U")
        for i in range(6)
        for j in range(2)
    ]
    append(spark, t, _rows(spark, base))
    batch = spark.createDataFrame(
        [(99, 0, "U", "c3", 0, "user", "t3.0-v2", None, ts(99))], CHANGELOG_SCHEMA
    )
    delta_apply(spark, t, batch, summary={"epoch": 2})

    _PF_CACHE.clear()
    cold = lookup_fast(spark, t, "c3").set_index("turn_idx")
    warm = lookup_fast(spark, t, "c3").set_index("turn_idx")  # cached footers
    assert warm.equals(cold)
    assert cold.loc[0, "text"] == "t3.0-v2"

    # fold rewrites the bucket to NEW paths — the cache must not pin the
    # pre-fold layout (old entries just become unreferenced)
    assert fold_deltas(spark, t, min_delta_commits=1) is not None
    post = lookup_fast(spark, t, "c3").set_index("turn_idx")
    assert post.equals(cold)

    # in-place tamper with a now-cached file: the stat key changes, the
    # entry revalidates, and the lookup sees the new bytes
    paths = [
        p for p in t.file_paths() if len(pq.read_table(p).filter(
            __import__("pyarrow").compute.equal(
                pq.read_table(p).column("conv_id"), "c3")))
    ]
    assert paths
    tbl = pq.read_table(paths[0])
    texts = [
        ("TAMPERED" if c == "c3" and i == 0 else x)
        for c, i, x in zip(
            tbl.column("conv_id").to_pylist(),
            tbl.column("turn_idx").to_pylist(),
            tbl.column("text").to_pylist(),
        )
    ]
    import pyarrow as pa

    cols = {n: tbl.column(n) for n in tbl.schema.names}
    cols["text"] = pa.array(texts, type=tbl.schema.field("text").type)
    pq.write_table(pa.table(cols, schema=tbl.schema), paths[0])
    os.utime(paths[0], ns=(1, 1))  # force a distinct stat key either way
    tampered = lookup_fast(spark, t, "c3").set_index("turn_idx")
    assert tampered.loc[0, "text"] == "TAMPERED"


# -- one metadata version per operation; commits refuse a moved base ----------
# These tests start no Spark session: the tables are pyarrow files
# committed with IceboxTable.commit.


def _commit_convs(t: IceboxTable, convs: list[str], lsn: int) -> int:
    """Commit one turn per conversation in ``convs`` as pyarrow files,
    one per bucket (lake/write.py::write_arrow_files); returns the new
    snapshot id."""
    import pyarrow as pa

    from stellar_ingest.lake.core import type_to_arrow
    from stellar_ingest.lake.write import write_arrow_files
    from stellar_ingest.lake.xxh import bucket_of

    rows = sorted((bucket_of(c, t.num_buckets, "string"), c) for c in convs)
    cols = {
        "__bucket": pa.array([b for b, _ in rows], pa.int32()),
        "conv_id": [c for _, c in rows],
        "turn_idx": pa.array([0] * len(rows), pa.int32()),
        "role": ["user"] * len(rows),
        "text": [f"{c}@{lsn}" for _, c in rows],
        "tool": pa.nulls(len(rows), pa.string()),
        "ts": [ts(lsn)] * len(rows),
        "_ts": [ts(lsn)] * len(rows),
        "_lsn": pa.array([lsn] * len(rows), pa.int64()),
        "_src_part": pa.array([0] * len(rows), pa.int32()),
        "_op": ["U"] * len(rows),
    }
    fields = {f["name"]: type_to_arrow(f["type"]) for f in t.schema_fields()}
    table = pa.table({n: pa.array(v, fields.get(n, pa.int32())) for n, v in cols.items()})
    entries = write_arrow_files(table, t, delta_buckets=())
    return t.commit(added_files=entries, summary={"epoch": lsn})


def _live_files_exist(t: IceboxTable) -> bool:
    import os

    return all(os.path.exists(os.path.join(t.root, e["path"])) for e in t.files())


def test_expire_refuses_a_commit_that_lands_while_it_runs(tmp_table, monkeypatch):
    """A second handle commits snapshot 4 while ``expire_snapshots``
    reads manifests.  Expiry raises CommitConflict and deletes nothing,
    so snapshot 4 stays the head, ``last_snapshot_id`` stays 4 (id 4 is
    never minted again) and a GC with no grace keeps its data file."""
    from stellar_ingest.lake.core import CommitConflict
    from stellar_ingest.lake.maintain import expire_snapshots, gc_orphans
    from stellar_ingest.lake.read import lookup_fast

    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=4)
    for lsn in (1, 2, 3):
        _commit_convs(t, [f"c{i}" for i in range(6)], lsn)
    other = IceboxTable(tmp_table)
    landed: list[int] = []
    real = IceboxTable.manifest_list

    def racing_manifest_list(self, snapshot_id):
        if not landed:
            landed.append(-1)
            landed.append(_commit_convs(other, ["late"], 4))
        return real(self, snapshot_id)

    monkeypatch.setattr(IceboxTable, "manifest_list", racing_manifest_list)
    with pytest.raises(CommitConflict):
        expire_snapshots(IceboxTable(tmp_table), keep_last=1)
    monkeypatch.undo()

    t = IceboxTable(tmp_table)
    assert landed[-1] == 4
    assert t.head_id() == 4 and t.metadata()["last_snapshot_id"] == 4
    assert [s["snapshot_id"] for s in t.snapshots()] == [1, 2, 3, 4]
    gc_orphans(t, grace_ms=0)
    assert _live_files_exist(t)
    assert lookup_fast(None, t, "late")["text"].tolist() == ["late@4"]
    # the rerun expires on the new head
    assert expire_snapshots(t, keep_last=1)["snapshots_expired"] == 3
    assert t.head_id() == 4


def test_tag_refuses_a_commit_after_its_read(tmp_table, monkeypatch):
    """A second handle commits between a tag's metadata read and its
    swap — through a seam inside ``tag``, and between an explicitly
    pinned handle's read and its ``tag``.  Both tags raise
    CommitConflict; the other commit stays the head with its id and
    data, and the rerun tags it."""
    from stellar_ingest.lake.core import CommitConflict
    from stellar_ingest.lake.maintain import gc_orphans

    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=4)
    _commit_convs(t, ["a", "b", "c"], 1)
    other = IceboxTable(tmp_table)
    landed: list[int] = []
    real = IceboxTable.snapshot

    def racing_snapshot(self, snapshot_id):
        if not landed:
            landed.append(-1)
            landed.append(_commit_convs(other, ["d"], 2))
        return real(self, snapshot_id)

    monkeypatch.setattr(IceboxTable, "snapshot", racing_snapshot)
    with pytest.raises(CommitConflict):
        IceboxTable(tmp_table).tag("audit")
    monkeypatch.undo()
    assert landed[-1] == 2

    pinned = IceboxTable(tmp_table).pinned()
    assert _commit_convs(other, ["e"], 3) == 3
    with pytest.raises(CommitConflict):
        pinned.tag("audit")
    assert pinned.head_id() == 2  # a pinned view never moves

    t = IceboxTable(tmp_table)
    assert t.refs() == {}
    assert t.head_id() == 3 and t.metadata()["last_snapshot_id"] == 3
    gc_orphans(t, grace_ms=0)
    assert _live_files_exist(t) and len(t.files()) >= 3
    assert t.tag("audit") == 3 and t.refs() == {"audit": 3}


def test_lookup_fast_parses_metadata_once_per_key(tmp_table, monkeypatch):
    """A ``lookup_fast`` on a live handle pins the table once: one parse
    of the metadata version per looked-up key."""
    from stellar_ingest.lake.read import lookup_fast

    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=4)
    convs = [f"c{i}" for i in range(12)]
    _commit_convs(t, convs, 1)
    _commit_convs(t, convs[::3], 2)  # a second file in some buckets
    parses: list[int] = []
    real = IceboxTable.metadata

    def counted(self):
        parses.append(1)
        return real(self)

    monkeypatch.setattr(IceboxTable, "metadata", counted)
    live = IceboxTable(tmp_table)
    for key, want in (("c0", "c0@2"), ("c1", "c1@1"), ("nope", None)):
        parses.clear()
        got = lookup_fast(None, live, key)["text"].tolist()
        assert got == ([want] if want else []), key
        assert len(parses) == 1, key


def test_driver_apply_reads_each_manifest_once(tmp_table, monkeypatch):
    """A driver-path copy-on-write apply and a merge-on-read apply that
    folds 4 of 16 buckets read no bucket manifest twice: a replaced
    bucket's manifest is read only for its stored rows, and the commit
    reads only the buckets that gain a delta file.  No Spark session."""
    import collections

    import pyarrow as pa

    from stellar_ingest.lake.merge import delta_apply, merge_apply
    from stellar_ingest.lake.read import lookup_fast
    from stellar_ingest.lake.xxh import bucket_of

    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=16)
    convs = [f"c{i}" for i in range(64)]
    assert {bucket_of(c, 16, "string") for c in convs} == set(range(16))
    _commit_convs(t, convs, 1)

    def batch(lsn: int) -> pa.Table:
        n = len(convs)
        return pa.table(
            {
                "lsn": pa.array([lsn * 1000 + i for i in range(n)], pa.int64()),
                "src_part": pa.array([0] * n, pa.int32()),
                "op": ["U"] * n,
                "conv_id": convs,
                "turn_idx": pa.array([0] * n, pa.int32()),
                "role": ["user"] * n,
                "text": [f"{c}@{lsn}" for c in convs],
                "tool": pa.nulls(n, pa.string()),
                "ts": pa.array([ts(lsn)] * n, pa.timestamp("us")),
            }
        )

    reads: collections.Counter = collections.Counter()
    real = IceboxTable._read_bucket_manifest

    def counted(self, fname):
        reads[fname] += 1
        return real(self, fname)

    monkeypatch.setattr(IceboxTable, "_read_bucket_manifest", counted)
    merge_apply(None, t, batch(2))
    assert len(reads) == 16 and max(reads.values()) == 1, reads
    reads.clear()
    delta_apply(None, t, batch(3), fold_buckets=[0, 1, 2, 3])
    assert len(reads) == 16 and max(reads.values()) == 1, reads
    monkeypatch.undo()
    assert lookup_fast(None, t, "c5")["text"].tolist() == ["c5@3"]
    assert t.current_snapshot()["summary"]["compacted_buckets"] == [0, 1, 2, 3]
