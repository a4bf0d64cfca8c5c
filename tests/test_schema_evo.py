"""Non-additive schema evolution (rename / type widening / drop) with
column-id stability — Iceberg's identity rules on the icebox format:
ids are assigned once and never reused, so a rename keeps old files'
values, a widened column casts on read, and a dropped-then-readded
NAME gets a fresh id and can never resurrect old values.  The read
path aligns each file's schema ERA to the target schema by id
(lake/read.py::_read_aligned); the common no-evolution case stays one
scan relation (era compatibility fast path).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stellar_ingest.cdc.runner import run_increment
from stellar_ingest.gen.changelog import gen_events, keyspace, write_ledger
from stellar_ingest.lake.core import IceboxTable, fields_to_struct
from stellar_ingest.lake.read import lookup, lookup_fast, read_live, scan
from stellar_ingest.lake.write import append
from stellar_ingest.schema import TABLE_SCHEMA, align_renames, ensure_table_schema

from .helpers import ts


def _rows(spark, items, schema=TABLE_SCHEMA):
    data = [
        (c, t, r, x, tool, ts(sec), ts(sec), lsn, sp, op)
        for (c, t, r, x, tool, sec, lsn, sp, op) in items
    ]
    return spark.createDataFrame(data, schema)


def test_rename_keeps_old_values_by_id(spark, tmp_table):
    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=4)
    append(
        spark,
        t,
        _rows(spark, [("c1", 0, "user", "hello", None, 1, 1, 0, "U"),
                      ("c2", 0, "assistant", "hi", None, 2, 2, 0, "U")]),
    )
    s_pre = t.metadata()["current_snapshot_id"]
    t.rename_column("role", "speaker")
    # old files' values appear under the NEW name (id-aligned read)
    live = read_live(spark, t)
    assert "speaker" in live.columns and "role" not in live.columns
    got = {r["conv_id"]: r["speaker"] for r in live.collect()}
    assert got == {"c1": "user", "c2": "assistant"}
    # writes under the new schema coexist with old-era files
    cur = fields_to_struct(t.schema_fields())
    new_row = spark.createDataFrame(
        [("c3", 0, "system", "sys", None, ts(3), ts(3), 3, 0, "U")], cur
    )
    append(spark, t, new_row)
    live2 = read_live(spark, t)
    got2 = {r["conv_id"]: r["speaker"] for r in live2.collect()}
    assert got2 == {"c1": "user", "c2": "assistant", "c3": "system"}
    # fast lookup aligns the same way, old era and new
    for k, want in got2.items():
        pf = lookup_fast(spark, t, k)
        assert list(pf["speaker"]) == [want], k
        assert sorted(pf.columns) == sorted(live2.columns)
    # time travel to the pre-rename snapshot shows the old name
    old = scan(spark, t, snapshot_id=s_pre)
    assert "role" in old.columns and "speaker" not in old.columns
    # protected columns refuse
    with pytest.raises(ValueError):
        t.rename_column("conv_id", "conversation")
    with pytest.raises(ValueError):
        t.rename_column("_lsn", "lsn2")
    with pytest.raises(KeyError):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError):
        t.rename_column("text", "speaker")  # name taken


def test_widen_int_to_long_casts_old_files(spark, tmp_table):
    fields = [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("score", T.IntegerType(), True),
    ]
    t = IceboxTable.create(tmp_table, T.StructType(fields), num_buckets=2)
    append(
        spark,
        t,
        spark.createDataFrame([("a", 0, 7), ("b", 0, 9)], T.StructType(fields)),
    )
    t.widen_column("score", "long")
    # widening is idempotent; narrowing / unknown types refuse
    t.widen_column("score", "long")
    with pytest.raises(ValueError):
        t.widen_column("score", "int")
    with pytest.raises(ValueError):
        t.widen_column("conv_id", "long")
    big = 2**40
    append(
        spark,
        t,
        spark.createDataFrame(
            [("c", 0, big)],
            T.StructType(
                [
                    T.StructField("conv_id", T.StringType(), False),
                    T.StructField("turn_idx", T.IntegerType(), False),
                    T.StructField("score", T.LongType(), True),
                ]
            ),
        ),
    )
    out = scan(spark, t)
    assert dict(out.dtypes)["score"] == "bigint"
    got = {r["conv_id"]: r["score"] for r in out.collect()}
    assert got == {"a": 7, "b": 9, "c": big}


def test_drop_then_readd_never_resurrects(spark, tmp_table):
    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=4)
    append(
        spark,
        t,
        _rows(spark, [("c1", 0, "user", "x", "hammer", 1, 1, 0, "U")]),
    )
    old_tool_id = next(f["id"] for f in t.schema_fields() if f["name"] == "tool")
    t.drop_column("tool")
    assert "tool" not in read_live(spark, t).columns
    # re-add the same NAME: fresh id, old bytes stay dead
    t.evolve_schema(T.StructType([T.StructField("tool", T.StringType(), True)]))
    new_tool_id = next(f["id"] for f in t.schema_fields() if f["name"] == "tool")
    assert new_tool_id != old_tool_id
    live = read_live(spark, t)
    assert [r["tool"] for r in live.collect()] == [None]  # NOT "hammer"
    pf = lookup_fast(spark, t, "c1")
    assert list(pf["tool"]) == [None]
    # new writes populate the new id normally
    cur = fields_to_struct(t.schema_fields())
    names = [f.name for f in cur.fields]
    row = {
        "conv_id": "c2", "turn_idx": 0, "role": "user", "text": "y",
        "ts": ts(5), "_ts": ts(5), "_lsn": 5, "_src_part": 0, "_op": "U",
        "tool": "wrench",
    }
    append(spark, t, spark.createDataFrame([tuple(row[n] for n in names)], cur))
    got = {r["conv_id"]: r["tool"] for r in read_live(spark, t).collect()}
    assert got == {"c1": None, "c2": "wrench"}
    with pytest.raises(ValueError):
        t.drop_column("conv_id")


def test_rename_then_lookup_matches_spark(spark, tmp_table):
    """lookup vs lookup_fast equality across a rename + widen mix."""
    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=4)
    items = [
        (f"c{i}", j, "user", f"t{i}.{j}", None, i * 10 + j, i * 10 + j, 0, "U")
        for i in range(6)
        for j in range(2)
    ]
    append(spark, t, _rows(spark, items))
    t.rename_column("text", "body")
    for k in ["c2", "c5", "missing"]:
        want = lookup(spark, t, k).toPandas().sort_values(
            ["conv_id", "turn_idx"]
        ).reset_index(drop=True)
        got = lookup_fast(spark, t, k)
        if len(got):
            got = got.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        assert list(got.columns) == list(want.columns), k
        assert got.astype(str).values.tolist() == want.astype(str).values.tolist(), k


def test_rename_changelog_column_survives_ongoing_ingest(spark, tmp_path):
    """Rename `role` → `speaker` BETWEEN ingest epochs while the ledger
    keeps sending `role`: later epochs must keep feeding the renamed
    column (no fresh-id duplicate, no half-populated split)."""
    n_convs = 10
    ks = keyspace(n_convs)
    ev = gen_events(spark, n_convs, parts=2, seed=7)
    write_ledger(ev, str(tmp_path / "ledger"), n_convs=n_convs, seg_span=ks // 2)
    t_root, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    # epoch 1 only, then rename, then drain the rest
    run_increment(
        spark, str(tmp_path / "ledger"), t_root, ck,
        max_segments_per_part=1, max_epochs=1, salts=None,
    )
    table = IceboxTable(t_root)
    table.rename_column("role", "speaker")
    run_increment(spark, str(tmp_path / "ledger"), t_root, ck, salts=None)
    table = IceboxTable(t_root)
    names = [f["name"] for f in table.schema_fields()]
    assert "speaker" in names and "role" not in names
    assert len(names) == len(set(names))  # no fresh-id duplicate added
    live = read_live(spark, table)
    # every live row has its role value, under the new name, across eras
    assert live.filter(F.col("speaker").isNull()).count() == 0
    # values equal the golden run on an un-renamed table
    g_root, g_ck = str(tmp_path / "g"), str(tmp_path / "gck")
    run_increment(spark, str(tmp_path / "ledger"), g_root, g_ck, salts=None)
    golden = read_live(spark, IceboxTable(g_root)).withColumnRenamed(
        "role", "speaker"
    )
    assert live.select(*golden.columns).exceptAll(golden).count() == 0
    assert golden.exceptAll(live.select(*golden.columns)).count() == 0


def test_rename_changelog_column_survives_ongoing_streaming_ingest(spark, tmp_path):
    """The streaming adapter's rename mapping: the ledger arrives in two
    halves and `role` → `speaker` is renamed between the two
    run_streaming calls, while the second half keeps sending `role`."""
    from stellar_ingest.streaming.pipeline import run_streaming

    n_convs = 10
    ks = keyspace(n_convs)
    ev = gen_events(spark, n_convs, parts=2, seed=7)
    ledger = str(tmp_path / "ledger")
    t_root, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    write_ledger(ev, ledger, n_convs=n_convs, seg_span=ks // 2, lsn_max=ks)
    run_streaming(spark, ledger, t_root, ck, num_buckets=4)
    IceboxTable(t_root).rename_column("role", "speaker")
    write_ledger(ev, ledger, n_convs=n_convs, seg_span=ks // 2, lsn_min=ks)
    run_streaming(spark, ledger, t_root, ck, num_buckets=4)
    table = IceboxTable(t_root)
    names = [f["name"] for f in table.schema_fields()]
    assert "speaker" in names and "role" not in names
    assert len(names) == len(set(names))  # no fresh-id duplicate added
    live = read_live(spark, table)
    assert live.filter(F.col("speaker").isNull()).count() == 0
    # values equal the batch loop's run on an un-renamed table
    g_root, g_ck = str(tmp_path / "g"), str(tmp_path / "gck")
    run_increment(spark, ledger, g_root, g_ck, salts=None)
    golden = read_live(spark, IceboxTable(g_root)).withColumnRenamed(
        "role", "speaker"
    )
    assert live.select(*golden.columns).exceptAll(golden).count() == 0
    assert golden.exceptAll(live.select(*golden.columns)).count() == 0


def test_rename_map_and_align_guards(spark, tmp_table):
    t = IceboxTable.create(tmp_table, TABLE_SCHEMA, num_buckets=2)
    assert t.rename_map() == {}
    t.rename_column("role", "speaker")
    assert t.rename_map() == {"role": "speaker"}
    # drop then re-add the OLD name: the fresh-id binding of "role" wins,
    # the stale mapping disappears
    t.rename_column("tool", "tool2")
    t.drop_column("tool2")
    t.evolve_schema(T.StructType([T.StructField("tool", T.StringType(), True)]))
    assert t.rename_map() == {"role": "speaker"}
    df = spark.createDataFrame([("u", "x")], "role string, text string")
    out = align_renames(t, df)
    assert out.columns == ["speaker", "text"]
    both = spark.createDataFrame([("u", "v")], "role string, speaker string")
    with pytest.raises(ValueError, match="both the pre-rename"):
        align_renames(t, both)
    # ensure_table_schema refuses unaligned old names outright
    with pytest.raises(ValueError, match="pre-rename names"):
        ensure_table_schema(
            t, T.StructType([T.StructField("role", T.StringType(), True)])
        )


def test_align_renames_chain_ambiguity_raises(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("_ts", T.TimestampType()),
            T.StructField("_lsn", T.LongType()),
            T.StructField("_src_part", T.IntegerType()),
            T.StructField("_op", T.StringType()),
        ]
    )
    t = IceboxTable.create(str(tmp_path / "t"), schema, num_buckets=4)
    append(
        spark, t,
        spark.createDataFrame(
            [("c1", 0, "user", ts(1), ts(1), 1, 0, "U")], schema
        ),
    )
    t.rename_column("role", "speaker")
    t.rename_column("speaker", "voice")
    assert t.rename_map() == {"role": "voice", "speaker": "voice"}
    # batch carrying only ONE historical name still aligns fine
    ok = spark.createDataFrame([("c1", "user")], "conv_id string, role string")
    assert "voice" in align_renames(t, ok).columns
    # batch carrying BOTH historical names is ambiguous → operator error
    bad = spark.createDataFrame(
        [("c1", "user", "assistant")],
        "conv_id string, role string, speaker string",
    )
    with pytest.raises(ValueError, match="multiple historical names"):
        align_renames(t, bad)
