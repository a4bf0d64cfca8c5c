"""Snapshot scan / time travel over icebox tables (SURVEY.md §2 op 5).

Reads are manifest-driven: the file list comes from table metadata (with
optional bucket pruning), then a plain pushdown-capable
``spark.read.schema(...).parquet(*files)`` — so Catalyst still does
predicate pushdown / column pruning inside each file, while partition
pruning happened at the metadata level for free.

Schema evolution: files written under an older schema simply lack the
newer columns; reading with the *current* explicit schema makes Spark
backfill them as NULL (additive-evolution read semantics).

Merge-on-read: delta commits (lake/merge.py::delta_apply) append one
winner row per key per epoch instead of rewriting buckets, so a key may
carry several versions across a bucket's files.  ``scan`` resolves them
with ONE ranking window over the LWW order (_ts, _lsn, _src_part) —
applied ONLY to buckets that can actually hold multiple versions (they
contain delta files spanning more than one commit).  Fully-compacted or
copy-on-write buckets read plain, keeping the no-shuffle fast path.
The resolve is correct because stored rows are per-batch LWW winners
and "max by a total order" is associative: max(per-batch maxes) = max
over all mutations (same argument as cdc/resolve.py salting).
"""

from __future__ import annotations

import os
from functools import reduce
from threading import Lock

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..memo import Memo, stat_token
from ..schema import KEY_COLS, ORDER_COLS
from .core import (
    type_to_arrow,
    type_to_spark,
    IceboxTable,
    commit_tag,
    fields_to_struct,
)

#: engine-internal columns carried in every stored row (LWW ordering +
#: lineage); user-facing reads drop them.
META_COLS = ("_ts", "_lsn", "_src_part", "_op")


def _needs_resolve(entries: list[dict]) -> bool:
    """A bucket can hold multiple versions of a key iff it has delta
    files AND its files span more than one commit (all files of one
    commit are that batch's LWW winners — unique per key by
    construction, even across the write fan-out's multiple files)."""
    if not any(e.get("delta") for e in entries):
        return False
    return len({commit_tag(e["path"]) for e in entries}) > 1


def _era_compatible(gfields: list[dict], tfields: list[dict]) -> bool:
    """True when files of schema era ``gfields`` can be read directly
    with the target struct (plain name-based read + NULL backfill) —
    i.e. no rename, no widening, and no dropped-then-readded name
    collision separates the eras.  Violations need id-based alignment:
    a renamed column would read NULL by name, and a re-added name with
    a different id would RESURRECT dropped values."""
    g_by_id = {f["id"]: f for f in gfields}
    g_by_name = {f["name"]: f for f in gfields}
    for t in tfields:
        g = g_by_id.get(t["id"])
        if g is not None and (g["name"] != t["name"] or g["type"] != t["type"]):
            return False
        gn = g_by_name.get(t["name"])
        if gn is not None and gn["id"] != t["id"]:
            return False
    return True


def _read_aligned(
    spark: SparkSession, table: IceboxTable, entries: list[dict], tfields: list[dict]
) -> DataFrame:
    """Read data files projected onto the target schema, aligning by
    COLUMN ID across schema eras (Iceberg read semantics): renamed
    columns keep their values, widened columns cast, dropped-then-
    readded names return NULL for old files (fresh id), and columns
    added after a file was written backfill NULL.  Files whose era is
    name-compatible with the target share ONE relation (the common
    case stays a single scan node); each incompatible era gets its own
    relation + projection.  Each entry's era is its ``schema_id``;
    ``table`` is the caller's pinned handle."""
    tstruct = fields_to_struct(tfields)
    by_era: dict[int, list[str]] = {}
    for e in entries:
        by_era.setdefault(e["schema_id"], []).append(
            os.path.join(table.root, e["path"])
        )
    compat_paths: list[str] = []
    parts: list[DataFrame] = []
    for gsid, paths in sorted(by_era.items()):
        gfields = table.schema_fields(gsid)
        if _era_compatible(gfields, tfields):
            compat_paths += paths
            continue
        g_by_id = {f["id"]: f for f in gfields}
        df = spark.read.schema(fields_to_struct(gfields)).parquet(*paths)
        cols = []
        for t in tfields:
            g = g_by_id.get(t["id"])
            if g is None:
                cols.append(
                    F.lit(None).cast(type_to_spark(t["type"])).alias(t["name"])
                )
            else:
                c = F.col(g["name"])
                if g["type"] != t["type"]:
                    c = c.cast(type_to_spark(t["type"]))
                cols.append(c.alias(t["name"]))
        parts.append(df.select(*cols))
    if compat_paths:
        parts.insert(0, spark.read.schema(tstruct).parquet(*compat_paths))
    return reduce(DataFrame.unionByName, parts)


def align_arrow(tbl: pa.Table, gfields: list[dict], tfields: list[dict]) -> pa.Table:
    """``_read_aligned`` for one file's rows held in pyarrow: the
    columns of ``tfields`` matched by COLUMN ID in the file's era
    ``gfields``, cast to the target types; a column the era (or the
    file) lacks reads NULL."""
    g_by_id = {f["id"]: f for f in gfields}
    have = set(tbl.column_names)
    cols = []
    for t in tfields:
        typ = type_to_arrow(t["type"])
        g = g_by_id.get(t["id"])
        if g is None or g["name"] not in have:
            cols.append(pa.nulls(tbl.num_rows, typ))
        else:
            col = tbl.column(g["name"])
            cols.append(col if col.type == typ else col.cast(typ))
    return pa.Table.from_arrays(cols, names=[t["name"] for t in tfields])


def read_files_arrow(
    table: IceboxTable, entries: list[dict], tfields: list[dict]
) -> pa.Table:
    """``scan(resolve=False)`` of ``entries`` on the driver: every
    stored row of those files, aligned to ``tfields`` (``table`` is the
    caller's pinned handle)."""
    eras = {sid: table.schema_fields(sid) for sid in {e["schema_id"] for e in entries}}

    def read(e: dict) -> pa.Table:
        path = os.path.join(table.root, e["path"])
        got = pq.ParquetFile(path, coerce_int96_timestamp_unit="us").read()
        return align_arrow(got, eras[e["schema_id"]], tfields)

    parts = list(_io_pool().map(read, entries))
    if parts:
        return pa.concat_tables(parts)
    return pa.schema(
        [pa.field(t["name"], type_to_arrow(t["type"])) for t in tfields]
    ).empty_table()


def resolve_stored(df: DataFrame) -> DataFrame:
    """Read-time LWW over stored rows: newest version per key by the
    total order (_ts, _lsn, _src_part).  One window — Exchange on
    hash(conv_id, turn_idx) + in-partition sort; per-key fan-in is
    bounded by the delta-commit count since the last fold, so no salting
    is needed on the read side."""
    w = Window.partitionBy(*KEY_COLS).orderBy(*[F.col(c).desc() for c in ORDER_COLS])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _may_contain(entry: dict, key) -> bool:
    """Manifest-stats file skip: False only when the entry carries key
    bounds (lake/write.py::_key_bounds) that exclude ``key``.  Absent
    bounds (a footer without key stats, or a bucket column whose values
    are not JSON-native) ⇒ conservatively True.
    Safe by construction: every file actually holding the key has
    key_min ≤ key ≤ key_max, so pruning never drops a matching row —
    and therefore never changes the multi-version resolve decision for
    that key either (all of a key's versions survive pruning)."""
    lo, hi = entry.get("key_min"), entry.get("key_max")
    if lo is None or hi is None:
        return True
    try:
        return lo <= key <= hi
    except TypeError:
        # bound/key type mismatch (e.g. evolved key column type):
        # conservatively read the file rather than risk skipping it
        return True


def scan(
    spark: SparkSession,
    table: IceboxTable,
    *,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
    ref: str | None = None,
    buckets: list[int] | None = None,
    key_equals=None,
    resolve: bool = True,
) -> DataFrame:
    """Full-fidelity scan of one snapshot (includes tombstones + meta
    columns), merge-on-read resolved.  ``snapshot_id=None`` → current;
    pass an older id for time travel, ``as_of_ms`` (epoch millis) to
    resolve the snapshot by commit time, or ``ref`` to read a named tag
    (core.py::tag) — at most one of the three.  ``key_equals`` prunes
    the file list to files whose manifest key bounds may contain that
    bucket-key value (point-lookup path; the caller still applies the
    row-level equality filter).  ``resolve=False`` returns the stored
    rows as written, every version of every key (the in-apply fold
    resolves them in its own LWW window, lake/merge.py::delta_apply).
    Every metadata read of one scan comes from one pinned version."""
    if sum(x is not None for x in (snapshot_id, as_of_ms, ref)) > 1:
        raise ValueError("pass at most one of snapshot_id / as_of_ms / ref")
    table = table.pinned()
    if ref is not None:
        snapshot_id = table.resolve_ref(ref)  # tags, then branch heads
    elif as_of_ms is not None:
        snapshot_id = table.snapshot_as_of(as_of_ms)["snapshot_id"]
    sid = table.head_id() if snapshot_id is None else snapshot_id
    if sid is None:
        return spark.createDataFrame([], table.schema_struct())
    # time travel reads the snapshot's schema; current reads use the
    # current schema (renamed/widened columns align by COLUMN ID per
    # file era — _read_aligned; added columns backfill NULL)
    tfields = (
        table.schema_fields()
        if snapshot_id is None
        else table.schema_fields(table.snapshot(sid)["schema_id"])
    )
    schema = fields_to_struct(tfields)
    entries = table.files(sid, buckets)
    if key_equals is not None:
        keys = (
            key_equals
            if isinstance(key_equals, (list, tuple, set, frozenset))
            else (key_equals,)
        )
        entries = [e for e in entries if any(_may_contain(e, k) for k in keys)]
    if not entries:
        return spark.createDataFrame([], schema)
    if not resolve:
        return _read_aligned(spark, table, entries, tfields)
    # group files by the CURRENT-spec buckets they may hold (after a
    # bucket rescale an old-spec file covers its whole congruence
    # class); a file is resolved if ANY bucket it covers can hold
    # multiple versions — resolving single-version rows that ride along
    # is a no-op, skipping a multi-version bucket would be wrong
    cover: dict[int, list[dict]] = {}
    ecov: list[tuple[dict, list[int]]] = []
    for e in entries:
        cov = table.covered_buckets(e["bucket"], e.get("spec_id", 0))
        ecov.append((e, cov))
        for b in cov:
            cover.setdefault(b, []).append(e)
    needs = {b for b, es in cover.items() if _needs_resolve(es)}
    plain: list[dict] = []
    multi: list[dict] = []
    for e, cov in ecov:
        (multi if any(b in needs for b in cov) else plain).append(e)
    parts: list[DataFrame] = []
    if plain:
        parts.append(_read_aligned(spark, table, plain, tfields))
    if multi:
        parts.append(resolve_stored(_read_aligned(spark, table, multi, tfields)))
    return reduce(DataFrame.unionByName, parts)


def key_bucket(
    spark: SparkSession, key, num_buckets: int, *, type_name: str | None = None
) -> int:
    """Driver-side bucket id for a key value — the SAME
    ``pmod(xxhash64(key), n)`` the write path computes
    (lake/write.py::bucket_expr).  String/int/long keys hash in pure
    Python (lake/xxh.py, bit-for-bit Spark-verified — microseconds, NO
    Spark job, so interactive/high-volume lookups never touch the JVM);
    ``type_name`` is the icebox type of the bucket column ("int" vs
    "long" hash differently).  Remaining key types fall back to
    evaluating the actual Spark expression on a one-row plan (~100 ms)."""
    from .xxh import bucket_of

    try:
        return bucket_of(key, num_buckets, type_name)
    except TypeError:
        pass
    from .write import bucket_expr

    return int(
        spark.range(1)
        .withColumn("k", F.lit(key))
        .select(bucket_expr("k", num_buckets).alias("b"))
        .first()["b"]
    )


def lookup(
    spark: SparkSession,
    table: IceboxTable,
    key,
    *,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Point lookup: all live rows for one value of the table's bucket
    column (e.g. one conversation).  The 100-TB path for point queries:
    the bucket id is computed driver-side from the key, the manifest
    prunes the file list to that ONE bucket (1/num_buckets of the
    table), and the key equality predicate pushes into the parquet scan
    — files are clustered by (conv_id, turn_idx), so row-group min/max
    stats skip all but the matching groups.  Total IO is O(bucket /
    num_row_groups), independent of table size for fixed bucket count,
    vs O(table) for a naive filter over a full scan.  One key of
    :func:`lookup_many`."""
    return lookup_many(spark, table, [key], snapshot_id=snapshot_id)


def lookup_many(
    spark: SparkSession,
    table: IceboxTable,
    keys,
    *,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Batched point lookup: all live rows for a set of key values.
    Keys are grouped by bucket driver-side (pure-Python XXH64 — no
    Spark jobs), then ONE pruned scan branch per touched bucket (file
    list narrowed to files whose key bounds admit at least one of that
    bucket's keys) unioned together — so a 100-key batch over a
    64-bucket table plans ≤64 branches reading only the files that can
    hold the requested keys, instead of 100 separate jobs or a full
    table scan.  The serving-path pattern for feature-store style
    reads."""
    uniq = list(dict.fromkeys(keys))
    if not uniq:
        raise ValueError("lookup_many needs at least one key")
    table = table.pinned()
    col = table.bucket_column
    ktype = table.bucket_key_type()
    by_bucket: dict[int, list] = {}
    for k in uniq:
        by_bucket.setdefault(
            key_bucket(spark, k, table.num_buckets, type_name=ktype), []
        ).append(k)
    parts = []
    for b, ks in sorted(by_bucket.items()):
        df = read_live(
            spark, table, snapshot_id=snapshot_id, buckets=[b], key_equals=ks
        )
        parts.append(df.filter(F.col(col).isin(ks)))
    return reduce(DataFrame.unionByName, parts)


_IO_POOL = None


def _io_pool():
    """Shared driver-side file-IO pool (lookup_fast): creating a pool
    per call costs ~5 ms in thread spawns — more than the reads it
    parallelizes at serving latencies."""
    global _IO_POOL
    if _IO_POOL is None:
        from concurrent.futures import ThreadPoolExecutor

        _IO_POOL = ThreadPoolExecutor(max_workers=8, thread_name_prefix="icebox-io")
    return _IO_POOL


#: open ``pq.ParquetFile`` handles of the files lookups read, keyed by
#: path and validated by ``(mtime_ns, size)`` — a warm serving lookup
#: pays one ``stat`` instead of re-opening and re-parsing the footer each
#: call (the dominant warm-path cost; data files are immutable, so the
#: stat check only matters against path reuse, and fold/compaction
#: naturally invalidates by switching manifests to NEW paths — stale
#: entries just age out of the LRU).  Each entry carries a lock: pyarrow
#: readers are not documented thread-safe, and concurrent serving calls
#: may share a file.
_PF_CACHE = Memo(256)

#: most files a driver-side lookup reads before it falls back to a Spark
#: job (``lookup_many_fast``), for one key or many
LOOKUP_MAX_FILES = 64


def lookup_fast(
    spark: SparkSession,
    table: IceboxTable,
    key,
    *,
    snapshot_id: int | None = None,
):
    """Serving-path point lookup: same result as ``lookup`` (user-facing
    live rows for one bucket-key value) but read DRIVER-SIDE with
    pyarrow — no Spark job at all, so latency is file IO (~ms), not job
    scheduling (~130 ms floor, BENCH §point-lookup).  Returns a pandas
    DataFrame.  Thin wrapper over :func:`lookup_many_fast`."""
    return lookup_many_fast(spark, table, [key], snapshot_id=snapshot_id)


def lookup_many_fast(
    spark: SparkSession,
    table: IceboxTable,
    keys,
    *,
    snapshot_id: int | None = None,
):
    """Batched serving read: live rows for a set of bucket-key values,
    read DRIVER-SIDE with pyarrow (the feature-store request shape: one
    request, k entity keys, single-digit-ms budget).

    Pruning is identical to ``lookup_many`` — driver-side bucket ids
    (lake/xxh.py::bucket_of), then manifest key bounds restrict to files
    that may hold ≥1 of that bucket's requested keys; per file, row groups are skipped by footer
    min/max and one vectorized Arrow ``is_in`` filter keeps only the
    requested keys.  LWW resolve + tombstone filtering run in pure
    Python over the surviving handful of rows (per-batch-winners
    argument, as ``resolve_stored``); schema eras align by column id.
    Falls back to ``lookup_many(...).toPandas()`` when the pruned list
    exceeds ``LOOKUP_MAX_FILES`` or the key type has no driver-side hash;
    ``spark`` may be None and is only materialized on that fallback."""
    import pandas as pd
    import pyarrow.compute as pc

    from ..cdc.resolve import lww_arrow
    from .xxh import bucket_of

    uniq = list(dict.fromkeys(keys))
    if not uniq:
        raise ValueError("lookup_many_fast needs at least one key")
    table = table.pinned()

    def _fallback():
        s = spark
        if s is None:
            from ..session import get_spark

            s = get_spark("stellar-lookup")
        return lookup_many(s, table, uniq, snapshot_id=snapshot_id).toPandas()

    col = table.bucket_column
    ktype = table.bucket_key_type()
    by_bucket: dict[int, list] = {}
    try:
        for k in uniq:
            by_bucket.setdefault(bucket_of(k, table.num_buckets, ktype), []).append(k)
    except TypeError:
        return _fallback()
    sid = table.head_id() if snapshot_id is None else snapshot_id
    tfields = (
        table.schema_fields()
        if snapshot_id is None
        else table.schema_fields(table.snapshot(sid)["schema_id"])
    )
    user_cols = [f["name"] for f in tfields if f["name"] not in META_COLS]
    if sid is None:
        return pd.DataFrame(columns=user_cols)
    # (entry, that bucket's requested keys): a key belongs to exactly one
    # bucket, so even when a mixed-spec file is read under two buckets
    # the per-read key filters are disjoint — no row duplication
    work: list[tuple[dict, list]] = []
    for b, ks in sorted(by_bucket.items()):
        for e in table.files(sid, [b]):
            if any(_may_contain(e, k) for k in ks):
                work.append((e, ks))
    if len(work) > LOOKUP_MAX_FILES:
        return _fallback()

    # each file's era, to align its columns by COLUMN ID like the Spark
    # read path (_read_aligned): renames keep values, added and
    # dropped-readded columns read NULL for old files
    eras = {sid: table.schema_fields(sid) for sid in {e["schema_id"] for e, _ in work}}

    # per-file: skip row groups by footer min/max stats (the same skip
    # Spark's scan gets from parquet), decode only surviving groups,
    # then one vectorized Arrow is_in filter.  Manual stats-skip +
    # filter measured ~2x faster than pq.read_table(filters=...)'s
    # dataset machinery; files read on a shared thread pool so latency
    # is ~the slowest single file, not the sum.

    def _read_matching(job: tuple[dict, list]) -> tuple[int, pa.Table] | None:
        entry, ks = job
        # warm calls skip the open + footer parse: _PF_CACHE revalidates
        # by (mtime, size) stat — measured the dominant warm-path cost
        path = os.path.join(table.root, entry["path"])
        pf, pf_lock = _PF_CACHE.get(
            path, lambda: (pq.ParquetFile(path), Lock()), token=stat_token(path)
        )
        md = pf.metadata
        try:
            idx = md.schema.names.index(col)
        except ValueError:
            idx = None
        rgs = range(md.num_row_groups)
        if idx is not None:
            def _may(st):
                if st is None or not st.has_min_max:
                    return True
                try:
                    return any(st.min <= k <= st.max for k in ks)
                except TypeError:
                    return True
            rgs = [i for i in rgs if _may(md.row_group(i).column(idx).statistics)]
        if not rgs:
            return None
        with pf_lock:
            t = pf.read_row_groups(list(rgs))
        if idx is not None:
            t = t.filter(pc.is_in(t.column(col), value_set=pa.array(ks)))
        return (entry["schema_id"], t) if t.num_rows else None

    if len(work) > 1:
        chunks = list(_io_pool().map(_read_matching, work))
    else:
        chunks = [_read_matching(j) for j in work]
    by_era: dict[int, list[pa.Table]] = {}
    for c in chunks:
        if c is not None:
            by_era.setdefault(c[0], []).append(c[1])
    if not by_era:
        return pd.DataFrame(columns=user_cols)
    # one alignment per schema era, over that era's rows of every file
    rows = pa.concat_tables(
        [
            align_arrow(pa.concat_tables(ts, promote_options="permissive"), eras[sid], tfields)
            for sid, ts in by_era.items()
        ]
    )
    # LWW: max (_ts, _lsn, _src_part) per key — always applied (safe for
    # single-version buckets, required for unfolded multi-commit ones);
    # the winners come out sorted by key
    live, _ = lww_arrow(rows, order=ORDER_COLS, keys=KEY_COLS)
    live = live.filter(pc.not_equal(live.column("_op"), "D"))
    # the surviving rows are a handful (the requested conversations):
    # plain dicts build the frame faster than a pandas conversion
    return pd.DataFrame(live.select(user_cols).to_pylist(), columns=user_cols)


def read_changes(
    spark: SparkSession,
    table: IceboxTable,
    since_snapshot_id: int,
    *,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Incremental consumer read (net-effect CDC between snapshots):
    every key whose CURRENT state was written after ``since_snapshot_id``
    — upserts as live rows, deletes as ``_op='D'`` tombstone rows, meta
    columns retained so consumers can order/dedupe downstream.

    Implementation: each CDC snapshot summary checkpoints per-source
    high-watermarks; stored rows carry their winning (_src_part, _lsn).
    The diff is ONE pushdown-friendly filter ``_lsn > hwm[_src_part]``
    over the newer snapshot — no join, no second snapshot scan, and
    compaction rewrites (same rows, same _lsn) never produce phantom
    changes.  Net-effect semantics: a key mutated twice since the base
    snapshot appears once, with its latest state — the right contract
    for downstream table sync (replaying the ledger gives the full
    event history if needed)."""
    from ..cdc.dedupe import hwm_predicate

    table = table.pinned()
    base = table.snapshot(since_snapshot_id)["summary"].get("offsets", {})
    if not base:
        # a snapshot without checkpointed watermarks (plain append,
        # streaming ss_batch fence, compaction of such) cannot anchor an
        # incremental read — refuse loudly instead of returning the
        # whole table as "changes"
        raise ValueError(
            f"snapshot {since_snapshot_id} carries no source offsets in its "
            "summary; incremental reads need a CDC-committed base snapshot"
        )
    df = scan(spark, table, snapshot_id=snapshot_id)
    return df.filter(
        hwm_predicate(
            {int(k): int(v) for k, v in base.items()},
            part_col="_src_part",
            lsn_col="_lsn",
        )
    )


def read_live(
    spark: SparkSession,
    table: IceboxTable,
    *,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
    ref: str | None = None,
    buckets: list[int] | None = None,
    key_equals=None,
) -> DataFrame:
    """User-facing view: tombstones filtered out, meta columns dropped."""
    df = scan(
        spark,
        table,
        snapshot_id=snapshot_id,
        as_of_ms=as_of_ms,
        ref=ref,
        buckets=buckets,
        key_equals=key_equals,
    )
    if "_op" in df.columns:
        df = df.filter(F.col("_op") != F.lit("D"))
    return df.drop(*[c for c in META_COLS if c in df.columns])
