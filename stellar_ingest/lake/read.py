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

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schema import KEY_COLS, ORDER_COLS
from .core import (
    type_to_spark,
    IceboxTable,
    commit_tag,
    covered_buckets,
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
    relation + projection.  Entries without a recorded ``schema_id``
    (pre-round-4 files) use the name-compatible path — the legacy
    behavior they were written under."""
    tstruct = fields_to_struct(tfields)
    by_era: dict[int, list[str]] = {}
    for e in entries:
        by_era.setdefault(int(e.get("schema_id", -1)), []).append(
            os.path.join(table.root, e["path"])
        )
    era_fields = {
        gsid: table.schema_fields(gsid) for gsid in by_era if gsid != -1
    }
    compat_paths: list[str] = []
    parts: list[DataFrame] = []
    for gsid, paths in sorted(by_era.items()):
        if gsid == -1 or _era_compatible(era_fields[gsid], tfields):
            compat_paths += paths
            continue
        g_by_id = {f["id"]: f for f in era_fields[gsid]}
        df = spark.read.schema(fields_to_struct(era_fields[gsid])).parquet(*paths)
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
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


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
    bounds (legacy entries, stats-less footers) ⇒ conservatively True.
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
    resolves them in its own LWW window, lake/merge.py::delta_apply)."""
    if sum(x is not None for x in (snapshot_id, as_of_ms, ref)) > 1:
        raise ValueError("pass at most one of snapshot_id / as_of_ms / ref")
    if ref is not None:
        snapshot_id = table.resolve_ref(ref)  # tags, then branch heads
    elif as_of_ms is not None:
        snapshot_id = table.snapshot_as_of(as_of_ms)["snapshot_id"]
    meta = table.metadata()
    sid = table.head_id(meta) if snapshot_id is None else snapshot_id
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
    spec_nb = {s["spec_id"]: s["num_buckets"] for s in table.bucket_specs()}
    cur_nb = int(meta["num_buckets"])
    cover: dict[int, list[dict]] = {}
    ecov: list[tuple[dict, list[int]]] = []
    for e in entries:
        cov = covered_buckets(
            int(e["bucket"]), spec_nb.get(int(e.get("spec_id", 0)), cur_nb), cur_nb
        )
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
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


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


def _bucket_col_type(table: IceboxTable) -> str | None:
    col = table.metadata()["bucket_column"]
    return next(
        (f["type"] for f in table.schema_fields() if f["name"] == col), None
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
    vs O(table) for a naive filter over a full scan."""
    meta = table.metadata()
    b = key_bucket(
        spark, key, meta["num_buckets"], type_name=_bucket_col_type(table)
    )
    df = read_live(
        spark, table, snapshot_id=snapshot_id, buckets=[b], key_equals=key
    )
    return df.filter(F.col(meta["bucket_column"]) == F.lit(key))


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
    meta = table.metadata()
    col = meta["bucket_column"]
    uniq = list(dict.fromkeys(keys))
    if not uniq:
        raise ValueError("lookup_many needs at least one key")
    ktype = _bucket_col_type(table)
    by_bucket: dict[int, list] = {}
    for k in uniq:
        by_bucket.setdefault(
            key_bucket(spark, k, meta["num_buckets"], type_name=ktype), []
        ).append(k)
    parts = []
    for b, ks in sorted(by_bucket.items()):
        df = read_live(
            spark, table, snapshot_id=snapshot_id, buckets=[b], key_equals=ks
        )
        parts.append(df.filter(F.col(col).isin(ks)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


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


class _ParquetFileCache:
    """Driver-side LRU of open ``pq.ParquetFile`` handles keyed by path
    and validated by ``(mtime_ns, size)`` — a warm serving lookup pays
    one ``stat`` instead of re-opening and re-parsing the footer each
    call (the dominant warm-path cost; data files are immutable, so the
    stat check only matters against path reuse, and fold/compaction
    naturally invalidates by switching manifests to NEW paths — stale
    entries just age out of the LRU).  Each entry carries a lock:
    pyarrow readers are not documented thread-safe, and concurrent
    serving calls may share a file."""

    def __init__(self, capacity: int = 256):
        from collections import OrderedDict
        from threading import Lock

        self.capacity = capacity
        self._entries: "OrderedDict[str, tuple]" = OrderedDict()
        self._lock = Lock()

    def get(self, path: str):
        """(ParquetFile, entry_lock) for ``path``, opened or revalidated."""
        import pyarrow.parquet as pq
        from threading import Lock

        st = os.stat(path)
        key = (st.st_mtime_ns, st.st_size)
        with self._lock:
            hit = self._entries.get(path)
            if hit is not None and hit[0] == key:
                self._entries.move_to_end(path)
                return hit[1], hit[2]
        pf = pq.ParquetFile(path)
        entry = (key, pf, Lock())
        with self._lock:
            self._entries[path] = entry
            self._entries.move_to_end(path)
            while len(self._entries) > self.capacity:
                self._entries.popitem(last=False)
        return entry[1], entry[2]

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()


_PF_CACHE = _ParquetFileCache()


def lookup_fast(
    spark: SparkSession,
    table: IceboxTable,
    key,
    *,
    snapshot_id: int | None = None,
    max_files: int = 32,
):
    """Serving-path point lookup: same result as ``lookup`` (user-facing
    live rows for one bucket-key value) but read DRIVER-SIDE with
    pyarrow — no Spark job at all, so latency is file IO (~ms), not job
    scheduling (~130 ms floor, BENCH §point-lookup).  Returns a pandas
    DataFrame.  Thin wrapper over :func:`lookup_many_fast`."""
    return lookup_many_fast(
        spark, table, [key], snapshot_id=snapshot_id, max_files=max_files
    )


def lookup_many_fast(
    spark: SparkSession,
    table: IceboxTable,
    keys,
    *,
    snapshot_id: int | None = None,
    max_files: int = 64,
):
    """Batched serving read: live rows for a set of bucket-key values,
    read DRIVER-SIDE with pyarrow (the feature-store request shape: one
    request, k entity keys, single-digit-ms budget).

    Pruning is identical to ``lookup_many`` — pure-Python bucket ids,
    then manifest key bounds restrict to files that may hold ≥1 of that
    bucket's requested keys; per file, row groups are skipped by footer
    min/max and one vectorized Arrow ``is_in`` filter keeps only the
    requested keys.  LWW resolve + tombstone filtering run in pure
    Python over the surviving handful of rows (per-batch-winners
    argument, as ``resolve_stored``); schema eras align by column id.
    Falls back to ``lookup_many(...).toPandas()`` when the pruned list
    exceeds ``max_files`` or the key type has no driver-side hash;
    ``spark`` may be None and is only materialized on that fallback."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .xxh import bucket_of

    uniq = list(dict.fromkeys(keys))
    if not uniq:
        raise ValueError("lookup_many_fast needs at least one key")

    def _fallback():
        s = spark
        if s is None:
            from ..session import get_spark

            s = get_spark("stellar-lookup")
        return lookup_many(s, table, uniq, snapshot_id=snapshot_id).toPandas()

    meta = table.metadata()
    col = meta["bucket_column"]
    try:
        ktype = _bucket_col_type(table)
        by_bucket: dict[int, list] = {}
        for k in uniq:
            by_bucket.setdefault(
                bucket_of(k, meta["num_buckets"], ktype), []
            ).append(k)
    except TypeError:
        return _fallback()
    sid = table.head_id(meta) if snapshot_id is None else snapshot_id
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
    if len(work) > max_files:
        return _fallback()

    # per-era (target column → physical column) pairs, aligned by
    # COLUMN ID like the Spark read path (_read_aligned): renames keep
    # values, added/dropped-readded columns read None for old files.
    # Legacy entries without a schema_id align by name (their contract).
    era_pairs: dict[int, list[tuple[str, str | None]]] = {}

    def _pairs(gsid: int):
        if gsid not in era_pairs:
            if gsid == -1:
                era_pairs[gsid] = [(t["name"], t["name"]) for t in tfields]
            else:
                g_by_id = {f["id"]: f for f in table.schema_fields(gsid)}
                era_pairs[gsid] = [
                    (
                        t["name"],
                        g_by_id[t["id"]]["name"] if t["id"] in g_by_id else None,
                    )
                    for t in tfields
                ]
        return era_pairs[gsid]

    # per-file: skip row groups by footer min/max stats (the same skip
    # Spark's scan gets from parquet), decode only surviving groups,
    # then one vectorized Arrow is_in filter.  Manual stats-skip +
    # filter measured ~2x faster than pq.read_table(filters=...)'s
    # dataset machinery; files read on a shared thread pool so latency
    # is ~the slowest single file, not the sum.  The surviving rows are
    # a handful (the requested conversations), so they leave Arrow as
    # plain dicts — pandas conversion per file costs more than the rows.
    import pyarrow.compute as pc

    def _read_matching(job: tuple[dict, list]) -> list[dict]:
        entry, ks = job
        # warm calls skip the open + footer parse: _PF_CACHE revalidates
        # by (mtime, size) stat — measured the dominant warm-path cost
        pf, pf_lock = _PF_CACHE.get(os.path.join(table.root, entry["path"]))
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
            return []
        with pf_lock:
            t = pf.read_row_groups(list(rgs))
        if idx is not None:
            t = t.filter(pc.is_in(t.column(col), value_set=pa.array(ks)))
        pairs = _pairs(int(entry.get("schema_id", -1)))
        return [
            {tn: (r.get(gn) if gn else None) for tn, gn in pairs}
            for r in t.to_pylist()
        ]

    if len(work) > 1:
        chunks = list(_io_pool().map(_read_matching, work))
    else:
        chunks = [_read_matching(j) for j in work]
    rows = [r for chunk in chunks for r in chunk]
    if not rows:
        return pd.DataFrame(columns=user_cols)
    # LWW: max (_ts, _lsn, _src_part) per key — always applied (safe for
    # single-version buckets, required for unfolded multi-commit ones)
    best: dict = {}
    for r in rows:
        k = tuple(r[c] for c in KEY_COLS)
        ordv = tuple(r[c] for c in ORDER_COLS)
        cur = best.get(k)
        if cur is None or ordv > cur[0]:
            best[k] = (ordv, r)
    live = sorted(
        (r for _, r in best.values() if r.get("_op") != "D"),
        key=lambda r: tuple(r[c] for c in KEY_COLS),
    )
    # .get backfills columns evolved after a file was written as NULL —
    # the same additive-read semantics as the Spark scan
    return pd.DataFrame(
        [{c: r.get(c) for c in user_cols} for r in live], columns=user_cols
    )


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
