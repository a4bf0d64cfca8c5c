"""Data-file materialization + append / overwrite-bucket sinks
(SURVEY.md §2 ops 6, 8, 43).

Files are written bucket-partitioned under ``data/<commit-tag>/bucket=b/``
and never mutated; commits only swap manifests.  Rows are clustered
``(conv_id, turn_idx)`` inside each file (partition-local sort, op 43) so
downstream per-conversation reads and parquet min/max stats stay tight.

Scale notes: the write repartitions by ``(bucket, salt)`` — the salt
spreads a hot bucket across many tasks/files, so one whale conversation
cannot serialize the write stage (BASELINE.json:6 skew requirement); at
1000 executors this is the same plan, just more shuffle partitions.
"""

from __future__ import annotations

import os
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core import IceboxTable

#: write-side salt fan-out within a bucket (files per bucket per commit
#: is bounded by this x tasks actually holding the bucket).  Adaptive by
#: default — measured round 2: 32 threads x (32 buckets x salt 8) keys
#: melts this host's memory bandwidth (124 s vs 40 s for the same 32M
#: events), while a 1000-executor cluster NEEDS salt to split a hot
#: bucket across machines.  Target ≈ one write task per core:
#: salt = clamp(cores / buckets, 1, 8).  Env override for A/B runs.


def write_salt(df, num_buckets: int) -> int:
    env = os.environ.get("STELLAR_WRITE_SALT")
    if env:
        return int(env)
    cores = df.sparkSession.sparkContext.defaultParallelism
    return max(1, min(8, cores // max(num_buckets, 1)))


def bucket_expr(col: str, num_buckets: int):
    """Deterministic bucket id for a key column — xxhash64 is stable
    across Spark versions/runs, so Python-side manifest pruning and
    Spark-side assignment always agree."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(num_buckets)).cast("int")


def _mmh3_int(v: int, seed: int = 42) -> int:
    """Murmur3_x86_32 of one 4-byte int — bit-for-bit Spark's
    ``hash(CAST(x AS INT))`` (seed 42), which is also the function
    HashPartitioning applies to a shuffle key.  Pure driver-side Python;
    parity is pinned by a test against ``F.hash``."""
    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF

    k1 = ((v & 0xFFFFFFFF) * 0xCC9E2D51) & 0xFFFFFFFF
    k1 = rotl(k1, 15)
    k1 = (k1 * 0x1B873593) & 0xFFFFFFFF
    h1 = (seed ^ k1) & 0xFFFFFFFF
    h1 = rotl(h1, 13)
    h1 = (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF
    h1 ^= 4  # input length in bytes
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - 0x100000000 if h1 >= 0x80000000 else h1


#: partition -> slot tables, memoized per partition count (pure function
#: of the count; coupon-collector search is O(n log n) driver-side ints)
_SLOT_MAPS: dict[int, list[int]] = {}


#: batch rows per core from which the fused write gives every bucket its
#: own task.  Measured on 4 cores, 32 buckets, fresh drains: one task per
#: core was faster up to 1.6M rows (2.2 s against 2.35 s) and level at
#: 3.2M; at 6.4M rows one task per bucket took 10-20% less executor time
#: (each task sorts and writes one bucket, not a core's whole share).
BUCKET_TASK_ROWS_PER_CORE = 1_000_000


def fused_partitions(df, num_buckets: int, batch_rows: int | None = None) -> int:
    """Reduce partitions of the fused merge exchange.  A batch of fewer
    than ``BUCKET_TASK_ROWS_PER_CORE`` rows per core — or of unknown
    size — gets one write task per core, ``min(num_buckets, cores)``:
    a small MoR epoch then runs one wave of tasks instead of
    ``num_buckets`` tasks of a few rows each.  A larger batch gets one
    task per bucket.  ``batch_rows`` is the input's row count as the
    caller knows it before the job (the runner sums its segments'
    footer row counts)."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    if batch_rows is not None and batch_rows >= BUCKET_TASK_ROWS_PER_CORE * cores:
        return num_buckets
    return max(1, min(num_buckets, cores))


def fused_slot_map(partitions: int) -> list[int]:
    """``slots[p]`` = smallest int whose Murmur3 hash lands in shuffle
    partition ``p`` of ``partitions`` — i.e.
    pmod(hash(slots[p]), partitions) == p.

    Why: hash-partitioning bucket ids directly collides (birthday
    bound) — measured: 32 buckets into 256 slots left 30 non-empty
    partitions, so two reduce tasks carried TWO buckets and the fused
    merge's write stage ran at ~2x the balanced wall (guide §2.5 — a
    synthetic partitioning key with too few distinct values).
    Repartitioning on ``slots[__bucket mod partitions]`` instead sends
    bucket b to partition b mod P: every partition carries the same
    number of buckets (±1) by construction, zero empty tasks."""
    slots = _SLOT_MAPS.get(partitions)
    if slots is None:
        found: list[int | None] = [None] * partitions
        need, v = partitions, 0
        while need:
            r = _mmh3_int(v) % partitions
            if found[r] is None:
                found[r] = v
                need -= 1
            v += 1
        slots = [int(s) for s in found]  # type: ignore[arg-type]
        _SLOT_MAPS[partitions] = slots
    return slots


def fused_slot_expr(partitions: int):
    """Column mapping ``__bucket`` -> the slot value (INT) of partition
    ``__bucket mod partitions``, emitted as one single-parse SQL literal
    array of ``partitions`` ints (at most the core count, whatever the
    bucket count)."""
    lits = ",".join(str(s) for s in fused_slot_map(partitions))
    return F.expr(
        f"CAST(element_at(array({lits}), pmod(`__bucket`, {int(partitions)}) + 1) AS INT)"
    )


def write_data_files(
    df: DataFrame,
    table: IceboxTable,
    *,
    sort_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    shuffle_partitions: int | None = None,
    salt_n: int | None = None,
    delta: bool = False,
    pre_partitioned: bool = False,
    sort_prefix: tuple[str, ...] = (),
) -> list[dict]:
    """Materialize ``df`` (must carry a ``__bucket`` int column) as
    immutable parquet under a fresh commit dir; returns manifest entries
    ``{path, bucket, rows}``.  This is an action (the one big job).
    ``delta=True`` marks the entries as merge-on-read delta files —
    readers resolve LWW across a bucket's files when deltas are present
    (lake/read.py).

    ``pre_partitioned=True``: the caller already hash-partitioned ``df``
    by its write layout (the fused single-exchange merge path,
    lake/merge.py) — skip the repartition here; the in-partition sort
    stays, and is ELIDED by the planner when the upstream window's sort
    order already covers it.

    ``sort_prefix``: layout helper columns sorted BEFORE ``__bucket`` and
    dropped right after the sort (never written).  The fused path passes
    its ``__slot`` partition key here so the required sort stays a prefix
    of the window's sort and the planner can keep eliding it; the
    physical row order is unchanged (one slot value per partition)."""
    # the default sort/salt columns are the transcript key; generic
    # tables (dedup/ANN indexes, any non-CDC icebox table) lack them —
    # resolve against the actual frame, falling back to the table's own
    # bucket column so compaction works on every table
    sort_cols = tuple(c for c in sort_cols if c in df.columns) or (
        table.metadata()["bucket_column"],
    )
    tag = f"snap-pending-{uuid.uuid4().hex[:12]}"
    out = os.path.join(table.data_dir, tag)
    if pre_partitioned:
        shuffled = df
    else:
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in sort_cols]),
            F.lit(salt_n if salt_n is not None else write_salt(df, table.num_buckets)),
        )
        # no explicit partition count: AQE coalesces the repartition to the
        # batch's actual size, so small batches don't fragment into hundreds
        # of tiny files while big batches still fan out
        if shuffle_partitions:
            shuffled = df.repartition(shuffle_partitions, F.col("__bucket"), salt)
        else:
            shuffled = df.repartition(F.col("__bucket"), salt)
    sorted_df = shuffled.sortWithinPartitions(*sort_prefix, "__bucket", *sort_cols)
    if sort_prefix:
        # projection after the sort: row order is untouched, the helper
        # columns just never reach the files
        sorted_df = sorted_df.drop(*sort_prefix)
    (
        sorted_df.write.partitionBy("__bucket")
        .mode("overwrite")
        .parquet(out)
    )
    meta = table.metadata()
    key_col = meta["bucket_column"]
    cur_spec = int(meta.get("current_spec_id", 0))
    entries = []
    for bdir in sorted(os.listdir(out)):
        if not bdir.startswith("__bucket="):
            continue
        b = int(bdir.split("=", 1)[1])
        for fn in sorted(os.listdir(os.path.join(out, bdir))):
            if not fn.endswith(".parquet"):
                continue
            full = os.path.join(out, bdir, fn)
            md = pq.ParquetFile(full).metadata
            rows = md.num_rows
            if rows == 0:
                continue
            entry = {"path": os.path.relpath(full, table.root), "bucket": b, "rows": rows}
            if cur_spec:
                entry["spec_id"] = cur_spec
            # schema era of this file: lets the read path align renamed /
            # widened columns by COLUMN ID (Iceberg rule) instead of name
            entry["schema_id"] = int(meta.get("current_schema_id", 0))
            if delta:
                entry["delta"] = True
            lo, hi = _key_bounds(md, key_col)
            # manifests are JSON — only store bounds of JSON-native
            # types (a timestamp/binary bucket column would otherwise
            # break every commit); absent bounds read conservatively
            if isinstance(lo, (str, int, float)) and isinstance(hi, (str, int, float)):
                entry["key_min"], entry["key_max"] = lo, hi
            entries.append(entry)
    return entries


def _key_bounds(md, key_col: str):
    """Per-file (min, max) of the bucket-key column, harvested from the
    parquet footer already in hand — manifest-level stats so point
    lookups can skip whole files without opening footers (Iceberg
    manifest min/max analogue).  Returns (None, None) if stats are
    unavailable; callers treat absent bounds as "may contain"."""
    try:
        idx = md.schema.names.index(key_col)
    except ValueError:
        return None, None
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None, None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return lo, hi


def append(
    spark: SparkSession,
    table: IceboxTable,
    df: DataFrame,
    *,
    summary: dict | None = None,
    sort_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> int:
    """Append sink (op 6): bucket-partition + write + snapshot commit.
    ``sort_cols`` sets the partition-local clustering (op 43) — the CDC
    default suits transcript tables; non-transcript tables (e.g. the IVF
    index's assignments) pass their own."""
    meta = table.metadata()
    dfb = df.withColumn("__bucket", bucket_expr(meta["bucket_column"], meta["num_buckets"]))
    entries = write_data_files(dfb, table, sort_cols=sort_cols)
    return table.commit(added_files=entries, summary=summary or {}, operation="append")


def overwrite_buckets(
    spark: SparkSession,
    table: IceboxTable,
    df: DataFrame,
    buckets: list[int],
    *,
    summary: dict | None = None,
) -> int:
    """Overwrite-partition sink (op 8): atomically replace the files of
    ``buckets`` with ``df``'s content (which must only hold those
    buckets).  On a rescaled table the replaced set must be closed over
    old-spec congruence classes (an old-spec file holds sibling buckets'
    rows too — replacing only part of its class would drop the rest), so
    a non-closed request raises instead of losing rows."""
    meta = table.metadata()
    from .core import covered_buckets

    spec_nb = {s["spec_id"]: s["num_buckets"] for s in table.bucket_specs()}
    bset = {int(b) for b in buckets}
    old_files = table.files(buckets=buckets)
    for e in old_files:
        cov = covered_buckets(
            int(e["bucket"]),
            spec_nb.get(int(e.get("spec_id", 0)), meta["num_buckets"]),
            meta["num_buckets"],
        )
        if not set(cov) <= bset:
            raise ValueError(
                f"overwrite of buckets {sorted(bset)} would drop rows of "
                f"buckets {sorted(set(cov) - bset)} held by old-spec file "
                f"{e['path']}; include the full congruence class"
            )
    dfb = df.withColumn("__bucket", bucket_expr(meta["bucket_column"], meta["num_buckets"]))
    entries = write_data_files(dfb, table)
    removed = {e["path"] for e in old_files}
    return table.commit(
        added_files=entries,
        removed_paths=removed,
        summary=summary or {},
        operation="overwrite",
        touched_buckets=buckets,
    )
