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

A small epoch's winners arrive as a pyarrow table instead (the
driver-side apply, lake/merge.py): ``write_arrow_files`` writes the
same layout from the driver with pyarrow, in files Spark reads as its
own (INT96 timestamps, snappy, Spark's footer keys).
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Collection

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..memo import Memo
from .core import IceboxTable, type_to_spark
from .read import _io_pool

#: write-side salt fan-out within a bucket (files per bucket per commit
#: is bounded by this x tasks actually holding the bucket).  Adaptive by
#: default — measured round 2: 32 threads x (32 buckets x salt 8) keys
#: melts this host's memory bandwidth (124 s vs 40 s for the same 32M
#: events), while a 1000-executor cluster NEEDS salt to split a hot
#: bucket across machines.  Target ≈ one write task per core:
#: salt = clamp(cores / buckets, 1, 8).  Env override for A/B runs.


def write_salt(spark: SparkSession, num_buckets: int) -> int:
    env = os.environ.get("STELLAR_WRITE_SALT")
    if env:
        return int(env)
    cores = spark.sparkContext.defaultParallelism
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
_SLOT_MAPS = Memo(64)


#: batch rows per core from which the fused write gives every bucket its
#: own task.  Measured on 4 cores, 32 buckets, fresh drains: one task per
#: core was faster up to 1.6M rows (2.2 s against 2.35 s) and level at
#: 3.2M; at 6.4M rows one task per bucket took 10-20% less executor time
#: (each task sorts and writes one bucket, not a core's whole share).
BUCKET_TASK_ROWS_PER_CORE = 1_000_000

#: rows (the batch's footer rows plus the stored rows it rewrites) up
#: to which an unsalted epoch is applied on the driver with pyarrow
#: instead of as a Spark job (cdc/runner.py::_driver_apply_fits).
#: Sweep: one merge-on-read epoch of uniform updates into a 20,000-
#: conversation table, 4 cores, 16 buckets, no fold, median of 3
#: interleaved runs per path (driver / Spark, seconds): 2.5k rows
#: 0.106 / 1.318, 10k 0.101 / 1.195, 40k 0.230 / 1.349, 160k 0.318 /
#: 1.557, 640k 1.104 / 2.844, 1.28M 2.153 / 3.883.  The driver path won
#: at every size, by less as the batch grows, while the driver's memory
#: grows with it (the Python process peaked at 662 MB at 1.28M rows):
#: the bound is the largest size at which it was at least twice as fast.
DRIVER_APPLY_MAX_ROWS = 640_000

#: bytes (the batch segments' uncompressed row-group bytes plus the
#: on-disk sizes of the stored files the epoch rewrites) up to which an
#: unsalted epoch may take the driver path.  With wide rows (long
#: texts, binary media) it binds long before the row bound; rows of
#: ~100 bytes reach the row bound first.  Sweep: as above, with a
#: batch of updates whose ``text`` held 1 KiB or 16 KiB of words or
#: whose binary ``media`` column held 16 KiB of random bytes; driver /
#: Spark seconds and the driver process's RSS rise, by batch footer
#: bytes: 1 KiB text 32 MiB 0.233 / 1.380 (225 MB), 128 MiB 0.625 /
#: 1.778 (850 MB), 514 MiB 2.847 / 3.320 (1.95 GB); 16 KiB binary
#: 31 MiB 0.265 / 1.248 (240 MB), 125 MiB 0.659 / 1.515 (850 MB),
#: 501 MiB 2.934 / 2.901 (1.95 GB); 16 KiB text 31 MiB 0.343 / 1.978
#: (260 MB), 125 MiB 1.004 / 3.433 (950 MB), 501 MiB 3.221 / 3.328
#: (2.1 GB).  The driver holds ~7x the batch's bytes at its peak and
#: stops gaining near 500 MiB; at 128 MiB it was at least 2.3x as fast
#: at every width.  Stored files count at their compressed size, which
#: understates their memory by the compression ratio (1.2x for this
#: text).  The bound also keeps every Arrow string or binary column far
#: below the 2 GiB of 32-bit offsets.
DRIVER_APPLY_MAX_BYTES = 128 * 2**20


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
    return _SLOT_MAPS.get(partitions, lambda: _slot_map(partitions))


def _slot_map(partitions: int) -> list[int]:
    found: list[int | None] = [None] * partitions
    need, v = partitions, 0
    while need:
        r = _mmh3_int(v) % partitions
        if found[r] is None:
            found[r] = v
            need -= 1
        v += 1
    return [int(s) for s in found]  # type: ignore[arg-type]


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
    salt_n: int | None = None,
    delta_buckets: Collection[int] = (),
    pre_partitioned: bool = False,
    sort_prefix: tuple[str, ...] = (),
) -> list[dict]:
    """Materialize ``df`` (must carry a ``__bucket`` int column) as
    immutable parquet under a fresh commit dir; returns manifest entries
    ``{path, bucket, rows}``.  This is an action (the one big job).
    The entries of buckets in ``delta_buckets`` are marked as
    merge-on-read delta files — readers resolve LWW across a bucket's
    files when deltas are present (lake/read.py).

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
    table = table.pinned()
    # the default sort/salt columns are the transcript key; generic
    # tables (dedup/ANN indexes, any non-CDC icebox table) lack them —
    # resolve against the actual frame, falling back to the table's own
    # bucket column so compaction works on every table
    have = df.columns
    sort_cols = tuple(c for c in sort_cols if c in have) or (table.bucket_column,)
    tag = f"snap-pending-{uuid.uuid4().hex[:12]}"
    out = os.path.join(table.data_dir, tag)
    if pre_partitioned:
        shuffled = df
    else:
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in sort_cols]),
            F.lit(
                salt_n if salt_n is not None else write_salt(df.sparkSession, table.num_buckets)
            ),
        )
        # no explicit partition count: AQE coalesces the repartition to the
        # batch's actual size, so small batches don't fragment into hundreds
        # of tiny files while big batches still fan out
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
    entries = []
    for bdir in sorted(os.listdir(out)):
        if not bdir.startswith("__bucket="):
            continue
        b = int(bdir.split("=", 1)[1])
        for fn in sorted(os.listdir(os.path.join(out, bdir))):
            if not fn.endswith(".parquet"):
                continue
            full = os.path.join(out, bdir, fn)
            entry = _manifest_entry(table, full, b, delta_buckets)
            if entry is not None:
                entries.append(entry)
    return entries


def _manifest_entry(
    table: IceboxTable, full: str, bucket: int, delta_buckets
) -> dict | None:
    """Manifest entry of one written data file (None when it is empty),
    from its parquet footer and the writer's pinned ``table``."""
    md = pq.ParquetFile(full).metadata
    rows = md.num_rows
    if rows == 0:
        return None
    entry = {"path": os.path.relpath(full, table.root), "bucket": bucket, "rows": rows}
    cur_spec = int(table.bucket_specs()[-1]["spec_id"])
    if cur_spec:
        entry["spec_id"] = cur_spec
    # schema era of this file: lets the read path align renamed /
    # widened columns by COLUMN ID (Iceberg rule) instead of name
    entry["schema_id"] = int(table.schema_id)
    if bucket in delta_buckets:
        entry["delta"] = True
    lo, hi = _key_bounds(md, table.bucket_column)
    # manifests are JSON — only store bounds of JSON-native
    # types (a timestamp/binary bucket column would otherwise
    # break every commit); absent bounds read conservatively
    if isinstance(lo, (str, int, float)) and isinstance(hi, (str, int, float)):
        entry["key_min"], entry["key_max"] = lo, hi
    return entry


def _spark_row_metadata(table: IceboxTable, schema: pa.Schema) -> str:
    """The Spark schema of rows with Arrow ``schema`` (nullability as
    there), as Spark's parquet writer puts it in the footer under
    ``org.apache.spark.sql.parquet.row.metadata``: compact JSON, keys
    in Spark's order (name, type, nullable, metadata)."""
    types = {f["name"]: f["type"] for f in table.schema_fields()}
    struct = T.StructType(
        [T.StructField(f.name, type_to_spark(types[f.name]), f.nullable) for f in schema]
    )
    return json.dumps(struct.jsonValue(), separators=(",", ":"))


def _varint(buf: bytes, i: int) -> tuple[int, int]:
    out = shift = 0
    while True:
        b = buf[i]
        i += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, i
        shift += 7


def _uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b, n = n & 0x7F, n >> 7
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def _swap_arrow_schema_blob(path: str, key: str, value: str) -> None:
    """Replace the ``ARROW:schema`` footer entry of a parquet file that
    pyarrow just wrote with ``key: value``, in place.  pyarrow writes a
    schema's metadata only together with that blob, which is larger
    than the rest of a small data file's footer.  The footer is thrift
    compact FileMetaData: its key-value list (field 5) ends with the
    blob's KeyValue struct (field 1 key, field 2 value, stop byte), and
    the ``created_by`` string (field 6) follows; the list keeps its
    length, and no column chunk offset moves.

    Needed with pyarrow 16.1: its ``store_schema=False`` drops every
    key-value pair, and its ``ParquetWriter`` has no
    ``add_key_value_metadata``.  With a pyarrow whose ParquetWriter has
    that method, write with ``store_schema=False``, add Spark's two keys
    before ``close`` and delete this function (``_varint``/``_uvarint``
    with it)."""
    with open(path, "r+b") as fh:
        fh.seek(-8, os.SEEK_END)
        n = int.from_bytes(fh.read(4), "little")
        fh.seek(-8 - n, os.SEEK_END)
        start = fh.tell()
        buf = fh.read(n)
        head = b"\x18\x0cARROW:schema\x18"
        i = buf.rfind(head)
        vlen, j = _varint(buf, i + len(head)) if i >= 0 else (0, 0)
        end = j + vlen + 1
        if i < 0 or buf[end - 1] != 0 or buf[end] != 0x18:
            raise ValueError(f"unexpected parquet footer layout in {path}")
        kv = b"".join(
            b"\x18" + _uvarint(len(x)) + x for x in (key.encode(), value.encode())
        )
        buf = buf[:i] + kv + b"\x00" + buf[end:]
        fh.seek(start)
        fh.write(buf + len(buf).to_bytes(4, "little") + b"PAR1")
        fh.truncate()


def write_arrow_files(
    rows: pa.Table, table: IceboxTable, delta_buckets: Collection[int]
) -> list[dict]:
    """``write_data_files`` for winners held on the driver, which must
    be sorted by ``__bucket`` and then by (conv_id, turn_idx): one file
    per bucket under a fresh commit dir, in the Spark write's layout
    (``__bucket=b/part-*.snappy.parquet``) and with its manifest entries
    (same keys, buckets in the same directory-name order).  Written
    with snappy, INT96 timestamps and Spark's two footer keys, in
    Spark's order, without dictionary pages and without pyarrow's
    ``ARROW:schema`` footer blob (``_swap_arrow_schema_blob``): on a
    small table's 253 files, pyarrow's defaults made them 1.14x the
    bytes of parquet-mr's (dictionary pages on unique or all-NULL
    columns, where parquet-mr falls back to plain), these settings
    1.007x.  The files are written in parallel (pyarrow releases the
    GIL)."""
    if not rows.num_rows:
        return []
    table = table.pinned()
    out = os.path.join(table.data_dir, f"snap-pending-{uuid.uuid4().hex[:12]}")
    buckets = rows.column("__bucket").to_numpy()
    data = rows.drop_columns(["__bucket"])
    row_meta = _spark_row_metadata(table, data.schema)
    data = pa.Table.from_arrays(
        data.columns,
        schema=data.schema.with_metadata(
            {"org.apache.spark.sql.parquet.row.metadata": row_meta}
        ),
    )
    starts = np.flatnonzero(np.concatenate(([True], buckets[1:] != buckets[:-1])))
    ends = np.append(starts[1:], len(buckets))

    def write_one(span) -> dict | None:
        lo, hi = span
        b = int(buckets[lo])
        bdir = os.path.join(out, f"__bucket={b}")
        os.makedirs(bdir)
        full = os.path.join(bdir, f"part-00000-{uuid.uuid4()}.c000.snappy.parquet")
        pq.write_table(
            data.slice(lo, hi - lo),
            full,
            compression="snappy",
            use_dictionary=False,
            use_deprecated_int96_timestamps=True,
        )
        _swap_arrow_schema_blob(full, "org.apache.spark.version", pyspark.__version__)
        return _manifest_entry(table, full, b, delta_buckets)

    spans = sorted(zip(starts, ends), key=lambda se: f"__bucket={buckets[se[0]]}")
    return [e for e in _io_pool().map(write_one, spans) if e is not None]


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
    table = table.pinned()
    dfb = df.withColumn("__bucket", bucket_expr(table.bucket_column, table.num_buckets))
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
    table = table.pinned()
    bset = {int(b) for b in buckets}
    for e in table.files(buckets=buckets):
        cov = table.covered_buckets(e["bucket"], e.get("spec_id", 0))
        if not set(cov) <= bset:
            raise ValueError(
                f"overwrite of buckets {sorted(bset)} would drop rows of "
                f"buckets {sorted(set(cov) - bset)} held by old-spec file "
                f"{e['path']}; include the full congruence class"
            )
    dfb = df.withColumn("__bucket", bucket_expr(table.bucket_column, table.num_buckets))
    entries = write_data_files(dfb, table)
    return table.commit(
        added_files=entries,
        replaced_buckets=buckets,
        summary=summary or {},
        operation="overwrite",
    )
