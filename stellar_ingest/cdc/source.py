"""Changelog tail source (SURVEY.md §2 op 3): incremental, offset-driven
reads of ledger segments — the binlog/WAL-tail analogue.

Ledger layout (FIXTURES.md §C)::

    ledger/part={src_part}/seg={k}/*.parquet    # rows lsn-sorted

Discovery is metadata-only: parquet *footers* give each segment's
(min_lsn, max_lsn) — no data rows are read to decide what is new.  The
read itself is ONE ``spark.read.schema(superset).parquet(files...)``
with a per-partition ``hwm < lsn <= cutoff`` OR-chain that pushes down
to footer stats, so re-listed but already-consumed segments cost zero IO.

Schema evolution arrives here first: newer segments may carry columns
older ones lack (e.g. ``tool``, ``tool_version``).  The batch schema is
the union of the selected files' footer schemas; files missing a column
read back as NULL (additive semantics).

Scale: discovery is a driver-side listing, O(segments) — on a real lake
this is the object-store listing every table format does; per-epoch cost
is bounded by segment count, not data volume.

``read_batch_arrow`` is the same read on the driver, into a pyarrow
table, for the epochs small enough to apply without Spark
(cdc/runner.py picks the path).

A segment whose every ``lsn`` is NULL has no position in the log, so
no offset can ever cover it.  ``select_batch`` hands it to the first
epoch that sees it, whose validation quarantines all of its rows; the
checkpoint records it by path and mtime (``unpositioned``) so no later
epoch reads it again.  NULL-lsn rows in a segment that has positioned
rows are read and quarantined with each epoch that reads the segment.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..lake.core import spark_to_type, type_to_arrow
from ..lake.read import _io_pool
from ..memo import Memo, stat_token
from ..schema import CHANGELOG_SCHEMA
from .dedupe import hwm_sql


@dataclass
class Segment:
    path: str
    src_part: int
    #: the non-NULL lsn range; both None when every lsn is NULL
    min_lsn: int | None
    max_lsn: int | None
    rows: int
    columns: tuple[str, ...]
    arrow_schema: pa.Schema
    mtime_ns: int
    #: the row groups' uncompressed bytes (footer ``total_byte_size``)
    bytes: int


def _lsn_range(pf: pq.ParquetFile) -> tuple[int, int] | None:
    """(min, max) non-NULL lsn of a file; None when every lsn is NULL."""
    md, schema = pf.metadata, pf.schema_arrow
    idx = schema.names.index("lsn")
    lo, hi = None, None
    for i in range(md.num_row_groups):
        st = md.row_group(i).column(idx).statistics
        if st is None or not st.has_min_max:
            # ANY stats-less row group invalidates the footer fast-path:
            # a partial range would under-report max_lsn and silently
            # skip that group's rows forever — fall back to reading just
            # the lsn column (column-pruned, one file; rare by
            # construction)
            lo = None
            break
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    if lo is None:
        col = pf.read(columns=["lsn"]).column("lsn")
        mm = pc.min_max(col).as_py()
        lo, hi = mm["min"], mm["max"]
        if lo is None:
            return None
    return int(lo), int(hi)


#: ledger segment footers, keyed by path and validated by
#: ``(mtime_ns, size)``: ledger segments are immutable once written
#: (append-only ledger contract), so each discovery pass only parses
#: footers of files it has not seen — the steady-state loop otherwise
#: re-parses EVERY segment's footer once or twice per epoch (~0.2 s at
#: 400 segments, growing with ledger age).  A rewritten file re-parses;
#: an empty segment is memoized as None.  Metadata only — no row data.
_SEG_CACHE = Memo(65536)


def _parse_segment(full: str, part: int, mtime_ns: int) -> Segment | None:
    pf = pq.ParquetFile(full)
    md = pf.metadata
    if md.num_rows == 0:
        return None
    lo, hi = _lsn_range(pf) or (None, None)
    return Segment(
        path=full,
        src_part=part,
        min_lsn=lo,
        max_lsn=hi,
        rows=md.num_rows,
        columns=tuple(pf.schema_arrow.names),
        arrow_schema=pf.schema_arrow,
        mtime_ns=mtime_ns,
        bytes=sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups)),
    )


def list_segments(ledger_dir: str) -> list[Segment]:
    """All ledger segments with footer-derived lsn ranges (no data IO)."""
    out: list[Segment] = []
    if not os.path.isdir(ledger_dir):
        return out
    for pdir in sorted(os.listdir(ledger_dir)):
        if not pdir.startswith("part="):
            continue
        part = int(pdir.split("=", 1)[1])
        base = os.path.join(ledger_dir, pdir)
        for root, _dirs, files in os.walk(base):
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(root, fn)
                token = stat_token(full)
                seg = _SEG_CACHE.get(
                    full, lambda: _parse_segment(full, part, token[0]), token=token
                )
                if seg is not None:
                    out.append(seg)
    return out


_ARROW_TO_SPARK = {
    "string": T.StringType(),
    "large_string": T.StringType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "bool": T.BooleanType(),
    # opaque media payloads (images/audio/video ride the changelog as
    # bytes + typed metadata; tests/test_binary_column.py end-to-end)
    "binary": T.BinaryType(),
    "large_binary": T.BinaryType(),
}


def _spark_type(arrow_type: pa.DataType) -> T.DataType:
    if pa.types.is_timestamp(arrow_type):
        return T.TimestampType()
    return _ARROW_TO_SPARK[str(arrow_type)]


def spark_schema(batch) -> T.StructType:
    """Spark schema of a batch: a DataFrame's own, or that of the
    pyarrow table ``read_batch_arrow`` built, as Spark's file reader
    gives it (every column nullable)."""
    if not isinstance(batch, pa.Table):
        return batch.schema
    return T.StructType(
        [T.StructField(f.name, _spark_type(f.type), True) for f in batch.schema]
    )


def batch_schema(segments: list[Segment]) -> T.StructType:
    """Union schema over segments: canonical changelog columns first (in
    contract order), evolved extras after, types from footers."""
    known = {f.name: f for f in CHANGELOG_SCHEMA.fields}
    seen: dict[str, T.DataType] = {}
    order: list[str] = []
    for seg in segments:
        for name in seg.columns:
            if name not in seen:
                seen[name] = (
                    known[name].dataType
                    if name in known
                    else _spark_type(seg.arrow_schema.field(name).type)
                )
                order.append(name)
    fields = [f for f in CHANGELOG_SCHEMA.fields if f.name in seen]
    fields += [
        T.StructField(n, seen[n], True) for n in order if n not in known
    ]
    return T.StructType(fields)


def select_batch(
    segments: list[Segment],
    offsets: dict[int, int],
    *,
    max_segments_per_part: int | None = None,
    unpositioned: dict[str, int] | None = None,
) -> tuple[list[Segment], dict[int, int]]:
    """Pick the next micro-batch: per source partition, the earliest
    pending segments (capped), and the lsn cutoff the batch will consume
    through.  Deterministic — same offsets + same ledger → same batch.

    Segments without an lsn (module docstring) join the batch unless
    ``unpositioned``, the checkpoint's ``{path: mtime_ns}`` of those
    already read, holds them; they add no cutoff."""
    chosen: list[Segment] = []
    cutoffs: dict[int, int] = {}
    by_part: dict[int, list[Segment]] = {}
    done = unpositioned or {}
    for s in segments:
        if s.max_lsn is None:
            if done.get(s.path) != s.mtime_ns:
                chosen.append(s)
        elif s.max_lsn > offsets.get(s.src_part, -1):
            by_part.setdefault(s.src_part, []).append(s)
    for part, segs in sorted(by_part.items()):
        if max_segments_per_part is None:
            cutoff = max(s.max_lsn for s in segs)
        else:
            # lsn ranges of different files interleave (duplicate
            # re-deliveries land in LATER segments carrying OLD lsns —
            # FIXTURES.md §C), so "take the first k files" cannot define
            # a batch.  Instead the batch is defined by an lsn CUTOFF:
            # the k-th smallest pending max_lsn.  Every pending file
            # whose range dips at-or-below the cutoff is read (nothing
            # below the new high-watermark is ever skipped); rows above
            # the cutoff inside those files defer to later epochs via
            # the (hwm, cutoff] filter.  Progress is guaranteed — the
            # cutoff is always a pending max_lsn > hwm — and batch size
            # stays ~k segments regardless of how redeliveries
            # interleave (a naive fixpoint expansion cascades into one
            # giant batch when every segment contains redelivered rows).
            maxes = sorted(s.max_lsn for s in segs)
            cutoff = maxes[min(max_segments_per_part, len(maxes)) - 1]
        take = [s for s in segs if s.min_lsn <= cutoff]
        take.sort(key=lambda s: (s.min_lsn, s.path))
        chosen += take
        cutoffs[part] = cutoff
    return chosen, cutoffs


def read_batch(
    spark: SparkSession,
    segments: list[Segment],
    offsets: dict[int, int],
    cutoffs: dict[int, int],
) -> DataFrame:
    """One pushdown-friendly scan of the selected segments, bounded to
    (hwm, cutoff] per source partition."""
    schema = batch_schema(segments)
    df = spark.read.schema(schema).parquet(*[s.path for s in segments])
    ceil_sql = " OR ".join(
        f"(src_part = {int(part)} AND lsn <= {int(hi)})"
        for part, hi in sorted(cutoffs.items())
    )
    # NULL-envelope rows (NULL lsn or src_part) would make the bounds
    # predicate evaluate to SQL NULL and silently vanish before the
    # validity split — let them through so validate.py can quarantine
    # them (rows are quarantined, never dropped).  Plain OR of pushable
    # leaves: parquet row-group pruning on lsn still applies (null_count
    # is 0 in well-formed segments, so IS NULL prunes with the stats).
    # Semantics: quarantine of NULL-envelope rows is AT-LEAST-ONCE — a
    # row with no log position cannot be watermarked, so if its segment
    # is read by several epochs (interleaved redeliveries) each of those
    # epochs re-quarantines it.  Dead letters are an audit surface, not
    # a ledger; consumers dedupe if they need exactly-once counts.
    # One SQL string, parsed in one py4j call (same rationale as
    # dedupe.hwm_sql).
    bounds = "lsn IS NULL OR src_part IS NULL"
    if cutoffs:
        bounds = f"(({hwm_sql(offsets)}) AND ({ceil_sql})) OR {bounds}"
    return df.filter(bounds)


def _bounds_mask(tbl: pa.Table, offsets: dict[int, int], cutoffs: dict[int, int]) -> np.ndarray:
    """``read_batch``'s bounds, row by row as a numpy mask: (hwm, cutoff]
    per source partition, and every row with a NULL lsn or src_part."""
    lsn, part = tbl.column("lsn"), tbl.column("src_part")
    keep = pc.or_(pc.is_null(lsn), pc.is_null(part)).to_numpy(zero_copy_only=False)
    # NULLs are kept above; filled, they stay int64 / int32 in numpy
    lsn = lsn.fill_null(0).to_numpy(zero_copy_only=False)
    part = part.fill_null(0).to_numpy(zero_copy_only=False)
    for p, hi in cutoffs.items():
        ok = (part == p) & (lsn <= hi)
        if p in offsets:
            ok &= lsn > offsets[p]
        keep = keep | ok
    return keep


def read_batch_arrow(
    segments: list[Segment],
    offsets: dict[int, int],
    cutoffs: dict[int, int],
) -> pa.Table:
    """``read_batch`` on the driver: the selected segments' rows within
    the same bounds, as one pyarrow table with ``batch_schema``'s
    columns and types (columns a segment lacks read NULL; INT96
    timestamps truncate to microseconds, as Spark's reader does)."""
    schema = batch_schema(segments)
    target = pa.schema(
        [pa.field(f.name, type_to_arrow(spark_to_type(f.dataType))) for f in schema.fields]
    )

    def read(seg: Segment) -> pa.Table:
        got = pq.ParquetFile(seg.path, coerce_int96_timestamp_unit="us").read()
        cols = [
            got.column(f.name).cast(f.type, safe=not pa.types.is_timestamp(f.type))
            if f.name in got.column_names
            else pa.nulls(got.num_rows, f.type)
            for f in target
        ]
        tbl = pa.Table.from_arrays(cols, schema=target)
        return tbl.filter(_bounds_mask(tbl, offsets, cutoffs))

    parts = list(_io_pool().map(read, segments))
    return pa.concat_tables(parts) if parts else target.empty_table()
