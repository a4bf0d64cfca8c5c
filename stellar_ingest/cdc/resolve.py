"""Last-writer-wins resolution (SURVEY.md §2 ops 35/67, BASELINE.json:6).

The newest mutation per (conv_id, turn_idx), "newest" = max by
``(ts, lsn, src_part)`` descending — (ts, lsn) per the spec, src_part as
the final tiebreak so ordering is total (only (src_part, lsn) is
globally unique; FIXTURES.md §C makes ts deliberately non-monotone in
lsn for 10% of rows).

UDF-free: one ranking window (Exchange on hash(conv_id, turn_idx) +
in-partition sort).  Optionally two-phase **salted** for hot keys
(SURVEY.md op 25): phase 1 ranks within (key, salt), phase 2 ranks the
≤S phase-1 survivors per key.  Correct because "take the max by a total
order" is associative — max(max per salt) = max overall
(tests/test_skew.py proves equality salted vs not).

Scale: phase 1 spreads one hot key over S shuffle partitions, bounding
any single task at ~rows(hot)/S; phase 2 touches only #keys x S rows.

Small inputs resolve on the driver instead (``lww_arrow`` and
``to_table_rows_arrow``): the same total order and the same projection
over a pyarrow table, with one sort and no Python per row — used by the
driver-side apply (lake/merge.py) and by ``lookup_many_fast``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import ENVELOPE_COLS


def _desc_order():
    return [F.col("ts").desc(), F.col("lsn").desc(), F.col("src_part").desc()]


def lww_winners(
    df: DataFrame, *, salts: int | None = None, rn_observation=None
) -> DataFrame:
    """Reduce a deduped changelog batch to one winning mutation per
    (conv_id, turn_idx), keeping changelog column shape.

    ``rn_observation``: optional ``pyspark.sql.Observation`` filled with
    ``max_rn`` — the max per-key mutation count the ranking window saw
    (per (key, salt) when salted, so scale by ``salts`` to estimate the
    true per-key max).  This is the FREE hot-key census: the window
    already numbers every key's rows, so observing ``max(__rn)`` costs
    nothing extra — no sample pass, no second scan (the runner uses it
    to decide the NEXT epoch's salting; skew persists across adjacent
    batches)."""
    if salts and salts > 1:
        salt = F.pmod(F.xxhash64("src_part", "lsn"), F.lit(int(salts)))
        w1 = Window.partitionBy("conv_id", "turn_idx", salt).orderBy(*_desc_order())
        ranked = df.withColumn("__rn", F.row_number().over(w1))
        if rn_observation is not None:
            ranked = ranked.observe(rn_observation, F.max("__rn").alias("max_rn"))
            rn_observation = None
        df = ranked.filter(F.col("__rn") == 1).drop("__rn")
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(*_desc_order())
    ranked = df.withColumn("__rn", F.row_number().over(w))
    if rn_observation is not None:
        ranked = ranked.observe(rn_observation, F.max("__rn").alias("max_rn"))
    return ranked.filter(F.col("__rn") == 1).drop("__rn")


def to_table_rows(
    winners: DataFrame,
    *,
    carry_cols: tuple[str, ...] = (),
    fields: list[T.StructField] | None = None,
) -> DataFrame:
    """Changelog-shaped winners → stored-table shape: payload columns +
    (_ts, _lsn, _src_part, _op), in ONE projection.  Deletes become
    tombstones ('D') with NULL payload; I/U normalize to 'U' (both are
    upserts once resolved).

    ``fields``: the committed table's schema fields — the output then
    follows their order and NULL-fills columns evolved after this
    batch's payload (without it, the winners' own payload order;
    ``__``-prefixed helper columns such as the window's ``__rn`` are
    never payload).  ``carry_cols``: layout helper columns (e.g.
    __bucket/__slot from the fused single-exchange merge path) passed
    through untouched and appended last, preserving their attribute
    identity so downstream sort/partitioning properties survive the
    projection.

    The projection is SQL text, parsed JVM-side in the one select:
    composing it from Column operators costs ~5 py4j round trips per
    column, and this runs on every epoch's plan."""
    have = winners.columns
    deleted = "op = 'D'"
    derived = {
        "_ts": "ts",
        "_lsn": "lsn",
        "_src_part": "src_part",
        "_op": f"CASE WHEN {deleted} THEN 'D' ELSE 'U' END",
    }
    if fields is None:
        payload = [
            c
            for c in have
            if c not in ENVELOPE_COLS and c != "ts" and not c.startswith("__")
        ]
        names, missing = [*payload, "ts", *derived], {}
    else:
        names = [f.name for f in fields]
        missing = {
            f.name: f.dataType
            for f in fields
            if f.name not in have and f.name not in derived
        }
    exprs = []
    for name in names:
        q = f"`{name}`"
        if name in derived:
            e = derived[name]
        elif name in missing:
            e = f"CAST(NULL AS {missing[name].simpleString()})"
        elif name in ("conv_id", "turn_idx"):
            e = q
        else:
            e = f"CASE WHEN {deleted} THEN NULL ELSE {q} END"
        exprs.append(e if e == q else f"{e} AS {q}")
    return winners.selectExpr(*exprs, *[f"`{c}`" for c in carry_cols])


def lww_arrow(
    tbl: pa.Table,
    *,
    order: tuple[str, ...] = ("ts", "lsn", "src_part"),
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    lead: str | None = None,
) -> tuple[pa.Table, int]:
    """``lww_winners`` on the driver: (one row per key, the largest
    number of rows any key had).  ONE sort on (``lead``, keys, ``order``
    descending), then the first row of each key — the row the ranking
    window numbers 1 (NULLs order last, as Spark's DESC).  The winners
    come out sorted by (``lead``, keys); ``lead`` is a column that is a
    function of the key (the bucket), so a key's rows stay adjacent.
    Keys must be non-NULL (validity guarantees it for changelog rows)."""
    n = tbl.num_rows
    if n == 0:
        return tbl, 0
    sort_keys = [(lead, "ascending")] if lead is not None else []
    sort_keys += [(k, "ascending") for k in keys]
    sort_keys += [(o, "descending") for o in order]
    srt = tbl.take(pc.sort_indices(tbl, sort_keys=sort_keys, null_placement="at_end"))
    changed = np.zeros(n - 1, bool)
    for k in keys:
        col = srt.column(k)
        changed |= pc.not_equal(col.slice(1), col.slice(0, n - 1)).to_numpy(
            zero_copy_only=False
        )
    starts = np.flatnonzero(np.concatenate(([True], changed)))
    max_rn = int(np.diff(np.append(starts, n)).max())
    return srt.take(starts), max_rn


def to_table_rows_arrow(
    winners: pa.Table, schema: pa.Schema, *, carry_cols: tuple[str, ...] = ()
) -> pa.Table:
    """``to_table_rows(fields=...)`` on the driver: changelog-shaped
    winners → the stored-table layout ``schema`` (the table's fields, in
    order, with their Arrow types).  Deletes become tombstones with a
    NULL payload, I/U become 'U', columns the winners lack are NULL;
    ``carry_cols`` are appended untouched."""
    have = set(winners.column_names)
    deleted = pc.fill_null(pc.equal(winners.column("op"), "D"), False)
    derived = {
        "_ts": "ts",
        "_lsn": "lsn",
        "_src_part": "src_part",
    }
    cols = []
    for f in schema:
        if f.name == "_op":
            col = pc.if_else(deleted, "D", "U")
        elif f.name in derived:
            col = winners.column(derived[f.name])
        elif f.name not in have:
            col = pa.nulls(winners.num_rows, f.type)
        elif f.name in ("conv_id", "turn_idx"):
            col = winners.column(f.name)
        else:
            col = pc.if_else(deleted, pa.scalar(None, f.type), winners.column(f.name))
        cols.append(col.cast(f.type))
    out = pa.Table.from_arrays(cols, schema=schema)
    for c in carry_cols:
        out = out.append_column(c, winners.column(c))
    return out


def resolve(
    df: DataFrame, *, salts: int | None = None, rn_observation=None
) -> DataFrame:
    """dedupe'd changelog batch → stored-table-shaped winner rows."""
    return to_table_rows(
        lww_winners(df, salts=salts, rn_observation=rn_observation)
    )
