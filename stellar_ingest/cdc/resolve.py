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
"""

from __future__ import annotations

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


def resolve(
    df: DataFrame, *, salts: int | None = None, rn_observation=None
) -> DataFrame:
    """dedupe'd changelog batch → stored-table-shaped winner rows."""
    return to_table_rows(
        lww_winners(df, salts=salts, rn_observation=rn_observation)
    )
