"""Plan-shape ledger: the physical plan of every ``queries()`` key and
of the two CDC apply plans, counted node by node and checked against
``plans/shape.json``.

A shape is read from the plan before execution (the initial plan under
AQE, which has no codegen stage boundaries) and counts non-broadcast
Exchange, BroadcastExchange, Sort, Window, BroadcastNestedLoopJoin,
CartesianProduct and Python-evaluation nodes, plus the interpreted
``aggregate(`` and ``zip_with(`` calls in its expressions.  The plan
string is printed untruncated, so ``spark.sql.debug.maxToStringFields``
hides no node and no call.

On a difference the test names each key and count that moved.  After an
intended plan change, copy the ``shape.json`` it writes under its
``tmp_path`` over ``plans/shape.json``.
"""

from __future__ import annotations

import json
import os
import re

import __spark_entry__ as entry
from stellar_ingest.cdc.resolve import lww_winners
from stellar_ingest.lake.merge import _fused_winner_rows
from stellar_ingest.lake.write import bucket_expr

from .conftest import SF_DIR
from .helpers import make_changelog
from .test_fused_merge import ROWS, _writer_shape

LEDGER = os.path.join(os.path.dirname(os.path.dirname(__file__)), "plans", "shape.json")

COUNTS = (
    "exchange", "broadcast", "sort", "window", "bnlj", "cartesian", "python",
    "aggregate", "zip_with",
)
_NODES = {
    "Exchange": "exchange",
    "BroadcastExchange": "broadcast",
    "Sort": "sort",
    "Window": "window",
    "BroadcastNestedLoopJoin": "bnlj",
    "CartesianProduct": "cartesian",
}
# the first line is the root; every other node line hangs off "+- " or ":- "
_NODE_LINE = re.compile(r"^([ :]*[+:]- )?(?:\*\(\d+\) )?([A-Za-z]\w*)")
_PYTHON = re.compile(r"Python|Pandas|Arrow")
_INT_MAX = 2**31 - 1


def plan_shape(df) -> dict[str, int]:
    """Node counts of ``df``'s physical plan before execution.  A fresh
    query execution is taken, so a frame that has already run (a
    memoized registry plan, say) is still read before AQE re-plans it."""
    spark = df.sparkSession
    conf = "spark.sql.debug.maxToStringFields"
    old = spark.conf.get(conf)
    spark.conf.set(conf, str(_INT_MAX))
    try:
        plan = df.select("*")._jdf.queryExecution().executedPlan()
        text = plan.treeString(False, False, _INT_MAX, False, False)
    finally:
        spark.conf.set(conf, old)
    shape = dict.fromkeys(COUNTS, 0)
    for i, line in enumerate(text.splitlines()):
        m = _NODE_LINE.match(line)
        if m is None or (i and not m.group(1)):
            continue
        name = m.group(2)
        if name in _NODES:
            shape[_NODES[name]] += 1
        elif _PYTHON.search(name):
            shape["python"] += 1
    shape["aggregate"] = len(re.findall(r"\baggregate\(", text))
    shape["zip_with"] = len(re.findall(r"\bzip_with\(", text))
    return shape


def live_shapes(spark) -> dict[str, dict[str, int]]:
    shapes = {k: plan_shape(fn(spark, SF_DIR)) for k, fn in entry.queries().items()}
    batch = make_changelog(spark, ROWS)
    fused = _fused_winner_rows(batch, bucket_expr("conv_id", 8), 8)
    shapes["lake/merge.py::_fused_winner_rows"] = plan_shape(_writer_shape(fused))
    shapes["cdc/resolve.py::lww_winners(salts=2)"] = plan_shape(lww_winners(batch, salts=2))
    return shapes


def dump(shapes: dict[str, dict[str, int]]) -> str:
    """One line per plan, keys sorted, so a plan change is a one-line diff."""
    lines = [
        f"{json.dumps(k)}: {json.dumps(shapes[k], separators=(',', ':'))}"
        for k in sorted(shapes)
    ]
    return "{\n" + ",\n".join(lines) + "\n}\n"


def test_plan_shapes_match_ledger(spark, tmp_path):
    with open(LEDGER) as fh:
        recorded = json.load(fh)
    live = live_shapes(spark)
    out = tmp_path / "shape.json"
    out.write_text(dump(live))

    moved = [f"missing from the ledger: {k}" for k in sorted(set(live) - set(recorded))]
    moved += [f"not a live plan: {k}" for k in sorted(set(recorded) - set(live))]
    for k in sorted(set(live) & set(recorded)):
        for c in COUNTS:
            was, now = recorded[k].get(c), live[k][c]
            if was != now:
                moved.append(f"{k}: {c} {was} -> {now}")
    assert not moved, "plan shapes moved:\n  " + "\n  ".join(moved) + (
        f"\nlive shapes written to {out}"
    )
