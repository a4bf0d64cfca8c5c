"""N -> 4N scaling criterion on the steady-state merge-on-read path.

Runs the SAME sustained-apply job (preload + K incremental MoR epochs,
run_steady_state below) at two parallelism levels with
a constant physical plan (fixed shuffle partitions, write salt pinned
via STELLAR_WRITE_SALT=1), each level in a fresh JVM, and reports
throughput at both plus scaling efficiency.

This sandbox has no real cluster; two local[N] levels on the same input
are the honest stand-in for the rule's two-cluster-size criterion (the
host microVM anti-scales ANY Spark job beyond ~8 threads — see
BENCH/BASELINE.md round 1 — so the constant-plan 1->4 pair is the
meaningful measurement, same protocol as the drain-path runs in rounds
1-2).

Usage: python bench/mor_scaling.py   # ~15 min; prints one JSON line
Env: MOR_SCALE_LEVELS="1,4" MOR_SCALE_CONVS=1000000
     MOR_SCALE_INC_EVENTS=1000000 MOR_SCALE_EPOCHS=4
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: first increment lsn: far above any preload lsn (gen_events tops out
#: around v=23 → lsn < 24*ks; 64*ks leaves room and stays deterministic)
_INC_LSN_FACTOR = 64


def run_steady_state(
    spark,
    *,
    n_convs: int,
    inc_events: int,
    inc_epochs: int,
    modes,
    parts: int = 8,
    num_buckets: int = 32,
) -> dict:
    """Sustained apply into a PRE-LOADED table: one backfill epoch of a
    full ``gen_events`` ledger (the same compacted starting state for
    every mode), then ``inc_epochs`` epochs of ``inc_events`` updates
    spread over the whole keyspace (every epoch touches every bucket —
    the adversarial shape for copy-on-write).  ``modes`` holds
    (name, runner mode, fold_min_deltas) triples; returns per-epoch and
    mean events/sec per mode.  A COW epoch's cost tracks TABLE size (it
    rewrites every touched bucket); a MoR epoch's tracks the batch."""
    from stellar_ingest.cdc.runner import run_increment
    from stellar_ingest.gen.changelog import (
        append_update_segment,
        gen_events,
        gen_update_stream,
        keyspace,
        write_ledger,
    )

    work = tempfile.mkdtemp(
        prefix="stellar_steady_", dir="/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    ks = keyspace(n_convs)
    out: dict = {"n_convs": n_convs, "inc_events": inc_events, "inc_epochs": inc_epochs}
    try:
        ev = gen_events(spark, n_convs, parts=parts, seed=42)
        out["preload_events"] = int(ev.count())
        base_ledger = os.path.join(work, "ledger_base")
        write_ledger(ev, base_ledger, n_convs=n_convs, seg_span=ks)
        epochs: dict[str, list[float]] = {}
        for name, mode, fold_min in modes:
            mdir = os.path.join(work, name.replace("+", "_"))
            ledger = os.path.join(mdir, "ledger")
            table = os.path.join(mdir, "table")
            ck = os.path.join(mdir, "ck")
            shutil.copytree(base_ledger, ledger)
            t0 = time.monotonic()
            run_increment(
                spark, ledger, table, ck,
                max_segments_per_part=None, max_epochs=1, salts=None,
                num_buckets=num_buckets,
            )
            out.setdefault("preload_wall_sec", {})[name] = round(time.monotonic() - t0, 3)
            walls: list[float] = []
            for k in range(inc_epochs):
                inc = gen_update_stream(
                    spark, n_convs,
                    n_events=inc_events,
                    lsn_base=_INC_LSN_FACTOR * ks + k * inc_events,
                    parts=parts, seed=777,
                )
                append_update_segment(inc, ledger, seg_no=1000 + k)
                t0 = time.monotonic()
                run_increment(
                    spark, ledger, table, ck,
                    max_segments_per_part=None, max_epochs=1, salts=None,
                    num_buckets=num_buckets, mode=mode, fold_min_deltas=fold_min,
                )
                walls.append(time.monotonic() - t0)
            epochs[name] = [round(inc_events / w, 1) for w in walls]
            shutil.rmtree(mdir, ignore_errors=True)
        out["epoch_events_per_sec"] = epochs
        out["mean_events_per_sec"] = {
            name: round(sum(e) / len(e), 1) for name, e in epochs.items()
        }
        # how much the delta commit mode buys at this table:batch ratio
        if "cow" in epochs and "mor" in epochs:
            out["mor_over_cow"] = round(
                out["mean_events_per_sec"]["mor"] / out["mean_events_per_sec"]["cow"], 2
            )
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


_CHILD = """
import json, os, sys
sys.path.insert(0, {repo!r})
os.environ["STELLAR_WRITE_SALT"] = "1"
import importlib.util
spec = importlib.util.spec_from_file_location(
    "mor_scaling", os.path.join({repo!r}, "bench", "mor_scaling.py"))
mod = importlib.util.module_from_spec(spec); spec.loader.exec_module(mod)
from stellar_ingest.session import get_spark
extra = {{}}
if os.path.isdir("/dev/shm"):
    os.makedirs("/dev/shm/stellar_morscale", exist_ok=True)
    extra["spark.local.dir"] = "/dev/shm/stellar_morscale"
spark = get_spark("mor-scale", cores={cores}, shuffle_partitions=8, extra_conf=extra)
res = mod.run_steady_state(spark, n_convs={convs}, inc_events={inc}, inc_epochs={epochs},
                           modes=(("mor", "mor", None),))
print("RESULT" + json.dumps(res))
"""


def main() -> int:
    levels = [int(x) for x in os.environ.get("MOR_SCALE_LEVELS", "1,4").split(",")]
    convs = int(os.environ.get("MOR_SCALE_CONVS", "1000000"))
    inc = int(os.environ.get("MOR_SCALE_INC_EVENTS", "1000000"))
    epochs = int(os.environ.get("MOR_SCALE_EPOCHS", "4"))
    results: dict[int, dict] = {}
    for cores in levels:
        code = _CHILD.format(repo=REPO, cores=cores, convs=convs, inc=inc, epochs=epochs)
        p = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True)
        line = [ln for ln in p.stdout.splitlines() if ln.startswith("RESULT")]
        if not line:
            print(p.stdout[-2000:], p.stderr[-3000:], file=sys.stderr)
            return 1
        results[cores] = json.loads(line[0][len("RESULT"):])
        shutil.rmtree("/dev/shm/stellar_morscale", ignore_errors=True)
    lo, hi = min(levels), max(levels)
    t_lo = results[lo]["mean_events_per_sec"]["mor"]
    t_hi = results[hi]["mean_events_per_sec"]["mor"]
    print(json.dumps({
        "levels": levels,
        "mor_eps": {str(c): results[c]["mean_events_per_sec"]["mor"] for c in levels},
        "epochs_eps": {str(c): results[c]["epoch_events_per_sec"]["mor"] for c in levels},
        "preload_events": results[lo]["preload_events"],
        "speedup": round(t_hi / t_lo, 3),
        "efficiency": round(t_hi / t_lo / (hi / lo), 3),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
