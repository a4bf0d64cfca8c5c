"""``bench.py``'s first-drain vs second-drain gap, layer by layer.

    python3 perfbench/drain_gap.py [--convs 600000]

Run from the repository root.  Writes ``bench.py``'s drain ledger
(``gen_events`` over ``--convs`` conversations, 8 source partitions,
``seg_span = keyspace // 2``), then drains it three times in one traced
process with ``bench.py``'s call (``run_increment(max_segments_per_part=None,
salts=None, num_buckets=32)``): twice from the same path, as ``bench.py``
does, then once from a copy at a new path, so a warm JVM is seen
without the segment-footer cache.  The session keeps the library's
default heap, as ``bench.py`` does.  Prints one JSON line per drain.
Not part of the timed benchmark; perfbench/README.md gives its result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import layers
from common import start_session, stop_processes, work_dir
from spans import Tracer, read_event_log

SHOWN = (
    "cdc.runner.epoch_ms",
    "lake.write.job_ms",
    "lake.write.executor_run_ms",
    "lake.write.harvest_ms",
    "cdc.runner.self_ms",
    "cdc.source.read_batch_ms",
    "lake.merge.self_ms",
    "cdc.source.list_segments_ms",
    "cdc.source.segments",
    "lake.write.rows",
)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--convs", type=int, default=600_000)
    args = ap.parse_args()
    root = os.getcwd()
    sys.path.insert(1, root)
    work = work_dir(root)
    try:
        spark, _ = start_session(work, True, driver_memory=None)
        from stellar_ingest.cdc.runner import run_increment
        from stellar_ingest.gen.changelog import gen_events, keyspace, write_ledger

        tracer = Tracer(spark)
        layers.install(tracer)
        events = gen_events(spark, args.convs, parts=8, seed=42)
        n_events = events.count()
        ledger = os.path.join(work, "ledger")
        write_ledger(events, ledger, n_convs=args.convs, seg_span=keyspace(args.convs) // 2)
        walls = []
        for trial, path in enumerate((ledger, ledger, ledger + "-copy")):
            if not os.path.exists(path):
                shutil.copytree(ledger, path)
            table = os.path.join(work, f"table{trial}")
            tracer.enabled = True
            with tracer.span("cdc.runner.backfill", job_group=True):
                t0 = time.perf_counter()
                run_increment(spark, path, table, os.path.join(work, f"ck{trial}"),
                              max_segments_per_part=None, salts=None, num_buckets=32)
                walls.append(time.perf_counter() - t0)
            tracer.enabled = False
            shutil.rmtree(table)
        tracer.unwrap_all()
        spark.stop()
        per_drain: list[dict] = []
        layers.epoch_metrics(tracer, read_event_log(os.path.join(work, "eventlog")),
                             "cdc.runner.backfill", per_drain)
        for trial, (wall, drain) in enumerate(zip(walls, per_drain)):
            print(json.dumps({"drain": trial, "events": n_events, "wall_s": wall,
                              **{k: drain.get(k, 0.0) for k in SHOWN}}))
        return 0
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
