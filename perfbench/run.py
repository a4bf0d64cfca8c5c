"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Workloads: ``steady_mor_serve`` and
``queries_sf01`` (see perfbench/README.md).  With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics and the traced run's own
end-to-end figures.  The line before it is the host
stamp plus the workload's own named figures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

import layers
from common import host_stamp, start_session, stop_processes, work_dir
from spans import Tracer, read_event_log


def _workloads():
    import queries
    import steady

    return {
        "steady_mor_serve": steady.steady_mor_serve,
        "queries_sf01": queries.queries_sf01,
    }


def _table_metrics(table) -> dict[str, float]:
    versions = [
        fn for fn in os.listdir(table.meta_dir) if fn.startswith("v") and fn.endswith(".metadata.json")
    ]
    latest = max(versions, key=lambda fn: int(fn[1:].split(".", 1)[0]))
    return {
        "lake.core.metadata_bytes": float(os.path.getsize(os.path.join(table.meta_dir, latest))),
        "lake.core.snapshots": float(len(table.snapshots())),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "stellar_ingest", "__init__.py")):
        print("perfbench: stellar_ingest/ not found; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)}", file=sys.stderr)
        return 2

    trace = bool(args.trace)
    work = work_dir(root)
    try:
        spark, session_s = start_session(work, trace)
        tracer = None
        if trace:
            tracer = Tracer(spark)
            layers.install(tracer)
        res = workloads[args.workload](spark, work, args.seed, args.seconds, tracer)
        if trace:
            tracer.unwrap_all()
        spark.stop()

        e2e = {"setup_s": session_s + res["setup_data_s"], "peak_rss_mb": res["peak_rss_mb"], **res["e2e"]}
        if trace:
            metrics = {name: 0.0 for name, _unit in layers.PER_LAYER}
            events = read_event_log(os.path.join(work, "eventlog"))
            metrics["session.start_ms"] = session_s * 1000.0
            metrics.update(res["setup_layers"])
            metrics.update(layers.epoch_metrics(tracer, events))
            for unit in ("cdc.runner.backfill", "cdc.runner.epoch"):
                per_unit: list[dict] = []
                layers.epoch_metrics(tracer, events, unit, per_unit)
                if per_unit:
                    res["named"][f"traced_units.{unit}"] = per_unit
            metrics.update(layers.lookup_metrics(tracer))
            metrics.update(layers.query_metrics(tracer, events))
            if res.get("last_table") is not None:
                metrics.update(_table_metrics(res["last_table"]))
            for name, _unit in layers.END_TO_END + layers.READ_METRICS:
                metrics[f"traced.{name}"] = e2e[name]
            units = dict(layers.PER_LAYER)
        else:
            metrics = e2e
            units = dict(layers.END_TO_END)
        stamp = host_stamp(root, args.seed, res["sizes"])
        print(json.dumps({
            "workload": args.workload,
            "trace": int(trace),
            "host": stamp,
            "end_to_end": e2e,
            "named": res["named"],
            "setup_reps_s": res["setup_reps_s"],
            "session_start_s": session_s,
        }, default=str))
        print(json.dumps({
            "correct": res["failed"] == 0,
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }))
        sys.stdout.flush()
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
