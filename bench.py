"""Round benchmark (driver contract): runs the headline query set at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], plus the CDC MERGE-apply throughput bench on a
deterministic synthetic ledger (BASELINE.md metric), and prints ONE
JSON line.

Extra keys beyond the driver contract: ``cdc_events_per_sec`` (the
BASELINE.md headline), ``cdc_events``, ``cdc_epochs``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stellar_ingest.session import get_spark  # noqa: E402

HEADLINE = [
    "agg_basic",
    "join_large",
    "join_broadcast",
    "win_rank",
    "topk_per_group",
    "dedup_exact",
    "dedup_minhash",
    "text_quality",
    "ann_cosine_topk",
    "win_tumbling",
    "tpch_q5",
]


def bench_queries(spark, sf_dir: str) -> dict[str, float]:
    from stellar_ingest import registry

    qs = registry.queries()
    # warmup: untimed pass of the first headline query so JVM/codegen
    # cold-start doesn't land on whichever query happens to run first
    # (round-1 verdict: agg_basic absorbed ~10 s of warmup)
    qs[HEADLINE[0]](spark, sf_dir).count()
    out: dict[str, float] = {}
    for name in HEADLINE:
        best = None
        for _ in range(2):  # best-of-2: defend against one-off GC/IO noise
            t0 = time.monotonic()
            df = qs[name](spark, sf_dir)
            # count() forces full execution without driver materialization
            df.count()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
    return out


def bench_cdc(spark, n_convs: int) -> dict:
    from pyspark.sql import functions as F

    from stellar_ingest.cdc.runner import run_increment
    from stellar_ingest.gen.changelog import gen_events, keyspace, write_ledger

    # scratch on tmpfs: this sandbox's single-queue virtio disk adds
    # 2-3x run-to-run noise under concurrent writers (BENCH/BASELINE.md)
    scratch_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="stellar_bench_", dir=scratch_base)
    try:
        ev = gen_events(spark, n_convs, parts=8, seed=42)
        n_events = ev.count()
        write_ledger(ev, f"{work}/ledger", n_convs=n_convs, seg_span=keyspace(n_convs) // 2)
        # best-of-2 drains: this host shows 2-3x run-to-run noise
        # (BENCH/BASELINE.md); the ledger is generated once
        walls, epochs = [], 0
        for trial in range(2):
            t0 = time.monotonic()
            recs = run_increment(
                spark,
                f"{work}/ledger",
                f"{work}/table{trial}",
                f"{work}/ck{trial}",
                max_segments_per_part=None,  # one availableNow drain
                salts=None,
                num_buckets=32,
            )
            walls.append(time.monotonic() - t0)
            epochs = len({r["epoch"] for r in recs})
            if trial == 0:
                shutil.rmtree(f"{work}/table{trial}", ignore_errors=True)
        wall = min(walls)
        # serving-path point lookups on the drained table (best-of-3 per
        # key over 3 keys): the Spark-job path vs the driver-side pyarrow
        # path (lake/read.py::lookup_fast — no Spark job at all)
        from stellar_ingest.lake.core import IceboxTable
        from stellar_ingest.lake.read import lookup, lookup_fast

        t = IceboxTable(f"{work}/table1")
        keys = [f"conv{i:06d}" for i in (3, n_convs // 2, n_convs - 1)]
        lookup(spark, t, keys[0]).collect()
        lookup_fast(spark, t, keys[0])  # warm both paths

        def _best(fn, k, n=3):
            best = None
            for _ in range(n):
                t0 = time.monotonic()
                fn(k)
                dt = (time.monotonic() - t0) * 1000
                best = dt if best is None else min(best, dt)
            return best

        lk = [_best(lambda k: lookup(spark, t, k).collect(), k) for k in keys]
        # cold = footer cache cleared per call (comparable to rounds ≤4,
        # which re-opened every footer); warm = repeat calls served from
        # the (mtime,size)-validated ParquetFile cache
        from stellar_ingest.lake.read import _PF_CACHE

        def _cold(k):
            _PF_CACHE.clear()
            t0 = time.monotonic()
            lookup_fast(spark, t, k)
            return (time.monotonic() - t0) * 1000

        lf = [min(_cold(k) for _ in range(3)) for k in keys]
        lw = [_best(lambda k: lookup_fast(spark, t, k), k) for k in keys]
        shutil.rmtree(f"{work}/table1", ignore_errors=True)
        return {
            "cdc_events": int(n_events),
            "cdc_epochs": epochs,
            "cdc_wall_sec": round(wall, 3),
            "cdc_all_walls": [round(w, 3) for w in walls],
            "cdc_events_per_sec": round(n_events / wall, 1),
            "lookup_spark_ms": round(sum(lk) / len(lk), 1),
            "lookup_fast_ms": round(sum(lf) / len(lf), 1),
            "lookup_fast_warm_ms": round(sum(lw) / len(lw), 1),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_steady(spark) -> dict:
    """Bounded steady-state section (bench/mor_scaling.py::run_steady_state;
    BENCH/BASELINE.md records full-scale runs): preload a table, then
    sustained update epochs in copy-on-write vs merge-on-read.  bench.py
    (a top-level module) shadows the bench/ package name, hence the
    by-path import."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "mor_scaling",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench", "mor_scaling.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    n_convs = int(os.environ.get("STELLAR_BENCH_STEADY_CONVS", "300000"))
    res = mod.run_steady_state(
        spark,
        n_convs=n_convs,
        inc_events=int(os.environ.get("STELLAR_BENCH_STEADY_INC", "200000")),
        inc_epochs=int(os.environ.get("STELLAR_BENCH_STEADY_EPOCHS", "4")),
        modes=(("cow", "cow", None), ("mor", "mor", None)),
    )
    return {
        "cdc_steady_table_events": res["preload_events"],
        "cdc_steady_inc_events": res["inc_events"],
        "cdc_steady_epochs": res["inc_epochs"],
        "cdc_steady_cow_eps": res["mean_events_per_sec"]["cow"],
        "cdc_steady_mor_eps": res["mean_events_per_sec"]["mor"],
        "cdc_steady_mor_over_cow": res["mor_over_cow"],
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # 600k convs ≈ 6.4M events: large enough that the events/sec figure
    # reflects sustained MERGE-apply, not per-run fixed costs (measured:
    # 1.28M events reports ~70k ev/s, 6.4M reports ~435k, 32M ~810k —
    # same engine, amortization only)
    n_convs = int(os.environ.get("STELLAR_BENCH_CONVS", "600000"))
    extra = {}
    if os.path.isdir("/dev/shm"):
        os.makedirs("/dev/shm/stellar_bench_local", exist_ok=True)
        extra["spark.local.dir"] = "/dev/shm/stellar_bench_local"
    spark = get_spark(
        "stellar-bench", cores=cpus, shuffle_partitions=8 * cpus, extra_conf=extra
    )

    queries = bench_queries(spark, sf_dir)
    cdc = bench_cdc(spark, n_convs)
    cdc.update(bench_steady(spark))

    total = round(sum(queries.values()) + cdc["cdc_wall_sec"], 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "bench_total_wall",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        **cdc,
    }
    print(json.dumps(result))
    shutil.rmtree("/dev/shm/stellar_bench_local", ignore_errors=True)


if __name__ == "__main__":
    main()
