"""``queries_sf01``: the 11 headline registry keys on the count path over
a seeded sf0.1 fixture.  Bypasses ``cdc.*`` and ``lake.*`` entirely."""

from __future__ import annotations

import contextlib
import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import fixtures
from common import median, pct, peak_rss_mb
from layers import HEADLINE

ORACLE_THREADS = 3
MIN_PASSES = 2


def _one(spark, qs, name, sf, tracer):
    """Build, then count: (build s, exec s)."""
    if tracer is not None:
        with tracer.span("registry.build") as b:
            t0 = time.perf_counter()
            df = qs[name](spark, sf)
            t1 = time.perf_counter()
        with tracer.span("registry.exec", job_group=True) as x:
            df.count()
            t2 = time.perf_counter()
        b.attrs["query"] = x.attrs["query"] = name
    else:
        t0 = time.perf_counter()
        df = qs[name](spark, sf)
        t1 = time.perf_counter()
        df.count()
        t2 = time.perf_counter()
    return t1 - t0, t2 - t1


def _input_bytes(df) -> int:
    """Bytes of the files the query's plan reads (``DataFrame.inputFiles``)."""
    from urllib.parse import urlparse

    return sum(os.path.getsize(urlparse(f).path) for f in df.inputFiles())


def queries_sf01(spark, work: str, seed: int, seconds: float, tracer) -> dict:
    from stellar_ingest import registry
    from stellar_ingest.verify.oracle import check_key, duckdb_connect

    # the fixture is the benchmark's input, written once outside set-up
    # by a child process, so its memory is not in peak_rss_mb
    sf = os.path.join(work, "sf0.1")
    t0 = time.perf_counter()
    subprocess.run([sys.executable, fixtures.__file__, sf, str(seed)], check=True)
    fixture_s = time.perf_counter() - t0
    n_bytes = sum(os.path.getsize(os.path.join(sf, fn)) for fn in os.listdir(sf))
    qs = registry.queries()
    # set-up is the one untimed warm-up pass: every key built and counted
    # once, cold, by the program alone
    t0 = time.perf_counter()
    for name in HEADLINE:
        qs[name](spark, sf).count()
    warmup_s = time.perf_counter() - t0
    scanned = sum(_input_bytes(qs[name](spark, sf)) for name in HEADLINE)

    per_q: dict[str, list[float]] = {q: [] for q in HEADLINE}
    timed, p = 0.0, 0
    if tracer is not None:
        tracer.enabled = True
    while p < MIN_PASSES or timed < seconds:
        with tracer.span("registry.pass") if tracer is not None else contextlib.nullcontext():
            for name in HEADLINE:
                b, x = _one(spark, qs, name, sf, tracer)
                per_q[name].append(b + x)
                timed += b + x
        p += 1
    if tracer is not None:
        tracer.enabled = False

    rss = peak_rss_mb()
    # every key is checked against its DuckDB oracle after the timed loop
    # (DuckDB's memory is not in peak_rss_mb).  Checking threads overlap
    # one key's Python-side comparison with other keys' Spark jobs.
    con = duckdb_connect(sf)
    oracle = registry.oracle_sql()

    def check(name: str) -> bool:
        cur = con.cursor()
        try:
            res = check_key(spark, cur, sf, name, qs[name], oracle.get(name))
        finally:
            cur.close()
        return bool(res["ok"] and res["mode"] == "oracle")

    with ThreadPoolExecutor(ORACLE_THREADS) as pool:
        checks = dict(zip(HEADLINE, pool.map(check, HEADLINE)))
    con.close()

    # a key that failed its oracle check fails every timed execution
    failed = sum(len(per_q[name]) for name in HEADLINE if not checks[name])
    # Read latency: p50 and p95 over the 11 per-query medians, so one slow
    # execution cannot move which query a percentile lands on.
    reads = [median(per_q[q]) * 1000.0 for q in HEADLINE]
    total = sum(reads) / 1000.0
    return {
        "setup_data_s": warmup_s,
        "setup_reps_s": [warmup_s],
        "setup_layers": {"registry.warmup_ms": warmup_s * 1000.0},
        "attempted": p * len(HEADLINE),
        "failed": failed,
        "peak_rss_mb": rss,
        "e2e": {
            "work_p50_s": total,
            "read_p50_ms": median(reads),
            "read_p95_ms": pct(reads, 95),
            "table_mb": scanned / 2**20,
        },
        "named": {
            "queries_total_s": total,
            "per_query_ms": dict(zip(HEADLINE, reads)),
            "oracle_ok": checks,
            "fixture_write_s": fixture_s,
        },
        "sizes": {"sf": 0.1, "fixture_bytes": n_bytes, "scanned_bytes": scanned,
                  "passes": p, "queries": p * len(HEADLINE)},
    }
