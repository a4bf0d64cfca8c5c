"""``steady_mor_serve``: sustained merge-on-read apply beside point reads.

Set-up generates a seeded ``gen_events`` ledger (duplicates, hot keys, ts
jitter, schema-evolution eras), drains it into an empty table with one
``run_increment`` call (the backfill, twice), and writes the seeded
``gen_update_stream`` batches the loop will apply.  The timed loop then
runs one ``run_increment(max_epochs=1)`` epoch per batch in
``mode="auto"`` (merge-on-read plus the in-loop fold), each followed by
a closed-loop burst of ``lookup_fast`` point reads from one client.

Correctness is checked outside every timed region: the final live state
must equal ``cdc.resolve`` applied directly to the generated events
(``verify.diff.states_equal``), and every lookup must equal that key's
rows in ``cdc.resolve`` of the events applied before it.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from common import median, pct, peak_rss_mb, snapshot_bytes

PARTS = 4
#: the library's default bucket count; the auto fold then takes
#: num_buckets/8 = 2 buckets per epoch once a bucket holds 8 delta commits
NUM_BUCKETS = 16
N_CONVS = 1_500
BATCH = 2_500
#: the fold first runs in the 8th epoch, when each bucket holds 8 delta
#: commits, so 9 of 16 epochs fold and their median is a folding epoch
MIN_EPOCHS = 16
MAX_EPOCHS = 24
#: 208 lookups, so their 95th percentile has 10 samples beyond it
LOOKUPS = 13
SETUPS = 2
#: first update lsn, far above every preload lsn (as bench/steady_state.py)
INC_LSN_FACTOR = 64


# -- inputs --------------------------------------------------------------------


def era_events(events, n_convs: int):
    """The generated events as the ledger stores them: columns added by a
    later schema era read back as NULL in earlier segments."""
    from pyspark.sql import functions as F

    from stellar_ingest.gen.changelog import keyspace

    ks = keyspace(n_convs)
    return (
        events.drop("seg_shift")
        .withColumn("tool", F.when(F.col("lsn") >= ks, F.col("tool")))
        .withColumn("tool_version", F.when(F.col("lsn") >= 2 * ks, F.col("tool_version")))
    )


def expected_live(events):
    """``cdc.resolve`` applied directly to the events, as ``read_live``
    shows it: tombstones dropped, meta columns dropped."""
    from pyspark.sql import functions as F

    from stellar_ingest.cdc.resolve import resolve
    from stellar_ingest.lake.read import META_COLS

    return resolve(events).filter(F.col("_op") != "D").drop(*META_COLS)


def updates(spark, seed: int, epochs: int):
    """``epochs`` batches of BATCH uniform updates over the preload keys,
    with ``__epoch`` = the batch each belongs to."""
    from pyspark.sql import functions as F

    from stellar_ingest.gen.changelog import gen_update_stream, keyspace

    base = INC_LSN_FACTOR * keyspace(N_CONVS)
    upd = gen_update_stream(
        spark,
        N_CONVS,
        n_events=epochs * BATCH,
        lsn_base=base,
        parts=PARTS,
        seed=seed + 1,
        preload_seed=seed,
    )
    return upd.withColumn("__epoch", ((F.col("lsn") - base) / BATCH).cast("int"))


def write_updates(spark, ledger: str, seed: int) -> None:
    """One segment per source partition per batch (segment 1000 + k holds
    batch k), written before timing: producing the ledger is the
    producer's work, not the engine's."""
    from pyspark.sql import functions as F

    (
        updates(spark, seed, MAX_EPOCHS)
        .withColumn("part", F.col("src_part"))
        .withColumn("seg", F.col("__epoch") + 1000)
        .drop("__epoch")
        .repartition("part", "seg")
        .sortWithinPartitions("part", "seg", "lsn")
        .write.partitionBy("part", "seg")
        .mode("append")
        .parquet(ledger)
    )


# -- correctness -----------------------------------------------------------------


def _canon(v):
    import datetime

    import pandas as pd

    if v is None or v is pd.NaT or (isinstance(v, float) and v != v):
        return None
    if isinstance(v, (datetime.datetime, pd.Timestamp)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is None:
            ts = ts.tz_localize("UTC")
        return ts.value // 1000
    if hasattr(v, "item"):
        return v.item()
    return v


def _rows(pdf, cols) -> list[tuple]:
    return sorted(tuple(_canon(r[c]) for c in cols) for r in pdf.to_dict("records"))


def check_lookups(spark, events, bursts) -> int:
    """Number of lookups whose rows differ from ``cdc.resolve`` of the
    events applied before them.  ``events`` carries ``__epoch`` (-1 for
    the backfill); ``bursts`` is [(last applied epoch, [(key, rows)])].
    One Spark job: keys are qualified by their burst, so one LWW window
    resolves every burst."""
    import pandas as pd
    from pyspark.sql import functions as F

    pairs = spark.createDataFrame(
        pd.DataFrame(
            [(i, upto, k) for i, (upto, looked) in enumerate(bursts) for k, _ in looked],
            columns=["__burst", "__upto", "conv_id"],
        ).drop_duplicates()
    )
    applied = (
        events.join(F.broadcast(pairs), "conv_id")
        .filter(F.col("__epoch") <= F.col("__upto"))
        .withColumn("conv_id", F.concat_ws("|", F.col("__burst").cast("string"), F.col("conv_id")))
        .drop("__epoch", "__upto", "__burst")
    )
    pdf = expected_live(applied).toPandas()
    cols = sorted(pdf.columns)
    want: dict = {}
    if len(pdf):
        split = pdf["conv_id"].str.split("|", n=1, expand=True)
        pdf["conv_id"] = split[1]
        for (b, key), g in pdf.groupby([split[0].astype(int), "conv_id"]):
            want[(b, key)] = _rows(g, cols)
    bad = 0
    for i, (_upto, looked) in enumerate(bursts):
        for key, got in looked:
            if len(got) and sorted(got.columns) != cols:
                bad += 1
            elif (_rows(got, cols) if len(got) else []) != want.get((i, key), []):
                bad += 1
    return bad


# -- timed pieces ----------------------------------------------------------------


def _timed(tracer, name: str | None, fn):
    """Seconds ``fn`` took; a root span named ``name`` when traced."""
    if name is None:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0, None
    with tracer.span(name, job_group=True) as sp:
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
    return dt, sp


def _lookup_burst(spark, table, keys, tracer, lat_ms: list):
    """Closed loop, one client: each lookup is sent when the previous one
    returns.  Returns [(key, rows)] for the correctness check."""
    from stellar_ingest.lake.read import lookup_fast

    out = []
    for key in keys:
        if tracer is not None:
            with tracer.span("lake.read.lookup") as sp:
                t0 = time.perf_counter()
                rows = lookup_fast(spark, table, key)
                dt = time.perf_counter() - t0
            sp.attrs["key"] = key
        else:
            t0 = time.perf_counter()
            rows = lookup_fast(spark, table, key)
            dt = time.perf_counter() - t0
        lat_ms.append(dt * 1000.0)
        out.append((key, rows))
    return out


def _note_lookups(tracer, table) -> None:
    """Candidate files per traced lookup, from public metadata: files of
    the key's bucket whose manifest key bounds admit the key."""
    from stellar_ingest.lake.xxh import bucket_of

    meta = table.metadata()
    col = meta["bucket_column"]
    ktype = next(f["type"] for f in table.schema_fields() if f["name"] == col)
    n_files = len(table.files())
    for sp in tracer.spans:
        if sp.name != "lake.read.lookup" or "candidates" in sp.attrs:
            continue
        key = sp.attrs["key"]
        sp.attrs["candidates"] = sum(
            1
            for e in table.files(buckets=[bucket_of(key, meta["num_buckets"], ktype)])
            if e.get("key_min") is None or e["key_min"] <= key <= e["key_max"]
        )
        sp.attrs["table_files"] = n_files


# -- the workload ----------------------------------------------------------------


def steady_mor_serve(spark, work: str, seed: int, seconds: float, tracer) -> dict:
    from stellar_ingest.cdc.runner import run_increment
    from stellar_ingest.gen.changelog import gen_events, keyspace, write_ledger
    from stellar_ingest.lake.core import IceboxTable
    from stellar_ingest.lake.maintain import delta_counts
    from stellar_ingest.lake.read import read_live
    from stellar_ingest.verify.diff import states_equal
    from stellar_ingest.verify.fingerprint import table_fingerprint

    # set-up: the ledger is written once; the backfill drain is repeated,
    # each time from a copy at a new path (so it lists segments its
    # process has never listed) into an empty table; then the update
    # batches are appended to the last copy.  In a traced run each
    # backfill is a span of its own, so the first (cold) and second
    # (warm) drains of the process can be compared by layer.
    t0 = time.perf_counter()
    events = gen_events(spark, N_CONVS, parts=PARTS, seed=seed)
    source = os.path.join(work, "ledger")
    write_ledger(events, source, n_convs=N_CONVS, seg_span=2 * keyspace(N_CONVS))
    ledger_s = time.perf_counter() - t0
    setup, drains = [], []
    for r in range(SETUPS):
        ledger = os.path.join(work, f"s{r}-ledger")
        root, ck = os.path.join(work, f"s{r}-table"), os.path.join(work, f"s{r}-ck")
        t0 = time.perf_counter()
        shutil.copytree(source, ledger)
        if tracer is not None:
            tracer.enabled = True
        dt, _sp = _timed(
            tracer,
            "cdc.runner.backfill" if tracer is not None else None,
            lambda: run_increment(
                spark, ledger, root, ck, max_segments_per_part=None, num_buckets=NUM_BUCKETS
            ),
        )
        if tracer is not None:
            tracer.enabled = False
        drains.append(dt)
        setup.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    write_updates(spark, ledger, seed)
    updates_s = time.perf_counter() - t0
    table = IceboxTable(root)
    rng = random.Random(seed)

    walls, lat, live_mb, bursts = [], [], [], []
    timed, e = 0.0, 0
    while e < MAX_EPOCHS and (e < MIN_EPOCHS or timed < seconds):
        if tracer is not None:
            tracer.enabled = True
        t0 = time.perf_counter()
        dt, sp = _timed(
            tracer,
            "cdc.runner.epoch" if tracer is not None else None,
            lambda: run_increment(
                spark, ledger, root, ck,
                max_segments_per_part=1, max_epochs=1, num_buckets=NUM_BUCKETS, mode="auto",
            ),
        )
        keys = [f"conv{rng.randrange(N_CONVS):06d}" for _ in range(LOOKUPS)]
        looked = _lookup_burst(spark, table, keys, tracer, lat)
        timed += time.perf_counter() - t0
        if tracer is not None:
            tracer.enabled = False
            sp.attrs["depth"] = max((c["commits"] for c in delta_counts(table).values()), default=0)
            _note_lookups(tracer, table)
        walls.append(dt)
        if e < MIN_EPOCHS:
            live_mb.append(snapshot_bytes(table) / 2**20)
        bursts.append((e, looked))
        e += 1

    # the program's peak; the checks below are the benchmark's work
    rss = peak_rss_mb()
    # correctness, outside the timed region; each input is computed once
    from pyspark.sql import functions as F

    applied = (
        era_events(events, N_CONVS)
        .withColumn("__epoch", F.lit(-1))
        .unionByName(updates(spark, seed, e))
        .cache()
    )
    failed = check_lookups(spark, applied, bursts)
    final = read_live(spark, table).cache()
    if not states_equal(final, expected_live(applied.drop("__epoch")).cache()):
        failed += 1
    fp = table_fingerprint(final)
    n_pre = int(applied.filter(F.col("__epoch") < 0).count())

    return {
        "setup_data_s": ledger_s + median(setup) + updates_s,
        "setup_reps_s": setup,
        "setup_layers": {"gen.ledger_ms": (ledger_s + updates_s) * 1000.0},
        "attempted": e + len(lat),
        "failed": failed,
        "peak_rss_mb": rss,
        "e2e": {
            "work_p50_s": median(walls),
            "read_p50_ms": median(lat),
            "read_p95_ms": pct(lat, 95),
            "table_mb": median(live_mb),
        },
        "named": {
            "epoch_events_per_s": BATCH / median(walls),
            "epoch_p50_s": median(walls),
            "lookup_p50_ms": median(lat),
            "lookup_p95_ms": pct(lat, 95),
            "live_table_mb": median(live_mb),
            "ledger_write_s": ledger_s,
            "backfill_drain_s": drains,
            "updates_write_s": updates_s,
            "backfill_events_per_s": [n_pre / d for d in drains],
            "epochs": e,
            "fingerprint": fp,
        },
        "sizes": {"n_convs": N_CONVS, "preload_events": n_pre, "batch": BATCH, "parts": PARTS,
                  "num_buckets": NUM_BUCKETS, "epochs": e, "lookups": len(lat)},
        "last_table": table,
    }
