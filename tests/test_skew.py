"""Skew handling (SURVEY.md §5 layer 5, §2 ops 25/73): a whale
conversation holding ~50% of all mutations must (a) trigger the census,
(b) produce identical results salted vs unsalted, (c) ingest correctly
through the salted MERGE path."""

from __future__ import annotations

from pyspark.sql import functions as F

from stellar_ingest.cdc.resolve import lww_winners
from stellar_ingest.cdc.runner import run_increment
from stellar_ingest.gen.changelog import keyspace
from stellar_ingest.lake.core import IceboxTable
from stellar_ingest.lake.read import read_live, scan
from stellar_ingest.schema import CHANGELOG_SCHEMA
from stellar_ingest.verify.diff import states_equal
from stellar_ingest.verify.fingerprint import table_fingerprint

from .helpers import ts


def _whale_ledger_df(spark, n_events: int = 4000):
    """~50% of events hit ONE (conv_id, turn_idx) key."""
    half = n_events // 2
    whale = spark.range(half).select(
        F.col("id").alias("lsn"),
        F.lit(0).cast("int").alias("src_part"),
        F.when(F.col("id") == 0, "I").otherwise("U").alias("op"),
        F.lit("whale").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.format_string("w/v%d", F.col("id")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(1767225600 + F.col("id")).alias("ts"),
    )
    rest = spark.range(half).select(
        (F.col("id") + half).alias("lsn"),
        F.lit(1).cast("int").alias("src_part"),
        F.when(F.pmod("id", F.lit(3)) == 0, "I").otherwise("U").alias("op"),
        F.format_string("conv%04d", F.pmod("id", F.lit(200))).alias("conv_id"),
        F.pmod("id", F.lit(7)).cast("int").alias("turn_idx"),
        F.lit("assistant").alias("role"),
        F.format_string("r/v%d", F.col("id")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(1767225600 + F.col("id")).alias("ts"),
    )
    return whale.unionByName(rest)


def test_salted_equals_unsalted_on_whale(spark):
    df = _whale_ledger_df(spark)
    assert states_equal(lww_winners(df), lww_winners(df, salts=16))


def test_salted_ingest_matches_unsalted(spark, tmp_path):
    df = _whale_ledger_df(spark, 2000)
    ledger = str(tmp_path / "ledger")
    (
        df.withColumn("part", F.col("src_part"))
        .withColumn("seg", (F.col("lsn") / 500).cast("int"))
        .repartition("part", "seg")
        .sortWithinPartitions("lsn")
        .write.partitionBy("part", "seg")
        .parquet(ledger)
    )
    fps = {}
    for mode, salts in [("plain", None), ("salted", 16), ("auto", "auto")]:
        run_increment(
            spark, ledger, str(tmp_path / f"t_{mode}"), str(tmp_path / f"ck_{mode}"),
            max_segments_per_part=1, salts=salts, num_buckets=8,
        )
        fps[mode] = table_fingerprint(scan(spark, IceboxTable(str(tmp_path / f"t_{mode}"))))
    assert fps["plain"] == fps["salted"] == fps["auto"]
    live = read_live(spark, IceboxTable(str(tmp_path / "t_salted")))
    whale_row = live.filter(F.col("conv_id") == "whale").collect()
    assert len(whale_row) == 1 and whale_row[0]["text"] == "w/v999"


def _write_whale_ledger(spark, df, ledger: str):
    (
        df.withColumn("part", F.col("src_part"))
        .withColumn("seg", (F.col("lsn") / 500).cast("int"))
        .repartition("part", "seg")
        .sortWithinPartitions("lsn")
        .write.partitionBy("part", "seg")
        .parquet(ledger)
    )


def test_auto_salt_hint_engages_from_window_observation(spark, tmp_path):
    """salts='auto' decides epoch e+1's salting from epoch e's per-key
    max, observed for free on the LWW window itself — the hint lands in
    the checkpoint after the hot epoch and the salted continuation still
    reconverges with a plain run."""
    from stellar_ingest.cdc import checkpoint as ckpt
    from stellar_ingest.cdc.skew import DEFAULT_SALTS

    df = _whale_ledger_df(spark, 2000)
    ledger = str(tmp_path / "ledger")
    _write_whale_ledger(spark, df, ledger)
    ck = str(tmp_path / "ck")
    run_increment(
        spark, ledger, str(tmp_path / "t"), ck,
        max_segments_per_part=1, max_epochs=1, salts="auto",
        num_buckets=8, salt_threshold=400,
    )
    # epoch 1 saw the whale (500 mutations on one key ≥ 400) → hint armed
    assert ckpt.load(ck)["salt_hint"] == DEFAULT_SALTS
    run_increment(
        spark, ledger, str(tmp_path / "t"), ck,
        max_segments_per_part=1, salts="auto", num_buckets=8, salt_threshold=400,
    )
    run_increment(
        spark, ledger, str(tmp_path / "t_plain"), str(tmp_path / "ck_plain"),
        max_segments_per_part=1, salts=None, num_buckets=8,
    )
    assert table_fingerprint(scan(spark, IceboxTable(str(tmp_path / "t")))) == \
        table_fingerprint(scan(spark, IceboxTable(str(tmp_path / "t_plain"))))


def test_auto_salts_costs_no_extra_job(spark, tmp_path, spark_apply):
    """The round-2 census ran sample().groupBy().collect() as its own
    per-epoch action; the observe-based census must add ZERO jobs —
    salts='auto' and salts=None run the identical job count.  Both runs
    take the Spark data path (``spark_apply``): the census is the Spark
    window's observation, and the plain run's epochs would otherwise be
    applied on the driver, with no job to compare."""
    df = _whale_ledger_df(spark, 2000)
    ledger = str(tmp_path / "ledger")
    _write_whale_ledger(spark, df, ledger)
    sc = spark.sparkContext

    def jobs_for(salts, tag):
        sc.setJobGroup(tag, tag)
        try:
            run_increment(
                spark, ledger, str(tmp_path / f"t_{tag}"), str(tmp_path / f"ck_{tag}"),
                max_segments_per_part=1, salts=salts, num_buckets=8,
            )
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    n_auto = jobs_for("auto", "grp_auto")
    n_plain = jobs_for(None, "grp_plain")
    assert n_auto == n_plain


def test_mor_salted_whale_matches_plain(spark, tmp_path):
    """Skew × merge-on-read composition: a hot conversation inside a
    steady-state MoR update stream must (a) reconverge fingerprint-equal
    under salted, unsalted, and auto salting, (b) resolve the whale to
    its true last writer, and (c) keep the read-side window bounded —
    the resolve window applies only to multi-commit delta buckets and a
    fold removes it entirely."""
    from stellar_ingest.lake.maintain import fold_deltas

    df = _whale_ledger_df(spark, 3000)
    ledger = str(tmp_path / "ledger")
    _write_whale_ledger(spark, df, ledger)
    fps = {}
    for tag, salts in [("plain", None), ("salted", 16), ("auto", "auto")]:
        t_root = str(tmp_path / f"t_{tag}")
        run_increment(
            spark, ledger, t_root, str(tmp_path / f"ck_{tag}"),
            max_segments_per_part=1, salts=salts, num_buckets=8,
            mode="mor", salt_threshold=400,
        )
        t = IceboxTable(t_root)
        assert all(s["operation"] in ("delta", "replace") for s in t.snapshots())
        fps[tag] = table_fingerprint(scan(spark, t))
    assert fps["plain"] == fps["salted"] == fps["auto"]
    t = IceboxTable(str(tmp_path / "t_salted"))
    live = read_live(spark, t)
    whale = live.filter(F.col("conv_id") == "whale").collect()
    assert len(whale) == 1 and whale[0]["text"] == "w/v1499"
    # bounded read window: present while the whale's bucket holds
    # multi-commit deltas, gone after the fold — and the fold does not
    # disturb the resolved state
    plan = scan(spark, t)._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    fold_deltas(spark, t, min_delta_commits=1)
    plan2 = scan(spark, t)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan2
    assert table_fingerprint(scan(spark, t)) == fps["salted"]
