"""DuckDB oracle mirror in pytest (SURVEY.md §5 layer 2) — catches
query/oracle drift before the driver's CORRECTNESS gate does.

Runs at sf0.001 for speed; ``tools/oracle_check.py`` sweeps any sf.
A representative key per operator family keeps the suite fast; the
standalone sweep covers all keys.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from stellar_ingest.verify.oracle import check_key, duckdb_connect

SF = "/root/testdata/sf0.001"

FAMILY_KEYS = [
    "scan_parquet",
    "project",
    "derive",
    "join_broadcast",
    "join_large",
    "join_asof",
    "agg_basic",
    "agg_rollup",
    "agg_fingerprint",
    "win_rank",
    "win_range_frame",
    "win_session",
    "fn_string",
    "fn_datetime",
    "fn_array",
    "fn_variant",
    "fn_hash",
    "transcript_repair",
    "udf_scalar",
    "udaf_grouped",
    "udtf_expand",
    "text_quality",
    "text_langid",
    "dedup_exact",
    "dedup_minhash",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_lsh_sig",
    "tpch_q3",
    "tpch_q18",
    # round-4 additions
    "tpch_q1",
    "tpch_q19",
    "dedup_clusters",
]


@pytest.fixture(scope="module")
def harness():
    return entry.queries(), entry.oracle_sql()


@pytest.fixture(scope="module")
def con():
    return duckdb_connect(SF)


def test_every_query_key_has_callable(harness):
    qs, oracles = harness
    assert len(qs) >= 45
    unmatched = set(oracles) - set(qs)
    assert not unmatched, f"oracle keys without queries: {unmatched}"


@pytest.mark.parametrize("key", FAMILY_KEYS)
def test_oracle_parity(spark, harness, con, key):
    qs, oracles = harness
    res = check_key(spark, con, SF, key, qs[key], oracles.get(key))
    assert res["ok"], res


@pytest.mark.parametrize("key", ["dedup_clusters", "ann_ivf_topk"])
def test_checkpointing_builders_are_not_memoized(spark, harness, key):
    """Both builders localCheckpoint() while they build, so a memoized
    frame would serve the materialized result on every later call
    instead of recomputing it from the fixture."""
    qs, _ = harness
    assert qs[key](spark, SF) is not qs[key](spark, SF)


def test_memo_insert_evicts_other_sessions(spark, harness):
    """A plan memoized under a stopped session's applicationId is
    dropped when the current session reads, in both memos (the
    base-table one of ops/relational.py::tbl and the plan one of the
    registry)."""
    from stellar_ingest import registry
    from stellar_ingest.ops import relational

    qs, _ = harness
    app = spark.sparkContext.applicationId
    stale_tbl = f"{SF}/lineitem.parquet"
    stale_plan = (SF, "agg_basic")
    relational._TBL_CACHE.get(stale_tbl, object, scope="app-stopped")
    registry._PLAN_CACHE.get(stale_plan, object, scope="app-stopped")
    df = relational.tbl(spark, SF, "nation")
    plan = qs["project"](spark, SF)
    assert stale_tbl not in relational._TBL_CACHE
    assert stale_plan not in registry._PLAN_CACHE

    def unmemoized():
        raise AssertionError("live entry missing")

    live_tbl = relational._TBL_CACHE.get(f"{SF}/nation.parquet", unmemoized, scope=app)
    live_plan = registry._PLAN_CACHE.get((SF, "project"), unmemoized, scope=app)
    assert live_tbl is df
    assert live_plan is plan
