"""Incremental view maintenance: changelog-fed aggregates == recompute.

The law under test: after every engine batch, an IncrementalAggregate
advanced only by changelog deltas is value-identical to a from-scratch
GROUP BY over the live view — including across deletes (retraction),
updates (preimage retract + postimage add), NULL group keys (pre-evolution
rows have language NULL), NULL measures (sum treats NULL as 0), crash/no-op
re-refresh, and a retention-expired interval (recompute fallback).
"""

import os

import pytest
from pyspark.sql import functions as F

from data_warehouse_etl_spark.cdc import CdcEngine, EngineConfig, LedgerSpec, generate_ledger
from data_warehouse_etl_spark.cdc.ivm import IncrementalAggregate
from data_warehouse_etl_spark.lake import state_hash


@pytest.fixture(scope="module")
def eng_ledger(tmp_path_factory, spark):
    tmp = tmp_path_factory.mktemp("ivm")
    ledger = generate_ledger(
        str(tmp / "changes"),
        # evolve mid-stream so NULL group keys (pre-evolution language) and
        # NULL measures (fetch_status) both occur
        LedgerSpec(n_urls=120, n_events=900, n_parts=2, seed=23, evolve_at_seq=450),
    )
    cfg = EngineConfig(
        ledger_path=ledger.path,
        pages_path=str(tmp / "pages"),
        batch_size=300,
        num_buckets=4,
    )
    return CdcEngine(spark, cfg), str(tmp)


def _expected(eng):
    return (
        eng.read_pages()
        .groupBy("language")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.col("fetch_status").cast("double"), F.lit(0.0))).alias(
                "sum_fetch_status"
            ),
            F.min("fetch_status").alias("min_fetch_status"),
            F.max("warc_ts").alias("max_warc_ts"),
        )
    )


def test_ivm_tracks_recompute_per_batch(spark, eng_ledger):
    eng, tmp = eng_ledger
    agg = IncrementalAggregate(
        eng, os.path.join(tmp, "agg"), group_cols=["language"],
        sum_cols=["fetch_status"], min_cols=["fetch_status"],
        max_cols=["warc_ts"], num_buckets=4,
    )
    modes, recomputed = [], 0
    while eng.run_one_batch():
        res = agg.refresh()
        modes.append(res["mode"])
        recomputed += res.get("groups_recomputed", 0)
        assert state_hash(agg.read()) == state_hash(_expected(eng)), res
    # first refresh recomputes, every later one is a changelog delta
    assert modes[0] == "recompute" and set(modes[1:]) == {"delta"}
    # the hybrid path actually fired: updates retract the group's max
    # warc_ts whenever the most-recent row changes, which this ledger does
    assert recomputed > 0

    # idempotence: nothing new -> no-op, state untouched
    h = state_hash(agg.read())
    assert agg.refresh()["mode"] == "noop"
    assert state_hash(agg.read()) == h

    # a second handle on the same path resumes from the committed
    # source_version (crash-and-reopen), not from scratch
    agg2 = IncrementalAggregate(
        eng, os.path.join(tmp, "agg"), group_cols=["language"],
        sum_cols=["fetch_status"], num_buckets=4,
    )
    assert agg2.source_version == eng.pages.manifest.version
    assert agg2.refresh()["mode"] == "noop"

    # compaction drops dead groups + deltas, state identical
    agg.compact()
    assert state_hash(agg.read()) == h


def test_ivm_recompute_fallback_after_expire(spark, eng_ledger, tmp_path):
    eng, _ = eng_ledger
    eng.run(max_batches=1)  # ensure data exists when run in isolation
    agg = IncrementalAggregate(
        eng, str(tmp_path / "agg2"), group_cols=["language"], num_buckets=4
    )
    assert agg.refresh()["mode"] == "recompute"
    assert agg.read().count() > 0
    # append one more engine commit, then expire the snapshot the aggregate
    # is anchored to: the next refresh must detect the missing interval
    # start and fall back to one recompute — and still match
    eng.pages = eng.pages.append_deltas(
        eng.spark.createDataFrame([], eng.pages.schema())  # advance the version
    )
    eng.pages.expire_snapshots(keep_last=1)
    res = agg.refresh()
    assert res["mode"] == "recompute"
    expected = eng.read_pages().groupBy("language").agg(F.count(F.lit(1)).alias("n"))
    assert state_hash(agg.read()) == state_hash(expected)
