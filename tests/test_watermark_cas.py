"""Watermark late-data accounting + concurrent-commit CAS detection."""

import os

import pytest

from data_warehouse_etl_spark.cdc import CdcEngine, EngineConfig, LedgerSpec, generate_ledger
from data_warehouse_etl_spark.lake import LakeTable


def test_watermark_monotone_filters_and_resumes_identically(spark, tmp_path):
    """The cutoff is the COMMITTED event-time high-water-mark (Structured
    Streaming's law) — no extra per-batch pass. The first batch is unfiltered; later batches drop late rows; a cold
    resume mid-replay replays the identical cutoffs (the mark is persisted
    in the manifest) and reaches the same state as one continuous run."""
    from data_warehouse_etl_spark.lake import state_hash

    led = generate_ledger(
        str(tmp_path / "changes"),
        LedgerSpec(n_urls=100, n_events=800, n_parts=2, seed=3, out_of_order_rate=0.5),
    )
    cfg = dict(ledger_path=led.path, batch_size=200, num_buckets=2,
               watermark_delay_s=60)
    cont = CdcEngine(
        spark, EngineConfig(pages_path=str(tmp_path / "cont"), **cfg)
    )
    cont.run()
    m = cont.metrics.read(spark).toPandas()
    assert int(m["events_in"].sum()) < 800  # later batches filtered late rows
    unfiltered = CdcEngine(
        spark,
        EngineConfig(pages_path=str(tmp_path / "nowm"), **{**cfg, "watermark_delay_s": None}),
    )
    unfiltered.run()
    assert cont.read_pages().count() <= unfiltered.read_pages().count()

    # cold resume after 2 of 4 batches: new engine handle, same cutoff law
    split = CdcEngine(
        spark, EngineConfig(pages_path=str(tmp_path / "split"), **cfg)
    )
    split.run(max_batches=2)
    split2 = CdcEngine(
        spark, EngineConfig(pages_path=str(tmp_path / "split"), **cfg)
    )
    split2.run()
    assert state_hash(split2.read_pages()) == state_hash(cont.read_pages())


def test_concurrent_commit_cas(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), [("url", "string"), ("v", "int")],
                         bucket_col="url", num_buckets=2)
    df = spark.createDataFrame([("a", 1)], "url string, v int")
    t.append(df)
    # a second handle commits first; the stale handle must refuse (CAS)
    other = LakeTable.load(t.path)
    other.append(spark.createDataFrame([("b", 2)], "url string, v int"))
    with pytest.raises(RuntimeError, match="concurrent commit"):
        t.append(spark.createDataFrame([("c", 3)], "url string, v int"))
    # refresh + retry succeeds
    t = t.refresh()
    t.append(spark.createDataFrame([("c", 3)], "url string, v int"))
    assert {r["url"] for r in t.read(spark).collect()} == {"a", "b", "c"}
