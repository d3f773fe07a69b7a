"""The CDC tail is ``CdcEngine.run()`` on a long-lived handle: each call
applies what the ledger manifest has committed since the last one. Also the
stateful sessionizer (``streaming/sessionize.py``)."""

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from data_warehouse_etl_spark.cdc import CdcEngine, EngineConfig, LedgerSpec, generate_ledger
from data_warehouse_etl_spark.lake import LakeTable, state_hash

SPEC = LedgerSpec(n_urls=200, n_events=1500, n_parts=2, seed=11)


def _engine(spark, led, pages: str, **cfg) -> CdcEngine:
    return CdcEngine(
        spark,
        EngineConfig(ledger_path=led.path, pages_path=pages, batch_size=400,
                     num_buckets=4, **cfg),
    )


def _write_file(led, name: str, t: pa.Table) -> dict:
    """Write ``t`` under the ledger's data dir WITHOUT committing it; returns
    the manifest entry a ``register_files`` commit would add."""
    rel = os.path.join("data", name, "f.parquet")
    os.makedirs(os.path.join(led.path, "data", name), exist_ok=True)
    pq.write_table(t, os.path.join(led.path, rel))
    seqs = t.column("seq")
    return {"path": rel, "bucket": 0,
            "schema_version": led.manifest.files[0]["schema_version"],
            "stats": {"min_seq": pc.min(seqs).as_py(), "max_seq": pc.max(seqs).as_py()}}


def _one_row(led, name: str, url: str, seq: int) -> dict:
    """A one-event file sliced from a committed one (so the physical types
    match exactly), re-keyed to ``url`` at ``seq``; it keeps that event's
    part, 1."""
    t = pq.read_table(os.path.join(led.path, led.manifest.files[0]["path"])).slice(0, 1)
    for col, val in (("url", url), ("seq", seq)):
        idx = t.schema.get_field_index(col)
        t = t.set_column(idx, t.schema.field(col), pa.array([val], type=t.schema.field(col).type))
    return _write_file(led, name, t)


def _count(eng: CdcEngine, url: str) -> int:
    return eng.read_pages().filter(f"url = '{url}'").count()


def test_run_tails_ledger_appends_on_same_handle(spark, tmp_path):
    """An engine built before a ``register_files`` append applies the
    appended events on its next run() (the ledger head is reloaded) and
    reaches the one-shot replay's state; an exhausted ledger is a no-op
    that publishes no snapshot."""
    led = generate_ledger(str(tmp_path / "changes"), SPEC)
    tail = _engine(spark, led, str(tmp_path / "tail"))
    assert tail.run() == 4
    # the same 1500 events again, 1500 seqs and seconds later (an even
    # shift keeps part = seq % 2): newer versions of the same urls
    t = pq.read_table(os.path.join(led.path, led.manifest.files[0]["path"]))
    shift = SPEC.n_events
    t = t.set_column(t.schema.get_field_index("seq"), "seq", pc.add(t.column("seq"), shift))
    ts = t.column("warc_ts")
    shifted = pc.add(ts.cast(pa.int64()), shift * 1_000_000).cast(ts.type)
    t = t.set_column(t.schema.get_field_index("warc_ts"), "warc_ts", shifted)
    led.register_files([_write_file(led, "append", t)])

    assert tail.run() == 4
    one_shot = _engine(spark, led, str(tmp_path / "one_shot"))
    one_shot.run()
    assert state_hash(tail.read_pages()) == state_hash(one_shot.read_pages())

    head = tail.pages.manifest.version
    assert tail.run() == 0
    assert LakeTable.load(tail.pages.path).manifest.version == head


def test_stream_ignores_uncommitted_orphan_files(spark, tmp_path):
    """A parquet file under the ledger's data dir that no manifest lists (a
    crashed writer's orphan) is never applied, by a replay or a later tail
    call."""
    led = generate_ledger(str(tmp_path / "changes"), SPEC)
    _one_row(led, "orphan", "http://poison.example/x", 10**12)
    eng = _engine(spark, led, str(tmp_path / "pages_o"))
    eng.run()
    assert eng.run() == 0
    assert _count(eng, "http://poison.example/x") == 0


def test_stream_defers_then_applies_late_committed_files(spark, tmp_path):
    """A file written before its manifest commit lands (the ledger writer's
    write-then-register sequence) is not applied while uncommitted, and the
    first run() after its ``register_files`` applies it."""
    led = generate_ledger(str(tmp_path / "changes"), SPEC)
    late = _one_row(led, "late", "http://late.example/x", 10**12)
    eng = _engine(spark, led, str(tmp_path / "pages_l"))
    eng.run()
    assert _count(eng, "http://late.example/x") == 0

    led.register_files([late])
    # part 1's offset (1499) trails the dense range's end (1500, part 0), so
    # its first slice holds no event: it commits its offsets with zero
    # counts, and the next slice starts at the late file
    assert eng.run() == 2
    assert _count(eng, "http://late.example/x") == 1


def test_run_crosses_seq_gap_wider_than_batch(spark, tmp_path):
    """A committed event far past the dense seq range is applied in one
    slice: each slice starts at the first seq some file's stats cover, so
    the gap is not walked one empty batch_size slice at a time."""
    led = generate_ledger(str(tmp_path / "changes"), SPEC)
    led.register_files([_one_row(led, "gap", "http://gap.example/x", 10**6)])
    eng = _engine(spark, led, str(tmp_path / "pages_g"))
    # four slices cover seqs 1..1500, the fifth starts at 10**6
    assert eng.run() == 5
    assert _count(eng, "http://gap.example/x") == 1


def test_run_refuses_file_committed_behind_offsets(spark, tmp_path):
    """A ledger file committed after the replay passed its seqs would never
    be applied: run() names it in a ValueError and commits nothing."""
    led = generate_ledger(str(tmp_path / "changes"), SPEC)
    eng = _engine(spark, led, str(tmp_path / "pages_b"))
    eng.run()
    head = eng.pages.manifest.version
    led.register_files([_one_row(led, "behind", "http://behind.example/x", 100)])
    with pytest.raises(ValueError, match="data/behind/f.parquet"):
        eng.run()
    assert LakeTable.load(eng.pages.path).manifest.version == head


def _write_events(spark, path: str, rows: list[tuple]) -> None:
    import datetime as dt

    df = spark.createDataFrame(
        [(u, dt.datetime.utcfromtimestamp(ts), s) for u, ts, s in rows],
        "url string, warc_ts timestamp, seq long",
    )
    df.coalesce(1).write.mode("append").parquet(path)


def _run_sessionizer(spark, src: str, ckpt: str, out: str, gap_s: int) -> None:
    from data_warehouse_etl_spark.streaming.sessionize import sessionize_stream

    events = (
        spark.readStream.schema("url string, warc_ts timestamp, seq long")
        .parquet(src)
    )
    q = (
        sessionize_stream(events, gap_s=gap_s, watermark_delay="0 seconds")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionizer (the brief's custom stateful
    streaming operator): in-batch gap closes emit immediately; an open
    session survives the checkpoint across queries and is closed by the
    EVENT-TIME TIMEOUT when a later run's watermark passes its gap —
    bounded-state eviction, not an unbounded keep-everything store."""
    src, ckpt, out = (str(tmp_path / d) for d in ("events", "ckpt", "sessions"))
    base = 1_700_000_000

    # run 1: url A has two events 10s apart then a 100s gap then one more
    # (gap_s=60 => first session closes IN-batch); url B stays open.
    _write_events(spark, src, [
        ("A", base + 0, 1), ("A", base + 10, 2), ("A", base + 120, 3),
        ("B", base + 115, 4),
    ])
    _run_sessionizer(spark, src, ckpt, out, gap_s=60)
    got1 = {
        (r["url"], r["n_events"]): (r["session_start"], r["session_end"])
        for r in spark.read.parquet(out).collect()
    }
    assert ("A", 2) in got1  # the in-batch close
    assert not any(u == "B" for u, _ in got1)  # B is open state, not output

    # run 2 (same checkpoint): far-future events advance the watermark past
    # A's and B's open sessions + gap => both close via state timeout.
    _write_events(spark, src, [("C", base + 10_000, 5)])
    _run_sessionizer(spark, src, ckpt, out, gap_s=60)
    got2 = {(r["url"], r["n_events"]) for r in spark.read.parquet(out).collect()}
    assert ("A", 1) in got2 and ("B", 1) in got2
    # C is the only still-open session: emitted nowhere
    assert not any(u == "C" for u, _ in got2)

    # slicing invariance: the same five events in ONE run + a fresh
    # checkpoint reach the same closed-session set
    src2, ckpt2, out2 = (str(tmp_path / d) for d in ("e2", "c2", "s2"))
    _write_events(spark, src2, [
        ("A", base + 0, 1), ("A", base + 10, 2), ("A", base + 120, 3),
        ("B", base + 115, 4), ("C", base + 10_000, 5),
    ])
    _run_sessionizer(spark, src2, ckpt2, out2, gap_s=60)
    got_one = {(r["url"], r["n_events"]) for r in spark.read.parquet(out2).collect()}
    assert got_one == got2


def test_stateful_sessionize_drops_pre_watermark_events(spark, tmp_path):
    """Late-data contract of the stateful operator: Spark drops input rows
    older than the watermark BEFORE they reach applyInPandasWithState (the
    standard stateful-op gate), so a too-late event can neither resurrect
    closed state nor grow the store — and the query must not fail. With
    watermark_delay=0, run 1 advances the watermark to base+1000; run 2's
    base+100 event for url Y is pre-watermark and must vanish entirely
    (no Y session ever emitted, no error); X's open session still closes
    by its own timeout on the next advance."""
    src, ckpt, out = (str(tmp_path / d) for d in ("events", "ckpt", "sessions"))
    base = 1_700_000_000

    _write_events(spark, src, [("X", base + 1000, 1)])
    _run_sessionizer(spark, src, ckpt, out, gap_s=60)
    _write_events(spark, src, [("Y", base + 100, 2)])
    _run_sessionizer(spark, src, ckpt, out, gap_s=60)  # must not raise
    _write_events(spark, src, [("X", base + 2000, 3)])
    _run_sessionizer(spark, src, ckpt, out, gap_s=60)

    got = {(r["url"], r["n_events"]) for r in spark.read.parquet(out).collect()}
    assert ("X", 1) in got  # X's first session closed via timeout
    assert not any(u == "Y" for u, _ in got)  # late event was gated out


def test_sessionize_stream_equals_batch_sessionization(spark, tmp_path):
    """Streaming-batch equivalence law for the stateful sessionizer (the
    same law the engine pins for LWW replay): on a seeded random feed, the
    streaming operator's closed-session set — once a far-future sentinel
    advances the watermark past every real session + gap — must equal
    batch gap-sessionization (lag/cumsum over the same events), for BOTH a
    one-run and a two-run (checkpoint-resumed) slicing."""
    import random

    rng = random.Random(20260818)
    base = 1_700_000_000
    rows, seq = [], 0
    for url in ("u1", "u2", "u3"):
        t = base + rng.randrange(0, 30)
        for _ in range(30):
            seq += 1
            rows.append((url, t, seq))
            # mostly in-session gaps, occasionally a session break
            t += rng.choice([5, 10, 20, 200, 500]) if rng.random() < 0.3 else rng.randrange(1, 50)
    sentinel = [("__wm__", base + 1_000_000, seq + 1)]

    # batch oracle: gap>60s split per url via lag + running session count
    import datetime as dt
    batch_df = spark.createDataFrame(
        [(u, dt.datetime.utcfromtimestamp(ts), s) for u, ts, s in rows],
        "url string, warc_ts timestamp, seq long",
    )
    batch_df.createOrReplaceTempView("sess_events_v")
    want = {
        (r["url"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("""
            WITH flagged AS (
                SELECT url, warc_ts,
                       CASE WHEN unix_timestamp(warc_ts)
                                 - unix_timestamp(lag(warc_ts) OVER
                                   (PARTITION BY url ORDER BY warc_ts, seq)) > 60
                            OR lag(warc_ts) OVER
                               (PARTITION BY url ORDER BY warc_ts, seq) IS NULL
                            THEN 1 ELSE 0 END AS new_sess
                FROM sess_events_v),
            numbered AS (
                SELECT url, warc_ts,
                       SUM(new_sess) OVER (PARTITION BY url ORDER BY warc_ts
                                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM flagged)
            SELECT url, MIN(warc_ts) AS session_start, MAX(warc_ts) AS session_end,
                   COUNT(*) AS n_events
            FROM numbered GROUP BY url, sid
        """).collect()
    }

    def run_streaming(slices: list[list[tuple]], tag: str) -> set:
        src, ckpt, out = (str(tmp_path / f"{d}_{tag}") for d in ("ev", "ck", "out"))
        for chunk in slices:
            _write_events(spark, src, chunk)
            _run_sessionizer(spark, src, ckpt, out, gap_s=60)
        return {
            (r["url"], r["session_start"], r["session_end"], r["n_events"])
            for r in spark.read.parquet(out).collect()
            if r["url"] != "__wm__"
        }

    one = run_streaming([rows + sentinel], "one")
    # slice by TIME, not arrival-list order: run 2's watermark starts at
    # run 1's max event time, so a run-2 event older than that is LATE and
    # correctly gated (pinned by the drops test above) — a real tail
    # delivers in rough time order, which time-slicing models
    rows_t = sorted(rows, key=lambda r: (r[1], r[2]))
    mid = len(rows_t) // 2
    two = run_streaming([rows_t[:mid], rows_t[mid:] + sentinel], "two")
    assert one == want
    assert two == want


def test_stream_tail_with_retention_and_ivm(spark, tmp_path):
    """A tail of run(max_batches=1) calls under snapshot retention reaches
    the one-shot replay's state with the snapshot count bounded, and a
    changelog-fed rollup whose anchor snapshot was expired meanwhile
    refreshes by recompute to the from-scratch aggregate."""
    from pyspark.sql import functions as F

    from data_warehouse_etl_spark.cdc.ivm import IncrementalAggregate

    led = generate_ledger(str(tmp_path / "changes"), SPEC)
    batch = _engine(spark, led, str(tmp_path / "pages_batch"))
    batch.run()
    h_batch = state_hash(batch.read_pages())

    eng = _engine(spark, led, str(tmp_path / "pages_tail"), retain_snapshots=3)
    assert eng.run(max_batches=1) == 1
    agg = IncrementalAggregate(
        eng, str(tmp_path / "agg"), group_cols=["lang"], num_buckets=4
    )
    agg.refresh()
    while eng.run(max_batches=1):
        assert len(eng.pages.snapshots()) <= 3
    assert state_hash(eng.read_pages()) == h_batch

    assert agg.refresh()["mode"] == "recompute"
    expected = eng.read_pages().groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    assert state_hash(agg.read()) == state_hash(expected)
