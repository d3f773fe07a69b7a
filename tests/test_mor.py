"""Merge-on-read guarantees: bounded per-batch writes, oracle parity,
compaction invariance, stale-handle refusal, crash recovery.

The round-1 scale ceiling was copy-on-write: a batch touching all buckets
rewrote the whole table, making replay cost quadratic in table size
(VERDICT r1 scale-killer #1). MoR commits per-bucket delta files instead —
these tests pin the contract:

- per-batch written bytes are O(batch), not O(table)  (bounded-write law)
- replays reach the pandas oracle's final state at any batch slicing
- compaction is a pure layout change (state_hash invariant to cadence)
- a committer whose base is no longer the head gets an error instead of
  silently clobbering the winner's manifest
- a crash at any commit step resumes to the uninterrupted state
"""

import os

import pandas as pd
import pytest

from data_warehouse_etl_spark.cdc import CdcEngine, EngineConfig, LedgerSpec, generate_ledger
from data_warehouse_etl_spark.lake import LakeTable, state_hash
from test_cdc_engine import _engine_final_state, _oracle_final_state

SPEC = LedgerSpec(n_urls=400, n_events=6000, n_parts=4, seed=21, evolve_at_seq=3000)


def _ledger(tmp_lake):
    return generate_ledger(os.path.join(tmp_lake, "changes"), SPEC)


def _cfg(led, tmp_lake, name, **kw):
    return EngineConfig(
        ledger_path=led.path,
        pages_path=os.path.join(tmp_lake, name),
        batch_size=kw.pop("batch_size", 750),
        num_buckets=8,
        **kw,
    )


def _commit_bytes_per_batch(spark, eng: CdcEngine) -> list[int]:
    """Run batch-by-batch, returning bytes of data files added per commit."""
    out = []
    while True:
        before = {f["path"] for f in eng.pages.manifest.files}
        if not eng.run_one_batch():
            break
        added = [f for f in eng.pages.manifest.files if f["path"] not in before]
        out.append(
            sum(os.path.getsize(os.path.join(eng.pages.path, f["path"])) for f in added)
        )
    eng.flush_mirrors()
    return out


def test_mor_bounded_write_bytes(spark, tmp_lake):
    """The bounded-write law: with uniform urls every batch touches every
    bucket, yet MoR writes only the batch's survivors — per-batch bytes
    stay flat as the table grows.

    The table must dwarf a batch for the effect to be visible: 3000 urls,
    500-event batches → by the last batch the table holds ~5x a batch's
    rows, which a rewrite-the-buckets apply would carry every batch.
    """
    spec = LedgerSpec(n_urls=3000, n_events=4500, n_parts=4, seed=33, evolve_at_seq=None)
    led = generate_ledger(os.path.join(tmp_lake, "changes_bw"), spec)
    mor = CdcEngine(spark, _cfg(led, tmp_lake, "p_mor", batch_size=500))
    b_mor = _commit_bytes_per_batch(spark, mor)
    assert len(b_mor) >= 6

    # MoR stays flat: last batch costs about the same as the second
    # (first batch is all-inserts and can be bigger than steady state)
    assert b_mor[-1] <= 2.0 * b_mor[1], b_mor
    # and the state is the oracle's
    pd.testing.assert_frame_equal(
        _engine_final_state(spark, mor), _oracle_final_state(led), check_dtype=False
    )


def test_mor_slicings_match_oracle(spark, tmp_lake):
    led = _ledger(tmp_lake)
    want = _oracle_final_state(led)
    hashes = []
    for name, bs in (("s1", 500), ("s2", 6000), ("s3", 900)):
        eng = CdcEngine(spark, _cfg(led, tmp_lake, name, batch_size=bs))
        eng.run()
        hashes.append(state_hash(eng.read_pages()))
        pd.testing.assert_frame_equal(
            _engine_final_state(spark, eng), want, check_dtype=False
        )
    assert len(set(hashes)) == 1, hashes


def test_compaction_cadence_invariance(spark, tmp_lake):
    """compact_every_batches is a pure layout knob: any cadence (including
    never) yields the identical resolved state; compaction actually removes
    delta files and shrinks the live file count."""
    led = _ledger(tmp_lake)
    never = CdcEngine(spark, _cfg(led, tmp_lake, "c0"))
    never.run()
    every2 = CdcEngine(spark, _cfg(led, tmp_lake, "c2", compact_every_batches=2))
    every2.run()
    h0, h2 = state_hash(never.read_pages()), state_hash(every2.read_pages())
    assert h0 == h2

    assert never.pages.manifest.has_deltas
    n_before = len(never.pages.manifest.files)
    never.compact()
    assert not never.pages.manifest.has_deltas
    assert len(never.pages.manifest.files) < n_before
    assert state_hash(never.read_pages()) == h0  # layout-only change

    # tombstones survive compaction: a deleted url stays dead
    raw = never.pages.read(spark)
    assert raw.filter("_deleted").count() > 0, "expected tombstones in base files"


def test_mor_resume_equals_oneshot(spark, tmp_lake):
    led = _ledger(tmp_lake)
    a = CdcEngine(spark, _cfg(led, tmp_lake, "r1"))
    a.run(max_batches=3)
    a2 = CdcEngine(spark, _cfg(led, tmp_lake, "r1"))  # cold resume
    a2.run()
    assert a2.run() == 0  # exhausted ledger is a no-op
    b = CdcEngine(spark, _cfg(led, tmp_lake, "r2"))
    b.run()
    assert state_hash(a2.read_pages()) == state_hash(b.read_pages())


def test_stale_handle_data_commit_is_refused(spark, tmp_lake):
    path = os.path.join(tmp_lake, "t")
    t = LakeTable.create(path, [("k", "string"), ("v", "bigint")], bucket_col="k")
    df = spark.createDataFrame([("a", 1)], "k string, v bigint")

    # a second handle loaded at the same version loses the race
    stale = LakeTable.load(path)
    t.append(df)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        stale.append(df)
    assert LakeTable.load(path).manifest.version == t.manifest.version == 1


def test_mor_metrics_account_for_every_event(spark, tmp_lake):
    """Lineage conservation in MoR mode: events_in = upserts(updates) +
    deletes + dedup_dropped per (batch, part)."""
    led = _ledger(tmp_lake)
    eng = CdcEngine(spark, _cfg(led, tmp_lake, "m1"))
    eng.run()
    rows = eng.metrics.read(spark).collect()
    assert rows
    for r in rows:
        assert r["events_in"] == r["updates"] + r["deletes"] + r["dedup_dropped"], r
        assert r["inserts"] == 0 and r["late_dropped"] == 0  # structurally MoR


def test_default_compaction_bounds_read_amplification(spark, tmp_lake):
    """The default cadence (compact_every_batches=32) must keep deltas-per-
    bucket bounded on a long replay — a production tail that never calls
    compact() must not accumulate unbounded read amplification — with
    state_hash invariant to the cadence (round-3, VERDICT r2 item 4)."""
    led = _ledger(tmp_lake)
    # 6000 events / batch_size 150 -> 40 batches; default cadence compacts
    # at batch 32, so the metric must peak near 32 then drop
    eng = CdcEngine(spark, _cfg(led, tmp_lake, "amp", batch_size=150))
    assert eng.cfg.compact_every_batches == 32  # the default under test
    eng.run()
    m = eng.metrics.read(spark).toPandas()
    peak = int(m["max_deltas_per_bucket"].max())
    assert 0 < peak <= 33
    assert eng.read_amplification() < 32  # compaction actually ran

    ref = CdcEngine(
        spark, _cfg(led, tmp_lake, "amp0", batch_size=150, compact_every_batches=0)
    )
    ref.run()
    assert state_hash(eng.read_pages()) == state_hash(ref.read_pages())


def test_long_replay_compaction_cadence_bound(spark, tmp_lake):
    """Round-4 (VERDICT r3 item 6): a long replay (>= 64 batches) at a fixed
    compaction cadence must keep the per-commit max_deltas_per_bucket metric
    within the cadence bound at EVERY batch (a production tail that never
    calls compact() must not accumulate unbounded read amplification), and
    reach state byte-identical to a different cadence."""
    from pyspark.sql import functions as F

    led = _ledger(tmp_lake)
    cadence = 8
    eng = CdcEngine(
        spark,
        _cfg(led, tmp_lake, "long8", batch_size=90, compact_every_batches=cadence),
    )
    n = eng.run()
    assert n >= 64, f"only {n} batches — not a long replay"
    amp = (
        eng.metrics.read(spark)
        .agg(F.max("max_deltas_per_bucket").alias("m"))
        .collect()[0]["m"]
    )
    assert amp is not None and amp <= cadence, f"read amp {amp} > cadence {cadence}"
    h8 = state_hash(eng.read_pages())

    other = CdcEngine(
        spark,
        _cfg(led, tmp_lake, "long16", batch_size=90, compact_every_batches=16),
    )
    other.run()
    assert state_hash(other.read_pages()) == h8  # cadence is a pure layout knob


def test_post_shuffle_extract_state_identical(spark, tmp_lake, monkeypatch):
    """The adaptive extract placement (round 6) must be value-invariant:
    forcing the post-exchange path (threshold 0) and forcing the
    pre-exchange path (threshold inf) reach byte-identical state —
    including across the schema-evolution boundary — and both produce
    non-null text for live rows. Unit-scale batches otherwise always take
    the pre path, leaving the post machinery (placeholder text column,
    post_shuffle enrich on _deleted mask) uncovered."""
    from data_warehouse_etl_spark.cdc import engine as engine_mod

    led = _ledger(tmp_lake)

    def run(name: str, threshold: int) -> str:
        monkeypatch.setattr(
            engine_mod, "_POST_SHUFFLE_MIN_ROWS_PER_TASK", threshold
        )
        eng = CdcEngine(spark, _cfg(led, tmp_lake, name))
        eng.run()
        pages = eng.read_pages()
        live_with_text = pages.filter("text IS NOT NULL").count()
        assert live_with_text > 0, "extract produced no text"
        assert "language" in pages.columns  # post-evolution schema visible
        return str(state_hash(pages))

    h_post = run("pages_post", 0)
    h_pre = run("pages_pre", 10**12)
    assert h_post == h_pre


# ------------------------------------------------------------ crash points

CRASH_SPEC = LedgerSpec(n_urls=200, n_events=2400, n_parts=2, seed=17, evolve_at_seq=1200)


class _Crash(RuntimeError):
    pass


def _crash_cfg(led, path):
    return EngineConfig(
        ledger_path=led.path,
        pages_path=path,
        batch_size=400,
        num_buckets=4,
        compact_every_batches=2,
        mirror_flush_batches=1,
    )


@pytest.fixture(scope="module")
def crash_ref(spark, tmp_path_factory):
    """The crash matrix's ledger and its uninterrupted replay's state hash;
    that replay's state is checked against the pandas oracle once here."""
    d = tmp_path_factory.mktemp("crash")
    led = generate_ledger(str(d / "changes"), CRASH_SPEC)
    ref = CdcEngine(spark, _crash_cfg(led, str(d / "ref")))
    ref.run()
    pd.testing.assert_frame_equal(
        _engine_final_state(spark, ref), _oracle_final_state(led), check_dtype=False
    )
    return led, state_hash(ref.read_pages())


def _crash_in_manifest_write(monkeypatch, operation: str, nth: int, after_write: bool):
    """Crash the nth commit of ``operation`` once its data files are
    written: before its temp manifest is written, or (``after_write``) with
    the temp manifest durable but not yet linked to its version name."""
    real = LakeTable._write_temp
    seen = []

    def write(path, m):
        if m.history[-1]["operation"] == operation:
            seen.append(m.version)
            if len(seen) == nth:
                if after_write:
                    real(path, m)
                raise _Crash(f"crash in {operation} commit")
        return real(path, m)

    monkeypatch.setattr(LakeTable, "_write_temp", staticmethod(write))


def _crash_in_flush(monkeypatch, nth: int):
    """Crash at the nth mirror flush — after that batch's publish —
    and every flush after it (a dead process flushes nothing more)."""
    real = CdcEngine.flush_mirrors
    calls = []

    def flush(self):
        calls.append(1)
        if len(calls) >= nth:
            raise _Crash("crash before the mirror flush")
        real(self)

    monkeypatch.setattr(CdcEngine, "flush_mirrors", flush)


@pytest.mark.parametrize(
    "point", ["before_manifest", "before_swap", "before_flush", "in_compact", "rollback"]
)
def test_crash_point_resumes_to_uninterrupted_state(
    spark, tmp_lake, monkeypatch, crash_ref, point
):
    """A crash at each step of the delta commit, inside compaction, and
    inside a rollback leaves a table that a fresh engine resumes to the
    uninterrupted run's state_hash (linking the manifest to its version
    name is the one commit point; ``before_swap`` crashes with the temp
    manifest durable but not linked). The rollback case replays the whole
    ledger, rolls the table back to an early batch — before the schema
    evolution — and resumes from the offsets committed with that batch."""
    led, h_ref = crash_ref
    path = os.path.join(tmp_lake, "pages")
    if point == "rollback":
        eng = CdcEngine(spark, _crash_cfg(led, path))
        eng.run()
        v_mid = [
            h["version"] for h in eng.pages.manifest.history
            if h["operation"] == "append_deltas"
        ][1]
        _crash_in_manifest_write(monkeypatch, f"rollback:v{v_mid}", nth=1, after_write=True)
        with pytest.raises(_Crash):
            eng.pages.rollback(v_mid)
        monkeypatch.undo()
        assert state_hash(eng.refresh_pages()) == h_ref  # the torn rollback is invisible
        eng.pages.rollback(v_mid)
    elif point == "before_flush":
        _crash_in_flush(monkeypatch, nth=3)
    elif point == "in_compact":
        _crash_in_manifest_write(monkeypatch, "compact", nth=1, after_write=False)
    else:
        _crash_in_manifest_write(
            monkeypatch, "append_deltas", nth=3, after_write=point == "before_swap"
        )
    if point != "rollback":
        with pytest.raises(_Crash):
            CdcEngine(spark, _crash_cfg(led, path)).run()
        monkeypatch.undo()

    resumed = CdcEngine(spark, _crash_cfg(led, path))
    assert resumed.run() > 0
    assert state_hash(resumed.read_pages()) == h_ref
