"""End-to-end CDC engine tests: replay vs oracle, resume, evolution, LWW laws.

The oracle independently recomputes the expected final state with pandas
(groupby-idxmax over (warc_ts, seq), window-free) from the raw ledger files —
the reference's recomputed-state reconciliation pattern
(``/root/reference/Sql Scripts/Monthly Stats - Fact Scripts.sql:299-366``).
"""

import os

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_warehouse_etl_spark.cdc import CdcEngine, EngineConfig, LedgerSpec, generate_ledger
from data_warehouse_etl_spark.cdc.extract import extract_text_bytes
from data_warehouse_etl_spark.lake import LakeTable, state_hash


def _oracle_final_state(ledger: LakeTable) -> pd.DataFrame:
    """Expected live rows after full replay: per url, argmax (warc_ts, seq);
    rows whose winner is a delete are absent. Pure pandas, no Spark."""
    parts = []
    for f in ledger.manifest.files:
        df = pq.read_table(os.path.join(ledger.path, f["path"])).to_pandas()
        if "lang" in df.columns:
            df = df.rename(columns={"lang": "language"})
        if "language" not in df.columns:
            df["language"] = None
        if "fetch_status" not in df.columns:
            df["fetch_status"] = pd.array([None] * len(df), dtype="Int32")
        parts.append(df)
    ev = pd.concat(parts, ignore_index=True)
    # row-wise last writer per url (NOT groupby().last(), which is column-wise
    # last-NON-NULL and silently mixes values from different events)
    ev = ev.sort_values(["warc_ts", "seq"]).drop_duplicates("url", keep="last")
    live = ev[ev["op"] != "D"].copy()
    live["text"] = live["html"].map(lambda b: extract_text_bytes(bytes(b)))
    return live[["url", "warc_ts", "text", "language", "fetch_status"]].sort_values(
        "url"
    ).reset_index(drop=True)


def _engine_final_state(spark, eng: CdcEngine) -> pd.DataFrame:
    cols = ["url", "warc_ts", "text"]
    extra = [c for c in ("language", "lang", "fetch_status") if c in eng.read_pages().columns]
    df = eng.read_pages().select(*cols, *extra).toPandas()
    if "lang" in df.columns:
        df = df.rename(columns={"lang": "language"})
    if "fetch_status" not in df.columns:
        df["fetch_status"] = pd.array([None] * len(df), dtype="Int32")
    return df[["url", "warc_ts", "text", "language", "fetch_status"]].sort_values(
        "url"
    ).reset_index(drop=True)


SPEC = LedgerSpec(n_urls=300, n_events=3000, n_parts=4, seed=7, evolve_at_seq=None)
SPEC_EVOLVE = LedgerSpec(n_urls=300, n_events=3000, n_parts=4, seed=7, evolve_at_seq=1500)


@pytest.fixture(scope="module")
def ledger(tmp_path_factory):
    d = tmp_path_factory.mktemp("ledger")
    return generate_ledger(str(d / "changes"), SPEC)


def _mk_engine(spark, ledger, tmp, batch_size=500, **kw):
    cfg = EngineConfig(
        ledger_path=ledger.path,
        pages_path=os.path.join(str(tmp), "pages"),
        batch_size=batch_size,
        num_buckets=4,
        **kw,
    )
    return CdcEngine(spark, cfg)


def test_minimal_iud_slice(spark, tmp_path):
    """The 3-event I/U/D-on-one-url scenario (SURVEY.md §7 step 3)."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    led = LakeTable.create(
        str(tmp_path / "led"),
        [("seq", "bigint"), ("part", "int"), ("op", "string"), ("url", "string"),
         ("warc_ts", "timestamp"), ("html", "binary"), ("lang", "string")],
        bucket_col="part", num_buckets=1,
    )
    t0 = pd.Timestamp("2024-01-01", tz="UTC")
    rows = pa.table({
        "seq": pa.array([1, 2, 3, 4], pa.int64()),
        "part": pa.array([0, 0, 0, 0], pa.int32()),
        "op": ["I", "U", "I", "D"],
        "url": ["u/a", "u/a", "u/b", "u/a"],
        "warc_ts": pa.array([t0, t0 + pd.Timedelta("1h"), t0, t0 + pd.Timedelta("2h")],
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array([b"<p>v1</p>", b"<p>v2</p>", b"<p>b1</p>", None], pa.binary()),
        "lang": ["en", "en", "en", None],
    })
    papq.write_table(rows, str(tmp_path / "led" / "data" / "f.parquet"))
    led.register_files([{"path": "data/f.parquet", "bucket": 0,
                         "stats": {"min_seq": 1, "max_seq": 4}}])

    eng = _mk_engine(spark, led, tmp_path, batch_size=10)
    assert eng.run() == 1
    got = {r["url"]: r["text"] for r in eng.read_pages().collect()}
    assert got == {"u/b": "b1"}  # u/a deleted by the last event
    # tombstone retained internally (late-arrival protection)
    internal = eng.pages.read(spark).filter(F.col("_deleted")).collect()
    assert [r["url"] for r in internal] == ["u/a"]


def test_full_replay_matches_oracle(spark, ledger, tmp_path):
    eng = _mk_engine(spark, ledger, tmp_path, batch_size=400)
    n_batches = eng.run()
    assert n_batches > 1  # genuinely micro-batched
    got = _engine_final_state(spark, eng)
    want = _oracle_final_state(ledger)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_resume_equals_oneshot(spark, ledger, tmp_path):
    one = _mk_engine(spark, ledger, tmp_path / "a", batch_size=400)
    one.run()
    h_one = state_hash(one.read_pages())

    two = _mk_engine(spark, ledger, tmp_path / "b", batch_size=400)
    two.run(max_batches=2)  # "crash" after 2 batches
    # brand-new engine instance resumes from committed offsets
    resumed = _mk_engine(spark, ledger, tmp_path / "b", batch_size=400)
    assert resumed.committed_offsets() == two.committed_offsets()
    resumed.run()
    assert state_hash(resumed.read_pages()) == h_one

    # re-running an exhausted ledger is a no-op (idempotent replay)
    assert resumed.run() == 0
    assert state_hash(resumed.read_pages()) == h_one


def test_parallelism_invariance_shuffle_partitions(spark, ledger, tmp_path):
    """Same ledger, different shuffle widths ⇒ identical state (north-rule
    determinism; the full local[8]-vs-local[32] run lives in bench.py)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        a = _mk_engine(spark, ledger, tmp_path / "p2", batch_size=700)
        a.run()
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        b = _mk_engine(spark, ledger, tmp_path / "p13", batch_size=700)
        b.run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert state_hash(a.read_pages()) == state_hash(b.read_pages())


def test_batch_size_invariance(spark, ledger, tmp_path):
    a = _mk_engine(spark, ledger, tmp_path / "big", batch_size=3000)
    a.run()
    b = _mk_engine(spark, ledger, tmp_path / "small", batch_size=150)
    b.run()
    assert state_hash(a.read_pages()) == state_hash(b.read_pages())


def test_dedup_mode_invariance(spark, tmp_path):
    """Both dedup row-recovery plans produce the identical final state — the
    oracle's — on a ledger whose hot url carries ~30% of the events. Each
    batch's metric rows record the plan it ran."""
    spec = LedgerSpec(n_urls=300, n_events=3000, n_parts=4, seed=7, hot_url_rate=0.3)
    ledger = generate_ledger(str(tmp_path / "changes"), spec)
    hashes = set()
    for plan in ("broadcast_keys", "full_shuffle"):
        e = _mk_engine(spark, ledger, tmp_path / plan, batch_size=1000, dedup_plan=plan)
        e.run()
        hashes.add(state_hash(e.read_pages()))
        plans = {r["dedup_plan"] for r in e.metrics.read(spark).collect()}
        assert plans == {plan}
    assert len(hashes) == 1
    got = _engine_final_state(spark, e)
    pd.testing.assert_frame_equal(got, _oracle_final_state(ledger), check_dtype=False)


# py4j round trips per plain tick on the module ledger (3 ticks of 300
# events after one warm-up tick), and per build-and-collect of the live
# view's per-language count on the same table. Each batch step and each read
# step is built from one SQL text or selectExpr (cdc/dedup.py, LakeTable.read,
# CdcEngine.read_pages): 228 per tick and 75-95 per read, against 650-690
# and 430-465 when they were built one Column call at a time.
_PY4J_CALLS_PER_TICK = 230
_PY4J_CALLS_PER_READ = 95


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_py4j_round_trip_budget(spark, ledger, tmp_path, monkeypatch):
    """Regression guard on a tick's and a read's driver fixed cost: the py4j
    round trips of a plain run(max_batches=1), and of building and
    collecting an aggregate over read_pages(), stay within 1.25x the
    measured counts. The SQL texts they are built from leave no temporary
    view behind."""
    from py4j.clientserver import ClientServerConnection

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    eng = _mk_engine(spark, ledger, tmp_path, batch_size=300)
    views = _temp_views(spark)
    assert eng.run(max_batches=1) == 1  # warm-up
    calls = [0]
    send = ClientServerConnection.send_command

    def counted(self, command, *a, **kw):
        calls[0] += 1
        return send(self, command, *a, **kw)

    def per_op(op) -> float:
        calls[0] = 0
        monkeypatch.setattr(ClientServerConnection, "send_command", counted)
        for _ in range(3):
            op()
        monkeypatch.undo()
        return calls[0] / 3

    def tick():
        assert eng.run(max_batches=1) == 1

    per_tick = per_op(tick)
    assert per_tick <= 1.25 * _PY4J_CALLS_PER_TICK, per_tick
    per_read = per_op(lambda: eng.read_pages().groupBy("lang").count().collect())
    assert per_read <= 1.25 * _PY4J_CALLS_PER_READ, per_read
    assert _temp_views(spark) == views


def test_schema_evolution_replay(spark, tmp_path):
    led = generate_ledger(str(tmp_path / "changes"), SPEC_EVOLVE)
    eng = _mk_engine(spark, led, tmp_path, batch_size=500)
    eng.run()
    cols = set(eng.read_pages().columns)
    assert "language" in cols and "fetch_status" in cols and "lang" not in cols
    got = _engine_final_state(spark, eng)
    want = _oracle_final_state(led)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_metrics_and_checkpoints_emitted(spark, ledger, tmp_path):
    eng = _mk_engine(spark, ledger, tmp_path, batch_size=1000)
    eng.run()
    m = eng.metrics.read(spark).toPandas()
    assert set(m["part"]) == {0, 1, 2, 3}
    assert (m["events_in"] > 0).all()
    total_in = int(m["events_in"].sum())
    assert total_in == SPEC.n_events
    # conservation: every input event is accounted for
    applied = int((m["inserts"] + m["updates"] + m["deletes"]).sum())
    dropped = int((m["dedup_dropped"] + m["late_dropped"]).sum())
    assert applied + dropped == total_in
    # the offsets committed with each batch: the last batch's per part
    per_part_final = m.sort_values("batch_id").groupby("part")["committed_seq"].last()
    assert dict(per_part_final) == eng.committed_offsets()


def test_schedule_registry_records_runs(spark, ledger, tmp_path):
    """The schedule view — the reference's Schedule-Frequency metadata
    surface — has one row per run() that applied a batch, with the process
    identity, declared frequency, the run's last commit time and its
    batches applied; a run that applies nothing records no row. latest()
    is the newest run."""
    eng = _mk_engine(spark, ledger, tmp_path, batch_size=1000,
                     schedule_frequency="daily")
    assert eng.run(max_batches=1) == 1
    n2 = eng.run()
    assert n2 > 1
    assert eng.run() == 0  # exhausted: 0 batches, no row
    rows = eng.schedule.read(spark).collect()
    assert len(rows) == 2
    assert {r["process"] for r in rows} == {"pages"}
    assert {r["frequency"] for r in rows} == {"daily"}
    assert rows[0]["last_run_at"] > rows[1]["last_run_at"]  # newest first
    assert [r["batches_applied"] for r in rows] == [n2, 1]
    latest = eng.schedule.latest(spark).collect()
    assert len(latest) == 1 and latest[0]["batches_applied"] == n2


@pytest.mark.parametrize("watermark_delay_s", [None, 3600])
def test_tick_publishes_once(spark, ledger, tmp_path, monkeypatch, watermark_delay_s):
    """A run(max_batches=1) tick publishes one manifest, the pages table's:
    the offsets, the watermark and the lineage rows ride the data commit.
    A compacting tick adds the compaction's publish. After 12 ticks the
    pages metadata holds v0 plus one version per batch and per compaction,
    no mirror table exists, and the lineage views hold every tick."""
    eng = _mk_engine(spark, ledger, tmp_path, batch_size=200,
                     compact_every_batches=5, watermark_delay_s=watermark_delay_s)
    published = []
    real = LakeTable._publish

    def publish(path, m):
        published.append((path, m.history[-1]["operation"]))
        real(path, m)

    monkeypatch.setattr(LakeTable, "_publish", staticmethod(publish))
    compactions = 0
    for _ in range(12):
        published.clear()
        assert eng.run(max_batches=1) == 1
        want = [(eng.pages.path, "append_deltas")]
        if eng.last_batch_id() % 5 == 0:
            want.append((eng.pages.path, "compact"))
            compactions += 1
        assert published == want
    monkeypatch.undo()
    if watermark_delay_s is not None:
        assert "wm_high" in eng.pages.manifest.properties

    assert sorted(os.listdir(os.path.join(eng.pages.path, "metadata"))) == sorted(
        f"v{v}.json" for v in range(1 + 12 + compactions)
    )
    assert os.listdir(tmp_path) == ["pages"]  # no _metrics/_checkpoints/_schedule
    assert eng.metrics.read(spark).count() == 12 * SPEC.n_parts
    assert eng.schedule.read(spark).count() == 12
