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
    oracle's — on a ledger whose hot url carries ~30% of the events."""
    spec = LedgerSpec(n_urls=300, n_events=3000, n_parts=4, seed=7, hot_url_rate=0.3)
    ledger = generate_ledger(str(tmp_path / "changes"), spec)
    hashes = set()
    for plan in ("broadcast_keys", "full_shuffle"):
        e = _mk_engine(spark, ledger, tmp_path / plan, batch_size=1000, dedup_plan=plan)
        e.run()
        hashes.add(state_hash(e.read_pages()))
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
    cp = eng.checkpoints.read(spark).toPandas()
    per_part_final = cp.sort_values("batch_id").groupby("part")["committed_seq"].last()
    assert dict(per_part_final) == eng.committed_offsets()


def test_metrics_mirror_schema_evolves_on_open(spark, tmp_path):
    """Round-4 ADVICE fix: a metrics mirror created before SCHEMA grew a
    column must be evolved on open — otherwise appends register wider files
    under the old schema_version and the new column is silently dropped on
    read."""
    from data_warehouse_etl_spark.cdc.driverio import append_rows
    from data_warehouse_etl_spark.cdc.metrics import SCHEMA, MetricsTable

    path = str(tmp_path / "metrics")
    old_schema = SCHEMA[:-1]  # a pre-r3 mirror: no max_deltas_per_bucket
    t = LakeTable.create(path, old_schema, bucket_col=None)
    append_rows(t, [(1, 0, 10, 1, 2, 3, 0, 0, 100, 50, 200.0)], old_schema)

    mt = MetricsTable.open(path)
    assert [f.name for f in mt.table.manifest.current_fields] == [n for n, _ in SCHEMA]
    mt.append(spark, [dict(
        batch_id=2, part=0, events_in=20, inserts=2, updates=4, deletes=6,
        dedup_dropped=0, late_dropped=0, bytes_html=200, wall_ms=80,
        events_per_sec=250.0, max_deltas_per_bucket=7,
    )])
    got = {r["batch_id"]: r["max_deltas_per_bucket"] for r in mt.read(spark).collect()}
    assert got == {1: None, 2: 7}  # old row add-as-null, new row's value kept


def test_schedule_registry_records_runs(spark, ledger, tmp_path):
    """Round-4 (VERDICT r3 item 8): the _schedule cadence registry — the
    reference's Schedule-Frequency metadata surface — gets one row per
    run() with the process identity, declared frequency, completion time
    and batches applied; latest() resolves one row per process."""
    eng = _mk_engine(spark, ledger, tmp_path, batch_size=2000,
                     schedule_frequency="daily")
    n1 = eng.run()
    assert n1 > 0
    eng.run()  # exhausted: 0 batches, still a recorded run
    rows = eng.schedule.read(spark).collect()
    assert len(rows) == 2
    assert {r["process"] for r in rows} == {"pages"}
    assert {r["frequency"] for r in rows} == {"daily"}
    assert all(r["last_run_at"] is not None for r in rows)
    assert sorted(r["batches_applied"] for r in rows) == [0, n1]
    latest = eng.schedule.latest(spark).collect()
    assert len(latest) == 1 and latest[0]["batches_applied"] == 0


def test_schedule_registry_failure_never_masks_run(spark, ledger, tmp_path):
    """Round-5 advisor fix: the cadence registry is observational — a
    failure writing it (e.g. a publish race lost to a concurrent process)
    must neither fail an otherwise-successful run() nor mask the data
    path's own exception."""
    eng = _mk_engine(spark, ledger, tmp_path, batch_size=2000)

    def boom(*a, **kw):
        raise RuntimeError("concurrent commit detected on _schedule: refresh() and retry")

    eng.schedule.record = boom
    n = eng.run()  # must complete despite the registry write failing
    assert n > 0
    assert eng.read_pages().count() > 0
