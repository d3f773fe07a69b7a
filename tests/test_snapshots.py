"""Snapshot surfaces: time travel, rollback, expiration, changelog (CDC out).

The reference keeps no history — every load overwrites (truncate-and-reload,
``/root/reference/Sql Scripts/QBR__RestPredictive_Benchmark Script.sql``) and
downstream consumers re-read whole tables. The lake layer's retained-manifest
design gives the Iceberg-parity surfaces for free: VERSION AS OF reads,
rollback_to_snapshot, expire_snapshots, and an incremental changelog read
(net state diff between snapshots) that downstream mirrors tail instead of
full re-reads — the CDC-out half of a CDC engine.
"""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_warehouse_etl_spark.cdc import CdcEngine, EngineConfig, LedgerSpec, generate_ledger
from data_warehouse_etl_spark.lake import LakeTable, state_hash
from data_warehouse_etl_spark.lake.table import Manifest


def _mk_mor(spark, path, rows):
    t = LakeTable.create(
        path,
        schema=[("k", "string"), ("val", "int"), ("ver", "int")],
        bucket_col="k",
        num_buckets=4,
        row_key="k",
        version_cols=["ver"],
    )
    return t.append(spark.createDataFrame(rows, "k string, val int, ver int"))


ROWS_V1 = [("a", 1, 1), ("b", 2, 1), ("c", 3, 1), ("d", 4, 1)]


def test_time_travel_and_snapshot_listing(spark, tmp_lake):
    path = os.path.join(tmp_lake, "t")
    t = _mk_mor(spark, path, ROWS_V1)
    hashes = {t.manifest.version: state_hash(t.read(spark))}
    t = t.append_deltas(spark.createDataFrame([("a", 10, 2), ("e", 5, 2)], t.schema()))
    hashes[t.manifest.version] = state_hash(t.read(spark))
    t = t.append_deltas(spark.createDataFrame([("b", 20, 3)], t.schema()))
    hashes[t.manifest.version] = state_hash(t.read(spark))

    # every retained snapshot reads back exactly the state it committed
    for v, h in hashes.items():
        assert state_hash(t.at_version(v).read(spark)) == h
    snaps = t.snapshots()
    assert [s["version"] for s in snaps] == [0, 1, 2, 3]
    assert snaps[-1]["current"] and not snaps[0]["current"]
    assert snaps[2]["operation"] == "append_deltas"

    # a historical handle is read-only: its commit fails the head check
    old = t.at_version(1)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        old.append_deltas(spark.createDataFrame([("z", 0, 9)], t.schema()))

    with pytest.raises(ValueError, match="never existed"):
        t.at_version(99)


def test_rollback_restores_state_as_new_commit(spark, tmp_lake):
    path = os.path.join(tmp_lake, "t")
    t = _mk_mor(spark, path, ROWS_V1).set_properties({"offset": "1"})
    h1 = state_hash(t.read(spark))
    v1 = t.manifest.version
    t = t.append_deltas(
        spark.createDataFrame([("a", 10, 2)], t.schema()),
        properties_update={"offset": "2", "later": "x"},
    )
    assert state_hash(t.read(spark)) != h1
    t = t.tag("after", t.manifest.version)

    t = t.rollback(v1)
    assert state_hash(t.read(spark)) == h1
    assert t.manifest.version == v1 + 3  # a NEW commit, not a head rewind
    assert t.manifest.history[-1]["operation"] == f"rollback:v{v1}"
    # properties roll back with the data; refs made after v1 survive
    assert t.manifest.properties["offset"] == "1"
    assert "later" not in t.manifest.properties
    assert t.tags() == {"after": v1 + 1}
    # the rolled-past snapshot stays retained and readable
    assert t.at_version(v1 + 1).read(spark).count() == 4

    # rollback across a schema change restores the old schema version —
    # including the bucket_col name when the rename touched it
    t2 = t.rename_column("k", "key")
    assert t2.manifest.bucket_col == "key"
    t2 = t2.append_deltas(
        spark.createDataFrame([("c", 30, 5)], "key string, val int, ver int")
    )
    t2 = t2.rollback(v1)
    assert t2.manifest.bucket_col == "k"
    assert [f.name for f in t2.manifest.current_fields] == ["k", "val", "ver"]
    assert state_hash(t2.read(spark)) == h1
    # field-id counter survives the rollback: a new column never reuses an id
    before_ids = {f.id for f in t2.manifest.current_fields}
    t2 = t2.add_column("extra", "string")
    new_id = [f.id for f in t2.manifest.current_fields if f.name == "extra"][0]
    assert new_id not in before_ids and new_id >= t2.manifest.next_field_id - 1


def test_expire_snapshots_gc(spark, tmp_lake):
    path = os.path.join(tmp_lake, "t")
    t = _mk_mor(spark, path, ROWS_V1)
    # replace() drops all references to v0/v1 files; appends then share files
    t = t.replace(spark.createDataFrame([("x", 1, 1), ("y", 2, 1)], t.schema()))
    t = t.append_deltas(spark.createDataFrame([("x", 9, 2)], t.schema()))
    old_files = {
        f["path"] for f in t.at_version(1).manifest.files
    }  # referenced only by expired snapshots
    cur_hash = state_hash(t.read(spark))

    res = t.expire_snapshots(keep_last=2)
    assert res["expired_snapshots"] == 2  # v0, v1
    assert res["data_files_removed"] == len(old_files)
    for rel in old_files:
        assert not os.path.exists(os.path.join(path, rel))
    # retained snapshots still read fine; live state untouched
    assert state_hash(t.read(spark)) == cur_hash
    assert state_hash(t.at_version(2).read(spark)) != 0
    assert [s["version"] for s in t.snapshots()] == [2, 3]
    with pytest.raises(ValueError, match="not retained"):
        t.at_version(1)
    # idempotent re-run
    res2 = t.expire_snapshots(keep_last=2)
    assert res2["expired_snapshots"] == 0 and res2["data_files_removed"] == 0


def test_changed_buckets_pruning():
    def mani(files, bucket_col="k", n=8):
        return Manifest(
            table="t", version=0, schema_version=0, schemas={0: []},
            next_field_id=1, bucket_col=bucket_col, num_buckets=n, files=files,
        )

    base = [{"path": f"data/b{i}.parquet", "bucket": i} for i in range(4)]
    delta = base + [{"path": "data/d5.parquet", "bucket": 2}]
    assert LakeTable._changed_buckets(mani(base), mani(delta)) == [2]
    # metadata-only interval: nothing touched
    assert LakeTable._changed_buckets(mani(base), mani(base)) == []
    # compaction: bucket 2's files swapped -> still only bucket 2
    compacted = [f for f in base if f["bucket"] != 2] + [
        {"path": "data/c2.parquet", "bucket": 2}
    ]
    assert LakeTable._changed_buckets(mani(delta), mani(compacted)) == [2]
    # unbucketed or re-bucketed tables cannot prune
    assert LakeTable._changed_buckets(mani(base, bucket_col=None), mani(base, bucket_col=None)) is None
    assert LakeTable._changed_buckets(mani(base, n=8), mani(base, n=16)) is None


def test_changelog_plain_table(spark, tmp_lake):
    path = os.path.join(tmp_lake, "t")
    t = _mk_mor(spark, path, ROWS_V1)
    v1 = t.manifest.version
    # update a, insert e (delta), then delete c via copy-on-write of its bucket
    t = t.append_deltas(spark.createDataFrame([("a", 10, 2), ("e", 5, 2)], t.schema()))
    c_bucket = t.read(spark).filter(F.col("k") == "c").select(
        F.expr(t.bucket_sql("k")).alias("b")
    ).collect()[0]["b"]
    keep = t.read(spark).filter(
        (F.expr(t.bucket_sql("k")) == c_bucket) & (F.col("k") != "c")
    )
    t = t.overwrite_buckets(keep, [c_bucket])

    got = {
        r["k"]: (r["_change_type"], r["val"])
        for r in t.read_changes(spark, v1).collect()
    }
    assert got == {"a": ("update", 10), "e": ("insert", 5), "c": ("delete", 3)}

    # Iceberg-convention image pairs: updates emit preimage+postimage rows
    both = {
        (r["k"], r["_change_type"]): r["val"]
        for r in t.read_changes(spark, v1, update_images="both").collect()
    }
    assert both == {
        ("a", "update_preimage"): 1,
        ("a", "update_postimage"): 10,
        ("e", "insert"): 5,
        ("c", "delete"): 3,
    }
    with pytest.raises(ValueError, match="update_images"):
        t.read_changes(spark, v1, update_images="pre")
    # same-version interval is empty; classification column rides the schema
    assert t.read_changes(spark, t.manifest.version).count() == 0

    # a compaction-only interval short-circuits via the history check; a
    # MIXED compact+update interval must still diff normally
    v_mix = t.manifest.version
    t = t.compact(spark)
    assert t.manifest.history[-1]["operation"] == "compact"
    assert t.read_changes(spark, v_mix).count() == 0  # compact alone: empty
    t = t.append_deltas(spark.createDataFrame([("d", 44, 8)], t.schema()))
    mixed = t.read_changes(spark, v_mix).collect()
    assert [(r["k"], r["_change_type"], r["val"]) for r in mixed] == [("d", "update", 44)]

    # changelog across a pure-rename interval is empty (field-id alignment):
    # the rename is not a row change
    v_pre = t.manifest.version
    t = t.rename_column("val", "value")
    assert t.read_changes(spark, v_pre).count() == 0
    # ...and post-rename changes surface under the NEW name
    t = t.append_deltas(
        spark.createDataFrame([("b", 99, 9)], "k string, value int, ver int")
    )
    rows = t.read_changes(spark, v_pre).collect()
    assert len(rows) == 1 and rows[0]["value"] == 99 and rows[0]["_change_type"] == "update"


def test_retention_bounds_metadata(spark, tmp_path):
    """retain_snapshots: an interrupted-and-resumed replay with retention GC
    reaches the same final state as an unretained one, with snapshot count
    bounded — the long-lived-tail metadata-growth guard."""
    ledger = generate_ledger(
        str(tmp_path / "changes"),
        LedgerSpec(n_urls=60, n_events=400, n_parts=2, seed=31, evolve_at_seq=None),
    )

    def cfg(sub, **kw):
        return EngineConfig(
            ledger_path=ledger.path, pages_path=str(tmp_path / sub),
            batch_size=100, num_buckets=4, **kw,
        )

    ref = CdcEngine(spark, cfg("ref"))
    ref.run()
    h_ref = state_hash(ref.read_pages())

    eng = CdcEngine(spark, cfg("ret", retain_snapshots=3))
    eng.run(max_batches=2)  # retention fires here too
    eng2 = CdcEngine(spark, cfg("ret", retain_snapshots=3))  # cold resume
    eng2.run()
    assert state_hash(eng2.read_pages()) == h_ref
    assert len(eng2.pages.snapshots()) <= 3
    assert eng2.run() == 0  # exhausted ledger still a no-op after GC


def _live_pdf(eng, version) -> pd.DataFrame:
    df = eng.pages.at_version(version).read(eng.spark)
    df = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False))).drop("_seq", "_deleted")
    return df.toPandas().sort_values("url").reset_index(drop=True)


def test_engine_changelog_matches_state_diff_and_composes(spark, tmp_path):
    """The engine's changelog over merge-on-read delta commits equals an
    independent state diff and composes across adjacent intervals (the
    diff is over resolved snapshots, not over the commit mechanism)."""
    ledger = generate_ledger(
        str(tmp_path / "changes"),
        LedgerSpec(n_urls=80, n_events=600, n_parts=2, seed=11, evolve_at_seq=None),
    )
    cfg = EngineConfig(
        ledger_path=ledger.path,
        pages_path=str(tmp_path / "pages"),
        batch_size=200,
        num_buckets=4,
    )
    eng = CdcEngine(spark, cfg)
    versions = [eng.pages.manifest.version]
    while eng.run_one_batch():
        versions.append(eng.pages.manifest.version)
    assert len(versions) >= 3

    v0, v1, vN = versions[0], versions[1], versions[-1]
    # 1) changelog == independent pandas state diff, for the whole interval
    cl = eng.changelog(v0, vN).toPandas()
    old, new = _live_pdf(eng, v0), _live_pdf(eng, vN)
    ok, nk = set(old["url"]), set(new["url"])
    assert set(cl[cl["_change_type"] == "insert"]["url"]) == nk - ok
    assert set(cl[cl["_change_type"] == "delete"]["url"]) == ok - nk
    both = ok & nk
    o_idx = old.set_index("url").loc[sorted(both)]
    n_idx = new.set_index("url").loc[sorted(both)]
    changed = {
        u for u in both
        if not o_idx.loc[u].equals(n_idx.loc[u])
    }
    assert set(cl[cl["_change_type"] == "update"]["url"]) == changed
    # images: updates/inserts carry the new state, deletes the old
    def canon(df: pd.DataFrame) -> set:
        return {
            tuple(None if pd.isna(x) else x for x in row)
            for row in df[sorted(df.columns)].itertuples(index=False)
        }

    upd = cl[cl["_change_type"] != "delete"].drop(columns="_change_type")
    assert canon(upd) <= canon(new)

    # 2) composition: applying changes(v0,v1) then changes(v1,vN) to the v0
    # state reproduces the vN state exactly
    def apply_cl(state: pd.DataFrame, cl: pd.DataFrame) -> pd.DataFrame:
        touched = set(cl["url"])
        kept = state[~state["url"].isin(touched)]
        img = cl[cl["_change_type"] != "delete"].drop(columns="_change_type")
        return pd.concat([kept, img], ignore_index=True)

    replayed = apply_cl(
        apply_cl(_live_pdf(eng, v0), eng.changelog(v0, v1).toPandas()),
        eng.changelog(v1, vN).toPandas(),
    )
    assert canon(replayed) == canon(new)

    # 3) a compaction-only interval is a no-op changelog (pure layout change)
    v_pre = eng.pages.manifest.version
    eng.compact()
    assert eng.changelog(v_pre).count() == 0


def test_tags_and_timestamp_as_of(spark, tmp_lake):
    """Tag refs pin snapshots through retention GC; TIMESTAMP AS OF resolves
    via the per-commit wall-clock in history."""
    path = os.path.join(tmp_lake, "t")
    t = _mk_mor(spark, path, ROWS_V1)
    v1 = t.manifest.version
    h1 = state_hash(t.read(spark))
    t = t.tag("train-v1")                     # tags current (v1)
    t = t.replace(spark.createDataFrame([("x", 1, 1)], t.schema()))
    t = t.append_deltas(spark.createDataFrame([("x", 9, 2)], t.schema()))
    t = t.append_deltas(spark.createDataFrame([("y", 2, 3)], t.schema()))

    assert t.tags() == {"train-v1": v1}
    assert state_hash(t.at_tag("train-v1").read(spark)) == h1

    # retention keeps the tagged snapshot (and its files) alive
    res = t.expire_snapshots(keep_last=2)
    assert res["expired_snapshots"] > 0
    assert state_hash(t.at_tag("train-v1").read(spark)) == h1
    assert v1 in {s["version"] for s in t.snapshots()}

    # untag, expire again: now it goes
    t = t.untag("train-v1")
    assert t.tags() == {}
    t.expire_snapshots(keep_last=2)
    with pytest.raises(ValueError, match="not retained"):
        t.at_version(v1)

    # TIMESTAMP AS OF: each retained snapshot resolves by its commit ts
    hist = {h["version"]: h["ts"] for h in t.manifest.history if "ts" in h}
    vs = sorted(s["version"] for s in t.snapshots())
    for v in vs:
        assert t.at_timestamp(hist[v]).manifest.version == v
    assert t.at_timestamp(hist[vs[-1]] + 1e6).manifest.version == vs[-1]
    with pytest.raises(ValueError, match="at or before"):
        t.at_timestamp(hist[vs[0]] - 1e6)

    with pytest.raises(ValueError, match="no tag"):
        t.at_tag("nope")
    with pytest.raises(ValueError):
        t.tag("bad", version=99)  # must name a retained snapshot


def test_remove_orphan_files(spark, tmp_lake):
    """Never-referenced files (a crashed writer's) are swept only past the
    grace period; referenced files are never touched."""
    path = os.path.join(tmp_lake, "t")
    t = _mk_mor(spark, path, ROWS_V1)
    h = state_hash(t.read(spark))
    # simulate a crashed writer: parquet under data/ with no manifest commit
    orphan_dir = os.path.join(path, "data", "snap-crashed")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-00000.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")

    # inside the grace period: kept
    res = t.remove_orphan_files(older_than_s=3600)
    assert res["orphans_removed"] == 0 and os.path.exists(orphan)
    # past the grace period: swept; referenced files and state untouched
    res = t.remove_orphan_files(older_than_s=0)
    assert res["orphans_removed"] == 1 and not os.path.exists(orphan)
    assert state_hash(t.read(spark)) == h
    # idempotent
    assert t.remove_orphan_files(older_than_s=0)["orphans_removed"] == 0


def test_rebucket_partition_evolution(spark, tmp_lake):
    """rebucket rewrites under a new bucket width: state identical, pruned
    reads work under the new transform, changelog across the width change
    refuses bucket pruning but stays value-exact (empty for a pure layout
    change; real changes after it classify normally)."""
    path = os.path.join(tmp_lake, "t")
    t = _mk_mor(spark, path, ROWS_V1)
    t = t.append_deltas(spark.createDataFrame([("a", 10, 2)], t.schema()))
    h = state_hash(t.read(spark))
    v_pre = t.manifest.version

    t = t.rebucket(spark, 16)
    assert t.manifest.num_buckets == 16
    assert state_hash(t.read(spark)) == h  # layout change only (folds deltas)
    assert not t.manifest.has_deltas
    # pruned read under the NEW transform finds each key
    b_a = spark.createDataFrame([("a",)], "k string").select(
        F.expr(t.bucket_sql("k")).alias("b")).collect()[0]["b"]
    assert t.read(spark, buckets=[b_a]).filter(F.col("k") == "a").count() == 1
    # changelog across the rebucket: no bucket pruning possible, still exact
    assert LakeTable._changed_buckets(
        t.at_version(v_pre).manifest, t.manifest) is None
    assert t.read_changes(spark, v_pre).count() == 0
    t = t.append_deltas(spark.createDataFrame([("b", 99, 9)], t.schema()))
    rows = t.read_changes(spark, v_pre).collect()
    assert [(r["k"], r["_change_type"]) for r in rows] == [("b", "update")]
    # old snapshot still reads under its own (old) layout
    assert state_hash(t.at_version(v_pre).read(spark)) == h
