"""LakeTable: atomic snapshots, the publish protocol, bucket pruning,
field-id schema evolution."""

import os
import threading

import pytest

from pyspark.sql import functions as F

from data_warehouse_etl_spark.lake import LakeTable, state_hash

SCHEMA = [("url", "string"), ("v", "int")]


def _rows(df):
    return {(r["url"], r["v"]) for r in df.collect()}


def test_create_append_read(spark, tmp_lake):
    t = LakeTable.create(os.path.join(tmp_lake, "t"), SCHEMA, bucket_col="url", num_buckets=4)
    df = spark.createDataFrame([(f"u{i}", i) for i in range(20)], "url string, v int")
    t.append(df)
    assert _rows(t.read(spark)) == {(f"u{i}", i) for i in range(20)}
    # snapshot isolation: a handle loaded before a second append still reads v1
    old = LakeTable.load(t.path)
    t.append(spark.createDataFrame([("u99", 99)], "url string, v int"))
    assert len(_rows(old.read(spark))) == 20
    assert len(_rows(t.read(spark))) == 21


def test_bucket_pruning_and_overwrite(spark, tmp_lake):
    t = LakeTable.create(os.path.join(tmp_lake, "t"), SCHEMA, bucket_col="url", num_buckets=4)
    df = spark.createDataFrame([(f"u{i}", i) for i in range(40)], "url string, v int")
    t.append(df)
    # compute which bucket u3 belongs to, read only that bucket, find u3 there
    b3 = df.filter(F.col("url") == "u3").select(F.expr(t.bucket_sql())).collect()[0][0]
    pruned = t.read(spark, buckets=[b3])
    assert ("u3", 3) in _rows(pruned)
    assert len(_rows(pruned)) < 40  # actually pruned

    # copy-on-write: bump v for every url in bucket b3 only
    newb = t.read(spark, buckets=[b3]).withColumn("v", F.col("v") + 1000)
    t.overwrite_buckets(newb, [b3])
    all_rows = dict(_rows(t.read(spark)))
    assert all_rows["u3"] == 1003
    assert all_rows["u4"] == 4 or all_rows["u4"] == 1004  # depends on u4's bucket
    # rows outside b3 untouched
    outside = [u for u, v in all_rows.items() if v < 1000]
    assert outside, "some rows must live outside the overwritten bucket"


def test_replace_and_properties(spark, tmp_lake):
    t = LakeTable.create(os.path.join(tmp_lake, "t"), SCHEMA, bucket_col="url", num_buckets=2)
    t.append(spark.createDataFrame([("a", 1)], "url string, v int"))
    t.replace(
        spark.createDataFrame([("b", 2)], "url string, v int"),
        properties_update={"batch": "7"},
    )
    assert _rows(t.read(spark)) == {("b", 2)}
    assert LakeTable.load(t.path).manifest.properties["batch"] == "7"


def test_schema_evolution_add_and_rename(spark, tmp_lake):
    t = LakeTable.create(os.path.join(tmp_lake, "t"), SCHEMA, bucket_col="url", num_buckets=2)
    t.append(spark.createDataFrame([("a", 1)], "url string, v int"))
    t.add_column("fetch_status", "int")
    t.rename_column("v", "version")
    # old file resolves by field id: v -> version, fetch_status -> null
    t.append(
        spark.createDataFrame([("b", 2, 200)], "url string, version int, fetch_status int")
    )
    got = {r["url"]: (r["version"], r["fetch_status"]) for r in t.read(spark).collect()}
    assert got == {"a": (1, None), "b": (2, 200)}
    # reload from disk sees the same evolved view (manifest round-trip)
    got2 = {r["url"]: (r["version"], r["fetch_status"]) for r in
            LakeTable.load(t.path).read(spark).collect()}
    assert got2 == got


def test_state_hash_order_insensitive(spark):
    a = spark.createDataFrame([("a", 1), ("b", 2)], "url string, v int")
    b = spark.createDataFrame([("b", 2), ("a", 1)], "url string, v int").repartition(3)
    assert state_hash(a) == state_hash(b)
    c = spark.createDataFrame([("a", 1), ("b", 3)], "url string, v int")
    assert state_hash(a) != state_hash(c)


def test_publish_race_has_one_winner(tmp_path, monkeypatch):
    """Six handles at the same base publish at once; each waits, its temp
    manifest durable, until all have passed the head check, so the atomic
    link alone picks the winner. Exactly one publishes; the rest raise and
    each commits after refresh()."""
    path = str(tmp_path / "t")
    LakeTable.create(path, SCHEMA)
    n = 6
    handles = [LakeTable.load(path) for _ in range(n)]
    barrier = threading.Barrier(n, timeout=30)
    real = LakeTable._write_temp

    def write(p, m):
        tmp = real(p, m)
        barrier.wait()
        return tmp

    monkeypatch.setattr(LakeTable, "_write_temp", staticmethod(write))
    won, lost = [], {}

    def commit(i):
        try:
            handles[i].set_properties({"writer": str(i)})
            won.append(i)
        except RuntimeError as e:
            lost[i] = str(e)

    threads = [threading.Thread(target=commit, args=(i,)) for i in range(n)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=60)
        assert not th.is_alive()
    monkeypatch.undo()
    assert len(won) == 1 and sorted(won + list(lost)) == list(range(n))
    assert all("concurrent commit" in e for e in lost.values())
    head = LakeTable.load(path)
    assert head.manifest.version == 1
    assert head.manifest.properties["writer"] == str(won[0])
    for i in lost:
        handles[i].refresh().set_properties({"writer": str(i)})
    assert LakeTable._versions(path) == list(range(n + 1))
    assert not [f for f in os.listdir(os.path.join(path, "metadata")) if ".tmp-" in f]


def test_stale_handle_refused_after_its_next_version_expired(tmp_path):
    path = str(tmp_path / "t")
    stale = LakeTable.create(path, SCHEMA)
    t = LakeTable.load(path)
    for i in range(3):
        t = t.set_properties({"i": str(i)})
    t.expire_snapshots(keep_last=1)
    assert LakeTable._versions(path) == [3]  # v1, the stale handle's next version, is gone
    with pytest.raises(RuntimeError, match="concurrent commit"):
        stale.set_properties({"i": "stale"})
    assert LakeTable._versions(path) == [3]
    assert LakeTable.load(path).manifest.properties["i"] == "2"


def test_create_refuses_an_existing_table(spark, tmp_path):
    path = str(tmp_path / "t")
    t = LakeTable.create(path, SCHEMA, bucket_col="url", num_buckets=2)
    t.append(spark.createDataFrame([("a", 1)], "url string, v int"))
    with pytest.raises(FileExistsError):
        LakeTable.create(path, [("other", "string")])
    again = LakeTable.load(path)
    assert again.manifest.version == 1 and LakeTable._versions(path) == [0, 1]
    assert _rows(again.read(spark)) == {("a", 1)}


def test_stray_temp_manifest_is_ignored(tmp_path):
    """A publish that crashed with its temp manifest durable but unlinked
    leaves a temp file that no reader or listing takes for a snapshot."""
    path = str(tmp_path / "t")
    LakeTable.create(path, SCHEMA)
    empty = str(tmp_path / "empty")
    for p, v in ((path, 1), (empty, 0)):
        os.makedirs(os.path.join(p, "metadata"), exist_ok=True)
        with open(os.path.join(p, "metadata", f"v{v}.json.tmp-deadbeef"), "w") as fh:
            fh.write("{}")
    assert LakeTable.exists(path) and not LakeTable.exists(empty)
    t = LakeTable.load(path)
    assert t.manifest.version == 0
    assert [s["version"] for s in t.snapshots()] == [0]
    assert t.set_properties({"k": "v"}).manifest.version == 1
