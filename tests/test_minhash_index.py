"""Incremental dedup: the materialized MinHash band index.

Laws under test:
1. PROBE PARITY — probing the whole corpus against its own index yields
   exactly d3's corpus-level candidate pairs (the oracle-checked query),
   i.e. the index is a faithful materialization of the bandrows relation.
2. CDC MAINTENANCE — after every changelog interval of a documents
   LakeTable (modify/insert/delete, including a doc edited below shingle
   length), the synced index equals a from-scratch build of the live view.
3. The probe finds a fresh duplicate of an indexed doc, batch-pruned.
"""

import os

import pytest
from pyspark.sql import functions as F

from data_warehouse_etl_spark.functions.textops import (
    build_minhash_index,
    minhash_index_sync_changelog,
    minhash_probe_new,
    q_dedup_minhash_lsh,
)
from data_warehouse_etl_spark.lake import LakeTable

SF_DIR = "/root/testdata/sf0.001"


def _band_state(spark, index_dir):
    rows = LakeTable.load(os.path.join(index_dir, "bands")).read(spark).collect()
    return sorted(
        (int(r["doc_id"]), int(r["band_no"]), r["band_hash"], int(r["bh_bucket"]))
        for r in rows
    )


def test_probe_full_corpus_equals_d3(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    idx = build_minhash_index(spark, docs, str(tmp_path / "idx"))
    got = {
        (min(r["new_doc_id"], r["dup_of"]), max(r["new_doc_id"], r["dup_of"]))
        for r in minhash_probe_new(spark, idx, docs).collect()
    }
    want = {
        (int(r["doc_a"]), int(r["doc_b"]))
        for r in q_dedup_minhash_lsh(spark, SF_DIR).collect()
    }
    assert got == want and want  # non-vacuous: the corpus has near-dups


def test_minhash_index_follows_changelog(spark, tmp_path):
    src = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .limit(120)
    )
    t = LakeTable.create(
        str(tmp_path / "docs"),
        schema=[("doc_id", "bigint"), ("text", "string"),
                ("_deleted", "boolean"), ("ver", "int")],
        bucket_col="doc_id", num_buckets=4,
        row_key="doc_id", version_cols=["ver"],
    )
    t = t.append(src.withColumn("_deleted", F.lit(False)).withColumn("ver", F.lit(0)))

    def live(df):
        return df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))

    def live_docs(tbl):
        return live(tbl.read(spark)).select("doc_id", "text")

    idx = build_minhash_index(spark, live_docs(t), str(tmp_path / "idx"))
    ids = [int(r["doc_id"]) for r in src.select("doc_id").orderBy("doc_id").collect()]
    texts = {
        int(r["doc_id"]): r["text"] for r in src.collect()
    }

    intervals = [
        # (modified docs, inserted (id, text), deleted ids)
        ([ids[0], ids[1]], [(10_001, texts[ids[2]])], [ids[3]]),
        ([ids[4]], [(10_002, "tiny doc")], [ids[5], 10_001]),  # below shingle len
        ([ids[2]], [(10_003, texts[ids[6]] + " extra trailing words")], []),
    ]
    ver = 0
    for i, (mods, ins, dels) in enumerate(intervals):
        ver += 1
        v_from = t.manifest.version
        rows = [(d, texts[d] + f" edited{i} edited{i}", False, ver) for d in mods]
        rows += [(d, txt, False, ver) for d, txt in ins]
        rows += [(d, None, True, ver) for d in dels]
        t = t.append_deltas(
            spark.createDataFrame(rows, "doc_id bigint, text string, _deleted boolean, ver int")
        )
        for d in mods:
            texts[d] = texts[d] + f" edited{i} edited{i}"
        cl = t.read_changes(
            spark, v_from, exclude=["ver", "_deleted"], row_filter=live,
            update_images="both" if i % 2 else "post",
        )
        minhash_index_sync_changelog(spark, idx, cl)
        rebuilt = build_minhash_index(
            spark, live_docs(t), str(tmp_path / f"rebuild{i}"), force=True
        )
        assert _band_state(spark, idx) == _band_state(spark, rebuilt), f"interval {i}"

    # a fresh duplicate of a surviving indexed doc is detected by the probe
    probe = minhash_probe_new(
        spark, idx,
        spark.createDataFrame([(99_999, texts[ids[7]])], "doc_id bigint, text string"),
    )
    dups = {int(r["dup_of"]) for r in probe.collect()}
    assert ids[7] in dups
    # ...and an unrelated doc is not
    probe2 = minhash_probe_new(
        spark, idx,
        spark.createDataFrame(
            [(99_998, "completely unrelated sentence about nothing in particular "
                      "with enough words to shingle")],
            "doc_id bigint, text string"),
    )
    assert probe2.count() == 0


def test_sync_table_self_anchors_and_is_crash_idempotent(spark, tmp_path):
    """The self-anchoring sync: first call rebuilds, later calls apply the
    changelog from the anchor committed with the index, and re-applying the
    SAME interval is a state no-op; an anchor expired by retention GC falls
    back to one rebuild and stays correct."""
    from data_warehouse_etl_spark.functions.textops import minhash_index_sync_table

    src = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text").limit(60)
    )
    t = LakeTable.create(
        str(tmp_path / "docs"),
        schema=[("doc_id", "bigint"), ("text", "string"),
                ("_deleted", "boolean"), ("ver", "int")],
        bucket_col="doc_id", num_buckets=4,
        row_key="doc_id", version_cols=["ver"],
    )
    t = t.append(src.withColumn("_deleted", F.lit(False)).withColumn("ver", F.lit(0)))

    def live(df):
        return df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))

    idx = str(tmp_path / "idx")
    os.makedirs(idx)
    kw = dict(row_filter=live, exclude=["ver", "_deleted"])
    assert minhash_index_sync_table(spark, idx, t, **kw)["mode"] == "rebuild"
    assert minhash_index_sync_table(spark, idx, t, **kw)["mode"] == "noop"

    ids = [int(r["doc_id"]) for r in src.select("doc_id").orderBy("doc_id").collect()]
    v_from = t.manifest.version
    t = t.append_deltas(spark.createDataFrame(
        [(ids[0], "some fresh edited text with enough words here", False, 1),
         (ids[1], None, True, 1)],
        "doc_id bigint, text string, _deleted boolean, ver int"))
    res = minhash_index_sync_table(spark, idx, t, **kw)
    assert res["mode"] == "delta" and res["from"] == v_from
    state = _band_state(spark, idx)
    # the anchor rides the index commit
    bands = LakeTable.load(os.path.join(idx, "bands"))
    assert bands.manifest.properties["synced_version"] == str(t.manifest.version)
    # re-apply the SAME interval directly — state unchanged
    from data_warehouse_etl_spark.functions.textops import minhash_index_sync_changelog
    cl = t.read_changes(spark, v_from, exclude=["ver", "_deleted"], row_filter=live)
    minhash_index_sync_changelog(spark, idx, cl)
    assert _band_state(spark, idx) == state

    # expire the anchor snapshot -> next sync rebuilds, still correct
    t = t.append_deltas(spark.createDataFrame(
        [(ids[2], None, True, 2)],
        "doc_id bigint, text string, _deleted boolean, ver int"))
    t.expire_snapshots(keep_last=1)
    res = minhash_index_sync_table(spark, idx, t, **kw)
    assert res["mode"] == "rebuild"
    want = build_minhash_index(
        spark, live(t.read(spark)).select("doc_id", "text"),
        str(tmp_path / "want"), force=True)
    assert _band_state(spark, idx) == _band_state(spark, want)
