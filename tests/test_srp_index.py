"""Materialized SRP-LSH index (round 4): the probe-bucket candidate scan
must read only the probed buckets' files, and the indexed query must return
exactly the inline (oracle-shaped) result."""

import os

from data_warehouse_etl_spark.functions.similarity import (
    _cos_spark,
    _knn_lsh_sql,
    _srp_bucket_spark,
    build_srp_index,
    q_knn_lsh_srp,
    srp_bucket_scan_df,
    srp_index_dir,
    srp_query_bucket,
)
from data_warehouse_etl_spark.lake import LakeTable
from tests.conftest import files_by_bucket, scanned_files

SF_DIR = "/root/testdata/sf0.001"


def test_srp_index_builds_once_and_is_bucket_partitioned(spark, tmp_path):
    idx = build_srp_index(spark, SF_DIR, index_dir=str(tmp_path / "srp"))
    bdir = os.path.join(idx, "buckets")
    t = LakeTable.load(bdir)
    assert t.manifest.transform == "identity" and t.manifest.bucket_col == "srp_bucket"
    by_bucket = files_by_bucket(bdir)
    assert len(by_bucket) >= 2
    # one bucket per srp_bucket value: every file holds only its own bucket
    for b in by_bucket:
        vals = {r[0] for r in t.read(spark, buckets=[b]).select("srp_bucket").collect()}
        assert vals == {b}
    # idempotent: second call is a no-op (no new snapshot)
    v0 = t.manifest.version
    build_srp_index(spark, SF_DIR, index_dir=str(tmp_path / "srp"))
    assert LakeTable.load(bdir).manifest.version == v0


def test_srp_probe_scan_is_partition_pruned(spark):
    qb = srp_query_bucket(spark, SF_DIR)
    assert 0 <= qb < 16  # 4 hyperplanes -> 4-bit bucket
    scan = srp_bucket_scan_df(spark, SF_DIR, qb)
    bdir = os.path.join(srp_index_dir(SF_DIR), "buckets")
    assert scanned_files(scan, bdir) == files_by_bucket(bdir)[qb]


def test_srp_indexed_equals_inline(spark):
    spark.read.parquet(f"{SF_DIR}/embeddings.parquet").createOrReplaceTempView(
        "embeddings_v"
    )
    inline = spark.sql(_knn_lsh_sql("embeddings_v", _cos_spark, _srp_bucket_spark))
    got = [tuple(r) for r in q_knn_lsh_srp(spark, SF_DIR).collect()]
    want = [tuple(r) for r in inline.collect()]
    assert got == want and len(got) == 10


def test_srp_index_upsert_rewrites_only_affected_partitions(spark, tmp_path):
    """Incremental maintenance (round 4): an upsert batch with one NEW
    vector and one MOVED vector (embedding changed -> bucket flips) must
    rewrite exactly the affected buckets in one commit — every other
    bucket keeps its file paths — and the pruned probe scan must see the
    new state."""
    from data_warehouse_etl_spark.functions.similarity import srp_index_upsert

    idx = build_srp_index(spark, SF_DIR, index_dir=str(tmp_path / "srp"))
    bdir = os.path.join(idx, "buckets")
    before = files_by_bucket(bdir)
    v_before = LakeTable.load(bdir).manifest.version
    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    qb = srp_query_bucket(spark, SF_DIR)
    # the probe vector's own embedding -> lands in the probe's bucket
    v0 = list(emb.filter("vec_id = 0").first()["embedding"])
    # a vector currently in the probe's bucket, to MOVE by negating its
    # embedding (sign flips on every hyperplane -> complement bucket 15-qb)
    mover = (
        LakeTable.load(bdir).read(spark, buckets=[qb])
        .filter("vec_id <> 0")
        .select("vec_id", "label", "embedding")
        .first()
    )
    rows = [
        (10**9, 0, v0),
        (int(mover["vec_id"]), int(mover["label"]), [-x for x in mover["embedding"]]),
    ]
    new_df = spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<float>"
    )
    affected = srp_index_upsert(spark, idx, new_df)
    assert qb in affected and (15 - qb) in affected
    assert LakeTable.load(bdir).manifest.version == v_before + 1  # one commit

    after = files_by_bucket(bdir)
    changed = {b for b in set(before) | set(after) if before.get(b) != after.get(b)}
    assert changed == {qb, 15 - qb}, changed

    # the probe's pruned scan now surfaces the new vector as the top hit
    # (identical embedding to the probe -> cosine 1.0) and no longer the mover
    got = srp_bucket_scan_df(spark, SF_DIR, qb, index_dir=idx).collect()
    assert got[0]["vec_id"] == 10**9 and abs(got[0]["cosine"] - 1.0) < 1e-6
    assert all(r["vec_id"] != mover["vec_id"] for r in got)
    # the mover landed in its complement bucket with its new embedding
    moved = (
        LakeTable.load(bdir).read(spark, buckets=[15 - qb])
        .filter(f"srp_bucket = {15 - qb} AND vec_id = {int(mover['vec_id'])}")
        .collect()
    )
    assert len(moved) == 1


def test_srp_index_upsert_drops_emptied_bucket(spark, tmp_path):
    """Edge: when an upsert moves EVERY vector out of a bucket, that bucket
    has no files in the new snapshot, so a later probe of it sees nothing."""
    from data_warehouse_etl_spark.functions.similarity import srp_index_upsert

    idx = build_srp_index(spark, SF_DIR, index_dir=str(tmp_path / "srp"))
    bdir = os.path.join(idx, "buckets")
    layout = LakeTable.load(bdir).read(spark)
    smallest = min(
        layout.groupBy("srp_bucket").count().collect(), key=lambda r: r["count"]
    )
    b = int(smallest["srp_bucket"])
    victims = (
        layout.filter(f"srp_bucket = {b}")
        .select("vec_id", "label", "embedding")
        .collect()
    )
    batch = [
        (int(r["vec_id"]), int(r["label"]), [-x for x in r["embedding"]])
        for r in victims
    ]
    new_df = spark.createDataFrame(
        batch, "vec_id bigint, label int, embedding array<float>"
    )
    affected = srp_index_upsert(spark, idx, new_df)
    assert b in affected and (15 - b) in affected
    assert b not in files_by_bucket(bdir)
    assert srp_bucket_scan_df(spark, SF_DIR, b, index_dir=idx).count() == 0
    # every victim landed in the complement bucket
    ids = ", ".join(str(v[0]) for v in batch)
    got = (
        LakeTable.load(bdir).read(spark)
        .filter(f"srp_bucket = {15 - b} AND vec_id IN ({ids})")
        .count()
    )
    assert got == len(batch)


def test_srp_multiprobe_pruned_and_equals_inline(spark):
    """v5 multiprobe: the candidate scan must read only the files of the
    probe's bucket plus its Hamming-1 neighbors (5 of 16 buckets), and the
    indexed result must equal the self-contained inline (oracle) form."""
    from data_warehouse_etl_spark.functions.similarity import (
        _MULTIPROBE_MASKS,
        _knn_lsh_multiprobe_sql,
        _xor_spark,
        q_knn_lsh_multiprobe,
    )

    qb = srp_query_bucket(spark, SF_DIR)
    probes = sorted({qb ^ m for m in _MULTIPROBE_MASKS})
    scan = srp_bucket_scan_df(spark, SF_DIR, probes)
    bdir = os.path.join(srp_index_dir(SF_DIR), "buckets")
    by_bucket = files_by_bucket(bdir)
    assert scanned_files(scan, bdir) == sorted(
        p for b in probes for p in by_bucket.get(b, [])
    )

    spark.read.parquet(f"{SF_DIR}/embeddings.parquet").createOrReplaceTempView(
        "embeddings_v"
    )
    inline = spark.sql(
        _knn_lsh_multiprobe_sql("embeddings_v", _cos_spark, _srp_bucket_spark, _xor_spark)
    )
    got = [tuple(r) for r in q_knn_lsh_multiprobe(spark, SF_DIR).collect()]
    want = [tuple(r) for r in inline.collect()]
    assert got == want and len(got) == 10
    # multiprobe candidates are a superset of v4's single bucket
    assert {r[3] for r in got} <= set(probes)


def test_srp_upsert_invalidates_build_stamp(spark, tmp_path):
    """Round-5 advisor fix: after an upsert the index no longer mirrors the
    source parquet, so the build stamp committed with it must stop claiming
    it does — the next default build_srp_index() resyncs from source and
    parity queries stay value-identical with the DuckDB oracle (which always
    reads the source)."""
    from data_warehouse_etl_spark.functions.similarity import srp_index_upsert

    idx = build_srp_index(spark, SF_DIR, index_dir=str(tmp_path / "srp"))
    bdir = os.path.join(idx, "buckets")

    def stamp():
        return LakeTable.load(bdir).manifest.properties["built_from"]

    stamp0 = stamp()
    assert stamp0.startswith(os.path.abspath(SF_DIR + "/embeddings.parquet") + ":")
    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    v0 = list(emb.filter("vec_id = 0").first()["embedding"])
    srp_index_upsert(
        spark,
        idx,
        spark.createDataFrame(
            [(10**9, 0, v0)], "vec_id bigint, label int, embedding array<float>"
        ),
    )
    assert stamp() == ""
    # a rebuild resyncs from source: stamp restored, upserted vector gone
    build_srp_index(spark, SF_DIR, index_dir=idx)
    assert stamp() == stamp0
    assert LakeTable.load(bdir).read(spark).filter("vec_id = 1000000000").count() == 0


def test_ann_recall_summary_invariants(spark):
    """Pins the recall measurement's structure, not host-dependent values:
    v5's candidate set is a strict superset of v4's (the zero mask is in
    _MULTIPROBE_MASKS) so its recall and scan fraction must both dominate;
    every variant scans a strict subset of the corpus; recall/scan land in
    [0, 1]; lift = recall/scan. Deterministic probe stride => same numbers
    every run at a given sf."""
    from data_warehouse_etl_spark.functions.similarity import ann_recall_summary

    rows = {
        r["variant"]: r
        for r in ann_recall_summary(
            spark, "/root/testdata/sf0.01", k=10, max_probes=25
        ).collect()
    }
    assert set(rows) == {
        "v2_ivf_nprobe1", "v2_knn_ivf_probed", "v2_ivf_nprobe4",
        "v4_knn_lsh_srp", "v5_knn_lsh_multiprobe",
    }
    for r in rows.values():
        assert 0.0 <= r["recall_at_k"] <= 1.0
        assert 0.0 < r["scan_frac"] < 1.0
        assert abs(r["lift"] - round(r["recall_at_k"] / r["scan_frac"], 2)) < 0.02
    v4, v5 = rows["v4_knn_lsh_srp"], rows["v5_knn_lsh_multiprobe"]
    assert v5["recall_at_k"] >= v4["recall_at_k"]
    assert v5["scan_frac"] > v4["scan_frac"]
    # the IVF n_probe curve: candidate supersets => both recall and scan
    # fraction monotone in n_probe
    p1, p2, p4 = (rows[v] for v in
                  ("v2_ivf_nprobe1", "v2_knn_ivf_probed", "v2_ivf_nprobe4"))
    assert p1["recall_at_k"] <= p2["recall_at_k"] <= p4["recall_at_k"]
    assert p1["scan_frac"] < p2["scan_frac"] < p4["scan_frac"]
