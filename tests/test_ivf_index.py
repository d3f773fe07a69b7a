"""Materialized IVF index (round 3): the probed-cell scan must read only
the probed cells' files, and the indexed query must return exactly the
inline (oracle-shaped) result."""

import os

from data_warehouse_etl_spark.functions.similarity import (
    _centroids_spark,
    _cos_spark,
    _knn_ivf_sql,
    build_ivf_index,
    ivf_cell_scan_df,
    ivf_index_dir,
    ivf_probed_cells_df,
    q_knn_ivf_probed,
)
from data_warehouse_etl_spark.lake import LakeTable
from tests.conftest import files_by_bucket, scanned_files

SF_DIR = "/root/testdata/sf0.001"


def test_ivf_index_builds_once_and_is_cell_partitioned(spark, tmp_path):
    idx = build_ivf_index(spark, SF_DIR, index_dir=str(tmp_path / "ivf"))
    cdir = os.path.join(idx, "cells")
    cells = LakeTable.load(cdir)
    assert cells.manifest.transform == "identity" and cells.manifest.bucket_col == "label"
    # one bucket per cell: bucket ids are exactly the corpus labels
    labels = {r[0] for r in spark.read.parquet(SF_DIR + "/embeddings.parquet")
              .select("label").distinct().collect()}
    assert set(files_by_bucket(cdir)) == labels and len(labels) >= 2
    # the centroid table reflects this cells snapshot
    cents = LakeTable.load(os.path.join(idx, "centroids"))
    assert cents.manifest.properties["cells_version"] == str(cells.manifest.version)
    # idempotent: second call is a no-op (no new snapshot of either table)
    build_ivf_index(spark, SF_DIR, index_dir=str(tmp_path / "ivf"))
    assert LakeTable.load(cdir).manifest.version == cells.manifest.version
    assert LakeTable.load(cents.path).manifest.version == cents.manifest.version


def test_ivf_probed_scan_is_partition_pruned(spark):
    labels = [int(r["label"]) for r in ivf_probed_cells_df(spark, SF_DIR).collect()]
    assert len(labels) == 2
    scan = ivf_cell_scan_df(spark, SF_DIR, labels)
    cdir = os.path.join(ivf_index_dir(SF_DIR), "cells")
    by_cell = files_by_bucket(cdir)
    assert scanned_files(scan, cdir) == sorted(p for c in labels for p in by_cell[c])


def test_ivf_indexed_equals_inline(spark):
    spark.read.parquet(f"{SF_DIR}/embeddings.parquet").createOrReplaceTempView(
        "embeddings_v"
    )
    inline = spark.sql(
        _knn_ivf_sql("embeddings_v", _cos_spark, _centroids_spark("embeddings_v"))
    )
    got = [tuple(r) for r in q_knn_ivf_probed(spark, SF_DIR).collect()]
    want = [tuple(r) for r in inline.collect()]
    assert got == want and len(got) == 10


def test_ivf_index_upsert_rewrites_cells_and_refreshes_centroids(spark, tmp_path):
    """Incremental maintenance (round 4, twin of the SRP upsert test): an
    upsert batch with one NEW vector and one vector MOVED between cells must
    rewrite exactly the affected cells (every other cell keeps its file
    paths), refresh exactly those cells' centroid rows (value-identical to
    a recompute over the updated cells), and carry every untouched centroid
    row over unchanged."""
    from data_warehouse_etl_spark.functions.similarity import ivf_index_upsert

    idx = build_ivf_index(spark, SF_DIR, index_dir=str(tmp_path / "ivf"))
    cdir = os.path.join(idx, "cells")

    def centroids():
        return {
            int(r["label"]): tuple(r["cv"])
            for r in LakeTable.load(os.path.join(idx, "centroids")).read(spark).collect()
        }

    before, cents_before = files_by_bucket(cdir), centroids()
    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    v0 = emb.filter("vec_id = 0").first()
    lbl0 = int(v0["label"])
    mover = emb.filter(f"label <> {lbl0}").first()
    old_lbl = int(mover["label"])
    rows = [
        (10**9, lbl0, list(v0["embedding"])),
        (int(mover["vec_id"]), lbl0, list(mover["embedding"])),  # moved cell
    ]
    new_df = spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<float>"
    )
    affected = ivf_index_upsert(spark, idx, new_df)
    assert set(affected) == {lbl0, old_lbl}

    after = files_by_bucket(cdir)
    changed = {c for c in set(before) | set(after) if before.get(c) != after.get(c)}
    assert changed == {lbl0, old_lbl}, changed

    cents_after = centroids()
    # untouched cells: centroid rows carried over bit-identically (no recompute)
    for lbl, cv in cents_before.items():
        if lbl not in affected:
            assert cents_after[lbl] == cv
    # affected cells: value-identical to a recompute over the updated cells
    cells = LakeTable.load(cdir).read(spark)
    cells.filter(f"label IN ({lbl0}, {old_lbl})").createOrReplaceTempView("chk_cells_v")
    want = {
        int(r["label"]): tuple(r["cv"])
        for r in spark.sql(
            "WITH " + _centroids_spark("chk_cells_v").strip()
            + " SELECT label, cv FROM centroids"
        ).collect()
    }
    for lbl in affected:
        assert cents_after[lbl] == want[lbl]

    # the mover left its old cell and sits in the new one
    assert cells.filter(f"label = {old_lbl} AND vec_id = {mover['vec_id']}").count() == 0
    assert cells.filter(f"label = {lbl0} AND vec_id = {mover['vec_id']}").count() == 1
