"""Randomized-but-seeded churn stress for the incremental index upserts
(round 5 — VERDICT r4 item 7): after EVERY one of 20 mixed batches (new
vectors, moved vectors, same-value rewrites), the incrementally-maintained
layout must equal a from-scratch rebuild of the same corpus state — the
CDC-maintains-the-index story made load-bearing, the same
replay-to-identical-snapshot law the engine's north rule applies to pages
(SURVEY.md §1.3 field-id-evolution analog: incremental maintenance replaces
the reference's rebuild-and-rename idiom,
``/root/reference/Sql Scripts/FCT_RESERVATION_UPD.sql:167-256``)."""

import os
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_warehouse_etl_spark.functions.similarity import (
    _ivf_cells,
    build_ivf_index,
    build_srp_index,
    ivf_index_upsert,
    srp_index_upsert,
)
from data_warehouse_etl_spark.lake import LakeTable

SF_DIR = "/root/testdata/sf0.001"
N_BATCHES = 20
SCHEMA = "vec_id bigint, label int, embedding array<float>"


def _corpus(spark):
    df = pd.read_parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    return {
        int(r.vec_id): (int(r.label), [float(x) for x in r.embedding])
        for r in df.itertuples()
    }


def _batches(corpus, rng, n_batches):
    """Seeded mixed batches mutating `corpus` in place: moves (negated
    embedding -> bucket flip), brand-new ids, and same-value rewrites."""
    dim = len(next(iter(corpus.values()))[1])
    next_id = max(corpus) + 1
    for _ in range(n_batches):
        batch = []
        for vid in rng.sample(sorted(corpus), k=rng.randint(2, 6)):  # movers
            lbl, emb = corpus[vid]
            emb2 = [-x for x in emb]
            corpus[vid] = (lbl, emb2)
            batch.append((vid, lbl, emb2))
        for _ in range(rng.randint(0, 2)):  # new vectors
            emb = [round(rng.uniform(-1, 1), 4) for _ in range(dim)]
            corpus[next_id] = (rng.randint(0, 24), emb)
            batch.append((next_id, corpus[next_id][0], emb))
            next_id += 1
        for vid in rng.sample(sorted(corpus), k=rng.randint(0, 2)):  # no-ops
            lbl, emb = corpus[vid]
            batch.append((vid, lbl, emb))
        # LWW within the batch: keep the LAST occurrence of a key, matching
        # the upsert's drop-ids-then-union semantics
        dedup = {}
        for row in batch:
            dedup[row[0]] = row
        yield list(dedup.values())


def _layout_state(spark, idx, kind):
    """The index's committed layout rows (IVF: the cells snapshot its
    centroid table reflects)."""
    if kind == "ivf":
        t, part_col = _ivf_cells(idx), "label"
    else:
        t, part_col = LakeTable.load(os.path.join(idx, "buckets")), "srp_bucket"
    return sorted(
        (int(r["vec_id"]), int(r["label"]), tuple(r["embedding"]), int(r[part_col]))
        for r in t.read(spark).collect()
    )


def _centroid_state(spark, idx):
    return sorted(
        (int(r["label"]), tuple(r["cv"]))
        for r in LakeTable.load(os.path.join(idx, "centroids")).read(spark).collect()
    )


def _write_corpus(corpus, path):
    # float32 embeddings, matching both the source parquet and what the
    # upsert path stores (createDataFrame array<float>) — the comparison is
    # exact, so the rebuild source must go through the same double->float32
    # IEEE conversion
    import pyarrow as pa
    import pyarrow.parquet as papq

    items = sorted(corpus.items())
    t = pa.table(
        {
            "vec_id": pa.array([v for v, _ in items], pa.int64()),
            "label": pa.array([lbl for _, (lbl, _) in items], pa.int32()),
            "embedding": pa.array(
                [emb for _, (_, emb) in items], pa.list_(pa.float32())
            ),
        }
    )
    papq.write_table(t, path)


@pytest.mark.parametrize("kind", ["srp", "ivf"])
def test_churned_index_equals_rebuild_every_batch(spark, tmp_path, kind):
    build, upsert = {
        "srp": (build_srp_index, srp_index_upsert),
        "ivf": (build_ivf_index, ivf_index_upsert),
    }[kind]
    idx = build(spark, SF_DIR, index_dir=str(tmp_path / "live"))
    corpus = _corpus(spark)
    rng = random.Random(20240817)
    src2 = str(tmp_path / "corpus.parquet")
    rebuild_dir = str(tmp_path / "rebuild")

    for i, batch in enumerate(_batches(corpus, rng, N_BATCHES)):
        upsert(spark, idx, spark.createDataFrame(batch, SCHEMA))
        # from-scratch oracle: rebuild the whole index from the current
        # corpus state and demand identical layout content
        _write_corpus(corpus, src2)
        fake_sf = str(tmp_path / "sf")
        os.makedirs(fake_sf, exist_ok=True)
        os.replace(src2, os.path.join(fake_sf, "embeddings.parquet"))
        build(spark, fake_sf, index_dir=rebuild_dir, force=True)

        got = _layout_state(spark, idx, kind)
        want = _layout_state(spark, rebuild_dir, kind)
        assert got == want, f"{kind} batch {i}: layout diverged from rebuild"
        if kind == "ivf":
            # the incrementally-refreshed centroid relation must equal the
            # rebuild's (both use the same ROUND(AVG) construction)
            assert _centroid_state(spark, idx) == _centroid_state(spark, rebuild_dir), (
                f"ivf batch {i}: centroids diverged"
            )

    # after the churn the live index holds every corpus row exactly once
    ids = [v for v, _, _, _ in _layout_state(spark, idx, kind)]
    assert ids == sorted(corpus)


@pytest.mark.parametrize("kind", ["srp", "ivf"])
def test_index_follows_lake_changelog(spark, tmp_path, kind):
    """The full CDC->index loop (round 5): an embeddings MoR LakeTable takes
    insert/update/DELETE commits; after each commit the materialized layout
    is synced from ``LakeTable.read_changes`` via
    ``{srp,ivf}_index_sync_changelog`` and must equal a from-scratch rebuild
    of the table's live view — deletes leave their partition (tombstone rows
    in the upsert drop set). Both changelog image conventions are exercised
    (post-only and pre/post pairs; preimages must be ignored)."""
    from data_warehouse_etl_spark.functions.similarity import (
        ivf_index_sync_changelog,
        srp_index_sync_changelog,
    )
    build, sync = {
        "srp": (build_srp_index, srp_index_sync_changelog),
        "ivf": (build_ivf_index, ivf_index_sync_changelog),
    }[kind]

    corpus = _corpus(spark)
    lschema = "vec_id bigint, label int, embedding array<float>, _deleted boolean, _v bigint"
    t = LakeTable.create(
        str(tmp_path / "emb"),
        schema=[
            ("vec_id", "bigint"), ("label", "int"),
            ("embedding", "array<float>"), ("_deleted", "boolean"), ("_v", "bigint"),
        ],
        bucket_col="vec_id", num_buckets=8,
        row_key="vec_id", version_cols=["_v"],
    )
    t = t.append(
        spark.createDataFrame(
            [(v, lbl, emb, False, 0) for v, (lbl, emb) in sorted(corpus.items())],
            lschema,
        )
    )

    def live(df):
        return df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))

    fake_sf = str(tmp_path / "sf")
    os.makedirs(fake_sf, exist_ok=True)
    _write_corpus(corpus, os.path.join(fake_sf, "embeddings.parquet"))
    idx = build(spark, fake_sf, index_dir=str(tmp_path / "live"))
    rebuild_dir = str(tmp_path / "rebuild")

    rng = random.Random(20250818)
    dim = len(next(iter(corpus.values()))[1])
    next_id = max(corpus) + 1
    for i in range(6):
        v_from = t.manifest.version
        ver = i + 1
        batch = []
        for vid in rng.sample(sorted(corpus), k=3):  # movers (bucket flip)
            lbl, emb = corpus[vid]
            emb2 = [-x for x in emb]
            corpus[vid] = (lbl, emb2)
            batch.append((vid, lbl, emb2, False, ver))
        emb = [round(rng.uniform(-1, 1), 4) for _ in range(dim)]  # insert
        corpus[next_id] = (rng.randint(0, 24), emb)
        batch.append((next_id, corpus[next_id][0], emb, False, ver))
        next_id += 1
        for vid in rng.sample(sorted(set(corpus) - {r[0] for r in batch}), k=2):
            del corpus[vid]  # deletes (tombstone delta rows)
            batch.append((vid, None, None, True, ver))
        t = t.append_deltas(spark.createDataFrame(batch, lschema))

        cl = t.read_changes(
            spark, v_from,
            exclude=["_v", "_deleted"], row_filter=live,
            update_images="both" if i % 2 else "post",
        )
        sync(spark, idx, cl)

        _write_corpus(corpus, os.path.join(fake_sf, "embeddings.parquet"))
        build(spark, fake_sf, index_dir=rebuild_dir, force=True)
        got = _layout_state(spark, idx, kind)
        assert got == _layout_state(spark, rebuild_dir, kind), (
            f"interval {i}: layout diverged from rebuild"
        )
        # deleted ids are gone from the layout
        assert {v for v, _, _, _ in got} == set(corpus)
        if kind == "ivf":
            assert _centroid_state(spark, idx) == _centroid_state(spark, rebuild_dir), (
                f"interval {i}: centroids diverged"
            )


class _Crash(RuntimeError):
    pass


def _index_state(spark, kind, idx):
    if kind == "minhash":
        return sorted(
            tuple(r) for r in LakeTable.load(os.path.join(idx, "bands")).read(spark)
            .select("doc_id", "band_no", "band_hash", "bh_bucket").collect()
        )
    state = _layout_state(spark, idx, kind)
    return (state, _centroid_state(spark, idx)) if kind == "ivf" else state


def _source_table(spark, path, kind):
    """A MoR source table for the index: embeddings (srp/ivf) or documents
    (minhash), with ``_deleted`` tombstones and a ``_v`` version column."""
    if kind == "minhash":
        cols = [("doc_id", "bigint"), ("text", "string")]
        src = spark.read.parquet(SF_DIR + "/documents.parquet")
        src = src.select("doc_id", "text").limit(60)
    else:
        cols = [("vec_id", "bigint"), ("label", "int"), ("embedding", "array<float>")]
        src = spark.read.parquet(SF_DIR + "/embeddings.parquet")
        src = src.select("vec_id", "label", "embedding")
    t = LakeTable.create(
        path, schema=cols + [("_deleted", "boolean"), ("_v", "bigint")],
        bucket_col=cols[0][0], num_buckets=4, row_key=cols[0][0], version_cols=["_v"],
    )
    src = src.withColumn("_deleted", F.lit(False)).withColumn("_v", F.lit(0).cast("bigint"))
    return t.append(src)


def _change_batch(spark, t, kind):
    """Commit one mixed batch to the source: moved rows, an insert, a delete."""
    live = t.read(spark).orderBy(t.manifest.row_key).limit(4).collect()
    if kind == "minhash":
        rows = [(r["doc_id"], r["text"] + " edited edited", False, 1) for r in live[:2]]
        rows += [(10**6, live[2]["text"], False, 1), (live[3]["doc_id"], None, True, 1)]
        schema = "doc_id bigint, text string, _deleted boolean, _v bigint"
    else:
        rows = [
            (r["vec_id"], (r["label"] + 1) % 25, [-x for x in r["embedding"]], False, 1)
            for r in live[:2]
        ]
        rows += [(10**6, 3, list(live[2]["embedding"]), False, 1),
                 (live[3]["vec_id"], None, None, True, 1)]
        schema = SCHEMA + ", _deleted boolean, _v bigint"
    return t.append_deltas(spark.createDataFrame(rows, schema))


def _crash_index_commit(monkeypatch, table: str, after_write: bool):
    """Crash the first index commit to ``table`` (a subdirectory name of the
    index): before its temp manifest is written, or with the temp manifest
    durable but not yet linked to its version name."""
    real = LakeTable._write_temp

    def write(path, m):
        op = m.history[-1]["operation"]
        if os.path.basename(path) == table and op == "overwrite_buckets":
            if after_write:
                real(path, m)
            raise _Crash(f"crash in the {table} commit")
        return real(path, m)

    monkeypatch.setattr(LakeTable, "_write_temp", staticmethod(write))


@pytest.mark.parametrize(
    "kind,point",
    [(k, p) for k in ("srp", "ivf", "minhash") for p in ("before_manifest", "before_swap")]
    + [("ivf", "before_centroids")],
)
def test_index_crash_point_keeps_old_state_and_recovers(
    spark, tmp_path, monkeypatch, kind, point
):
    """A crash at each step of an index sync commit (``before_swap``: temp
    manifest durable, not yet linked) — and, for IVF, between the cells
    commit and the centroids commit — leaves the index reading
    exactly its pre-sync state, with its pre-sync anchor; re-running the
    sync applies the interval once and equals a from-scratch rebuild."""
    from data_warehouse_etl_spark.functions.similarity import (
        ivf_index_sync_table,
        srp_index_sync_table,
    )
    from data_warehouse_etl_spark.functions.textops import minhash_index_sync_table

    sync = {"srp": srp_index_sync_table, "ivf": ivf_index_sync_table,
            "minhash": minhash_index_sync_table}[kind]
    kw = dict(
        row_filter=lambda df: df.filter(~F.coalesce(F.col("_deleted"), F.lit(False))),
        exclude=["_v", "_deleted"],
    )
    t = _source_table(spark, str(tmp_path / "src"), kind)
    idx = str(tmp_path / "idx")
    assert sync(spark, idx, t, **kw)["mode"] == "rebuild"
    v_synced = t.manifest.version
    t = _change_batch(spark, t, kind)
    before = _index_state(spark, kind, idx)

    table = {"srp": "buckets", "ivf": "cells", "minhash": "bands"}[kind]
    if point == "before_centroids":
        _crash_index_commit(monkeypatch, "centroids", after_write=False)
    else:
        _crash_index_commit(monkeypatch, table, after_write=point == "before_swap")
    with pytest.raises(_Crash):
        sync(spark, idx, t, **kw)
    monkeypatch.undo()
    assert _index_state(spark, kind, idx) == before

    res = sync(spark, idx, t, **kw)
    assert res["mode"] == "delta" and res["from"] == v_synced
    want = str(tmp_path / "want")
    assert sync(spark, want, t, **kw)["mode"] == "rebuild"
    assert _index_state(spark, kind, idx) == _index_state(spark, kind, want)
