"""Value-parity check of the materialized ANN index layouts against the
inline DuckDB oracle at a given sf (round 5 — VERDICT r4 item 5: prove the
indexes green at the scale the bench exercises, not just sf0.01, and prove
it AFTER incremental upserts, not just after a fresh build).

Phase A — post-build: build (or reuse) the default source-synchronized IVF
and SRP indexes for ``sf_dir`` and run v2/v4/v5 — which probe those
layouts — against their SIM_ORACLE SQL on DuckDB, using the driver's
row-count / column / value-hash convention (tools/compare_oracle.py).

Phase B — post-upsert: copy both indexes aside and churn them through the
incremental maintenance path: ``upsert_rounds`` rounds of (negate k sampled
vectors' embeddings → they MOVE buckets/cells) followed by (restore the
originals → they move back). The final corpus is value-identical to the
source by construction, so the DuckDB oracle is unchanged — a green compare
against the CHURNED layouts proves ``srp_index_upsert``/``ivf_index_upsert``
preserve layout/oracle parity through real bucket moves (including emptied
and re-created buckets) at bench scale. Each index is a directory of
LakeTables whose manifests hold relative file paths, so a copy of the
directory is an independent index.

Prints one line ``INDEX_PARITY {json}`` and exits 0 iff everything matched.

Usage: python tools/check_index_parity.py [sf_dir] [k_moved] [upsert_rounds]
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.compare_oracle import value_hash  # noqa: E402


def _compare(sdf, con, sql) -> bool:
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    return (
        len(srows) == len(drows)
        and sorted(scols) == sorted(dcols)
        and value_hash(srows, scols) == value_hash(drows, dcols)
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k_moved = int(sys.argv[2]) if len(sys.argv) > 2 else 40
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from data_warehouse_etl_spark.session import get_spark
    from data_warehouse_etl_spark.functions.similarity import (
        _MULTIPROBE_MASKS,
        SIM_ORACLE,
        SIM_QUERIES,
        build_ivf_index,
        build_srp_index,
        ivf_cell_scan_df,
        ivf_index_upsert,
        ivf_probed_cells_df,
        srp_bucket_scan_df,
        srp_index_upsert,
        srp_query_bucket,
    )

    spark = get_spark(app_name="check-index-parity")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )

    # ---- Phase A: the default (source-synchronized) layouts -------------
    ivf_default = build_ivf_index(spark, sf_dir)
    srp_default = build_srp_index(spark, sf_dir)
    post_build = {
        name: _compare(SIM_QUERIES[name](spark, sf_dir), con, SIM_ORACLE[name])
        for name in ("v2_knn_ivf_probed", "v4_knn_lsh_srp", "v5_knn_lsh_multiprobe")
    }

    # ---- Phase B: churn copies through the incremental-upsert path ------
    work = os.path.join(os.path.dirname(ivf_default), "parity_churn")
    shutil.rmtree(work, ignore_errors=True)
    ivf_idx = os.path.join(work, "ivf")
    srp_idx = os.path.join(work, "srp")
    shutil.copytree(ivf_default, ivf_idx)
    shutil.copytree(srp_default, srp_idx)

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    # seeded sample of movers (never the probe vector itself: restoring it
    # last keeps even mid-churn probes meaningful, but excluding it is
    # simpler and loses nothing — every other vector still exercises moves)
    movers = (
        emb.filter("vec_id <> 0")
        .orderBy("vec_id")
        .limit(k_moved)
        .collect()
    )
    orig = [(int(r["vec_id"]), int(r["label"]), list(r["embedding"])) for r in movers]
    flipped = [(v, lbl, [-x for x in e]) for v, lbl, e in orig]
    schema = "vec_id bigint, label int, embedding array<float>"
    n_batches = 0
    for _ in range(rounds):
        for batch in (flipped, orig):
            df = spark.createDataFrame(batch, schema)
            srp_index_upsert(spark, srp_idx, df)
            ivf_index_upsert(spark, ivf_idx, df)
            n_batches += 1

    qb = srp_query_bucket(spark, sf_dir)
    post_upsert = {
        "v2_knn_ivf_probed": _compare(
            ivf_cell_scan_df(
                spark,
                sf_dir,
                [
                    int(r["label"])
                    for r in ivf_probed_cells_df(
                        spark, sf_dir, index_dir=ivf_idx
                    ).collect()
                ],
                index_dir=ivf_idx,
            ),
            con,
            SIM_ORACLE["v2_knn_ivf_probed"],
        ),
        "v4_knn_lsh_srp": _compare(
            srp_bucket_scan_df(spark, sf_dir, qb, index_dir=srp_idx),
            con,
            SIM_ORACLE["v4_knn_lsh_srp"],
        ),
        "v5_knn_lsh_multiprobe": _compare(
            srp_bucket_scan_df(
                spark, sf_dir, [qb ^ m for m in _MULTIPROBE_MASKS], index_dir=srp_idx
            ),
            con,
            SIM_ORACLE["v5_knn_lsh_multiprobe"],
        ),
    }
    shutil.rmtree(work, ignore_errors=True)

    out = {
        "sf_dir": sf_dir,
        "post_build": post_build,
        "post_build_ok": all(post_build.values()),
        "upsert_batches": n_batches,
        "moved_vectors": k_moved,
        "post_upsert": post_upsert,
        "post_upsert_ok": all(post_upsert.values()),
    }
    out["ok"] = out["post_build_ok"] and out["post_upsert_ok"]
    print("INDEX_PARITY " + json.dumps(out))
    spark.stop()
    return 0 if out["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
