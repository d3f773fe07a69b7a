"""Plan-quality audit: print formatted physical plans for the hot paths and
grep them for the properties that matter at 100 TB.

Checks (per the scale rules the engine is designed around):
- parquet scans show PushedFilters + pruned ReadSchema (no full-width reads);
- small dims join as BroadcastHashJoin;
- the LWW dedup is HashAggregate, never Window or SortAggregate;
- WholeStageCodegen spans cover the relational operators;
- no CartesianProduct / BroadcastNestedLoopJoin outside the intended
  cross-join-with-one-row-query cases.

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(name: str, df, want: list[str] = (), forbid: list[str] = ()) -> bool:
    plan = plan_of(df)
    problems = [f"missing: {w}" for w in want if w not in plan]
    problems += [f"forbidden: {f}" for f in forbid if f in plan]
    status = "OK " if not problems else "BAD"
    print(f"{status} {name}" + (f"  [{'; '.join(problems)}]" if problems else ""))
    if problems:
        print(plan)
    return not problems


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from data_warehouse_etl_spark.session import get_spark
    from data_warehouse_etl_spark.operators import PARITY_QUERIES

    spark = get_spark(app_name="explain")
    ok = True

    # S1: filter + projection pushed to the parquet scan
    q = PARITY_QUERIES["s1_pruned_scan"](spark, sf)
    ok &= audit("s1 pushdown+pruning", q,
                want=["PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_quantity)"],
                forbid=["Exchange"])
    plan = plan_of(q)
    if "l_extendedprice" in plan:
        ok = False
        print("BAD s1: ReadSchema not pruned (reads l_extendedprice)")

    # J2: dim joins broadcast, no shuffle of the big side for the dims
    ok &= audit("j2 broadcast dims", PARITY_QUERIES["j2_left_enrich"](spark, sf),
                want=["BroadcastHashJoin"], forbid=["CartesianProduct"])

    # A1: partial aggregation present (map-side combine). (AQE formatted
    # plans don't annotate codegen ids pre-execution, so grep partial_ fns.)
    ok &= audit("a1 partial agg", PARITY_QUERIES["a1_groupby_agg"](spark, sf),
                want=["HashAggregate", "partial_sum"])

    # W2 rank path is window (by design for the query), but the ENGINE dedup
    # must be hash aggregation:
    from data_warehouse_etl_spark.cdc.dedup import lww_dedup, lww_dedup_broadcast_keys
    from pyspark.sql import functions as F
    ev = (
        spark.read.parquet(f"{sf}/events.parquet")
        .select(
            F.col("event_id").alias("seq"),
            F.col("user_id").cast("string").alias("url"),
            F.col("ts").alias("warc_ts"),
            "value",
        )
    )
    # Window funnels a hot key through one sorted task; SortAggregate (a
    # struct-typed buffer) sorts the whole input on both sides of the
    # exchange. Both row-recovery paths must plan primitive hash aggregates.
    for name, fn in (("lww_dedup", lww_dedup),
                     ("lww_dedup_broadcast_keys", lww_dedup_broadcast_keys)):
        ok &= audit(f"engine {name} = hash agg", fn(ev),
                    want=["HashAggregate"], forbid=["Window", "SortAggregate"])

    # J6 range join: equi key drives the join (no BNLJ)
    ok &= audit("j6 equi-driven range join", PARITY_QUERIES["j6_range_join"](spark, sf),
                forbid=["BroadcastNestedLoopJoin", "CartesianProduct"])

    # V2 IVF (round 3: MATERIALIZED index): the probe plan reads the
    # 25-row centroids table, never the corpus; the cell-scan plan is
    # statically partition-pruned to the probed labels (PartitionFilters) —
    # only those cells' files are read.
    from data_warehouse_etl_spark.functions.similarity import (
        ivf_cell_scan_df,
        ivf_probed_cells_df,
    )
    # (the probe's only corpus touch is the 1-row vec_id=0 pushed lookup)
    probe = ivf_probed_cells_df(spark, sf)
    ok &= audit("v2 probe reads centroid table", probe,
                want=["centroids", "EqualTo(vec_id,0)"])
    labels = [int(r["label"]) for r in probe.collect()]
    cell_scan = ivf_cell_scan_df(spark, sf, labels)
    ok &= audit("v2 cell scan partition-pruned", cell_scan,
                want=["PartitionFilters: [", " IN ("],
                forbid=["CartesianProduct"])

    # V4 SRP-LSH (round 4: MATERIALIZED bucketed layout): the candidate scan
    # is statically partition-pruned to the probe's bucket — no query-time
    # hyperplane evaluation over the corpus.
    from data_warehouse_etl_spark.functions.similarity import (
        srp_bucket_scan_df,
        srp_query_bucket,
    )
    qb = srp_query_bucket(spark, sf)
    srp_scan = srp_bucket_scan_df(spark, sf, qb)
    # (attribute ids suffix the column name in the plan text: srp_bucket#N = qb)
    ok &= audit("v4 srp scan partition-pruned", srp_scan,
                want=["PartitionFilters: [isnotnull(srp_bucket#", f" = {qb})]"],
                forbid=["CartesianProduct"])
    # V5 multiprobe: same layout, IN-pruned to the Hamming-1 neighborhood
    from data_warehouse_etl_spark.functions.similarity import _MULTIPROBE_MASKS
    mp_scan = srp_bucket_scan_df(spark, sf, [qb ^ m for m in _MULTIPROBE_MASKS])
    ok &= audit("v5 multiprobe scan partition-pruned", mp_scan,
                want=["PartitionFilters: [", " IN ("],
                forbid=["CartesianProduct"])

    # MoR read path: base+delta resolution is aggregation, never Window
    import tempfile
    from data_warehouse_etl_spark.lake import LakeTable
    d = tempfile.mkdtemp(prefix="plan-mor-")
    t = LakeTable.create(os.path.join(d, "t"), [("url", "string"), ("warc_ts", "timestamp"),
                         ("v", "bigint"), ("_seq", "bigint"), ("_deleted", "boolean")],
                         bucket_col="url", num_buckets=2,
                         row_key="url", version_cols=["warc_ts", "_seq"])
    base_df = spark.createDataFrame(
        [("a", None, 1, 1, False)],
        "url string, warc_ts timestamp, v bigint, _seq bigint, _deleted boolean")
    t.append(base_df)
    t.append_deltas(base_df)
    ok &= audit("mor resolve = agg not window", t.read(spark),
                want=["partial_max_by"], forbid=["Window"])

    # Incremental-dedup probe (round 5): the band-index scan for a NEW batch
    # is statically partition-pruned to the batch's bh_bucket partitions
    from data_warehouse_etl_spark.functions.textops import (
        build_minhash_index,
        minhash_probe_new,
    )
    mh_docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    mh_idx = build_minhash_index(
        spark, mh_docs, os.path.join(d, "mh_idx"), force=True
    )
    probe_batch = mh_docs.limit(3)
    ok &= audit("minhash probe partition-pruned",
                minhash_probe_new(spark, mh_idx, probe_batch),
                want=["PartitionFilters: [", "bh_bucket"],
                forbid=["CartesianProduct", "BroadcastNestedLoopJoin"])

    # Changelog read (round 5): the snapshot diff is ONE key-equi full-outer
    # join over the changed buckets — never a nested-loop/cartesian pairing,
    # and both sides LWW-resolve via combining aggregation, not Window.
    delta2 = spark.createDataFrame(
        [("a", None, 2, 2, False)],
        "url string, warc_ts timestamp, v bigint, _seq bigint, _deleted boolean")
    v_from = t.manifest.version
    t.append_deltas(delta2)
    ok &= audit("changelog = equi full-outer diff",
                t.read_changes(spark, v_from, exclude=["_seq", "_deleted"]),
                want=["FullOuter"],
                forbid=["CartesianProduct", "BroadcastNestedLoopJoin", "Window"])

    print("\nPLAN AUDIT:", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
