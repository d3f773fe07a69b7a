"""Plan-quality audit: print formatted physical plans for the hot paths and
grep them for the properties that matter at 100 TB.

Checks (per the scale rules the engine is designed around):
- parquet scans show PushedFilters + pruned ReadSchema (no full-width reads);
- small dims join as BroadcastHashJoin;
- the LWW dedup is HashAggregate, never Window or SortAggregate, and a
  planted hot url still plans one key exchange (no salted branch);
- WholeStageCodegen spans cover the relational operators;
- no CartesianProduct / BroadcastNestedLoopJoin outside the intended
  cross-join-with-one-row-query cases;
- the index probes (v2/v4/v5, MinHash) read exactly the manifest files of
  the probed buckets of their LakeTable (``inputFiles()``).

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from urllib.parse import urlparse

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


def audit_files(name: str, df, table, buckets) -> bool:
    """df's scan of the LakeTable ``table`` reads exactly the manifest files
    of ``buckets`` — the pruning happens at the manifest, not in the plan."""
    bset = set(buckets)
    want = sorted(
        os.path.join(table.path, f["path"]) for f in table.manifest.files if f["bucket"] in bset
    )
    got = sorted(
        p for p in {urlparse(u).path for u in df.inputFiles()}
        if p.startswith(table.path.rstrip(os.sep) + os.sep)
    )
    ok = bool(want) and got == want
    print(f"{'OK ' if ok else 'BAD'} {name}"
          + ("" if ok else f"  [read {len(got)} files, want {len(want)}]"))
    return ok


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

    # Skew takes the same plan: with 40% of the events on one url, the
    # winner subtree is still ONE key exchange feeding the chained hash
    # aggregates — no salted branch, no union of two reduces.
    hot = ev.withColumn("url", F.when(F.col("seq") % 5 < 2, F.lit("hot")).otherwise(F.col("url")))
    skewed = lww_dedup_broadcast_keys(hot)
    ok &= audit("engine lww_dedup_broadcast_keys, hot url = one reduce", skewed,
                want=["HashAggregate"],
                forbid=["Window", "SortAggregate", "Union", "_salt"])
    n_exchanges = plan_of(skewed).count("hashpartitioning(url")
    if n_exchanges != 1:
        ok = False
        print(f"BAD hot-url winner subtree: {n_exchanges} url exchanges, want 1")

    # J6 range join: equi key drives the join (no BNLJ)
    ok &= audit("j6 equi-driven range join", PARITY_QUERIES["j6_range_join"](spark, sf),
                forbid=["BroadcastNestedLoopJoin", "CartesianProduct"])

    # V2 IVF (MATERIALIZED index): the probe plan reads the 25-row centroids
    # table, never the corpus; the cell scan reads only the probed cells'
    # files of the cells LakeTable (identity-bucketed on label).
    from data_warehouse_etl_spark.functions.similarity import (
        _MULTIPROBE_MASKS,
        _ivf_cells,
        build_ivf_index,
        build_srp_index,
        ivf_cell_scan_df,
        ivf_probed_cells_df,
        srp_bucket_scan_df,
        srp_query_bucket,
    )
    from data_warehouse_etl_spark.lake import LakeTable
    # (the probe's only corpus touch is the 1-row vec_id=0 pushed lookup)
    probe = ivf_probed_cells_df(spark, sf)
    ok &= audit("v2 probe reads centroid table", probe,
                want=["centroids", "EqualTo(vec_id,0)"])
    labels = [int(r["label"]) for r in probe.collect()]
    cell_scan = ivf_cell_scan_df(spark, sf, labels)
    ok &= audit("v2 cell scan plan", cell_scan, forbid=["CartesianProduct"])
    ok &= audit_files("v2 cell scan reads only the probed cells", cell_scan,
                      _ivf_cells(build_ivf_index(spark, sf)), labels)

    # V4 SRP-LSH (MATERIALIZED bucketed layout): the candidate scan reads
    # only the probe's bucket — no query-time hyperplane evaluation over the
    # corpus. V5 multiprobe: the Hamming-1 neighborhood's buckets.
    srp_table = LakeTable.load(os.path.join(build_srp_index(spark, sf), "buckets"))
    qb = srp_query_bucket(spark, sf)
    for name, probes in (("v4 srp scan", [qb]),
                         ("v5 multiprobe scan", [qb ^ m for m in _MULTIPROBE_MASKS])):
        scan = srp_bucket_scan_df(spark, sf, probes)
        ok &= audit(f"{name} plan", scan, forbid=["CartesianProduct"])
        ok &= audit_files(f"{name} reads only the probed buckets", scan, srp_table, probes)

    # MoR read path: base+delta resolution is aggregation, never Window
    import tempfile
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

    # Incremental-dedup probe: the band-index scan for a NEW batch reads
    # only the batch's bh_bucket files of the band LakeTable
    from data_warehouse_etl_spark.functions.textops import (
        _bandrows_df,
        build_minhash_index,
        minhash_probe_new,
    )
    mh_docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    mh_idx = build_minhash_index(
        spark, mh_docs, os.path.join(d, "mh_idx"), force=True
    )
    probe_batch = mh_docs.limit(3)
    mh_probe = minhash_probe_new(spark, mh_idx, probe_batch)
    ok &= audit("minhash probe plan", mh_probe,
                forbid=["CartesianProduct", "BroadcastNestedLoopJoin"])
    probe_batch.createOrReplaceTempView("mh_audit_docs_v")
    mh_buckets = {r[0] for r in _bandrows_df(spark, "mh_audit_docs_v")
                  .select("bh_bucket").distinct().collect()}
    ok &= audit_files("minhash probe reads only the batch's buckets", mh_probe,
                      LakeTable.load(os.path.join(mh_idx, "bands")), mh_buckets)

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
