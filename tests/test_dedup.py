"""LWW dedup unit laws: ordering, tie-break, mode equivalence, skew."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_warehouse_etl_spark.cdc.dedup import lww_dedup, lww_dedup_broadcast_keys


@pytest.fixture(scope="module")
def events(spark):
    rows = []
    # url A: ts ties broken by seq; url B: out-of-order ts; hot url H: many rows
    rows += [(1, "A", "2024-01-01 10:00:00", "v1"),
             (2, "A", "2024-01-01 10:00:00", "v2"),   # same ts, higher seq wins
             (3, "B", "2024-01-01 12:00:00", "b-late"),
             (4, "B", "2024-01-01 09:00:00", "b-early")]  # older ts, higher seq loses
    rows += [(100 + i, "H", "2024-01-01 11:00:00", f"h{i}") for i in range(500)]
    df = spark.createDataFrame(rows, "seq long, url string, ts string, payload string")
    return df.withColumn("warc_ts", F.col("ts").cast("timestamp")).drop("ts")


def _winners(df):
    return {r["url"]: r["payload"] for r in df.collect()}


def test_lww_basic_laws(spark, events):
    got = _winners(lww_dedup(events, key="url", order=("warc_ts", "seq")))
    assert got["A"] == "v2"        # tie on warc_ts → seq decides
    assert got["B"] == "b-late"    # warc_ts dominates seq
    assert got["H"] == "h499"      # same ts for all H → max seq
    with pytest.raises(ValueError, match="pair"):  # only (version, tie) orders
        lww_dedup(events, key="url", order=("warc_ts", "payload", "seq"))


def _pandas_argmax(df):
    """Reference winners: per url, the payload of the greatest (warc_ts, seq)."""
    pdf = df.toPandas().sort_values(["warc_ts", "seq"])
    return dict(zip(pdf["url"], pdf["payload"]))  # later rows overwrite


def test_salted_modes_equal_plain(spark, events):
    """The hot url H carries 500 of 504 events. With no salted reduce left,
    both row-recovery plans take the one unsalted reduce and give the
    pandas argmax's winners on this skewed input."""
    want = _pandas_argmax(events)
    assert want["H"] == "h499"
    for fn in (lww_dedup, lww_dedup_broadcast_keys):
        assert _winners(fn(events)) == want, fn.__name__


def test_salted_partition_invariance(spark, events):
    """The skewed input gives the same winners at 1 and at 16 input
    partitions, on both row-recovery plans."""
    want = _pandas_argmax(events)
    for fn in (lww_dedup, lww_dedup_broadcast_keys):
        a = _winners(fn(events.repartition(1)))
        b = _winners(fn(events.repartition(16)))
        assert a == b == want, fn.__name__


def test_no_window_sort_in_plan(spark, events):
    """The dedup must be hash aggregation, not a window sort (a window
    funnels each hot key through one task) nor a SortAggregate (a struct
    buffer sorts the whole input on both sides of the exchange)."""
    for fn in (lww_dedup, lww_dedup_broadcast_keys):
        plan = fn(events)._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" in plan, plan
        assert "Window" not in plan and "SortAggregate" not in plan, plan


def test_dedup_accepts_braces_and_backticks_in_column_names(spark, events):
    """The SQL texts pass through ``str.format`` in ``spark.sql(text,
    df=...)``: a brace or a backtick in a column name must reach the parser
    quoted, and the winners must be the ones of the plain names."""
    from data_warehouse_etl_spark.cdc.dedup import winner_seqs

    names = {"url": "u{rl}", "warc_ts": "ts`}", "seq": "{seq"}
    odd = events.select(*[F.col(c).alias(names.get(c, c)) for c in events.columns])
    order = (names["warc_ts"], names["seq"])
    want = _winners(lww_dedup(events))
    for fn in (lww_dedup, lww_dedup_broadcast_keys):
        got = fn(odd, key=names["url"], order=order).withColumnRenamed(names["url"], "url")
        assert _winners(got) == want, fn.__name__
    ws = {r[0] for r in winner_seqs(odd, names["url"], order).collect()}
    assert ws == {r["seq"] for r in lww_dedup(events).collect()}


def test_winner_seqs_and_broadcast_keys_match_full_reduce(spark, events):
    from data_warehouse_etl_spark.cdc.dedup import winner_seqs

    full = lww_dedup(events, key="url", order=("warc_ts", "seq"))
    bc = lww_dedup_broadcast_keys(events, key="url", order=("warc_ts", "seq"))
    assert _winners(bc) == _winners(full)
    ws = {r["seq"] for r in winner_seqs(events, "url", ("warc_ts", "seq")).collect()}
    assert ws == {r["seq"] for r in full.collect()}


def test_auto_gate_falls_back_to_full_shuffle(spark, tmp_path, monkeypatch):
    """'auto' must pick the shuffle-hash row recovery — NOT a forced
    broadcast — when the batch's row count exceeds _BROADCAST_MAX_ROWS
    (VERDICT r2: gate on observed rows, never cfg.batch_size), with
    byte-identical state either way."""
    from data_warehouse_etl_spark.cdc import (
        CdcEngine,
        EngineConfig,
        LedgerSpec,
        generate_ledger,
    )
    from data_warehouse_etl_spark.cdc import engine as engine_mod
    from data_warehouse_etl_spark.lake import state_hash

    led = generate_ledger(
        str(tmp_path / "changes"),
        LedgerSpec(n_urls=900, n_events=1000, n_parts=2, seed=21),  # ~all-distinct
    )
    base = dict(ledger_path=led.path, batch_size=1000, num_buckets=2)

    # tiny limit -> the batch's row count exceeds it
    monkeypatch.setattr(engine_mod, "_BROADCAST_MAX_ROWS", 100)
    eng = CdcEngine(
        spark,
        EngineConfig(pages_path=str(tmp_path / "auto"), dedup_plan="auto", **base),
    )

    def _boom(*a, **k):
        raise AssertionError("auto gate chose broadcast_keys for a huge winner set")

    monkeypatch.setattr(engine_mod, "lww_dedup_broadcast_keys", _boom)
    eng.run()
    h_auto = state_hash(eng.read_pages())

    monkeypatch.undo()
    forced = CdcEngine(
        spark,
        EngineConfig(
            pages_path=str(tmp_path / "forced"), dedup_plan="broadcast_keys", **base
        ),
    )
    forced.run()
    assert h_auto == state_hash(forced.read_pages())


def test_simhash64_planted_neardups_share_a_band(spark):
    """64-bit banded SimHash (round 3): two documents differing in one word
    out of ~40 must agree on at least one 16-bit band (become candidates);
    an unrelated document must not be a candidate of either."""
    from data_warehouse_etl_spark.functions.textops import _BANDEX_SPARK, _simhash_sql

    base = ("the quick brown fox jumps over the lazy dog while seventeen "
            "sleepy pandas eat fresh green bamboo under a warm yellow sun "
            "and the river runs slowly past the quiet stone bridge today")
    near = base.replace("yellow", "orange")
    other = ("completely unrelated text about compiler register allocation "
             "and graph coloring heuristics with spill costs on modern "
             "superscalar processors executing speculative micro operations")
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    df.createOrReplaceTempView("simhash_docs_t")
    out = spark.sql(
        _simhash_sql("simhash_docs_t", "explode(split(text, ' '))", _BANDEX_SPARK)
    )
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}

    def share(a, b):
        return any(rows[a][f"b{i}"] == rows[b][f"b{i}"] for i in range(4))

    assert share(1, 2), "near-dups must agree on at least one band"
    assert rows[1]["n_band_candidates"] >= 1
    assert not share(1, 3) and not share(2, 3), "unrelated doc must not bucket"


def test_winnow_guarantee_shared_passage(spark):
    """Winnowing (round 4): two documents sharing a passage of >= w+k-1 = 6
    words MUST share at least one selected fingerprint (the winnowing
    guarantee), and a document with no 6-word overlap must not pair with
    either. Run on a synthetic 3-doc corpus where the answer is known."""
    from data_warehouse_etl_spark.functions.textops import (
        _GRAMS_SPARK,
        _WINNOW_BODY,
        _WINNOW_W,
    )

    shared = "seventeen sleepy pandas eat fresh green bamboo stalks daily"
    a = ("intro words before the common part " + shared
         + " and a completely different tail about mountain weather patterns")
    b = ("another opening sentence leads into " + shared
         + " then diverges toward discussion of harbor tide schedules")
    c = ("compiler register allocation with graph coloring heuristics and "
         "spill cost models on superscalar processors executing speculative "
         "micro operations in deep pipelines with branch prediction tables")
    df = spark.createDataFrame(
        [(1, a, "s"), (2, b, "s"), (3, c, "s")], "doc_id long, text string, source string"
    )
    df.createOrReplaceTempView("winnow_docs_t")
    sql = (
        "WITH "
        + _GRAMS_SPARK.format(doc="winnow_docs_t")
        + _WINNOW_BODY.format(doc="winnow_docs_t", wm1=_WINNOW_W - 1)
    ).replace("HAVING COUNT(*) >= 3", "HAVING COUNT(*) >= 1")
    pairs = {(r["doc_a"], r["doc_b"]): r["n_shared_fps"] for r in spark.sql(sql).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1, pairs
    assert all(3 not in p for p in pairs), pairs


# ---------------------------------------- connected components (d10 core)


def test_connected_components_chain_and_isolates(spark):
    """A 6-node chain (diameter 5 — forces several propagation rounds), a
    triangle, and a separate 2-clique must resolve to min-id component
    labels; the fixpoint must be independent of edge order."""
    from data_warehouse_etl_spark.functions.textops import connected_components

    undirected = [
        (10, 11), (11, 12), (12, 13), (13, 14), (14, 15),  # chain
        (3, 7), (7, 5), (5, 3),                            # triangle
        (100, 200),                                        # 2-clique
    ]
    sym = undirected + [(b, a) for a, b in undirected]
    edges = spark.createDataFrame(sym, "src long, dst long")
    got = {r["node"]: r["lbl"] for r in connected_components(edges).collect()}
    assert got == {
        10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10,
        3: 3, 5: 3, 7: 3,
        100: 100, 200: 100,
    }


def test_dedup_clusters_partitions_the_pair_graph(spark):
    """d10 over the smoke sf dir: every doc appears in exactly one cluster, every
    cluster has >= 2 docs, cluster_id is the min doc_id of its members, and
    the clusters are exactly the connected components of the d3 pair set."""
    from data_warehouse_etl_spark.functions.textops import (
        q_dedup_clusters,
        q_dedup_minhash_lsh,
    )
    from tests.conftest import SF_SMOKE

    pairs = [(r["doc_a"], r["doc_b"]) for r in q_dedup_minhash_lsh(spark, SF_SMOKE).collect()]
    rows = q_dedup_clusters(spark, SF_SMOKE).collect()
    cluster_of = {r["doc_id"]: r["cluster_id"] for r in rows}
    assert len(cluster_of) == len(rows)  # one row per doc
    # reference union-find over the same pairs
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    want_groups: dict = {}
    for n in parent:
        want_groups.setdefault(find(n), set()).add(n)
    want = {n: min(g) for g in want_groups.values() for n in g}
    assert cluster_of == want
    sizes = {r["cluster_id"]: r["cluster_size"] for r in rows}
    for cid, size in sizes.items():
        assert size >= 2 and cluster_of[cid] == cid
        assert size == sum(1 for c in cluster_of.values() if c == cid)


def test_hashmin_cc_equals_unionfind(spark):
    """Hash-min CC must agree with a Python union-find on a seeded sparse
    random graph (many components, mixed sizes)."""
    import random

    from data_warehouse_etl_spark.functions.textops import connected_components

    rng = random.Random(42)
    und = sorted({tuple(sorted(rng.sample(range(200), 2))) for _ in range(150)})
    sym = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(sym, "src long, dst long")

    got_min = {r["node"]: r["lbl"] for r in connected_components(edges).collect()}
    assert got_min == _unionfind_labels(und)


def test_hashmin_cc_raises_on_diameter_overrun(spark):
    """Un-converged labels are wrong labels — the round budget must raise,
    not silently return a split component."""
    from data_warehouse_etl_spark.functions.textops import connected_components

    und = [(i, i + 1) for i in range(30)]
    sym = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(sym, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iters=3)


def test_dedup_keep_list_picks_best_per_cluster(spark):
    """keep_doc_id must be the (quality_pass, n_tokens, -doc_id)-argmax of
    each d10 cluster, computed independently here from the two source
    queries; n_dropped = cluster_size - 1."""
    from data_warehouse_etl_spark.functions.textops import (
        dedup_keep_list,
        q_dedup_clusters,
        q_text_quality,
    )
    from tests.conftest import SF_SMOKE

    clusters = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in q_dedup_clusters(spark, SF_SMOKE).collect()
    }
    qual = {
        r["doc_id"]: (r["quality_pass"], r["n_tokens"])
        for r in q_text_quality(spark, SF_SMOKE).collect()
    }
    want: dict = {}
    for doc, (cid, size) in clusters.items():
        qp, nt = qual[doc]
        key = (qp, nt, -doc)
        if cid not in want or key > want[cid][0]:
            want[cid] = (key, doc, size)
    got = {r["cluster_id"]: r for r in dedup_keep_list(spark, SF_SMOKE).collect()}
    assert set(got) == set(want)
    for cid, (_, doc, size) in want.items():
        assert got[cid]["keep_doc_id"] == doc
        assert got[cid]["cluster_size"] == size
        assert got[cid]["n_dropped"] == size - 1
    assert any(r["n_dropped"] >= 1 for r in got.values())  # non-vacuous


def _unionfind_labels(und_edges):
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in und_edges:
        parent[find(a)] = find(b)
    comp: dict = {}
    for n in parent:
        comp.setdefault(find(n), set()).add(n)
    return {n: min(g) for g in comp.values() for n in g}


def test_cc_accepts_directed_only_input(spark):
    """Hash-min CC symmetrizes internally: a pair list carrying each
    edge in ONE direction only (the shape every dedup pair query emits,
    doc_a < doc_b) must produce the same components as the symmetric
    form — before the fix hash-min silently under-merged on this input."""
    from data_warehouse_etl_spark.functions.textops import connected_components

    # chain oriented high->low so naive min-propagation along given
    # direction alone cannot reach the component min
    directed = [(5, 4), (4, 3), (3, 2), (2, 1), (10, 20), (30, 20)]
    edges = spark.createDataFrame(directed, "src long, dst long")
    want = _unionfind_labels(directed)
    got_min = {r["node"]: r["lbl"] for r in connected_components(edges).collect()}
    assert got_min == want


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 23), st.integers(0, 23)),
        min_size=1,
        max_size=40,
    )
)
def test_cc_property_matches_unionfind(spark, raw):
    """Property: on ANY edge list (directed, duplicated, self-looped)
    hash-min CC equals a Python union-find oracle over the undirected view."""
    from data_warehouse_etl_spark.functions.textops import connected_components

    edges = spark.createDataFrame(raw, "src long, dst long")
    want = _unionfind_labels(raw)
    got_min = {
        r["node"]: r["lbl"]
        for r in connected_components(edges, max_iters=64).collect()
    }
    assert got_min == want


def test_dedup_agreement_summary_invariants(spark):
    """Pins the agreement measurement's structure at sf0.01 (deterministic
    corpus => deterministic numbers): all three detectors present;
    precision/recall in [0,1]; d3's band construction is derived from the
    same shingle sets as the truth so its recall must be high (>= 0.9
    here); counts are consistent with the rates."""
    from data_warehouse_etl_spark.functions.textops import dedup_agreement_summary

    rows = {
        r["detector"]: r
        for r in dedup_agreement_summary(spark, "/root/testdata/sf0.01").collect()
    }
    assert set(rows) == {
        "d3_dedup_minhash_lsh", "d4_dedup_simhash",
        "d4_simhash_hamming_verified", "d9_winnow_fingerprint",
    }
    for r in rows.values():
        assert r["n_truth"] > 0 and r["n_pairs"] > 0
        assert 0.0 <= r["precision"] <= 1.0
        assert 0.0 <= r["recall"] <= 1.0
        # hits computed both ways must agree: P*|pairs| == R*|truth|
        assert abs(r["precision"] * r["n_pairs"] - r["recall"] * r["n_truth"]) < 1.0
    assert rows["d3_dedup_minhash_lsh"]["recall"] >= 0.9


def test_simhash_hamming_verify_cuts_the_candidate_flood(spark):
    """The WWW'07 two-stage pipeline: the verified pair set must be a
    subset of the banded candidates (verify only removes), strictly
    smaller on this corpus (the flood is real), with strictly better
    precision against exact-Jaccard truth and recall bounded by the
    banding's own ceiling. Also pins the Hamming column: symmetric XOR
    distance, within [0, max_hamming]."""
    from data_warehouse_etl_spark.functions.textops import (
        dedup_agreement_summary,
        simhash_candidate_pairs,
        simhash_verified_pairs,
    )

    sf = "/root/testdata/sf0.01"
    cand = simhash_candidate_pairs(spark, sf)
    ver = simhash_verified_pairs(spark, sf, max_hamming=6)
    n_cand, n_ver = cand.count(), ver.count()
    assert 0 < n_ver < n_cand
    assert ver.select("doc_a", "doc_b").exceptAll(
        cand.select("doc_a", "doc_b")
    ).count() == 0
    hs = [r["hamming"] for r in ver.select("hamming").collect()]
    assert all(0 <= h <= 6 for h in hs)

    rows = {r["detector"]: r for r in dedup_agreement_summary(spark, sf).collect()}
    raw, verified = rows["d4_dedup_simhash"], rows["d4_simhash_hamming_verified"]
    assert verified["precision"] > raw["precision"]
    assert verified["recall"] <= raw["recall"]


def test_null_key_rows_survive_dedup(spark):
    """A NULL key is an ordinary group (round-6 review finding: the semi-
    join row recovery must be null-safe on both columns, or NULL-key rows
    silently vanish where the aggregation form kept a winner for them) —
    on both row-recovery paths."""
    df = _null_key_events(spark)
    got = {r["url"]: r["payload"] for r in lww_dedup(df).collect()}
    assert got == {None: "n2", "A": "a1"}, got
    # broadcast-keys path: winner set must include the NULL-key winner seq
    bc = {r["payload"] for r in lww_dedup_broadcast_keys(df).collect()}
    assert bc == {"n2", "a1"}, bc


def _null_key_events(spark):
    rows = [(1, None, "2024-01-01 10:00:00", "n1"),
            (2, None, "2024-01-01 11:00:00", "n2"),
            (3, "A", "2024-01-01 10:00:00", "a1")]
    return (
        spark.createDataFrame(rows, "seq long, url string, ts string, payload string")
        .withColumn("warc_ts", F.col("ts").cast("timestamp"))
        .drop("ts")
    )
