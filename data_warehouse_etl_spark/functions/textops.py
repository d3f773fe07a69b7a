"""Training-data text operations over the ``documents`` table: dedup (exact /
n-gram-Jaccard / MinHash-LSH / SimHash), fingerprinting, quality scoring,
language id, token counting.

All of these are first-class components of a 100 TB training-data pipeline.
Design rules:

- **Shared hash basis**: every content hash is ``md5`` of a string — the one
  hash both Spark and DuckDB compute identically (hex lowercase), so each
  query has an exact cross-engine oracle. At cluster scale you'd swap md5 for
  xxhash64 (cheaper); the algebra is unchanged.
- **Shuffle shape**: shingling explodes rows (|doc| × shingles), then every
  dedup reduces by (shingle) or (band) — a key-partitioned aggregation with
  map-side combine. Pair generation joins on the *bucket* key only, so the
  candidate set is |bucket|²-bounded per bucket, never |corpus|².
- LSH banding (4 bands × 4 rows here) is the standard Broder/MMDS
  construction: docs agreeing on any band become candidates; band width
  trades recall vs candidate volume. At 100 TB, band-bucket join keys are
  exactly the salted-shuffle keys the CDC engine uses.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake import LakeTable
from .similarity import (
    _built,
    _changelog_rows,
    _current,
    _props,
    _rebuild,
    _upsert,
    sync_index_table,
)

# --- dialect-specific shingle CTEs (word 3-grams, deduped per doc) ---------

_SHINGLES_SPARK = """
    toks AS (SELECT doc_id, split(text, ' ') AS t FROM {doc}),
    sh AS (
        SELECT DISTINCT doc_id,
               concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
        FROM (SELECT doc_id, t, explode(sequence(0, size(t)-3)) AS i
              FROM toks WHERE size(t) >= 3))
"""

_SHINGLES_DUCK = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM {doc}),
    sh AS (
        SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i
              FROM toks WHERE len(t) >= 3))
"""


def _run(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView("documents_v")
    return spark.sql(sql)


def _spread_docs_view(spark: SparkSession, sf_dir: str) -> str:
    """Register (and return the name of) a documents view whose partitioning
    is wide enough for the explode-heavy shingle pipelines.

    A compact documents file scans as 1-2 tasks (split floor + single row
    group), so the shingle explode — the fan-out stage that produces ~50x
    the input rows — runs serially while the rest of the cluster idles.
    The spread is derived from the INPUT SIZE (guide §2: scale-adaptive,
    never a constant): small inputs (< ~2 scan splits' worth) are
    repartitioned to the session's parallelism — a shuffle of the compact
    input, trivially cheap exactly when it triggers — while at corpus
    scale the scan is already wide and no shuffle is added. Purely a
    physical spread: row set unchanged, so every consumer computes
    identical results (oracle-checked).
    """
    import os as _os

    path = f"{sf_dir}/documents.parquet"
    df = spark.read.parquet(path)

    def _input_bytes(p: str) -> int:
        # a Spark-written "file" is a DIRECTORY of part files whose inode
        # size is ~4KB — sum the tree, or a multi-GB corpus would be
        # misclassified as small and pay a full repartition shuffle
        if _os.path.isdir(p):
            return sum(
                _os.path.getsize(_os.path.join(root, fn))
                for root, _dirs, fns in _os.walk(p)
                for fn in fns
            )
        return _os.path.getsize(p)

    try:
        small = _input_bytes(path) < 2 * 16 * 1024 * 1024
    except OSError:
        small = False
    if small:
        df = df.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    df.createOrReplaceTempView("documents_spread_v")
    return "documents_spread_v"


def _staged(spark: SparkSession, sql: str, view: str) -> None:
    """Materialize a staging relation ONCE and register it as a temp view —
    the reference's temp-table idiom (``create temp table stg_*``, reused
    2-5x per pipeline: ``/root/reference/Sql Scripts/STG_REST_P_ANALYSIS.sql:6-40``),
    which Spark's inlined CTEs do NOT give us: a CTE referenced on both
    sides of a self-join is recomputed per reference with zero exchange
    reuse (round 5 measurement: d2's fully-inlined form scanned the
    documents table 12x and ran the shingle explode 8x). ``localCheckpoint``
    is the single-job analog of the staging write; at 100 TB the staged
    relation is a parquet temp table and the algebra is identical."""
    df = spark.sql(sql).localCheckpoint()  # eager: one computation, lineage cut
    df.createOrReplaceTempView(view)


# --------------------------------------------------------------------- exact


_EXACT_BODY = """
    WITH fps AS (SELECT doc_id, source, md5(text) AS fp FROM {doc}),
    groups AS (
        SELECT source, fp, COUNT(*) AS n_copies, MIN(doc_id) AS keeper_doc_id
        FROM fps GROUP BY source, fp)
    SELECT source,
           COUNT(*) AS n_distinct_texts,
           CAST(SUM(n_copies) AS BIGINT) AS n_docs,
           CAST(SUM(n_copies - 1) AS BIGINT) AS n_dup_rows_removed,
           CAST(MIN(keeper_doc_id) AS BIGINT) AS min_keeper_doc_id
    FROM groups GROUP BY source
"""


def q_dedup_exact(spark, sf):
    """Exact dedup: hash-groupBy on full content (reference analog: DISTINCT
    projections and dup probes, /root/reference/Sql Scripts/
    FCT_RESERVATION_UPD.sql:158-162). One shuffle on the content hash.
    Reported as per-source dedup accounting (docs vs distinct texts vs rows
    a dedup pass would remove) so the query returns real rows on any corpus
    — a dup-groups-only projection is vacuously green on a dup-free corpus
    (round-1 lesson from v3)."""
    return _run(spark, sf, _EXACT_BODY.format(doc="documents_v"))


# ------------------------------------------------------------ n-gram jaccard

# Document-frequency cap before the pair join: a shingle appearing in many
# docs (boilerplate, top English 3-grams) makes its bucket's pair count
# |bucket|² — at corpus scale a single hot shingle explodes the join. Capped
# shingles carry ~no dedup signal anyway (they don't discriminate). The cap
# is relative (2% of docs) with an absolute floor so tiny corpora keep all
# shingles. Jaccard is then computed over the capped vocabulary (standard
# stop-shingle treatment; sizes recomputed post-cap for consistency).
_JACCARD_BODY = """
    , keep AS (
        SELECT shingle FROM sh GROUP BY shingle
        HAVING COUNT(*) <= (SELECT GREATEST(25.0, 0.02 * COUNT(*)) FROM {doc})),
    shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep ON sh.shingle = keep.shingle),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.6
"""


# Spark execution form: the DF-capped shingle relation is STAGED once (see
# _staged) and the sizes/pair passes run over the materialized view; the
# one-shot _JACCARD_BODY above stays as the DuckDB oracle's (and the
# semantic) definition.
_JACCARD_CAP_SPARK = """
    , keep AS (
        SELECT shingle FROM sh GROUP BY shingle
        HAVING COUNT(*) <= (SELECT GREATEST(25.0, 0.02 * COUNT(*)) FROM {doc}))
    SELECT sh.doc_id, sh.shingle FROM sh JOIN keep ON sh.shingle = keep.shingle
"""

_JACCARD_TAIL_SPARK = """
    WITH sizes AS (SELECT doc_id, COUNT(*) AS n FROM shf_v GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shf_v a JOIN shf_v b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.6
"""


def q_dedup_ngram_jaccard(spark, sf):
    """Near-dup detection: word-3-gram shingle sets, pairwise Jaccard ≥ 0.6
    over the DF-capped shingle vocabulary (see _JACCARD_BODY). The pair join
    is keyed on the shingle (bounded fan-out per shingle after the cap), not
    a cross join; Jaccard from |A∩B| and per-doc set sizes. The capped
    shingle relation is materialized once (reference staging idiom — see
    _staged) instead of recomputing the scan+explode pipeline on every CTE
    reference."""
    doc = _spread_docs_view(spark, sf)
    # One-shot staging deliberately kept: the cap SQL references the
    # shingle CTE twice (count side + join side) and Spark inlines a CTE
    # per reference, so the explode runs twice — but the measured
    # alternative (materialize ``sh`` first, then cap from it) trades that
    # for an extra eager staging job and was consistently ~10% SLOWER at
    # bench scale (interleaved A/B, round 6). At corpus scale the staged
    # relation is a parquet temp table and the split is free (see _staged).
    _staged(
        spark,
        "WITH "
        + _SHINGLES_SPARK.format(doc=doc)
        + _JACCARD_CAP_SPARK.format(doc=doc),
        "shf_v",
    )
    return spark.sql(_JACCARD_TAIL_SPARK)


# -------------------------------------------------------------- minhash+LSH


def _minhash_fragments() -> tuple[str, str, str]:
    mh = ",\n               ".join(
        f"MIN(md5('{i}#' || shingle)) AS mh{i}" for i in range(16)
    )
    bands = ",\n               ".join(
        f"md5(mh{4 * b} || mh{4 * b + 1} || mh{4 * b + 2} || mh{4 * b + 3}) AS band{b}"
        for b in range(4)
    )
    band_rows = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_no, band{b} AS band_hash FROM sig" for b in range(4)
    )
    return mh, bands, band_rows


def _minhash_bandrows_sql(shingle_cte: str, doc: str) -> str:
    """The signature pipeline through the banded rows (staged by the Spark
    form; inlined by the oracle form).

    Spark dialect: the band unpivot uses ``stack`` — ONE pass over ``sig``.
    The oracle's 4-way ``UNION ALL`` form (``_minhash_sql``) is fine for
    DuckDB but Spark inlines a CTE per reference, so the union re-computed
    the whole shingle+signature pipeline once PER BAND (round-6 profile:
    4x the explode and the 16 md5-min aggregation). Same row multiset.
    """
    mh, bands, _ = _minhash_fragments()
    stack_args = ", ".join(f"{b}, band{b}" for b in range(4))
    return f"""
    WITH {shingle_cte.format(doc=doc)},
    minh AS (
        SELECT doc_id,
               {mh}
        FROM sh GROUP BY doc_id),
    sig AS (
        SELECT doc_id,
               {bands}
        FROM minh)
    SELECT doc_id, band_no, band_hash
    FROM sig
    LATERAL VIEW stack(4, {stack_args}) AS band_no, band_hash
    """


def _minhash_sql(shingle_cte: str, doc: str) -> str:
    mh, bands, band_rows = _minhash_fragments()
    return f"""
    WITH {shingle_cte.format(doc=doc)},
    minh AS (
        SELECT doc_id,
               {mh}
        FROM sh GROUP BY doc_id),
    sig AS (
        SELECT doc_id,
               {bands}
        FROM minh),
    bandrows AS (
        {band_rows})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bandrows a JOIN bandrows b
      ON a.band_no = b.band_no AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    """


_MINHASH_TAIL_SPARK = """
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bandrows_v a JOIN bandrows_v b
      ON a.band_no = b.band_no AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
"""


def q_dedup_minhash_lsh(spark, sf):
    """MinHash+LSH near-dup candidates: 16 min-hashes (min over md5 of
    seed-prefixed shingles), banded 4×4; docs sharing any band hash are
    candidates. The only join key is the band hash — the scale path for
    corpus-level dedup (candidate volume ∝ bucket sizes, not corpus²).
    The band rows (4 per doc) are staged once (see _staged); the inlined
    self-join form recomputed the whole shingle+signature pipeline for each
    join side."""
    doc = _spread_docs_view(spark, sf)
    _staged(spark, _minhash_bandrows_sql(_SHINGLES_SPARK, doc), "bandrows_v")
    return spark.sql(_MINHASH_TAIL_SPARK)


# ---------------------------------------------- dedup clusters (d10, CC)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 50,
) -> DataFrame:
    """Distributed connected components by hash-min label propagation: every
    node's label starts as min(self, neighbors) and each round takes the min
    of its own and its neighbors' labels until fixpoint — the standard
    Pregel-style CC (GraphX's algorithm). Converges in O(component diameter)
    rounds; near-dup clusters are shallow (dups of a page are dups of each
    other), so 2-4 rounds in practice. Per round: one key-partitioned join
    (edges × labels) + one groupBy-min with map-side combine — no all-pairs
    anywhere, and `localCheckpoint` cuts the per-round lineage so the plan
    stays O(1) deep. The per-round `count()` convergence probe is the
    Pregel vote-to-halt, O(diameter) driver actions total, NOT a data
    collect. Deliberately NOT a recursive CTE (Spark 4 has one): the
    transitive-closure reach set is O(|component|²) rows, which explodes on
    the giant boilerplate clusters a web corpus always contains; hash-min is
    O(|V| + |E|) per round. A chain-shaped component needs as many rounds
    as its diameter; past ``max_iters`` this raises rather than return a
    split component.

    ``edges`` is treated as UNDIRECTED: both directions are added
    internally (duplicate edges are harmless under MIN, so no distinct
    pass is spent) — a directed-only input would otherwise silently
    under-merge. Returns (node, lbl) where lbl = min node id of the
    component; nodes that appear in no edge are absent from the output.
    """
    d = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = d.unionByName(
        d.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        e.groupBy("src")
        .agg(F.min("dst").alias("m"))
        .select(F.col("src").alias("node"), F.least("src", "m").alias("lbl"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        prop = e.join(labels, e.src == labels.node).select(
            F.col("dst").alias("node"), "lbl"
        )
        new = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint()
        )
        # labels only ever decrease, so any difference is a strict improvement
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            return labels
    # no silent caps: un-converged labels are WRONG labels (a component
    # with diameter > max_iters would be split into several clusters)
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds — "
        "a component's diameter exceeds the budget; raise max_iters"
    )


def q_dedup_clusters(spark, sf):
    """d10: near-dup CLUSTERS — the step a corpus dedup pipeline actually
    ships: d3's MinHash-LSH candidate pairs are only edges; grouping them
    into connected components yields the duplicate clusters from which one
    canonical document is kept (cluster_id = min doc_id is the canonical
    pick). Pair generation is band-bucket-bounded (d3), clustering is
    hash-min label propagation (see :func:`connected_components`); output is
    one row per clustered doc with its cluster id and cluster size. The
    DuckDB oracle computes the same fixpoint as a recursive-CTE transitive
    closure — fine at oracle scale, wrong shape at corpus scale (docstring
    above)."""
    pairs = q_dedup_minhash_lsh(spark, sf)
    labels = connected_components(pairs, src="doc_a", dst="doc_b")
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "lbl").select(
        F.col("node").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        "cluster_size",
    )


def dedup_keep_list(spark, sf) -> DataFrame:
    """The artifact a corpus dedup actually ships: one KEEP document per
    near-dup cluster, chosen by (quality_pass, n_tokens, lowest doc_id) —
    prefer a quality-passing member, then the longest, with a deterministic
    id tiebreak. Composition of d10 (clusters) × d6 (quality) with a single
    combining ``max_by`` over a struct ordering — one groupBy, no window
    sort, the same LWW-shaped aggregation the CDC engine uses. Returns
    (cluster_id, keep_doc_id, cluster_size, n_dropped); docs outside any
    cluster are implicitly all keepers."""
    clusters = q_dedup_clusters(spark, sf)
    quality = q_text_quality(spark, sf)
    j = clusters.join(quality, "doc_id")
    pick = j.groupBy("cluster_id").agg(
        F.max_by(
            "doc_id",
            F.struct(
                F.col("quality_pass"), F.col("n_tokens"), (-F.col("doc_id"))
            ),
        ).alias("keep_doc_id"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return pick.withColumn("n_dropped", F.col("cluster_size") - F.lit(1))


# ------------------------------------------------------------------- simhash


_SIMHASH_BITS = 64
_SIMHASH_BANDS = 4  # 4 bands x 16 bits — Broder-style banding over the signature


def _simhash_fragments(weighted: bool = False) -> tuple[str, str]:
    odd = "('1','3','5','7','9','b','d','f')"
    sums = []
    for b in range(_SIMHASH_BITS):
        src = "md5(word)" if b < 32 else "md5(word || '~')"
        pos = b % 32 + 1
        vote = f"CASE WHEN substr({src}, {pos}, 1) IN {odd} THEN 1 ELSE -1 END"
        sums.append(
            f"SUM(c * ({vote})) AS s{b}" if weighted else f"SUM({vote}) AS s{b}"
        )
    width = _SIMHASH_BITS // _SIMHASH_BANDS
    bands = []
    for i in range(_SIMHASH_BANDS):
        bits = " + ".join(
            f"(CASE WHEN s{i * width + j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(width)
        )
        bands.append(f"CAST({bits} AS BIGINT) AS b{i}")
    return ",\n               ".join(sums), ", ".join(bands)


def _simhash_bands_sql(doc: str, split_fn: str) -> str:
    """The signature pipeline through the per-doc (b0..b3) band row —
    staged by the Spark form; inlined by the oracle form. Execution-side
    rewrite (round 5): occurrences are pre-aggregated to (doc, word, count)
    so the 64-sum/128-md5 vote aggregation — the dominant cost — runs over
    DISTINCT words per doc with count-weighted votes
    (SUM(vote per occurrence) ≡ SUM(count × vote), exact integer algebra;
    the oracle keeps the per-occurrence form and values are identical)."""
    sums_sql, bands_sql = _simhash_fragments(weighted=True)
    return f"""
    WITH words AS (
        SELECT doc_id, {split_fn} AS word FROM {doc}),
    wc AS (
        SELECT doc_id, word, COUNT(*) AS c FROM words GROUP BY doc_id, word),
    sums AS (
        SELECT doc_id,
               {sums_sql}
        FROM wc GROUP BY doc_id)
    SELECT doc_id, {bands_sql} FROM sums
    """


def _simhash_sql(doc: str, split_fn: str, band_explode: str) -> str:
    """64-bit banded SimHash (round 3 widened from the 16-bit demo: 16 bits
    collide trivially at corpus scale). Per-word md5-nibble votes summed per
    bit (bits 32-63 vote from md5(word || '~') — a second independent hash),
    sign → bit; the signature is emitted as 4 x 16-bit band values, and the
    band-bucket self-join counts each doc's candidates — docs agreeing on
    ANY band — exactly d3's LSH-bucket shape (|bucket|²-bounded, never
    corpus²)."""
    sums_sql, bands_sql = _simhash_fragments()
    return f"""
    WITH words AS (
        SELECT doc_id, {split_fn} AS word FROM {doc}),
    sums AS (
        SELECT doc_id,
               {sums_sql}
        FROM words GROUP BY doc_id),
    bands AS (
        SELECT doc_id, {bands_sql} FROM sums),
    bandex AS (
        {band_explode}),
    cpairs AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM bandex a JOIN bandex b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id <> b.doc_id)
    SELECT d.doc_id, d.b0, d.b1, d.b2, d.b3,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_band_candidates
    FROM bands d
    LEFT JOIN (SELECT da, COUNT(*) AS n FROM cpairs GROUP BY da) c
      ON d.doc_id = c.da
    """


_BANDEX_SPARK = """
        SELECT doc_id, bx.i AS band_idx, bx.v AS band_val
        FROM bands LATERAL VIEW explode(array(
            named_struct('i', 0, 'v', b0), named_struct('i', 1, 'v', b1),
            named_struct('i', 2, 'v', b2), named_struct('i', 3, 'v', b3))) t AS bx"""

_BANDEX_DUCK = """
        SELECT doc_id, unnest([0, 1, 2, 3]) AS band_idx,
               unnest([b0, b1, b2, b3]) AS band_val
        FROM bands"""


_SIMHASH_TAIL_SPARK = """
    WITH bandex AS (
        SELECT doc_id, bx.i AS band_idx, bx.v AS band_val
        FROM bands_v LATERAL VIEW explode(array(
            named_struct('i', 0, 'v', b0), named_struct('i', 1, 'v', b1),
            named_struct('i', 2, 'v', b2), named_struct('i', 3, 'v', b3))) t AS bx),
    cpairs AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM bandex a JOIN bandex b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id <> b.doc_id)
    SELECT d.doc_id, d.b0, d.b1, d.b2, d.b3,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_band_candidates
    FROM bands_v d
    LEFT JOIN (SELECT da, COUNT(*) AS n FROM cpairs GROUP BY da) c
      ON d.doc_id = c.da
"""


def simhash_candidate_pairs(spark, sf) -> DataFrame:
    """The candidate PAIR relation inside d4 (its registered query reports
    per-doc candidate counts): docs agreeing on any band, canonical
    (doc_a < doc_b) orientation — used by :func:`dedup_agreement_summary`
    to grade the banding against exact-Jaccard ground truth."""
    spark.read.parquet(f"{sf}/documents.parquet").createOrReplaceTempView("documents_v")
    _staged(
        spark,
        _simhash_bands_sql("documents_v", "explode(split(text, ' '))"),
        "bands_v",
    )
    return spark.sql(
        """
    WITH bandex AS (
        SELECT doc_id, bx.i AS band_idx, bx.v AS band_val
        FROM bands_v LATERAL VIEW explode(array(
            named_struct('i', 0, 'v', b0), named_struct('i', 1, 'v', b1),
            named_struct('i', 2, 'v', b2), named_struct('i', 3, 'v', b3))) t AS bx)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bandex a JOIN bandex b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    """
    )


def simhash_verified_pairs(spark, sf, max_hamming: int = 6) -> DataFrame:
    """The standard two-stage SimHash pipeline (Manku et al., WWW'07
    "Detecting near-duplicates for web crawling"): banded candidates
    (:func:`simhash_candidate_pairs`), then verify each candidate by FULL
    64-bit signature Hamming distance — an XOR + bit_count on two longs,
    no text re-read. Round 5's agreement measurement motivated this: the
    4x16-bit banding alone floods candidates on template-heavy text
    (precision 0.002 at sf0.1); the verify step is O(candidates) cheap and
    cuts the flood to the near-agreeing signatures only. ``max_hamming``
    defaults to 6 — measured on this corpus every exact-Jaccard truth pair
    sits at Hamming <= 6 while the candidate mass peaks at 12-15 (Manku
    uses 3 at web scale; the dial is the same). Measured dial at sf0.1
    (truth = exact Jaccard >= 0.6, banding recall ceiling 0.9102):
    h<=6 → precision 0.112 / recall 0.871 (58x fewer candidates than raw
    banding); h<=8 → 0.030 / 0.9102 (full ceiling recovered, still 15x
    raw's 0.002). Scale shape: signatures join back to the
    |bucket|^2-bounded candidate set by doc_id — two broadcast-sized joins
    at oracle SF, hash joins at corpus scale."""
    cand = simhash_candidate_pairs(spark, sf)  # stages bands_v
    cand.createOrReplaceTempView("simhash_cand_v")
    return spark.sql(f"""
    WITH sigs AS (
        SELECT doc_id,
               b0 | shiftleft(b1, 16) | shiftleft(b2, 32) | shiftleft(b3, 48) AS sig
        FROM bands_v)
    SELECT c.doc_a, c.doc_b,
           CAST(bit_count(sa.sig ^ sb.sig) AS INT) AS hamming
    FROM simhash_cand_v c
    JOIN sigs sa ON c.doc_a = sa.doc_id
    JOIN sigs sb ON c.doc_b = sb.doc_id
    WHERE bit_count(sa.sig ^ sb.sig) <= {int(max_hamming)}
    """)


def q_dedup_simhash(spark, sf):
    """64-bit SimHash signatures (4 x 16-bit bands) + band-bucket candidate
    counts: per-word md5-nibble votes summed per bit, sign → bit. Near-dups
    differ in few bits, so they agree on at least one band with high
    probability; the band-bucket join generates candidates at |bucket|² per
    bucket — the LSH shape that survives 100 TB (one words groupBy + one
    band-keyed self-join, no all-pairs anywhere). The per-doc signature row
    is staged once (see _staged): the 64-sum words aggregation — by far the
    dominant cost — runs one time instead of three (band explode x2 + final
    scan)."""
    spark.read.parquet(f"{sf}/documents.parquet").createOrReplaceTempView("documents_v")
    _staged(
        spark,
        _simhash_bands_sql("documents_v", "explode(split(text, ' '))"),
        "bands_v",
    )
    return spark.sql(_SIMHASH_TAIL_SPARK)


# ------------------------------------------------------------- fingerprint


_FPRINT_BODY = """
    SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id
    FROM (SELECT doc_id, md5(substr(lower(text), 1, 40)) AS fp FROM {doc})
    GROUP BY fp HAVING COUNT(*) > 1
"""


def q_doc_fingerprint(spark, sf):
    """Prefix fingerprinting: md5 of the normalized 40-char prefix groups
    documents sharing an opening — a cheap first-pass near-dup blocker."""
    return _run(spark, sf, _FPRINT_BODY.format(doc="documents_v"))


# ------------------------------------------------------------- winnowing

# positional word 3-grams (NOT deduped — winnowing needs gram order)
_GRAMS_SPARK = """
    toks AS (SELECT doc_id, split(text, ' ') AS t FROM {doc}),
    grams AS (
        SELECT doc_id, i, md5(concat_ws(' ', t[i], t[i+1], t[i+2])) AS h
        FROM (SELECT doc_id, t, explode(sequence(0, size(t)-3)) AS i
              FROM toks WHERE size(t) >= 3))
"""

_GRAMS_DUCK = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM {doc}),
    grams AS (
        SELECT doc_id, i, md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS h
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i
              FROM toks WHERE len(t) >= 3))
"""

_WINNOW_W = 4  # window width over gram hashes; guarantee length = W + k - 1 words

_WINNOW_BODY = """
    , wfp AS (
        SELECT doc_id, i,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND {wm1} FOLLOWING) AS fp,
               MAX(i) OVER (PARTITION BY doc_id) AS max_i
        FROM grams),
    fps AS (SELECT DISTINCT doc_id, fp FROM wfp WHERE i <= max_i - {wm1}),
    keep AS (
        SELECT fp FROM fps GROUP BY fp
        HAVING COUNT(*) <= (SELECT GREATEST(25.0, 0.02 * COUNT(*)) FROM {doc})),
    fpk AS (SELECT fps.doc_id, fps.fp FROM fps JOIN keep ON fps.fp = keep.fp)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_fps
    FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 3
"""


# Spark execution form: the capped fingerprint relation is staged once and
# the pair join runs over the materialized view (same split as d2; the
# one-shot _WINNOW_BODY stays as the oracle's definition).
_WINNOW_CAP_SPARK = """
    , wfp AS (
        SELECT doc_id, i,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND {wm1} FOLLOWING) AS fp,
               MAX(i) OVER (PARTITION BY doc_id) AS max_i
        FROM grams),
    fps AS (SELECT DISTINCT doc_id, fp FROM wfp WHERE i <= max_i - {wm1}),
    keep AS (
        SELECT fp FROM fps GROUP BY fp
        HAVING COUNT(*) <= (SELECT GREATEST(25.0, 0.02 * COUNT(*)) FROM {doc}))
    SELECT fps.doc_id, fps.fp FROM fps JOIN keep ON fps.fp = keep.fp
"""

_WINNOW_TAIL_SPARK = """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_fps
    FROM fpk_v a JOIN fpk_v b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 3
"""


def q_winnow_fingerprint(spark, sf):
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    MOSS local-fingerprinting algorithm): hash every positional word 3-gram,
    slide a window of 4 consecutive hashes, keep each window's MINIMUM —
    any shared passage of >= 6 words between two documents is GUARANTEED to
    contribute a shared fingerprint, while only ~2/(w+1) of grams are kept.
    Pairs sharing >= 3 selected fingerprints are near-dup/containment
    candidates. Scale shape: the per-doc window MIN partitions by doc_id
    (no global sort), the pair join is keyed on the fingerprint with the
    same DF cap as d2 (hot boilerplate fingerprints are dropped before the
    join) — |bucket|²-bounded, never corpus². Complements d2-d4: winnowing
    finds PARTIAL overlap (plagiarism/containment), not whole-doc
    similarity. The capped fingerprint relation is staged once (see
    _staged) before the pair self-join."""
    spark.read.parquet(f"{sf}/documents.parquet").createOrReplaceTempView("documents_v")
    _staged(
        spark,
        "WITH "
        + _GRAMS_SPARK.format(doc="documents_v")
        + _WINNOW_CAP_SPARK.format(doc="documents_v", wm1=_WINNOW_W - 1),
        "fpk_v",
    )
    return spark.sql(_WINNOW_TAIL_SPARK)


# ----------------------------------------------------------------- quality


_QUALITY_BODY = """
    SELECT doc_id,
           n_tokens,
           ROUND(CAST(n_chars AS DOUBLE) / n_tokens, 4) AS avg_token_len,
           ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 4) AS stopword_ratio,
           CASE WHEN n_tokens >= 20 AND CAST(n_stop AS DOUBLE) / n_tokens >= 0.05
                THEN 1 ELSE 0 END AS quality_pass
    FROM (
        SELECT doc_id,
               {size_fn} AS n_tokens,
               length(text) AS n_chars,
               {stop_expr} AS n_stop
        FROM {doc})
    WHERE n_tokens > 0
"""

_STOP_WORDS = ("the", "a", "value", "row")


def _stop_expr() -> str:
    # occurrence counting via length-difference trick — identical in both
    # engines, no per-row UDF: count(w) = (len(s) - len(replace(s, w, ''))) / len(w)
    terms = [
        f"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' {w} ', '')))"
        f" / {len(w) + 2} AS BIGINT)"
        for w in _STOP_WORDS
    ]
    return "(" + " + ".join(terms) + ")"


def q_text_quality(spark, sf):
    """Quality scoring: token count, mean token length, stopword ratio, and a
    pass/fail gate — the Gopher/C4-style heuristics as pure column algebra
    (no UDF; the length-difference trick counts substring occurrences)."""
    sql = _QUALITY_BODY.format(
        doc="documents_v", size_fn="size(split(text, ' '))", stop_expr=_stop_expr()
    )
    return _run(spark, sf, sql)


# ------------------------------------------------------------------ lang id


_LANGID_BODY = """
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN n_en >= 2 THEN 'en' ELSE 'other' END AS guessed_lang
    FROM (SELECT doc_id, lang, {en_expr} AS n_en FROM {doc})
"""


def _en_expr() -> str:
    terms = [
        f"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' {w} ', '')))"
        f" / {len(w) + 2} AS BIGINT)"
        for w in ("the", "a", "of")
    ]
    return "(" + " + ".join(terms) + ")"


def q_lang_id(spark, sf):
    """Language-id heuristic: English marker-word density (the full n-gram
    model lives in cdc.extract.detect_lang_str as a pandas UDF; this is the
    SQL-expressible projection of it with an exact oracle)."""
    return _run(spark, sf, _LANGID_BODY.format(doc="documents_v", en_expr=_en_expr()))


# -------------------------------------------------------------- token count


# GPT-2-style pre-tokenizer shape, ASCII classes only so both engines'
# regex dialects agree byte-for-byte: contraction suffixes, space-prefixed
# letter runs, digit runs, punctuation runs. A real deployment swaps in the
# model's own tokenizer via a pandas UDF; this regex is the standard cheap
# estimator for token-budget accounting (counts within a few % of BPE on
# ASCII-dominated text because BPE merges rarely cross these boundaries).
_BPE_ISH = "'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+"
_BPE_ISH_SPARK = _BPE_ISH.replace("'", "\\'")  # Spark SQL literal escaping
_BPE_ISH_DUCK = _BPE_ISH.replace("'", "''")  # ANSI doubled-quote escaping

_TOKCOUNT_SPARK = f"""
    SELECT source,
           COUNT(*) AS n_docs,
           SUM(size(split(text, ' '))) AS total_tokens,
           SUM(size(array_distinct(split(text, ' ')))) AS sum_distinct_tokens,
           SUM(regexp_count(text, '{_BPE_ISH_SPARK}')) AS bpe_ish_tokens
    FROM {{doc}} GROUP BY source
"""

_TOKCOUNT_DUCK = f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(len(list_distinct(string_split(text, ' ')))) AS BIGINT) AS sum_distinct_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{_BPE_ISH_DUCK}'))) AS BIGINT) AS bpe_ish_tokens
    FROM documents GROUP BY source
"""


def q_token_count(spark, sf):
    """Token accounting per source: total + per-doc-distinct whitespace
    tokens AND a BPE-ish subword estimate (GPT-2-pre-tokenizer-shaped
    regex, see _BPE_ISH) — the budget arithmetic of a training-data
    pipeline in both the "rows of text" and "model tokens" currencies."""
    return _run(spark, sf, _TOKCOUNT_SPARK.format(doc="documents_v"))


TEXT_QUERIES = {
    "d1_dedup_exact": q_dedup_exact,
    "d2_dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "d3_dedup_minhash_lsh": q_dedup_minhash_lsh,
    "d10_dedup_clusters": q_dedup_clusters,
    "d4_dedup_simhash": q_dedup_simhash,
    "d5_doc_fingerprint": q_doc_fingerprint,
    "d9_winnow_fingerprint": q_winnow_fingerprint,
    "d6_text_quality": q_text_quality,
    "d7_lang_id": q_lang_id,
    "d8_token_count": q_token_count,
}

TEXT_ORACLE = {
    "d1_dedup_exact": _EXACT_BODY.format(doc="documents"),
    "d2_dedup_ngram_jaccard": "WITH "
    + _SHINGLES_DUCK.format(doc="documents")
    + _JACCARD_BODY.format(doc="documents"),
    "d3_dedup_minhash_lsh": _minhash_sql(_SHINGLES_DUCK, "documents"),
    "d10_dedup_clusters": f"""
    WITH RECURSIVE pairs AS ({_minhash_sql(_SHINGLES_DUCK, "documents")}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
    lbls AS (SELECT node, MIN(lbl) AS lbl FROM reach GROUP BY node),
    sizes AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS cluster_size
              FROM lbls GROUP BY lbl)
    SELECT l.node AS doc_id, l.lbl AS cluster_id, s.cluster_size
    FROM lbls l JOIN sizes s ON l.lbl = s.lbl
    """,
    "d4_dedup_simhash": _simhash_sql(
        "documents", "unnest(string_split(text, ' '))", _BANDEX_DUCK
    ),
    "d5_doc_fingerprint": _FPRINT_BODY.format(doc="documents"),
    "d9_winnow_fingerprint": "WITH "
    + _GRAMS_DUCK.format(doc="documents")
    + _WINNOW_BODY.format(doc="documents", wm1=_WINNOW_W - 1),
    "d6_text_quality": _QUALITY_BODY.format(
        doc="documents", size_fn="len(string_split(text, ' '))", stop_expr=_stop_expr()
    ),
    "d7_lang_id": _LANGID_BODY.format(doc="documents", en_expr=_en_expr()),
    "d8_token_count": _TOKCOUNT_DUCK,
}


# --------------------------------------------------- detector agreement


def dedup_agreement_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured candidate quality of the approximate near-dup detectors —
    the dedup twin of similarity.ann_recall_summary ("measure, don't
    guess"). Ground truth = d2's exact capped-vocabulary Jaccard ≥ 0.6
    pairs; each detector's pair set is compared on (doc_a, doc_b):

    - ``precision`` = |detector ∩ truth| / |detector| — candidate
      efficiency: the fraction of generated candidates a downstream exact
      verify would keep (candidates, not final verdicts, are what LSH-style
      detectors emit; low precision = wasted verification compute),
    - ``recall``    = |detector ∩ truth| / |truth| — what the bucketing
      construction misses outright (a candidate never generated can never
      be verified).

    d9 (winnowing) detects PARTIAL overlap by design, so its false
    positives against a whole-doc-similarity truth are expected — the
    number quantifies that difference rather than grading d9 down. The
    d4 rows measure both stages of the SimHash pipeline: raw banding
    (candidate flood on template-heavy text) and the Manku Hamming-verify
    second stage (:func:`simhash_verified_pairs`).
    All sets are pair relations joined on their keys; no collects."""
    truth = q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    detectors = {
        "d3_dedup_minhash_lsh": q_dedup_minhash_lsh,
        "d4_dedup_simhash": simhash_candidate_pairs,  # d4's query reports counts
        "d4_simhash_hamming_verified": simhash_verified_pairs,
        "d9_winnow_fingerprint": q_winnow_fingerprint,
    }
    n_truth = truth.count()
    out = None
    for name, fn in detectors.items():
        pairs = fn(spark, sf_dir).select("doc_a", "doc_b").distinct()
        n_pairs = pairs.count()
        n_hit = pairs.join(truth, ["doc_a", "doc_b"]).count()
        row = spark.createDataFrame(
            [(
                name,
                n_pairs,
                n_truth,
                round(n_hit / n_pairs, 4) if n_pairs else None,
                round(n_hit / n_truth, 4) if n_truth else None,
            )],
            "detector string, n_pairs long, n_truth long, precision double, recall double",
        )
        out = row if out is None else out.unionByName(row)
    return out


# ----------------- incremental dedup: materialized MinHash band index

# At 10^10 documents nobody re-runs corpus-level dedup per ingest batch:
# the production shape is a MATERIALIZED band index (the `bandrows` relation
# of q_dedup_minhash_lsh, laid out by a band-hash bucket) that (a) new
# batches PROBE — bands for the batch only, pruned scan of the touched
# buckets, join on (band_no, band_hash) — and (b) the CDC changelog
# MAINTAINS incrementally. Same physical idiom and the same one-commit
# upsert core as the ANN layouts (similarity.py): a LakeTable bucketed by
# identity on bh_bucket.

_BAND_BUCKETS = 64
_DOC_COLS = ["doc_id", "text"]


def _band_bucket_col() -> F.Column:
    return F.pmod(F.xxhash64("band_no", "band_hash"), F.lit(_BAND_BUCKETS)).cast("int")


def _bandrows_df(spark: SparkSession, docs_view: str) -> DataFrame:
    """(doc_id, band_no, band_hash, bh_bucket) for every doc in the view.
    Docs with fewer than 3 tokens have no shingles, hence no band rows —
    they cannot near-dup and are absent from the index by construction."""
    return spark.sql(_minhash_bandrows_sql(_SHINGLES_SPARK, docs_view)).withColumn(
        "bh_bucket", _band_bucket_col()
    )


def _minhash_rows(spark: SparkSession, docs_df: DataFrame) -> DataFrame:
    """Band rows of (doc_id, text) docs, plus one tombstone row (NULL
    bucket) per doc WITHOUT band rows — a NULL text (delete) or a text
    below shingle length — so its old band rows leave the index."""
    docs_df.filter(F.col("text").isNotNull()).createOrReplaceTempView("mh_docs_v")
    live = _bandrows_df(spark, "mh_docs_v")
    tomb = docs_df.select(
        "doc_id",
        F.lit(None).cast("int").alias("band_no"),
        F.lit(None).cast("string").alias("band_hash"),
        F.lit(None).cast("int").alias("bh_bucket"),
    ).join(live.select("doc_id").distinct(), "doc_id", "left_anti")
    return live.unionByName(tomb)


def _minhash_rebuild(
    spark: SparkSession, index_dir: str, docs: DataFrame, synced: int | None
) -> None:
    docs.createOrReplaceTempView("mh_build_docs_v")
    rows = _bandrows_df(spark, "mh_build_docs_v")
    _rebuild(index_dir, "bands", rows, "bh_bucket", _props(synced=synced))


def build_minhash_index(
    spark: SparkSession, docs_df: DataFrame, index_dir: str, force: bool = False
) -> str:
    """Materialize the band index for a document corpus (one-time; later
    batches probe and upsert it). Layout: ``bands/``, a LakeTable of
    (doc_id, band_no, band_hash, bh_bucket) bucketed by identity on
    bh_bucket. A rebuild is one atomic replace commit."""
    if force or not _built(os.path.join(index_dir, "bands")):
        _minhash_rebuild(spark, index_dir, docs_df, None)
    return index_dir


def minhash_probe_new(
    spark: SparkSession, index_dir: str, new_docs_df: DataFrame
) -> DataFrame:
    """Incremental dedup probe: near-dup candidates (new_doc_id, dup_of)
    between a NEW batch and the indexed corpus. Bands are computed for the
    batch only; the index is read pruned at the manifest to the batch's
    buckets (<= _BAND_BUCKETS, usually far fewer for a small batch); the
    join key is (band_no, band_hash) — candidate volume is bucket-bounded,
    never |batch| x |corpus|. Self-matches are excluded so a probe of
    already-indexed docs reports only their OTHER-doc duplicates."""
    new_docs_df.createOrReplaceTempView("mh_probe_docs_v")
    new_rows = _bandrows_df(spark, "mh_probe_docs_v").localCheckpoint()
    buckets = [r["b"] for r in new_rows.select(
        F.col("bh_bucket").alias("b")).distinct().collect()]
    if not buckets:
        return spark.createDataFrame([], "new_doc_id long, dup_of long")
    idx = LakeTable.load(os.path.join(index_dir, "bands")).read(spark, buckets=buckets)
    return (
        new_rows.alias("n")
        .join(
            idx.alias("i"),
            (F.col("n.band_no") == F.col("i.band_no"))
            & (F.col("n.band_hash") == F.col("i.band_hash"))
            & (F.col("n.doc_id") != F.col("i.doc_id")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc_id"),
            F.col("i.doc_id").alias("dup_of"),
        )
        .distinct()
    )


def minhash_index_upsert(
    spark: SparkSession, index_dir: str, docs_df: DataFrame, synced_version: int | None = None
) -> list[int]:
    """Incremental maintenance: ``docs_df`` is (doc_id, text); a NULL text
    is a DELETE tombstone (the doc's band rows leave the index). One
    ``overwrite_buckets`` commit of the affected buckets (the shared
    :func:`similarity._upsert` core: old rows found by a column-pruned
    (doc_id, bh_bucket) read of the index). Cost: O(affected buckets),
    never O(corpus)."""
    rows = _minhash_rows(spark, docs_df)
    props = _props(synced=synced_version)
    return _upsert(spark, os.path.join(index_dir, "bands"), "doc_id", rows, props)


def minhash_index_sync_changelog(
    spark: SparkSession, index_dir: str, changelog_df: DataFrame, synced_version: int | None = None
) -> list[int]:
    """CDC-out consumer: maintain the band index from a documents-table
    changelog (insert/update upsert their new text; deletes tombstone;
    update preimages of the "both" convention are ignored)."""
    rows = _changelog_rows(changelog_df, _DOC_COLS)
    return minhash_index_upsert(spark, index_dir, rows, synced_version)


def minhash_index_sync_table(
    spark: SparkSession,
    index_dir: str,
    table,
    row_filter=None,
    exclude: list[str] | None = None,
) -> dict:
    """:func:`similarity.sync_index_table` for the band index: ``table`` is
    a ``LakeTable`` of documents carrying (doc_id, text)."""
    return sync_index_table(
        spark, index_dir, table, _current(os.path.join(index_dir, "bands")),
        _minhash_rebuild, minhash_index_sync_changelog, _DOC_COLS, row_filter, exclude,
    )
