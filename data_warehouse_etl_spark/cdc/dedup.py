"""Last-writer-wins dedup — the engine's core reduce (SURVEY.md §2.5 W2).

The reference's pattern is ``rank() over (partition by key order by ts) = 1``
(``/root/reference/Sql Scripts/STG_SP_ATTRIBUTION_ET.sql:305,318``) and its
cross-feed LWW conflict resolution keeps the later action_timestamp
(``:273-292,322-344``). Generalized here to: **one surviving row per url,
the row with the greatest (warc_ts, seq)** — warc_ts is the version order,
seq the total-order tiebreaker (never rely on unordered ``first()``:
determinism across cluster sizes requires a total order).

One law, one path: :func:`_winner_ties_sql` computes the winning
``[key, tie]`` pairs over a (key, version, tie) projection, then the full
rows are recovered either by a broadcast semi-join on the globally unique
tie (:func:`lww_dedup_broadcast_keys`) or by the null-safe shuffle-hash
join-back on (key, tie) (:func:`lww_dedup`).

Each function builds its frame from one SQL text, passed to ``spark.sql``
with the input frame as its one argument (registered as a temporary view
for the call, and dropped after it): one parse and one analysis in the JVM
instead of one per DataFrame step, and a few py4j round trips instead of
one per ``Column`` call. The plans are the ones the DataFrame steps built
(``tools/plan_digest.py``). ``spark.sql`` runs such a text through
``str.format``, so column names are quoted with ``quote_format_ident``,
which doubles their braces.

Physical strategy — HASH aggregation, never window, never sort-aggregate.
A window rank forces ALL events of a key into one task and sorts them. Less
obviously, ``max(struct(...))`` / ``max_by(struct(*cols), ...)`` are just as
bad: a struct-typed aggregation buffer is not UnsafeRow-mutable, so Spark
plans **SortAggregate** — the 30M-row winner reduce was measured sorting its
input on BOTH sides of the exchange (round 6 profile: 62s + 30s CPU at
local[4] for what hash aggregation does in a fraction). The argmax over the
(version, tie) pair is therefore decomposed into chained aggregations whose
buffers are all primitive (hash-aggregable, whole-stage codegen):

    phase 1:  groupBy(key, version).agg(max(tie))       -- collapses exact
              (duplicate events share (key, version))       duplicates
    phase 2:  groupBy(key).agg(max_by(tie, version))     -- unique version
              per group after phase 1, so no ties; null versions handled by
              an explicit null-branch max (struct ordering treats a null
              version as smallest, and so does this: a null-version row wins
              only when the key has no non-null version at all)

Equivalence with ``max(struct(version, tie))`` — including null versions and
the total (version, tie) order — is pinned by tests/test_dedup_*.

Skew needs no special path: every key row crosses ONE ``DISTRIBUTE BY key``
exchange and the reduce is a MAX over the total (version, tie) order —
associative and commutative, so the result is identical at any parallelism
and for any key distribution. A hot key lands in one reducer, which does one
primitive hash-aggregate pass over its rows. A salted (key, salt) split
never beat this plan, and map-side partial aggregation, which wins on a
heavily skewed batch, loses on the uniform one (SCALE.md, Skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..lake.table import quote_format_ident as q


def _winner_ties_sql(rel: str, key: str, order: tuple[str, ...]) -> str:
    """SQL text of the winning ``[key, tie]`` pair per key of the relation
    ``rel``, where ``order`` is the (version, tie) 2-tuple — the one LWW law
    every dedup path and ``LakeTable._resolve`` share.

    One ``DISTRIBUTE BY key`` exchange of the (key, version, tie) projection
    (raw rows, no map-side combine — measured cheaper than paying a sort- or
    hash-map pass on the map side for the ~8% row reduction combine buys on
    spread-out keys), then the two chained hash aggregates of the module
    docstring with no further exchange (hashpartitioning(key) satisfies both
    groupings). The same plan serves skewed input: the reduce is exact at
    any parallelism.
    """
    if len(order) != 2:
        raise ValueError(f"LWW order must be a (version, tie) pair, got {order!r}")
    k, o1, t = q(key), q(order[0]), q(order[1])
    return (
        f"SELECT {k}, coalesce(max_by({t}, {o1}), max(CASE WHEN {o1} IS NULL THEN {t} END)) AS {t} "
        f"FROM (SELECT {k}, {o1}, max({t}) AS {t} "
        f"FROM (SELECT {k}, {o1}, {t} FROM {rel} DISTRIBUTE BY {k}) GROUP BY {k}, {o1}) "
        f"GROUP BY {k}"
    )


def _join_back_sql(rel: str, winners: str, key: str, tie: str) -> str:
    """SQL text recovering the full winning rows of ``rel`` by a left-semi
    join on (key, tie) to the relation ``winners``.

    NULL-SAFE on both columns: a NULL key forms its own group in the winner
    aggregation (GROUP BY treats NULL as a value), and a plain equi join
    would silently drop its rows (NULL never equals NULL) — the pre-round-6
    aggregation form kept them. ``<=>`` conditions plan as hash-join keys,
    so the SHUFFLE_HASH shape is preserved.

    Precondition (documented on every caller): ``tie`` is unique per key
    across ``rel``'s rows. Rows that duplicate their key's winning
    (key, tie) pair — only possible when the precondition is violated —
    all survive the semi join, where the old aggregation form kept an
    arbitrary one of them (``max_by`` is non-deterministic on order ties);
    neither behavior is deterministic on such input.
    """
    k, t = q(key), q(tie)
    return (
        f"SELECT /*+ SHUFFLE_HASH(w) */ d.* FROM {rel} d LEFT SEMI JOIN "
        f"(SELECT {k} AS _wk, {t} AS _wt FROM {winners}) w "
        f"ON d.{k} <=> w._wk AND d.{t} <=> w._wt"
    )


def lww_dedup(
    df: DataFrame,
    key: str = "url",
    order: tuple[str, ...] = ("warc_ts", "seq"),
) -> DataFrame:
    """One full row per key: argmax over the (version, tie) ``order``, with
    ``tie`` unique per key (the :func:`_join_back_sql` precondition).

    Winners are computed hash-aggregated on a (key, *order) projection and
    the full rows recovered by the null-safe (key, tie) join-back — the
    payload never enters an aggregation buffer, and no operator sorts. The
    join is hinted SHUFFLE_HASH: the winner side is a fraction of the input
    and the build per partition is bounded, while a sort-merge join would
    re-introduce exactly the payload sort this rewrite removes. Works for
    any batch size (no broadcast)."""
    winners = f"({_winner_ties_sql('{df}', key, order)})"
    return df.sparkSession.sql(_join_back_sql("{df}", winners, key, order[-1]), df=df)


def winner_seqs(
    df: DataFrame,
    key: str = "url",
    order: tuple[str, ...] = ("warc_ts", "seq"),
) -> DataFrame:
    """The winning tiebreaker (``order[-1]``) per key, as a 1-column frame.

    Because the LWW law is "greatest ``order`` tuple wins" and the tuple's
    last element is globally unique, the winner per key is a pure argmax
    over the (version, tie) pair — computed entirely with hash aggregations
    (see module docstring). The shuffle carries key + two scalars per row,
    never a full row copy.
    """
    return df.sparkSession.sql(_winner_seqs_sql("{df}", key, order), df=df)


def _winner_seqs_sql(rel: str, key: str, order: tuple[str, ...]) -> str:
    return f"SELECT {q(order[-1])} FROM ({_winner_ties_sql(rel, key, order)})"


def lww_dedup_broadcast_keys(
    df: DataFrame,
    key: str = "url",
    order: tuple[str, ...] = ("warc_ts", "seq"),
) -> DataFrame:
    """LWW dedup that never shuffles the payload.

    1. computes the winning tiebreaker per key over a (key, *order)
       PROJECTION (:func:`winner_seqs` — tens of bytes per row through the
       shuffle, 10-100x less volume, all-hash aggregation);
    2. broadcasts the winners' globally-unique tiebreaker column
       (``order[-1]``, the ledger seq) and left-semi-joins the original
       rows — payload rows are filtered map-side, never exchanged.

    Exact: the winner set is identical (same argmax, unique tiebreaker), so
    the surviving rows are identical → byte-identical state. Use when the
    winner-key set fits a broadcast (≈8 bytes/key; a 10^6-event batch is a
    few MB); :func:`lww_dedup` serves unbounded batch sizes.
    """
    sql = (
        "SELECT /*+ BROADCAST(w) */ * FROM {df} LEFT SEMI JOIN "
        f"({_winner_seqs_sql('{df}', key, order)}) w USING ({q(order[-1])})"
    )
    return df.sparkSession.sql(sql, df=df)
