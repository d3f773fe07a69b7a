"""Last-writer-wins dedup — the engine's core reduce (SURVEY.md §2.5 W2).

The reference's pattern is ``rank() over (partition by key order by ts) = 1``
(``/root/reference/Sql Scripts/STG_SP_ATTRIBUTION_ET.sql:305,318``) and its
cross-feed LWW conflict resolution keeps the later action_timestamp
(``:273-292,322-344``). Generalized here to: **one surviving row per url,
the row with the greatest (warc_ts, seq)** — warc_ts is the version order,
seq the total-order tiebreaker (never rely on unordered ``first()``:
determinism across cluster sizes requires a total order).

One law, one path: :func:`_winner_ties` computes the winning ``[key, tie]``
pairs over a (key, version, tie) projection, then the full rows are
recovered either by a broadcast semi-join on the globally unique tie
(:func:`lww_dedup_broadcast_keys`) or by the null-safe shuffle-hash
join-back on (key, tie) (:func:`lww_dedup`).

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

Skew needs no special path: every key row crosses ONE ``repartition(key)``
exchange and the reduce is a MAX over the total (version, tie) order —
associative and commutative, so the result is identical at any parallelism
and for any key distribution. A hot key lands in one reducer, which does one
primitive hash-aggregate pass over its rows. A salted (key, salt) split
never beat this plan, and map-side partial aggregation, which wins on a
heavily skewed batch, loses on the uniform one (SCALE.md, Skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _winner_ties(df: DataFrame, key: str, order: tuple[str, ...]) -> DataFrame:
    """The winning ``[key, tie]`` pair per key, where ``order`` is the
    (version, tie) 2-tuple — the one LWW law every dedup path and
    ``LakeTable._resolve`` share.

    One ``repartition(key)`` exchange of the (key, version, tie) projection
    (raw rows, no map-side combine — measured cheaper than paying a sort- or
    hash-map pass on the map side for the ~8% row reduction combine buys on
    spread-out keys), then the two chained hash aggregates of the module
    docstring with no further exchange (hashpartitioning(key) satisfies both
    groupings). The same plan serves skewed input: the reduce is exact at
    any parallelism.
    """
    if len(order) != 2:
        raise ValueError(f"LWW order must be a (version, tie) pair, got {order!r}")
    o1, tie = order
    ph1 = (
        df.select(key, o1, tie)
        .repartition(key)
        .groupBy(key, o1)
        .agg(F.max(tie).alias(tie))
    )
    return (
        ph1.groupBy(key)
        .agg(
            F.max_by(tie, o1).alias("_w_nn"),
            F.max(F.when(F.col(o1).isNull(), F.col(tie))).alias("_w_null"),
        )
        .select(key, F.coalesce("_w_nn", "_w_null").alias(tie))
    )


def _join_back(df: DataFrame, winners: DataFrame, key: str, tie: str) -> DataFrame:
    """Recover the full winning rows by a left-semi join on (key, tie).

    NULL-SAFE on both columns: a NULL key forms its own group in the winner
    aggregation (groupBy treats NULL as a value), and a plain equi join
    would silently drop its rows (NULL never equals NULL) — the pre-round-6
    aggregation form kept them. ``<=>`` conditions plan as hash-join keys,
    so the SHUFFLE_HASH shape is preserved.

    Precondition (documented on every caller): ``tie`` is unique per key
    across ``df``'s rows. Rows that duplicate their key's winning
    (key, tie) pair — only possible when the precondition is violated —
    all survive the semi join, where the old aggregation form kept an
    arbitrary one of them (``max_by`` is non-deterministic on order ties);
    neither behavior is deterministic on such input.
    """
    w = winners.hint("shuffle_hash").select(
        F.col(key).alias("_wk"), F.col(tie).alias("_wt")
    )
    cond = df[key].eqNullSafe(w["_wk"]) & df[tie].eqNullSafe(w["_wt"])
    return df.join(w, cond, "left_semi")


def lww_dedup(
    df: DataFrame,
    key: str = "url",
    order: tuple[str, ...] = ("warc_ts", "seq"),
) -> DataFrame:
    """One full row per key: argmax over the (version, tie) ``order``, with
    ``tie`` unique per key (the :func:`_join_back` precondition).

    Winners are computed hash-aggregated on a (key, *order) projection and
    the full rows recovered by the null-safe (key, tie) join-back — the
    payload never enters an aggregation buffer, and no operator sorts. The
    join is hinted SHUFFLE_HASH: the winner side is a fraction of the input
    and the build per partition is bounded, while a sort-merge join would
    re-introduce exactly the payload sort this rewrite removes. Works for
    any batch size (no broadcast)."""
    winners = _winner_ties(df, key, order)
    return _join_back(df, winners, key, order[-1])


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
    return _winner_ties(df, key, order).select(order[-1])


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
    winners = winner_seqs(df, key, order)
    return df.join(F.broadcast(winners), order[-1], "left_semi")

