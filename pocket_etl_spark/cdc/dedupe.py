"""Per-key last-writer-wins dedupe — the heart of the CDC apply stage.

The reference achieves LWW per batch by deleting matching keys then inserting the
staged rows (RedshiftJdbcClient.java:279-291); within a batch the last write to a key
wins implicitly. We refine that to an explicit, deterministic per-event rule:
winner(key) = argmax over (lsn, op_rank) — op_rank breaks same-LSN ties as D > U > I.

One argmax plan serves every caller (the parquet merge, the Iceberg pre-MERGE
dedupe, standalone use): the ordering packs into ONE long ordinal, its per-key
max is a plain HashAggregate, and a join on (key, ordinal) recovers the winning
rows. Why not a window or ``max_by``:

- ``row_number() OVER (PARTITION BY key ORDER BY lsn DESC)`` shuffles EVERY row of a
  key to one reducer: a hot key (50% of a 10^10-event log) lands 5·10^9 rows on one
  task. That plan melts at scale.
- ``groupBy(key).max(_ord)`` is commutative-associative over a fixed-width long:
  whole-stage codegen plus map-side partial aggregation, so each input partition
  first collapses its local rows per key to ONE row, and only those partials
  shuffle. The hot key contributes at most one row per upstream partition — skew is
  absorbed before the exchange. This is the same trick as the reference's
  per-thread buffering (ParallelLoader.java:156-167), done by Tungsten's hash
  aggregate. ``max_by(struct_payload, ord)`` would drag the full row payload
  through a SortAggregate instead, which profiling showed dominated merge time and
  scaled poorly past 8 threads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pocket_etl_spark.schema import LSN_COL, OP_COL, OP_RANK


def OP_RANK_EXPR(op_col: str = OP_COL):
    """Deterministic tie-break rank for same-LSN events: D(3) > U(2) > I(1);
    NULL op (current table rows in the merge union) ranks 0 so any same-LSN
    incoming event replaces them (idempotent replay)."""
    expr = F.lit(0)
    for op, rank in OP_RANK.items():
        expr = F.when(F.col(op_col) == op, F.lit(rank)).otherwise(expr)
    return expr


def lww_dedupe(
    df: DataFrame,
    key_cols: list[str],
    lsn_col: str = LSN_COL,
    op_col: str = OP_COL,
    src_col: str | None = None,
) -> DataFrame:
    """One row per key: the row with max (lsn, op_rank[, src]); columns unchanged.

    The ordering packs into one long, ``lsn*8 + op_rank*2 + src`` (op_rank ∈
    0..3, src ∈ 0..1; lsn < 2^60 by contract). ``src_col`` is the merge's
    incoming-beats-current rank: at equal (lsn, op) the row with src 1 wins, so
    replaying a batch is idempotent. The per-key max is a HashAggregate (see
    module doc); a shuffled hash join on (key, ordinal) recovers the winning
    rows with no driver-side work (broadcasting the winner set was measured
    to cost ~6-10 s/batch of serial driver collect, flattening N→4N scaling).

    Exact-duplicate guard: at-least-once delivery can land the SAME event
    (key, lsn, op) twice; both rows tie at the max ordinal and the join would
    emit both. ``dropDuplicates`` on (key, ordinal) collapses them — the join
    output is already hash-partitioned on exactly those columns, so this is a
    partition-local aggregate, no extra exchange.
    """
    ord_expr = F.col(lsn_col) * 8 + OP_RANK_EXPR(op_col) * 2
    if src_col is not None:
        ord_expr = ord_expr + F.col(src_col)
    keyed = df.withColumn("_ord", ord_expr)
    winner_ords = keyed.groupBy(*key_cols).agg(F.max("_ord").alias("_ord"))
    return (
        keyed.join(winner_ords.hint("shuffle_hash"), on=[*key_cols, "_ord"], how="inner")
        .dropDuplicates([*key_cols, "_ord"])
        .drop("_ord")
    )


def lww_dedupe_window(
    df: DataFrame,
    key_cols: list[str],
    lsn_col: str = LSN_COL,
    op_col: str = OP_COL,
) -> DataFrame:
    """Window-function formulation (row_number = 1). Same winners; shuffles whole
    keys to single reducers, so it is the NON-scale path — kept only as the
    reference implementation the tests compare ``lww_dedupe`` against."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(lsn_col).desc(), OP_RANK_EXPR(op_col).desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )
