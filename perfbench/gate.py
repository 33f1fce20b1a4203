"""Correctness gates that do not trust the engine.

- ``lww_oracle``: DuckDB computes the last-writer-wins final state straight
  from the staged event parquet (seed events included), ordering each key's
  events by ``(lsn, op)`` with ``schema.OP_RANK``.  Invalid events (NULL or
  unknown op) are excluded, as the engine routes them to its DLQ.
- ``table_rows``: the engine's table read back through Spark; its live rows
  must equal the oracle, and its rows stamped after a consumer's starting
  version must equal ``feed_state``, the consumer's view rebuilt from the
  change rows it was delivered.

Frames are compared on row count plus ``oracle.value_hash``, an
order-insensitive hash over ``(repo, path, commit, lang, sha256(content))``.
"""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from pocket_etl_spark.oracle import value_hash
from pocket_etl_spark.schema import OP_RANK

COLS = ["repo", "path", "commit", "lang", "content_sha"]


def _op_rank_sql() -> str:
    arms = " ".join(f"WHEN '{op}' THEN {rank}" for op, rank in OP_RANK.items())
    return f"CASE op {arms} END"


def lww_oracle(event_files: list[str]) -> pd.DataFrame:
    """Final live rows after applying every event in ``event_files``."""
    ops = ", ".join(f"'{op}'" for op in OP_RANK)
    files = ", ".join("'" + f.replace("'", "''") + "'" for f in event_files)
    sql = f"""
        WITH ev AS (
            SELECT lsn, op, repo, path, commit, lang, content
            FROM read_parquet([{files}])
            WHERE op IN ({ops}) AND repo IS NOT NULL AND path IS NOT NULL
              AND lsn IS NOT NULL
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY repo, path ORDER BY lsn DESC, {_op_rank_sql()} DESC
            ) AS rn
            FROM ev
        )
        SELECT repo, path, commit, lang, sha256(content) AS content_sha
        FROM ranked WHERE rn = 1 AND op <> 'D'
    """
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        return con.sql(sql).df()
    finally:
        con.close()


def invalid_event_count(event_files: list[str]) -> int:
    """Events the engine must divert to its DLQ (NULL or unknown op)."""
    ops = ", ".join(f"'{op}'" for op in OP_RANK)
    files = ", ".join("'" + f.replace("'", "''") + "'" for f in event_files)
    con = duckdb.connect()
    try:
        return int(
            con.sql(
                f"SELECT count(*) FROM read_parquet([{files}]) "
                f"WHERE op IS NULL OR op NOT IN ({ops})"
            ).fetchone()[0]
        )
    finally:
        con.close()


def table_rows(table) -> pd.DataFrame:
    """Every stored row of the current snapshot, tombstones included, with
    its ``deleted`` flag and change-feed ``version`` stamp."""
    return (
        table.read(include_tombstones=True)
        .select(
            "repo", "path", "commit", "lang",
            F.sha2("content", 256).alias("content_sha"),
            F.coalesce(F.col("_deleted"), F.lit(False)).alias("deleted"),
            F.col("_version").alias("version"),
        )
        .toPandas()
    )


def frame_problems(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Empty when both frames hold the same rows in any order."""
    if len(got) != len(want):
        return [f"row count {len(got)} != {len(want)}"]
    if value_hash(got[COLS]) != value_hash(want[COLS]):
        return ["order-insensitive value hash differs"]
    return []


def feed_state(deliveries: list[pd.DataFrame]) -> pd.DataFrame:
    """Replay delivered change windows in order, last commit version per key
    winning, into one row per key (deletes kept as ``deleted=True``)."""
    if not deliveries:
        return pd.DataFrame(columns=COLS + ["deleted"])
    rows = pd.concat(deliveries, ignore_index=True)
    rows = rows.sort_values("_commit_version", kind="stable")
    last = rows.drop_duplicates(["repo", "path"], keep="last")
    return last.assign(deleted=last["_change_type"] == "delete")[COLS + ["deleted"]]


def feed_problems(state: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    if len(state) != len(expected):
        return [f"consumer rows {len(state)} != lake rows {len(expected)}"]
    if value_hash(state[COLS + ["deleted"]]) != value_hash(expected[COLS + ["deleted"]]):
        return ["consumer state hash differs from the lake snapshot"]
    return []
