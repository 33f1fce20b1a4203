"""Seeded CDC inputs, written as parquet by DuckDB.

The events follow the engine's envelope (``schema.EVENT_SCHEMA``): ``lsn``,
``op``, ``repo``, ``path``, ``commit``, ``lang``, ``content``, ``ts`` and
``extras``.  Every column is a pure function of ``(lsn, seed)`` through
DuckDB's ``hash``/``md5``, so the same seed gives byte-identical inputs, and
the benchmark's inputs do not move when the engine's own generator
(``datagen.py``) changes.

- keys: ``hot_fraction`` of the events go to key 0, the rest are uniform
  over ``keys``; the repo/path layout matches ``datagen.gen_change_events``.
- ops: 20% insert, 70% update, 10% delete.
- invalid: ``invalid_per_10k`` events get a NULL op (half) or the unknown
  op ``'X'`` (half); the engine must route exactly these to its DLQ.
- seed rows: one insert per key at ``lsn = key + 1``, applied to the table by
  ``overwrite`` before the tail starts; WAL lsns start above them.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import duckdb

LANGS = ["py", "java", "ts", "go", "rs", "md"]


def _slot(salt: str, seed: int, mod: int) -> str:
    return f"(hash(lsn, '{salt}', {seed}) % {mod})::BIGINT"


def _events_sql(lo: int, hi: int, seed: int, keys: int, hot_fraction: float,
                invalid_per_10k: int, seed_rows: bool) -> str:
    langs = ", ".join(f"'{x}'" for x in LANGS)
    hot_cut = int(hot_fraction * 10_000)
    if seed_rows:
        key = "lsn - 1"
        op = "'I'"
    else:
        key = (
            f"CASE WHEN {_slot('hot', seed, 10_000)} < {hot_cut} THEN 0 "
            f"ELSE {_slot('key', seed, keys)} END"
        )
        half = invalid_per_10k // 2
        bad, ops = _slot("bad", seed, 10_000), _slot("op", seed, 100)
        op = (
            f"CASE WHEN {bad} < {half} THEN NULL WHEN {bad} < {invalid_per_10k} THEN 'X' "
            f"WHEN {ops} < 20 THEN 'I' WHEN {ops} < 90 THEN 'U' ELSE 'D' END"
        )
    return f"""
        WITH b AS (
            SELECT lsn, {key} AS k, {op} AS op FROM range({lo}, {hi}) t(lsn)
        ), e AS (
            SELECT *, printf('org/repo-%05d', k % {max(1, keys // 20)}) AS repo,
                   [{langs}][k % 6 + 1] AS lang0
            FROM b
        ), f AS (
            SELECT *, printf('src/module_%d/file_%05d.%s', k % 7, k, lang0) AS path,
                   md5(concat({seed}, '|', repo, '|', k, '|', lsn)) AS body,
                   op IS DISTINCT FROM 'D' AS live
            FROM e
        )
        SELECT lsn::BIGINT AS lsn, op, repo, path,
               CASE WHEN live THEN md5(concat({seed}, '|', lsn, '|c')) END AS commit,
               CASE WHEN live THEN lang0 END AS lang,
               CASE WHEN live THEN concat('// ', repo, ':', path, ' @ lsn=', lsn,
                                          chr(10), repeat(body || chr(10), 8)) END AS content,
               TIMESTAMPTZ '2024-01-01 00:00:00+00' + to_seconds(lsn) AS ts,
               MAP {{'gen_seed': '{seed}'}} AS extras
        FROM f
    """


def write_events(path: str, lo: int, hi: int, seed: int, keys: int,
                 hot_fraction: float = 0.0, invalid_per_10k: int = 0,
                 seed_rows: bool = False) -> str:
    """Write events with ``lo <= lsn < hi`` to one parquet file. Small row
    groups let Spark split a large segment across every core."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        sql = _events_sql(lo, hi, seed, keys, hot_fraction, invalid_per_10k, seed_rows)
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet, ROW_GROUP_SIZE 8192)")
    finally:
        con.close()
    return path


def write_segments(d: str, first_lsn: int, sizes: list[int], seed: int, keys: int,
                   hot_fraction: float, invalid_per_10k: int) -> list[str]:
    """Consecutive lsn ranges of the given sizes, one file each, in order;
    one DuckDB connection per segment, written on every available core."""
    os.makedirs(d, exist_ok=True)
    jobs, lo = [], first_lsn
    for i, n in enumerate(sizes):
        jobs.append((os.path.join(d, f"seg-{i:05d}.parquet"), lo, lo + n))
        lo += n
    with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
        futures = [
            pool.submit(write_events, path, a, b, seed, keys, hot_fraction, invalid_per_10k)
            for path, a, b in jobs
        ]
        return [f.result() for f in futures]
