"""Seeded query tables for ``operator_suite``, written as parquet by DuckDB.

The ten tables ``queries.QUERIES`` reads (``oracle.TESTDATA_TABLES``): a
TPC-H-like star schema plus ``events``, ``documents`` and ``embeddings``,
with the column names, types and value domains of the repository's test
tables at sf0.01 (60k lineitem rows).  Every value is a pure function of
``(row id, seed)`` through DuckDB's ``hash``, so the same seed gives the same
tables, and the engine sees only the files.

- ``documents``: 10-89 words from a 31-word vocabulary; every tenth document
  repeats the one before it with its first word changed, so the near-dup
  operators have pairs to find.
- ``embeddings``: 64-dimensional unit vectors stored as ``FLOAT[]``.
"""

from __future__ import annotations

import os

import duckdb

SIZES = {"customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
         "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500}

WORDS = ("a agg batch big column customer data dup fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()


def _h(seed: int, salt: str, mod: int, col: str = "i") -> str:
    return f"(hash({col}, '{salt}', {seed}) % {mod})::BIGINT"


def _pick(values: list[str], seed: int, salt: str, col: str = "i") -> str:
    lst = ", ".join("'" + v + "'" for v in values)
    return f"[{lst}][{_h(seed, salt, len(values), col)} + 1]"


def _money(seed: int, salt: str, lo_cents: int, hi_cents: int) -> str:
    return f"(({lo_cents} + {_h(seed, salt, hi_cents - lo_cents)}) / 100.0)::DOUBLE"


def _sql(seed: int) -> dict[str, str]:
    n = SIZES
    r = lambda name: f"range({n[name]}) t(i)"  # noqa: E731
    words = ", ".join("'" + w + "'" for w in WORDS)
    doc_words = f"""
        list_transform(range(10 + {_h(seed, 'len', 80, 'base')}),
                       j -> [{words}][(hash(base, j, 'w', {seed}) % {len(WORDS)})::BIGINT + 1])
    """
    return {
        "region": """
            SELECT i::INTEGER AS r_regionkey,
                   ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """
            SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
                   (i % 5)::INTEGER AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""
            SELECT i AS c_custkey, printf('Customer#%09d', i) AS c_name,
                   {_h(seed, 'cn', 25)}::INTEGER AS c_nationkey,
                   {_money(seed, 'cb', -99_999, 999_999)} AS c_acctbal,
                   {_pick(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], seed, 'cs')}
                       AS c_mktsegment
            FROM {r('customer')}""",
        "supplier": f"""
            SELECT i AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
                   {_h(seed, 'sn', 25)}::INTEGER AS s_nationkey,
                   {_money(seed, 'sb', -99_999, 999_999)} AS s_acctbal
            FROM {r('supplier')}""",
        "part": f"""
            SELECT i AS p_partkey,
                   {_pick(['small', 'red', 'blue', 'green', 'large', 'shiny', 'old', 'tiny'], seed, 'pa')}
                       || ' ' ||
                   {_pick(['ring', 'widget', 'bolt', 'anvil', 'gear', 'spring', 'nut', 'plate'], seed, 'pb')}
                       AS p_name,
                   'Brand#' || (1 + {_h(seed, 'pr', 25)}) AS p_brand,
                   {_pick(['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'], seed, 'pt')}
                       AS p_type,
                   (1 + {_h(seed, 'ps', 50)})::INTEGER AS p_size,
                   round(900 + (i % 1000) / 10.0, 1)::DOUBLE AS p_retailprice
            FROM {r('part')}""",
        "orders": f"""
            SELECT i AS o_orderkey, {_h(seed, 'oc', n['customer'])} AS o_custkey,
                   {_pick(['F', 'O', 'P'], seed, 'os')} AS o_orderstatus,
                   {_money(seed, 'op', 100_000, 50_000_000)} AS o_totalprice,
                   TIMESTAMP '1995-01-01' + to_days({_h(seed, 'od', 2404)}::INTEGER) AS o_orderdate,
                   {_pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], seed, 'oq')}
                       AS o_orderpriority
            FROM {r('orders')}""",
        "lineitem": f"""
            SELECT {_h(seed, 'lo', n['orders'])} AS l_orderkey,
                   {_h(seed, 'lp', n['part'])} AS l_partkey,
                   {_h(seed, 'ls', n['supplier'])} AS l_suppkey,
                   (1 + {_h(seed, 'll', 7)})::INTEGER AS l_linenumber,
                   (1 + {_h(seed, 'lq', 50)})::DOUBLE AS l_quantity,
                   {_money(seed, 'le', 90_000, 10_500_000)} AS l_extendedprice,
                   ({_h(seed, 'ld', 11)} / 100.0)::DOUBLE AS l_discount,
                   ({_h(seed, 'lt', 9)} / 100.0)::DOUBLE AS l_tax,
                   {_pick(['A', 'N', 'R'], seed, 'lr')} AS l_returnflag,
                   {_pick(['F', 'O'], seed, 'lx')} AS l_linestatus,
                   TIMESTAMP '1995-01-02' + to_days({_h(seed, 'lh', 2498)}::INTEGER) AS l_shipdate
            FROM {r('lineitem')}""",
        "events": f"""
            SELECT i AS event_id,
                   TIMESTAMP '2024-01-01' + to_microseconds(
                       i * 259000000 + {_h(seed, 'et', 259000000)}) AS ts,
                   {_h(seed, 'eu', 150)} AS user_id,
                   {_pick(['click', 'error', 'purchase', 'signup', 'view'], seed, 'ey')} AS event_type,
                   {_money(seed, 'ev', 1, 49_003)} AS value,
                   '{{"k": ' || {_h(seed, 'ek', 100)} || '}}' AS props
            FROM {r('events')}""",
        "documents": f"""
            WITH d AS (
                SELECT i AS doc_id, CASE WHEN i % 10 = 9 THEN i - 1 ELSE i END AS base
                FROM {r('documents')}
            ), w AS (
                SELECT doc_id, base, {doc_words} AS ws FROM d
            ), x AS (
                SELECT doc_id, base,
                       array_to_string(CASE WHEN doc_id = base THEN ws
                                            ELSE ['dup'] || ws[2:] END, ' ') AS text
                FROM w
            )
            SELECT doc_id, text,
                   {_pick(['en', 'en', 'en', 'de', 'es', 'fr', 'zh'], seed, 'dl', 'doc_id')} AS lang,
                   'src' || {_h(seed, 'ds', 20, 'doc_id')} AS source,
                   length(text)::BIGINT AS n_chars
            FROM x""",
        "embeddings": f"""
            WITH v AS (
                SELECT i AS vec_id,
                       list_transform(range(64), j -> (hash(i, j, 've', {seed}) % 2000001)::DOUBLE
                                                      / 1000000.0 - 1.0) AS raw
                FROM {r('embeddings')}
            )
            SELECT vec_id,
                   list_transform(raw, x -> (x / sqrt(list_dot_product(raw, raw)))::FLOAT) AS embedding,
                   {_h(seed, 'vl', 10, 'vec_id')}::INTEGER AS label
            FROM v""",
    }


def write_tables(d: str, seed: int) -> str:
    """Write ``<d>/<table>.parquet`` for every query table; returns ``d``."""
    os.makedirs(d)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for name, sql in _sql(seed).items():
            path = os.path.join(d, f"{name}.parquet")
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")
    finally:
        con.close()
    return d
