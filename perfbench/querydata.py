"""Seeded tables for the query suite, generated with DuckDB.

The eight suite queries read ``region nation customer orders lineitem
events documents embeddings`` as ``<dir>/<name>.parquet``, the layout
every ``queries.REGISTRY`` function takes as ``sf_dir``. Column names
and types follow the TPC-H-style test tables the package's oracles were
written against. Every value is a DuckDB ``hash`` of the seed and the
row number, so one seed always yields the same rows.
"""

from __future__ import annotations

import os

import duckdb

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]

ROWS = {
    "customer": 1_500,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 40_000,
    "users": 500,
    "documents": 1_500,
    "embeddings": 1_500,
}
DIM = 32


def table_sql(seed: int) -> dict[str, str]:
    """One SELECT per table."""
    r = ROWS

    def h(tag: str, *cols: str) -> str:
        # DuckDB hash() is UBIGINT; fold it into a small signed range
        return f"CAST(hash({seed}, '{tag}', {', '.join(cols)}) % 1000003 AS BIGINT)"

    stop = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"
    return {
        "region": """
            SELECT CAST(i AS INTEGER) AS r_regionkey,
                   ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """
            SELECT CAST(i AS INTEGER) AS n_nationkey,
                   'NATION_' || CAST(i AS VARCHAR) AS n_name,
                   CAST(i % 5 AS INTEGER) AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""
            SELECT CAST(i AS BIGINT) AS c_custkey,
                   'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
                   CAST({h('c1', 'i')} % 25 AS INTEGER) AS c_nationkey,
                   round({h('c2', 'i')} / 100.0 - 1000.0, 2) AS c_acctbal,
                   ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']
                       [{h('c3', 'i')} % 5 + 1] AS c_mktsegment
            FROM range({r['customer']}) t(i)""",
        "orders": f"""
            SELECT CAST(i AS BIGINT) AS o_orderkey,
                   {h('o1', 'i')} % {r['customer']} AS o_custkey,
                   ['O', 'F', 'P'][{h('o2', 'i')} % 3 + 1] AS o_orderstatus,
                   round({h('o3', 'i')} / 2.0, 2) AS o_totalprice,
                   TIMESTAMP '1992-01-01' + to_days(CAST({h('o4', 'i')} % 3000 AS INTEGER))
                       AS o_orderdate,
                   ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
                       [{h('o5', 'i')} % 5 + 1] AS o_orderpriority
            FROM range({r['orders']}) t(i)""",
        "lineitem": f"""
            SELECT {h('l1', 'i')} % {r['orders']} AS l_orderkey,
                   {h('l2', 'i')} % 2000 AS l_partkey,
                   {h('l3', 'i')} % 100 AS l_suppkey,
                   CAST(i % 7 + 1 AS INTEGER) AS l_linenumber,
                   CAST({h('l4', 'i')} % 50 + 1 AS DOUBLE) AS l_quantity,
                   round(900.0 + {h('l5', 'i')} / 10.0, 2) AS l_extendedprice,
                   CAST({h('l6', 'i')} % 11 AS DOUBLE) / 100.0 AS l_discount,
                   CAST({h('l7', 'i')} % 9 AS DOUBLE) / 100.0 AS l_tax,
                   ['R', 'A', 'N'][{h('l8', 'i')} % 3 + 1] AS l_returnflag,
                   ['O', 'F'][{h('l9', 'i')} % 2 + 1] AS l_linestatus,
                   TIMESTAMP '1992-01-02' + to_days(CAST({h('l10', 'i')} % 3400 AS INTEGER))
                       AS l_shipdate
            FROM range({r['lineitem']}) t(i)""",
        "events": f"""
            SELECT CAST(i AS BIGINT) AS event_id,
                   TIMESTAMP '2024-01-01 00:00:00'
                       + to_microseconds(i * 60000000 + {h('e1', 'i')} * 600) AS ts,
                   {h('e2', 'i')} % {r['users']} AS user_id,
                   ['click', 'view', 'purchase', 'signup', 'error'][{h('e3', 'i')} % 5 + 1]
                       AS event_type,
                   round({h('e4', 'i')} / 100.0, 2) AS value,
                   '{{"k": ' || CAST({h('e5', 'i')} % 100 AS VARCHAR) || '}}' AS props
            FROM range({r['events']}) t(i)""",
        # about 30% of documents repeat their predecessor's tokens with one
        # token changed, so the near-duplicate query finds real pairs
        "documents": f"""
            WITH d AS (
              SELECT i AS doc_id,
                     CASE WHEN i > 0 AND {h('d1', 'i')} % 10 < 3 THEN i - 1 ELSE i END AS base
              FROM range({r['documents']}) t(i)
            ),
            n AS (SELECT doc_id, base, {h('d2', 'base')} % 40 + 20 AS n_tok FROM d),
            toks AS (
              SELECT doc_id, j,
                     CASE
                       WHEN doc_id <> base AND j = {h('d3', 'doc_id')} % n_tok
                         THEN 'x' || CAST(doc_id AS VARCHAR)
                       WHEN {h('d4', 'base', 'j')} % 7 = 0
                         THEN {stop}[{h('d5', 'base', 'j')} % {len(STOPWORDS)} + 1]
                       ELSE 'w' || CAST({h('d6', 'base', 'j')} % 2000 AS VARCHAR)
                     END AS tok
              FROM n, range(60) g(j)
              WHERE j < n_tok
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   string_agg(tok, ' ' ORDER BY j) AS text,
                   ['en', 'de', 'fr', 'es'][{h('d7', 'doc_id')} % 4 + 1] AS lang
            FROM toks GROUP BY doc_id""",
        "embeddings": f"""
            SELECT CAST(i AS BIGINT) AS vec_id,
                   list(CAST(({h('v1', 'i', 'k')} % 2001) / 1000.0 - 1.0 AS FLOAT) ORDER BY k)
                       AS embedding
            FROM range({r['embeddings']}) t(i), range({DIM}) g(k)
            GROUP BY i""",
    }


def generate(out_dir: str, seed: int) -> None:
    """Write each table to ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for name, sql in table_sql(seed).items():
            path = os.path.join(out_dir, f"{name}.parquet")
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
    finally:
        con.close()
