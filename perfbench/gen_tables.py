#!/usr/bin/env python3
"""Seeded generator for the batch suite's input tables.

Writes the ten parquet tables the program's `sources.Tables` readers expect
(the TPC-H-like star schema plus `events`, `documents` and `embeddings`),
with the column names and types of its schema contract and value domains
that follow the repository's test data. Every value is a hash of
(seed, column tag, row), and DuckDB writes single-threaded, so the same
seed gives the same tables.

Usage: python3 gen_tables.py --out DIR --seed N --sf 0.01
"""
import argparse
import os

import duckdb

VOCAB = ["a", "the", "data", "table", "key", "value", "row", "column", "join",
         "agg", "group", "sort", "filter", "scan", "hash", "merge", "batch",
         "stream", "window", "query", "order", "customer", "part", "line",
         "vector", "spark", "big", "small", "fast", "slow"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def tables_sql(seed, sf):
    n_cust = max(50, int(150000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_part = max(100, int(200000 * sf))
    n_orders = max(500, int(1500000 * sf))
    n_events = max(1000, int(1000000 * sf))
    n_users = max(50, int(15000 * sf))
    n_docs = max(500, int(50000 * sf))
    n_vecs = max(500, int(20000 * sf))

    # u(i, tag) is a uniform double in [0, 1) fixed by (seed, tag, i)
    def u(i, tag):
        return f"((hash({seed}, '{tag}', {i}) % 1000000007) / 1000000007.0)"

    def pick(i, tag, items):
        lst = "[" + ",".join(f"'{x}'" for x in items) + "]"
        return f"{lst}[1 + CAST(floor({u(i, tag)} * {len(items)}) AS INTEGER)]"

    def money(i, tag, lo, hi):
        return f"round({lo} + {u(i, tag)} * {hi - lo}, 2)"

    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    yield "region", f"""
        SELECT CAST(range AS INTEGER) AS r_regionkey,
               ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][range + 1] AS r_name
        FROM range(5)"""
    yield "nation", f"""
        SELECT CAST(range AS INTEGER) AS n_nationkey, 'NATION_' || range AS n_name,
               CAST(range % 5 AS INTEGER) AS n_regionkey
        FROM range(25)"""
    yield "customer", f"""
        SELECT CAST(range AS BIGINT) AS c_custkey,
               'Customer#' || lpad(CAST(range AS VARCHAR), 9, '0') AS c_name,
               CAST(floor({u('range', 'cn')} * 25) AS INTEGER) AS c_nationkey,
               {money('range', 'ca', -999.99, 9999.99)} AS c_acctbal,
               {pick('range', 'cm', ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])} AS c_mktsegment
        FROM range({n_cust})"""
    yield "supplier", f"""
        SELECT CAST(range AS BIGINT) AS s_suppkey,
               'Supplier#' || lpad(CAST(range AS VARCHAR), 9, '0') AS s_name,
               CAST(floor({u('range', 'sn')} * 25) AS INTEGER) AS s_nationkey,
               {money('range', 'sa', -999.99, 9999.99)} AS s_acctbal
        FROM range({n_supp})"""
    yield "part", f"""
        SELECT CAST(range AS BIGINT) AS p_partkey,
               {pick('range', 'pa', ['small', 'new', 'hot', 'large', 'cold', 'blue', 'old', 'red'])}
                 || ' ' || {pick('range', 'pb', ['bolt', 'plate', 'anvil', 'rod', 'widget', 'gizmo', 'ring', 'gear'])} AS p_name,
               'Brand#' || (1 + CAST(floor({u('range', 'pr')} * 25) AS INTEGER)) AS p_brand,
               {pick('range', 'pt', ['SMALL', 'MEDIUM', 'ECONOMY', 'STANDARD', 'LARGE', 'PROMO'])} AS p_type,
               1 + CAST(floor({u('range', 'ps')} * 50) AS INTEGER) AS p_size,
               round(900 + {u('range', 'pp')} * 99.9, 1) AS p_retailprice
        FROM range({n_part})"""
    yield "orders", f"""
        SELECT CAST(range AS BIGINT) AS o_orderkey,
               CAST(floor({u('range', 'oc')} * {n_cust}) AS BIGINT) AS o_custkey,
               {pick('range', 'os', ['F', 'O', 'P'])} AS o_orderstatus,
               {money('range', 'ot', 1000, 450000)} AS o_totalprice,
               TIMESTAMP '1995-01-01' + to_days(CAST(floor({u('range', 'od')} * 2404) AS INTEGER)) AS o_orderdate,
               {pick('range', 'op', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])} AS o_orderpriority
        FROM range({n_orders})"""
    yield "lineitem", f"""
        SELECT CAST(o.range AS BIGINT) AS l_orderkey,
               CAST(floor({u('o.range * 8 + l.range', 'lp')} * {n_part}) AS BIGINT) AS l_partkey,
               CAST(floor({u('o.range * 8 + l.range', 'ls')} * {n_supp}) AS BIGINT) AS l_suppkey,
               CAST(l.range AS INTEGER) AS l_linenumber,
               CAST(1 + floor({u('o.range * 8 + l.range', 'lq')} * 50) AS DOUBLE) AS l_quantity,
               {money('o.range * 8 + l.range', 'le', 900, 100000)} AS l_extendedprice,
               round(floor({u('o.range * 8 + l.range', 'ld')} * 11) / 100, 2) AS l_discount,
               round(floor({u('o.range * 8 + l.range', 'lt')} * 9) / 100, 2) AS l_tax,
               {pick('o.range * 8 + l.range', 'lr', ['A', 'N', 'R'])} AS l_returnflag,
               {pick('o.range * 8 + l.range', 'll', ['F', 'O'])} AS l_linestatus,
               TIMESTAMP '1995-01-02' + to_days(CAST(floor({u('o.range * 8 + l.range', 'lsd')} * 2498) AS INTEGER)) AS l_shipdate
        FROM range({n_orders}) o, range(1, 8) l
        WHERE l.range <= 1 + CAST(floor({u('o.range', 'ln')} * 7) AS INTEGER)"""
    yield "events", f"""
        SELECT CAST(range AS BIGINT) AS event_id,
               TIMESTAMP '2024-01-01' + to_microseconds(CAST(floor({u('range', 'et')} * 2592000000000) AS BIGINT)) AS ts,
               CAST(floor({u('range', 'eu')} * {n_users}) AS BIGINT) AS user_id,
               {pick('range', 'ey', ['click', 'view', 'purchase', 'signup', 'error'])} AS event_type,
               round(0.01 + {u('range', 'ev')} * {u('range', 'ew')} * 490, 2) AS value,
               '{{"k": ' || CAST(floor({u('range', 'ek')} * 100) AS INTEGER) || '}}' AS props
        FROM range({n_events})"""
    # a tenth of the documents repeat an earlier one exactly and another
    # tenth with one word appended, so the dedup families find work
    base_text = (f"array_to_string(list_transform(range(10 + CAST(floor({u('d', 'dn')} * 80) AS INTEGER)), "
                 f"i -> {vocab}[1 + CAST(floor(((hash({seed}, 'dw', d, i) % 1000000007) / 1000000007.0) * {len(VOCAB)}) AS INTEGER)]), ' ')")
    yield "documents", f"""
        WITH src AS (
          SELECT range AS doc_id,
                 CASE WHEN {u('range', 'dk')} < 0.2 AND range > 0
                        THEN CAST(floor({u('range', 'dc')} * range) AS BIGINT)
                      ELSE range END AS d,
                 {u('range', 'dk')} < 0.2 AND {u('range', 'dk')} >= 0.1 AND range > 0 AS near
          FROM range({n_docs})),
        base AS (SELECT doc_id, d, near, {base_text} AS t FROM src)
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CASE WHEN near THEN t || ' ' || {vocab}[1 + CAST(floor({u('doc_id', 'dx')} * {len(VOCAB)}) AS INTEGER)]
                    ELSE t END AS text,
               {pick('doc_id', 'dl', LANGS)} AS lang,
               'src' || CAST(floor({u('doc_id', 'ds')} * 20) AS INTEGER) AS source,
               CAST(length(CASE WHEN near THEN t || ' ' || {vocab}[1 + CAST(floor({u('doc_id', 'dx')} * {len(VOCAB)}) AS INTEGER)]
                    ELSE t END) AS BIGINT) AS n_chars
        FROM base"""
    # 64-dim vectors around one of ten seeded label centroids
    yield "embeddings", f"""
        SELECT CAST(range AS BIGINT) AS vec_id,
               list_transform(range(64), j -> CAST(
                 (((hash({seed}, 'ec', CAST(floor({u('range', 'el')} * 10) AS INTEGER), j) % 1000000007) / 1000000007.0) - 0.5) * 0.3
                 + (((hash({seed}, 'en', range, j) % 1000000007) / 1000000007.0) - 0.5) * 0.1 AS FLOAT)) AS embedding,
               CAST(floor({u('range', 'el')} * 10) AS INTEGER) AS label
        FROM range({n_vecs})"""


def generate(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.sql("SET threads=1")
    for name, sql in tables_sql(int(seed), float(sf)):
        path = os.path.join(out, f"{name}.parquet")
        con.sql(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")
    con.close()


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    a = ap.parse_args()
    generate(a.out, a.seed, a.sf)
