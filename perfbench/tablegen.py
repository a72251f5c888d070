#!/usr/bin/env python3
"""Write the seeded relational tables the engine's registered queries read.

Usage: python3 perfbench/tablegen.py OUT_DIR SEED SCALE

A TPC-H-like star (region, nation, customer, supplier, part, orders,
lineitem) plus `events`, `documents` and `embeddings`, one parquet file
per table, in the schema of the engine's test tables. Every value is a
hash of (seed, salt, row id), so the same seed gives the same files.
Row counts follow the engine's test tiers: SCALE 100 gives the sizes of
`sf0.1` (15,000 customers, 150,000 orders, about 600,000 line items,
100,000 events, 5,000 documents, 2,000 embeddings). Documents include
exact copies and one-word edits of earlier documents; embeddings cluster
around ten label centroids.
"""
import os
import sys

import duckdb

WORDS = ["vector", "big", "window", "join", "table", "part", "merge", "small",
         "customer", "scan", "hash", "sort", "key", "fast", "column", "dup", "batch",
         "stream", "spark", "group", "query", "order", "data", "slow", "row", "filter",
         "line", "value", "a", "the", "agg"]


def main(out, seed, scale):
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 1")

    def h(salt, x="i"):
        return f"hash({seed}, {salt}, {x})"

    def pick(salt, n, x="i"):
        return f"({h(salt, x)} % {n})::BIGINT"

    def choice(salt, xs, x="i"):
        arr = "[" + ", ".join(f"'{v}'" for v in xs) + "]"
        return f"{arr}[{pick(salt, len(xs), x)} + 1]"

    def cents(salt, lo, hi, x="i"):
        return f"(({pick(salt, hi - lo, x)})::BIGINT + {lo}) / 100.0"

    n_cust, n_supp, n_part, n_orders = 150 * scale, 10 * scale, 200 * scale, 1500 * scale
    words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
    tables = {
        "region": """SELECT i::INTEGER AS r_regionkey,
            ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
            (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey, printf('Customer#%09d', i) AS c_name,
            {pick(1, 25)}::INTEGER AS c_nationkey, {cents(2, -99999, 999999)} AS c_acctbal,
            {choice(3, ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])}
              AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
            {pick(4, 25)}::INTEGER AS s_nationkey, {cents(5, -99999, 999999)} AS s_acctbal
            FROM range({n_supp}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
            {choice(6, ['small', 'large', 'red', 'blue', 'hot', 'old', 'new', 'green'])} || ' ' ||
            {choice(7, ['widget', 'plate', 'ring', 'rod', 'anvil', 'gear', 'bolt', 'pipe'])}
              AS p_name,
            'Brand#' || ({pick(8, 25)} + 1) AS p_brand,
            {choice(9, ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'])} AS p_type,
            ({pick(10, 50)} + 1)::INTEGER AS p_size, (90000 + i % 1000) / 100.0 AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey, {pick(11, n_cust)}::BIGINT AS o_custkey,
            {choice(12, ['F', 'O', 'P'])} AS o_orderstatus,
            {cents(13, 100000, 50000000)} AS o_totalprice,
            TIMESTAMP '1995-01-01' + to_days({pick(14, 2404)}::INTEGER) AS o_orderdate,
            {choice(15, ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])}
              AS o_orderpriority
            FROM range({n_orders}) t(i)""",
        "events": f"""SELECT i AS event_id,
            make_timestamp(1704067200000000 + {pick(26, 30 * 86400 * 1000000)}::BIGINT) AS ts,
            {pick(27, 150 * scale)}::BIGINT AS user_id,
            {choice(28, ['click', 'error', 'purchase', 'signup', 'view'])} AS event_type,
            {cents(29, 1, 49003)} AS value,
            '{{"k": ' || {pick(30, 100)} || '}}' AS props
            FROM range({1000 * scale}) t(i)""",
    }
    for name, sql in tables.items():
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")

    # line items: 1 to 7 per order, keyed by (order, line number)
    k = "(o_orderkey * 8 + ln)"
    con.execute(f"""COPY (
        SELECT o_orderkey AS l_orderkey, {pick(17, n_part, k)}::BIGINT AS l_partkey,
          {pick(18, n_supp, k)}::BIGINT AS l_suppkey, ln::INTEGER AS l_linenumber,
          ({pick(19, 50, k)} + 1)::DOUBLE AS l_quantity,
          ({pick(20, 10400000, k)}::BIGINT + 90000) / 100.0 AS l_extendedprice,
          {pick(21, 11, k)}::BIGINT / 100.0 AS l_discount,
          {pick(22, 9, k)}::BIGINT / 100.0 AS l_tax,
          {choice(23, ['A', 'N', 'R'], k)} AS l_returnflag,
          {choice(24, ['F', 'O'], k)} AS l_linestatus,
          o_orderdate + to_days(({pick(25, 121, k)} + 1)::INTEGER) AS l_shipdate
        FROM read_parquet('{out}/orders.parquet')
          JOIN range(1, 8) r(ln) ON ln <= {pick(16, 7, 'o_orderkey')} + 1
        ORDER BY l_orderkey, l_linenumber) TO '{out}/lineitem.parquet' (FORMAT PARQUET)""")

    # documents: fresh texts, exact copies (i % 23 = 7) and one-word
    # extensions (i % 17 = 3) of earlier documents
    src = (f"CASE WHEN i % 23 = 7 AND i > 0 THEN {pick(32, 50 * scale)} % i "
           f"WHEN i % 17 = 3 AND i > 0 THEN i - 1 ELSE i END")
    langs = ["en", "en", "en", "de", "es", "fr", "zh"]
    con.execute(f"""COPY (
        WITH d AS (SELECT i, ({src})::BIGINT AS s FROM range({50 * scale}) t(i)),
          w AS (SELECT s, unnest(range({pick(31, 90, 's')} + 10)) AS w
                FROM (SELECT DISTINCT s FROM d)),
          body AS (SELECT s, string_agg(
                     {words}[(hash({seed}, s, w) % {len(WORDS)})::BIGINT + 1], ' ' ORDER BY w) AS b
                   FROM w GROUP BY s)
        SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars FROM (
          SELECT i AS doc_id,
            CASE WHEN i % 17 = 3 AND i > 0
              THEN b || ' ' || {words}[{pick(33, len(WORDS))} + 1] ELSE b END AS text,
            {choice(34, langs)} AS lang, 'src' || (i % 20) AS source
          FROM d JOIN body USING (s))
        ORDER BY doc_id) TO '{out}/documents.parquet' (FORMAT PARQUET)""")

    # embeddings: 64-d vectors around one of ten label centroids
    con.execute(f"""COPY (
        SELECT vec_id, list_transform(range(64), d ->
            ((((hash({seed}, label, d) % 601)::INTEGER - 300) / 1000.0 +
              ((hash({seed}, vec_id, d) % 201)::INTEGER - 100) / 1000.0)::FLOAT)) AS embedding,
          label
        FROM (SELECT i AS vec_id, {pick(35, 10)}::INTEGER AS label FROM range({20 * scale}) t(i))
        ORDER BY vec_id) TO '{out}/embeddings.parquet' (FORMAT PARQUET)""")


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    main(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
